"""Sharded metadata layer (round-10 verdict item #1): the v2 log
(`_log/` per-commit delta entries + derived checkpoints) and the
sharded manifest/bloom sidecars must make every commit's metadata
write O(that commit) — independent of table size — while reproducing
the exact logical history of whole self-contained snapshots.

The headline test here IS the verdict's done-criterion: a dataset
with 10,000 live files whose next commit writes the same metadata
bytes as a 100-file dataset's. Most of these tests drive
commit_snapshot directly (log-layer unit tests, no Spark session);
the Spark-visible behavior rides the whole existing suite, which now
runs on the sharded default."""

import json
import os

import pytest

from columnar_format_spark.colf.datasource import (
    BLOOMS_DIR_NAME,
    LOG_CHECKPOINT_EVERY,
    MANIFEST_DIR_NAME,
    _append_sidecar_shard,
    _drop_sidecar_keys,
    _load_sharded_dict,
    _parse_log_name,
    commit_snapshot,
    load_manifest,
    load_snapshots,
    log_dir,
    log_fingerprint,
    write_snapshots,
)
from columnar_format_spark.colf.format import ColfFormatError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_files(n, tag=""):
    return [f"part-{tag}{i:07d}.colf" for i in range(n)]


def _entry_files(path):
    return sorted(n for n in os.listdir(log_dir(path))
                  if _parse_log_name(n) and not _parse_log_name(n)[1])


def _bootstrap(path, n_files):
    os.makedirs(path)
    live = _fake_files(n_files)
    commit_snapshot(path, live)
    return live


def test_commit_metadata_write_is_o_commit_not_o_table(tmp_path):
    """THE scale criterion: append 2 files to a 100-file table and to
    a 10,000-file table — the new commit's metadata bytes must be the
    same small size in both (the v1 log wrote the full live list per
    commit: 100x the bytes on the big table)."""
    sizes = {}
    for n in (100, 10_000):
        p = str(tmp_path / f"ds{n}")
        live = _bootstrap(p, n)
        before = set(_entry_files(p))
        commit_snapshot(p, live + _fake_files(2, "new"),
                        expected_parent=1)
        new = [f for f in _entry_files(p) if f not in before]
        assert len(new) == 1  # exactly one new entry file, no rewrites
        sizes[n] = os.path.getsize(os.path.join(log_dir(p), new[0]))
        # and the pre-existing entry was NOT rewritten
        assert before == {_entry_files(p)[0]}
    # identical up to the ts float's decimal-length jitter
    assert abs(sizes[10_000] - sizes[100]) <= 16, (
        f"commit metadata bytes grew with table size: {sizes}")
    # sanity: the delta is dramatically smaller than a full live list
    assert sizes[10_000] < 1_000


def test_delta_log_reproduces_v1_history_exactly(tmp_path):
    """Adds, removes, MoR delete-list changes, and eq-delete
    inheritance all round-trip through the delta encoding: the
    materialized log equals an independently tracked expected
    history."""
    p = str(tmp_path / "ds")
    os.makedirs(p)
    live = _fake_files(5)
    expected = []
    v = commit_snapshot(p, live)
    expected.append({"version": v, "files": sorted(live)})
    # append
    live += _fake_files(2, "a")
    v = commit_snapshot(p, live, expected_parent=v)
    expected.append({"version": v, "files": sorted(live)})
    # MoR delete: same files, delete sidecars set
    v = commit_snapshot(p, live, expected_parent=v,
                        deletes=["d-1.colfd", "d-2.colfd"],
                        eq_deletes=[{"seq": v + 1, "filters": [
                            {"col": "k", "op": "<", "value": 3}]}])
    expected.append({"version": v, "files": sorted(live),
                     "deletes": ["d-1.colfd", "d-2.colfd"],
                     "eq_deletes": [{"seq": v, "filters": [
                         {"col": "k", "op": "<", "value": 3}]}]})
    expected[-1]["eq_deletes"][0]["seq"] = v  # committed seq
    # inherit both on a plain append
    live += _fake_files(1, "b")
    v = commit_snapshot(p, live, expected_parent=v)
    expected.append(dict(expected[-1], version=v, files=sorted(live)))
    # CoW rewrite: files replaced, deletes cleared
    live = _fake_files(3, "cow")
    v = commit_snapshot(p, live, expected_parent=v, deletes=[],
                        eq_deletes=[], data_change=False)
    expected.append({"version": v, "files": sorted(live),
                     "data_change": False})
    got = load_snapshots(p)
    assert [s["version"] for s in got] == [e["version"] for e in expected]
    for g, e in zip(got, expected):
        assert g["files"] == e["files"], g["version"]
        assert g.get("deletes") == e.get("deletes"), g["version"]
        eq = [{"seq": x["seq"], "filters": x["filters"]}
              for x in g.get("eq_deletes") or []]
        eeq = e.get("eq_deletes") or []
        assert (eq or None) == (eeq or None), g["version"]
        assert g.get("data_change") == e.get("data_change")


def test_checkpoint_written_and_purely_derived(tmp_path):
    """Every LOG_CHECKPOINT_EVERY commits a self-contained checkpoint
    appears; deleting it changes nothing (it is derived, the deltas
    are authoritative)."""
    p = str(tmp_path / "ds")
    os.makedirs(p)
    live = _fake_files(3)
    v = commit_snapshot(p, live)
    for i in range(LOG_CHECKPOINT_EVERY + 2):
        live = live + _fake_files(1, f"c{i}-")
        v = commit_snapshot(p, live, expected_parent=v)
    ck = [n for n in os.listdir(log_dir(p))
          if (_parse_log_name(n) or (0, False))[1]]
    assert ck, "no checkpoint written past the checkpoint interval"
    before = load_snapshots(p)
    for n in ck:
        os.remove(os.path.join(log_dir(p), n))
    assert load_snapshots(p) == before


def test_only_current_encodings_are_log_members(tmp_path):
    """Log members are `v<N>.json` commit entries and `v<N>.ckpt.jz`
    checkpoints. A plain-JSON `.ckpt.json` checkpoint (an early
    encoding) is not a member: checkpoints are derived, so a leftover
    one is simply ignored, whatever it holds."""
    assert _parse_log_name("v000000000020.json") == (20, False)
    assert _parse_log_name("v000000000020.ckpt.jz") == (20, True)
    assert _parse_log_name("v000000000020.ckpt.json") is None
    assert _parse_log_name("v000000000020.jz") is None
    p = str(tmp_path / "ds")
    _bootstrap(p, 3)
    before = load_snapshots(p)
    with open(os.path.join(log_dir(p), "v000000000001.ckpt.json"),
              "w") as f:
        json.dump({"version": 1, "files": ["stale.colf"]}, f)
    from columnar_format_spark.colf.datasource import _LOG_RAW_CACHE

    _LOG_RAW_CACHE.clear()
    assert load_snapshots(p) == before


def test_concurrent_version_claim_is_the_entry_file(tmp_path):
    """Two writers claiming the same version: the O_EXCL entry-file
    create arbitrates — exactly one wins, the loser gets the
    documented retryable error."""
    from columnar_format_spark.colf.datasource import _append_sharded_entry

    p = str(tmp_path / "ds")
    live = _bootstrap(p, 3)
    base = load_snapshots(p)[-1]
    entry = {"version": 2, "files": sorted(live + ["x.colf"]), "ts": 1.0}
    _append_sharded_entry(p, base, entry, reset=False)
    with pytest.raises(ColfFormatError, match="concurrent commit"):
        _append_sharded_entry(p, base, dict(entry, ts=2.0), reset=False)


def test_write_snapshots_prune_keeps_log_readable(tmp_path):
    """The full-rewrite path (vacuum/compact_log) re-encodes the kept
    history DELTA-PRESERVING — the oldest kept entry self-contained
    (the replay basis), newer kept entries as deltas over KEPT bases
    (round-12: the previous rewrite stored every kept entry
    self-contained, i.e. O(kept x files) at rest) — then deletes the
    pruned ones. The result reads back identically."""
    p = str(tmp_path / "ds")
    os.makedirs(p)
    live = _fake_files(4)
    v = commit_snapshot(p, live)
    for i in range(4):
        live = live + _fake_files(1, f"k{i}-")
        v = commit_snapshot(p, live, expected_parent=v)
    snaps = load_snapshots(p)
    kept = snaps[-2:]
    write_snapshots(p, kept)
    assert [s["version"] for s in load_snapshots(p)] == [4, 5]
    assert load_snapshots(p) == kept
    by_v = {}
    for n in _entry_files(p):
        with open(os.path.join(log_dir(p), n)) as f:
            e = json.load(f)
        by_v[e["version"]] = e
    # oldest kept: self-contained replay basis; newer: delta whose
    # base is a KEPT version (no dangling chain)
    assert "files" in by_v[4] and "base" not in by_v[4]
    assert "files" not in by_v[5] and by_v[5]["base"] == 4
    # the at-rest prune is O(files + deltas): v5 stores ONE added file
    assert by_v[5].get("files_add") == ["part-k3-0000000.colf"]
    # and appends continue cleanly after the prune
    v = commit_snapshot(p, live + ["tail.colf"], expected_parent=v)
    assert load_snapshots(p)[-1]["version"] == v


def test_sharded_sidecar_append_drop_compact(tmp_path):
    """Manifest shards: appends are new immutable files, drops rewrite
    only affected shards, and passing the shard cap folds everything
    into one."""
    p = str(tmp_path / "ds")
    os.makedirs(p)
    for i in range(3):
        _append_sidecar_shard(p, MANIFEST_DIR_NAME,
                              {f"f{i}.colf": {"num_rows": i}})
    man = load_manifest(p)
    assert set(man) == {"f0.colf", "f1.colf", "f2.colf"}
    _drop_sidecar_keys(p, MANIFEST_DIR_NAME, ["f1.colf"])
    assert set(load_manifest(p)) == {"f0.colf", "f2.colf"}
    # force a compaction by exceeding the cap
    from columnar_format_spark.colf import datasource as D

    for i in range(D.SIDECAR_COMPACT_SHARDS + 1):
        _append_sidecar_shard(p, MANIFEST_DIR_NAME,
                              {f"g{i}.colf": {"num_rows": i}})
    shards = [n for n in os.listdir(os.path.join(p, MANIFEST_DIR_NAME))
              if n.startswith("s-")]
    # folded once the cap tripped; the post-fold appends add a few
    assert len(shards) <= 3
    assert len(load_manifest(p)) == D.SIDECAR_COMPACT_SHARDS + 1 + 2


def test_log_fingerprint_tracks_commits_only(tmp_path):
    p = str(tmp_path / "ds")
    live = _bootstrap(p, 3)
    f0 = log_fingerprint(p)
    assert log_fingerprint(p) == f0
    commit_snapshot(p, live + ["y.colf"], expected_parent=1)
    assert log_fingerprint(p) != f0


def test_bloom_sidecar_sharding_roundtrip(tmp_path):
    p = str(tmp_path / "ds")
    os.makedirs(p)
    from columnar_format_spark.colf.datasource import (load_blooms,
                                                       save_blooms)

    _append_sidecar_shard(p, BLOOMS_DIR_NAME,
                          {"a.colf": {"columns": {"k": {"m": 8}}}})
    _append_sidecar_shard(p, BLOOMS_DIR_NAME,
                          {"b.colf": {"columns": {"k": {"m": 8}}}})
    assert set(load_blooms(p)) == {"a.colf", "b.colf"}
    save_blooms(p, {"c.colf": {"columns": {}}})  # full replace
    assert set(load_blooms(p)) == {"c.colf"}
    assert _load_sharded_dict(p, BLOOMS_DIR_NAME) == load_blooms(p)


def test_raw_log_cache_invalidates_on_every_mutation(tmp_path):
    """The process-level raw-log cache must never serve a stale log:
    commits and vacuum rewrites both mutate the _log dir
    (create/rename/remove bump its mtime)."""
    p = str(tmp_path / "ds")
    live = _bootstrap(p, 3)
    assert [s["version"] for s in load_snapshots(p)] == [1]
    v = commit_snapshot(p, live + ["b.colf"], expected_parent=1)
    assert [s["version"] for s in load_snapshots(p)] == [1, 2]
    snaps = load_snapshots(p)
    write_snapshots(p, snaps[-1:])  # vacuum-style prune
    assert [s["version"] for s in load_snapshots(p)] == [2]
    commit_snapshot(p, live, expected_parent=v)
    assert [s["version"] for s in load_snapshots(p)] == [2, 3]
    # mutating a RETURNED entry must not poison later loads
    got = load_snapshots(p)
    got[-1]["files"].append("poison.colf")
    got[-1]["version"] = 999
    fresh = load_snapshots(p)
    assert fresh[-1]["version"] == 3
    assert "poison.colf" not in fresh[-1]["files"]


def test_checkpoint_resolves_eq_inherit(tmp_path):
    """A checkpointed version whose delta entry carries eq_inherit
    must materialize the checkpoint's resolved eq_deletes (and never
    leak the marker key)."""
    p = str(tmp_path / "ds")
    os.makedirs(p)
    live = _fake_files(3)
    v = commit_snapshot(p, live)
    v = commit_snapshot(p, live, expected_parent=v,
                        eq_deletes=[{"seq": 0, "filters": [
                            {"col": "k", "op": "<", "value": 5}]}])
    # drive to the checkpoint boundary with inheriting appends
    while v % LOG_CHECKPOINT_EVERY != 0:
        live = live + _fake_files(1, f"x{v}-")
        v = commit_snapshot(p, live, expected_parent=v)
    snaps = load_snapshots(p)
    at_ckpt = next(s for s in snaps if s["version"] == v)
    assert at_ckpt.get("eq_deletes"), "inheritance lost at checkpoint"
    assert "eq_inherit" not in at_ckpt
    assert all("eq_inherit" not in s for s in snaps)


def test_log_cache_survives_same_tick_writes(tmp_path):
    """The cache key is the _log dir's mtime, which comes from the
    kernel's coarse clock — two writes inside one tick would leave it
    unchanged. Every in-process log write explicitly invalidates, so
    a read immediately after a write never serves the stale log even
    if the dir mtime did not move (simulated here by pinning the dir
    mtime back to its pre-write value)."""
    p = str(tmp_path / "ds")
    live = _bootstrap(p, 3)
    load_snapshots(p)  # populate the cache
    st = os.stat(log_dir(p))
    commit_snapshot(p, live + ["b.colf"], expected_parent=1)
    # force the 'same coarse-clock tick' shape
    os.utime(log_dir(p), ns=(st.st_atime_ns, st.st_mtime_ns))
    assert [s["version"] for s in load_snapshots(p)] == [1, 2]


def test_orphan_sweep_covers_metadata_dir_tmps(tmp_path):
    """Crash-leftover tmp files inside _log/_manifests/_blooms are
    swept past the grace period; recent ones and committed members
    survive."""
    import time

    from columnar_format_spark.colf.datasource import (BLOOMS_DIR_NAME,
                                                       MANIFEST_DIR_NAME)
    from columnar_format_spark.colf.maintenance import remove_orphan_files

    p = str(tmp_path / "ds")
    _bootstrap(p, 2)
    _append_sidecar_shard(p, MANIFEST_DIR_NAME, {"a.colf": {"num_rows": 1}})
    old = time.time() - 7200
    victims = []
    for sub in ("_log", MANIFEST_DIR_NAME, BLOOMS_DIR_NAME):
        os.makedirs(os.path.join(p, sub), exist_ok=True)
        fp = os.path.join(p, sub, f"x.tmp-dead{sub.strip('_')}")
        open(fp, "w").close()
        os.utime(fp, (old, old))
        victims.append(f"{sub}/{os.path.basename(fp)}")
    recent = os.path.join(p, "_log", "y.tmp-fresh")
    open(recent, "w").close()

    got = remove_orphan_files(p, older_than_s=3600)
    assert set(victims) <= set(got)
    assert os.path.exists(recent)  # grace period
    assert load_snapshots(p)  # log intact
    assert load_manifest(p).get("a.colf")  # committed shard intact


def test_reused_column_name_resolves_conservatively():
    """A bootstrap name renamed away (or dropped) and later reused for
    a new column is ambiguous across file eras — the resolver must
    return None (drop the sketch), never attribute it to either
    column."""
    from unittest import mock

    from columnar_format_spark.colf import maintenance as M

    meta = {"fields": [{"id": 2, "name": "y", "type": "int32"},
                       {"id": 5, "name": "x", "type": "int32"}],
            "name_mapping": {"x": 1, "y": 2}}
    with mock.patch.object(M, "_physical_name_resolver",
                           wraps=M._physical_name_resolver):
        with mock.patch("columnar_format_spark.colf.datasource."
                        "current_table_schema", return_value=meta):
            resolve = M._physical_name_resolver("/nonexistent")
    # 'x' was bootstrap id 1 (renamed away / dropped) and is now a NEW
    # column with id 5 -> ambiguous
    assert resolve("x") is None
    # 'y' maps to id 2 which is still named y -> itself
    assert resolve("y") == "y"
    # a never-mapped current name resolves to itself
    meta2 = {"fields": [{"id": 1, "name": "k", "type": "int32"},
                        {"id": 3, "name": "fresh", "type": "int32"}],
             "name_mapping": {"k": 1, "old": 2}}
    with mock.patch("columnar_format_spark.colf.datasource."
                    "current_table_schema", return_value=meta2):
        resolve = M._physical_name_resolver("/nonexistent")
    assert resolve("fresh") == "fresh"
    assert resolve("k") == "k"
    assert resolve("old") is None  # dropped, not reused


def test_head_snapshot_matches_full_materialization(tmp_path):
    """head_snapshot (the ckpt-accelerated head-only fold every plan
    uses) must equal the published head from the full materialization,
    across staged and branch commits, and stay None for staged-only
    logs."""
    from columnar_format_spark.colf.datasource import (head_snapshot,
                                                       published_snapshots)

    p = str(tmp_path / "ds")
    os.makedirs(p)
    live = _fake_files(4)
    v = commit_snapshot(p, live)
    for i in range(LOG_CHECKPOINT_EVERY + 3):
        live = live + _fake_files(1, f"h{i}-")
        v = commit_snapshot(p, live, expected_parent=v)
    commit_snapshot(p, live + ["w.colf"], expected_parent=v,
                    staged=True, added=["w.colf"])
    commit_snapshot(p, live + ["b.colf"], expected_parent=v + 1,
                    branch="dev", added=["b.colf"])
    full = published_snapshots(load_snapshots(p))[-1]
    assert head_snapshot(p) == full
    assert "w.colf" not in head_snapshot(p)["files"]
    assert "b.colf" not in head_snapshot(p)["files"]

    # staged-only log: no published head, live set EMPTY (not listing)
    from columnar_format_spark.colf.datasource import live_files

    p2 = str(tmp_path / "ds2")
    os.makedirs(p2)
    commit_snapshot(p2, ["s.colf"], staged=True, added=["s.colf"])
    assert head_snapshot(p2) is None
    assert live_files(p2) == []
