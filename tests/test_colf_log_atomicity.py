"""Crash-safety and concurrency of the v2 commit publish (round-12
advice, high): the log entry must appear at its published name
ATOMICALLY — a lock-free reader listing `_log/` mid-commit must never
see an empty/partial JSON (which `_read_log_raw` rightly treats as
corruption), and a writer crash mid-serialize must never leave a torn
head entry that poisons every subsequent read. The publish is
tmp-write + `os.link` (hard-link raises FileExistsError exactly like
O_CREAT|O_EXCL, preserving the cross-process version CAS).

Log-layer unit tests — no Spark session."""

import json
import os

import pytest

from columnar_format_spark.colf.datasource import (
    _LOG_RAW_CACHE,
    _read_log_raw_cached,
    commit_snapshot,
    head_snapshot,
    load_snapshots,
    log_dir,
    write_snapshots,
)
from columnar_format_spark.colf.format import ColfFormatError


def _bootstrap(path, files):
    os.makedirs(path, exist_ok=True)
    commit_snapshot(path, files)


def test_crashed_dump_leaves_no_torn_published_entry(tmp_path, monkeypatch):
    """A writer dying mid-json.dump must leave the published name
    ABSENT (only an ignorable hidden tmp), so every read of the
    dataset keeps working and the version stays claimable."""
    p = str(tmp_path / "ds")
    _bootstrap(p, ["a.colf"])

    import columnar_format_spark.colf.datasource as ds

    calls = {"n": 0}

    def torn_encode(name, obj):
        calls["n"] += 1
        raise OSError("simulated crash mid-serialize")

    monkeypatch.setattr(ds, "_encode_log_member", torn_encode)
    with pytest.raises(OSError, match="mid-serialize"):
        commit_snapshot(p, ["a.colf", "b.colf"], expected_parent=1)
    monkeypatch.undo()
    assert calls["n"] == 1  # the encoder died exactly once, mid-commit

    # the published name must not exist; no member of _log/ is torn
    members = os.listdir(log_dir(p))
    assert not any(n.endswith("v000000000002.json") for n in members)
    # every subsequent read works (pre-fix: ColfFormatError forever)
    snaps = load_snapshots(p)
    assert [s["version"] for s in snaps] == [1]
    # and version 2 is still claimable by the next writer
    v = commit_snapshot(p, ["a.colf", "b.colf"], expected_parent=1)
    assert v == 2
    assert sorted(head_snapshot(p)["files"]) == ["a.colf", "b.colf"]


def test_published_name_never_holds_partial_json(tmp_path, monkeypatch):
    """The moment the published entry name exists, its contents are
    the complete JSON: snoop every os.link call and parse the source
    (what will atomically BECOME the published file)."""
    p = str(tmp_path / "ds")
    _bootstrap(p, ["a.colf"])

    import columnar_format_spark.colf.datasource as ds

    real_link = os.link
    seen = []

    def snooping_link(src, dst, **kw):
        with open(src) as f:
            seen.append(json.load(f))  # must already be complete JSON
        return real_link(src, dst, **kw)

    monkeypatch.setattr(ds.os, "link", snooping_link)
    commit_snapshot(p, ["a.colf", "c.colf"], expected_parent=1)
    assert seen and seen[-1]["version"] == 2


def test_stale_tmp_is_ignored_by_readers_and_swept_by_vacuum(tmp_path):
    p = str(tmp_path / "ds")
    _bootstrap(p, ["a.colf"])
    # a crashed writer's leftovers: hidden tmp + the rename-path's tmp
    for n in (".tmp-deadbeef", "v000000000009.json.tmp-deadbeef"):
        full = os.path.join(log_dir(p), n)
        with open(full, "w") as f:
            f.write('{"version": 9, "fi')  # torn — must never parse
        os.utime(full, (1, 1))             # crashed long ago
    # plus a FRESH tmp: another process mid-atomic-publish RIGHT NOW —
    # the sweep must leave it alone or its os.link dies
    fresh = os.path.join(log_dir(p), ".tmp-inflight")
    with open(fresh, "w") as f:
        f.write('{"version": 2, "fi')
    assert [s["version"] for s in load_snapshots(p)] == [1]
    assert head_snapshot(p)["files"] == ["a.colf"]
    # the full-rewrite path (vacuum/migration) sweeps tmps past the
    # grace period only
    write_snapshots(p, load_snapshots(p))
    left = [n for n in os.listdir(log_dir(p)) if ".tmp-" in n]
    assert left == [".tmp-inflight"]


def test_cas_still_detects_concurrent_commit_and_cleans_tmp(tmp_path):
    p = str(tmp_path / "ds")
    _bootstrap(p, ["a.colf"])
    commit_snapshot(p, ["a.colf", "b.colf"], expected_parent=1)
    # another writer already claimed version 2 -> the O_EXCL-like
    # link CAS must refuse, and the loser's tmp must not linger
    with pytest.raises(ColfFormatError, match="concurrent commit"):
        from columnar_format_spark.colf.datasource import \
            _append_sharded_entry

        _append_sharded_entry(
            p, head_snapshot(p),
            {"version": 2, "files": ["a.colf", "x.colf"]}, reset=False)
    assert not [n for n in os.listdir(log_dir(p)) if ".tmp-" in n]


def test_failed_cas_invalidates_raw_log_cache(tmp_path):
    """Round-12 advice (medium): a commit retry after a CAS loss must
    see the competing commit even when the competing writer landed
    within one dir-mtime tick (cache key unchanged). Simulate the
    cross-process window by re-inserting a stale raw-log copy under
    the CURRENT cache key, then retrying."""
    p = str(tmp_path / "ds")
    _bootstrap(p, ["a.colf"])
    stale_raw, stale_ckpt = _read_log_raw_cached(p)   # history: v1 only
    stale_raw = dict(stale_raw)
    commit_snapshot(p, ["a.colf", "b.colf"], expected_parent=1)  # v2 lands
    st = os.stat(log_dir(p))
    rp = os.path.realpath(p)
    # poison: current key, pre-v2 contents — the advice's scenario
    _LOG_RAW_CACHE[rp] = ((st.st_mtime_ns, st.st_ino), stale_raw, stale_ckpt)
    with pytest.raises(ColfFormatError, match="concurrent commit"):
        commit_snapshot(p, ["a.colf", "b.colf", "c.colf"])
    # the failed CAS must have dropped the poisoned entry, so the
    # retry reads the real log and lands as version 3
    v = commit_snapshot(p, ["a.colf", "b.colf", "c.colf"])
    assert v == 3
    assert [s["version"] for s in load_snapshots(p)] == [1, 2, 3]


def test_read_log_raw_tolerates_vanished_dir(tmp_path, monkeypatch):
    """Round-12 advice (low): the _log dir vanishing between the
    isdir check and the listdir (a racing overwrite reset) is the
    defined empty state, not a crash."""
    from columnar_format_spark.colf.datasource import _read_log_raw

    missing = str(tmp_path / "ds-that-never-existed")
    assert _read_log_raw(missing) == ({}, {})
