"""Parsed-sidecar cache bounds (round-12 verdict item #1): the
manifest/bloom union must not be re-parsed from every `_manifests/` /
`_blooms/` shard on each pruning plan. The bound pinned here is the
verdict's done-criterion: a WARM plan against an UNCHANGED 10^5-entry
dataset parses ZERO shard files; a commit-loop append refreshes the
cache IN PLACE (still zero re-parses of existing shards); and every
mutation path — drop, compaction, external writer, reset — changes the stat key and is picked up.

Also pins the LRU-by-write eviction fix (round-12 verdict nit #2) for
all three process caches: a hot, frequently-UPDATED dataset must never
be evicted as "oldest" just because it was inserted first.

Sidecar/log-layer tests — no Spark session."""

import json
import os
import uuid

import pytest

import columnar_format_spark.colf.datasource as ds
from columnar_format_spark.colf.datasource import (
    _HEAD_CACHE,
    _LOG_RAW_CACHE,
    _SIDECAR_CACHE,
    MANIFEST_DIR_NAME,
    _append_sidecar_shard,
    _drop_sidecar_keys,
    commit_snapshot,
    load_manifest,
)

N_FILES = 100_000
N_SHARDS = 20


def _entries(lo: int, hi: int) -> dict:
    return {f"part-{i:06d}.colf": {"num_rows": 10,
                                   "columns": {"a": {"min": i, "max": i,
                                                     "null_count": 0}}}
            for i in range(lo, hi)}


@pytest.fixture(scope="module")
def big_manifest(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("sidecar") / "ds")
    os.makedirs(p)
    per = N_FILES // N_SHARDS
    for s in range(N_SHARDS):
        _append_sidecar_shard(p, MANIFEST_DIR_NAME,
                              _entries(s * per, (s + 1) * per))
    return p


def _count_parses(monkeypatch):
    parsed = []
    real = ds._load_one_json

    def counting(fp):
        parsed.append(os.path.basename(fp))
        return real(fp)

    monkeypatch.setattr(ds, "_load_one_json", counting)
    return parsed


def test_warm_load_parses_zero_shards(big_manifest, monkeypatch):
    """THE bound: after one cold parse, every further plan against the
    unchanged dataset re-parses 0 shards (10^6-file manifests are tens
    of MB of JSON — per-plan re-parse is the next cold-plan cost tier
    after the r11/r12 log-layer caches)."""
    p = big_manifest
    _SIDECAR_CACHE.clear()
    parsed = _count_parses(monkeypatch)
    man = load_manifest(p)
    assert len(man) == N_FILES
    cold = len(parsed)
    assert cold >= 1
    for _ in range(3):
        again = load_manifest(p)
        assert len(again) == N_FILES
    assert len(parsed) == cold, "warm load re-parsed shards"


def test_append_refreshes_cache_in_place(big_manifest, monkeypatch):
    """A commit-loop append (one new shard) must not force the next
    plan to re-parse the whole family: the cache merges the delta in
    place, so the post-append load parses NOTHING."""
    p = big_manifest
    _SIDECAR_CACHE.clear()
    assert len(load_manifest(p)) >= N_FILES  # warm the cache
    parsed = _count_parses(monkeypatch)
    delta = {"part-new-00.colf": {"num_rows": 7, "columns": {}}}
    _append_sidecar_shard(p, MANIFEST_DIR_NAME, delta)
    man = load_manifest(p)
    assert man["part-new-00.colf"]["num_rows"] == 7
    assert man["part-000000.colf"]["num_rows"] == 10
    assert parsed == [], f"append forced a re-parse: {parsed[:5]}"


def test_drop_is_picked_up(big_manifest):
    """Vacuum's entry drop rewrites shards in place (fresh inode) —
    the stat key changes, so the next load must re-parse and the
    dropped key must be gone."""
    p = big_manifest
    load_manifest(p)  # warm
    _drop_sidecar_keys(p, MANIFEST_DIR_NAME, ["part-000001.colf"])
    man = load_manifest(p)
    assert "part-000001.colf" not in man
    assert "part-000002.colf" in man


def test_external_shard_write_is_picked_up(big_manifest):
    """Another PROCESS appending a shard (no in-process cache hook at
    all) must be visible to the next load — correctness rides on the
    stat key alone, never on explicit invalidation."""
    p = big_manifest
    load_manifest(p)  # warm
    d = os.path.join(p, MANIFEST_DIR_NAME)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump({"part-ext-00.colf": {"num_rows": 3, "columns": {}}}, f)
    os.rename(tmp, os.path.join(d, f"s-{uuid.uuid4().hex}.json"))
    assert load_manifest(p)["part-ext-00.colf"]["num_rows"] == 3


def test_sidecar_cache_lru_by_write(tmp_path):
    """A hot, frequently-updated family survives 70 cold families'
    inserts: re-caching moves it to the BACK of the eviction order
    (LRU-by-write), so only genuinely idle datasets age out."""
    _SIDECAR_CACHE.clear()
    hot = str(tmp_path / "hot")
    os.makedirs(hot)
    _append_sidecar_shard(hot, MANIFEST_DIR_NAME,
                          {"h0.colf": {"num_rows": 1, "columns": {}}})
    load_manifest(hot)
    for i in range(70):
        cold = str(tmp_path / f"cold-{i:02d}")
        os.makedirs(cold)
        _append_sidecar_shard(cold, MANIFEST_DIR_NAME,
                              {"c.colf": {"num_rows": 1, "columns": {}}})
        load_manifest(cold)
        # the hot family keeps committing+planning — each append
        # re-puts it (or, past the shard-compaction threshold, the
        # next plan's load re-caches it), always to the back
        _append_sidecar_shard(hot, MANIFEST_DIR_NAME,
                              {f"h{i + 1}.colf": {"num_rows": 1,
                                                  "columns": {}}})
        load_manifest(hot)
    key = (os.path.realpath(hot), MANIFEST_DIR_NAME)
    assert key in _SIDECAR_CACHE, "hot family evicted as 'oldest'"
    assert len(load_manifest(hot)) == 71


def test_log_cache_lru_by_write(tmp_path, monkeypatch):
    """Same pin for the raw-log cache: a dataset that commits between
    other datasets' reads is re-put on every commit and must survive
    65+ cold inserts (the round-12 verdict's exact scenario)."""
    _LOG_RAW_CACHE.clear()
    _HEAD_CACHE.clear()
    hot = str(tmp_path / "hot")
    os.makedirs(hot)
    v = commit_snapshot(hot, ["a.colf"])
    for i in range(70):
        cold = str(tmp_path / f"cold-{i:02d}")
        os.makedirs(cold)
        commit_snapshot(cold, ["c.colf"])
        ds.load_snapshots(cold)
        v = commit_snapshot(hot, [f"a{i}.colf"], expected_parent=v)
    assert os.path.realpath(hot) in _LOG_RAW_CACHE, \
        "hot dataset evicted as 'oldest'"
    full_reads = []
    real = ds._read_log_raw
    monkeypatch.setattr(ds, "_read_log_raw",
                        lambda p: full_reads.append(p) or real(p))
    assert ds.head_snapshot(hot)["version"] == v
    assert full_reads == [], "hot dataset's log was re-read from disk"


def test_warm_reader_plan_reparses_zero_shards(tmp_path, monkeypatch):
    """THE done-criterion as the verdict worded it: a warm PLAN (the
    reader's pushFilters + partitions pruning pass, which consults
    both the zone-map manifest and the bloom sidecar) re-parses ZERO
    shard files on an unchanged dataset — not just a bare
    load_manifest call."""
    from pyspark.sql.datasource import EqualTo

    from columnar_format_spark.colf.datasource import (
        BLOOMS_DIR_NAME, ColfReader, commit_snapshot)
    from columnar_format_spark.colf.format import (ColfColumn, ColfSchema,
                                                   write_colf)

    d = str(tmp_path / "ds")
    os.makedirs(d)
    live, man = [], {}
    for i in range(8):
        base = f"part-{i:02d}.colf"
        ks = list(range(i * 10, i * 10 + 10))
        write_colf(os.path.join(d, base),
                   ColfSchema(10, [ColfColumn("k", "int32", False)]),
                   {"k": ks})
        live.append(base)
        man[base] = {"num_rows": 10,
                     "columns": {"k": {"min": ks[0], "max": ks[-1],
                                       "null_count": 0}}}
    commit_snapshot(d, live)
    _append_sidecar_shard(d, MANIFEST_DIR_NAME, man)
    _append_sidecar_shard(d, BLOOMS_DIR_NAME,
                          {b: {"columns": {}} for b in live})

    def plan():
        r = ColfReader({"path": d}, None)
        r.pushFilters([EqualTo(("k",), 42)])
        return [p for p in r.partitions() if p.file is not None]

    _SIDECAR_CACHE.clear()
    first = plan()                      # cold: parses the shards once
    parsed = _count_parses(monkeypatch)
    again = plan()
    assert [p.file for p in again] == [p.file for p in first]
    assert len(again) == 1              # zone maps prune 7 of 8 files
    assert parsed == [], f"warm plan re-parsed: {parsed}"
