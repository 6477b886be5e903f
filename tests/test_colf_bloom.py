"""Per-file Bloom filters (_blooms/ sidecar): point-lookup pruning
on high-cardinality UNCLUSTERED keys, where zone maps cannot help —
every file's [min, max] covers an arrival-ordered key, so min/max
pruning opens everything and the bloom is what says "not in this
file". No-false-negative is the correctness property (a false negative
loses rows); false positives only cost I/O."""

import os
import random
import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, In, IsNotNull

from columnar_format_spark.colf import bloom as B
from columnar_format_spark.colf.datasource import (
    ColfReader,
    bloom_columns,
    live_files,
    load_blooms,
    register,
)
from columnar_format_spark.colf.maintenance import (
    compact,
    delete_where,
    merge_into,
    vacuum,
)

from tests.conftest import SF_SMALL


# ---------- pure-layer properties ----------


@given(st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=300),
       st.integers(0, 2**31 - 1))
@settings(max_examples=50, deadline=None)
def test_no_false_negatives_int(values, probe):
    bl = B.build((B.encode_int32(v) for v in values), n_hint=len(values))
    for v in values:
        assert B.might_contain(bl, B.encode_int32(v))


@given(st.lists(st.text(min_size=0, max_size=20), min_size=1, max_size=300))
@settings(max_examples=50, deadline=None)
def test_no_false_negatives_utf8(values):
    bl = B.build((B.encode_utf8(v) for v in values), n_hint=len(values))
    for v in values:
        assert B.might_contain(bl, B.encode_utf8(v))


def test_fpp_close_to_target():
    rng = random.Random(7)
    members = {rng.randrange(10**9) for _ in range(5000)}
    bl = B.build((B.encode_int32(v) for v in members), n_hint=len(members),
                 fpp=0.01)
    probes = [v for v in (rng.randrange(10**9, 2 * 10**9) for _ in range(20000))]
    fp = sum(B.might_contain(bl, B.encode_int32(v)) for v in probes)
    assert fp / len(probes) < 0.03  # target 1%, generous noise margin


def test_merge_is_union():
    a = B.build((B.encode_utf8(w) for w in ["a", "b"]), n_hint=100)
    b = B.build((B.encode_utf8(w) for w in ["c"]), n_hint=100)
    m = B.merge(a, b)
    for w in ["a", "b", "c"]:
        assert B.might_contain(m, B.encode_utf8(w))
    with pytest.raises(ValueError):
        B.merge(a, B.build([], n_hint=10**6))


def test_determinism():
    vals = [B.encode_utf8("".join(random.Random(i).choices(string.ascii_letters, k=8)))
            for i in range(100)]
    assert B.build(vals, 100) == B.build(vals, 100)


@given(st.lists(st.text(min_size=0, max_size=20), min_size=1, max_size=200),
       st.integers(0, 199), st.integers(1, 12))
@settings(max_examples=50, deadline=None)
def test_prefix_no_false_negatives(values, pick, plen):
    """Any pattern that IS a prefix of some stored value must survive
    prefix_might_match — at every pattern length, indexed or not."""
    blooms = B.build_prefixes(values)
    bl = {"prefixes": blooms} if blooms else {}
    v = values[pick % len(values)]
    pattern = v[:plen]
    assert B.prefix_might_match(bl, pattern)


def test_prefix_merge_carries_filters():
    a = {"prefixes": B.build_prefixes(["alpha", "beta"])}
    b = {"prefixes": B.build_prefixes(["gamma", "alpine"])}
    base_a = B.build((B.encode_utf8(w) for w in ["alpha", "beta"]), n_hint=64)
    base_b = B.build((B.encode_utf8(w) for w in ["gamma", "alpine"]), n_hint=64)
    base_a["prefixes"], base_b["prefixes"] = a["prefixes"], b["prefixes"]
    m = B.merge(base_a, base_b)
    for w in ["alpha", "beta", "gamma", "alpine"]:
        assert B.prefix_might_match(m, w[:4])
    # absent prefix still provably absent after the merge
    assert not B.prefix_might_match(m, "zzzz")


# ---------- datasource integration ----------


@pytest.fixture(scope="module")
def bloom_dataset(spark, tmp_path_factory):
    """orders hash-scattered into 8 files (every file's o_orderkey
    zone map spans ~the full key range — the layout where zone maps
    prune nothing and blooms are the only point-lookup signal)."""
    register(spark)
    d = str(tmp_path_factory.mktemp("colf_bloom"))
    (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            F.col("o_orderpriority").alias("o_orderpriority"),
            F.col("o_totalprice").alias("o_totalprice"),
        )
        .repartition(8)
        .write.format("colf").option("bloomColumns", "o_orderkey")
        .mode("overwrite").save(d)
    )
    return d


def _n_files(reader) -> int:
    return len({p.file for p in reader.partitions() if p.file is not None})


def _reader(d, pushed, schema):
    r = ColfReader({"path": d}, schema)
    r.pushFilters(pushed)
    return r


def test_sidecar_written(bloom_dataset):
    blooms = load_blooms(bloom_dataset)
    files = [f for f in os.listdir(bloom_dataset) if f.endswith(".colf")]
    assert set(blooms) == set(files) and len(files) == 8
    for per_file in blooms.values():
        assert set(per_file["columns"]) == {"o_orderkey"}
        assert per_file["columns"]["o_orderkey"]["n"] > 0
        assert "stripes" not in per_file  # v1 file: no stripe granule
    assert bloom_columns(bloom_dataset) == ["o_orderkey"]


def test_point_lookup_prunes_most_files(spark, bloom_dataset):
    schema = spark.read.format("colf").load(bloom_dataset).schema
    man_keys = [r["o_orderkey"] for r in
                spark.read.format("colf").load(bloom_dataset)
                .select("o_orderkey").limit(5).collect()]
    probe = man_keys[0]
    opened = _n_files(_reader(bloom_dataset, [EqualTo(("o_orderkey",), probe)],
                              schema))
    # the true file + ~1% fp of the other 7: anything < 8 proves blooms
    # fire where zone maps can't; usually exactly 1
    assert 1 <= opened <= 2
    # zone maps alone (hash layout) keep everything: pruning=off baseline
    r = ColfReader({"path": bloom_dataset, "pruning": "off"}, schema)
    r.pushFilters([EqualTo(("o_orderkey",), probe)])
    assert _n_files(r) == 8


def test_absent_key_prunes_everything(spark, tmp_path):
    """An in-range but nonexistent key is invisible to zone maps (every
    file's [min, max] covers it) — only the blooms can prove absence."""
    register(spark)
    d = str(tmp_path / "sparse")
    (spark.range(0, 4000, 2)  # even keys only
     .select(F.col("id").cast("int").alias("k"))
     .repartition(4)
     .write.format("colf").option("bloomColumns", "k")
     .mode("overwrite").save(d))
    schema = spark.read.format("colf").load(d).schema
    opened = _n_files(_reader(d, [EqualTo(("k",), 1001)], schema))  # odd: absent
    # 1% fp per file: overwhelmingly 0 of 4 opened; allow 1 fp
    assert opened <= 1
    # a present key still reads correctly through the pruned plan
    got = (spark.read.format("colf").load(d)
           .filter(F.col("k") == 1000).collect())
    assert [r["k"] for r in got] == [1000]


@pytest.fixture(scope="module")
def prefix_dataset(spark, tmp_path_factory):
    """A hash-scattered utf8 bloom column whose every file spans the
    whole string range (min ~'a0', max ~'z9'), so zone maps keep every
    file for any mid-range startswith probe — only the prefix blooms
    can prune. Values are letter+digits ('a0', 'b17', ...), so any
    letter+LETTER pattern is absent from all files."""
    register(spark)
    d = str(tmp_path_factory.mktemp("colf_prefix"))
    (spark.range(4000)
     .select(F.concat(
         F.expr("chr(97 + CAST(id % 26 AS INT))"),
         F.col("id").cast("string")).alias("tag"),
         F.col("id").cast("int").alias("id"))
     .repartition(4)
     .write.format("colf").option("bloomColumns", "tag")
     .mode("overwrite").save(d))
    return d


def test_prefix_sidecar_written(prefix_dataset):
    blooms = load_blooms(prefix_dataset)
    assert len(blooms) == 4
    for per_file in blooms.values():
        pref = per_file["columns"]["tag"].get("prefixes")
        assert pref and set(pref) <= {"2", "4", "8"}
        for bl in pref.values():
            assert bl["n"] > 0


def test_startswith_absent_prefix_prunes_everything(spark, prefix_dataset):
    from pyspark.sql.datasource import StringStartsWith

    schema = spark.read.format("colf").load(prefix_dataset).schema
    # 'qq' sorts inside every file's [min, max] (letter+digit values
    # span a0..z9), so zone maps keep all 4 — assert that first
    from columnar_format_spark.colf.datasource import (
        _file_may_match, load_manifest)

    probe = StringStartsWith(("tag",), "qq")
    man = load_manifest(prefix_dataset)
    assert all(_file_may_match(stats, probe) for stats in man.values())
    # ...the prefix blooms prove 'qq*' absent (2nd char is never a letter)
    opened = _n_files(_reader(prefix_dataset, [probe], schema))
    assert opened == 0
    # a PRESENT prefix keeps its file(s) and returns correct rows
    got = (spark.read.format("colf").load(prefix_dataset)
           .filter(F.col("tag").startswith("q10")).collect())
    want = (spark.read.format("colf").option("pruning", "off")
            .load(prefix_dataset)
            .filter(F.col("tag").startswith("q10")).collect())
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) >= 1


def test_startswith_short_pattern_is_conservative(spark, prefix_dataset):
    from pyspark.sql.datasource import StringStartsWith

    schema = spark.read.format("colf").load(prefix_dataset).schema
    # 1-char pattern is below every indexed prefix length: no pruning,
    # and results still correct
    opened = _n_files(_reader(prefix_dataset,
                              [StringStartsWith(("tag",), "q")], schema))
    assert opened == 4
    on = (spark.read.format("colf").load(prefix_dataset)
          .filter(F.col("tag").startswith("q")).count())
    off = (spark.read.format("colf").option("pruning", "off")
           .load(prefix_dataset)
           .filter(F.col("tag").startswith("q")).count())
    assert on == off > 0


def test_results_identical_with_and_without_pruning(spark, bloom_dataset):
    probe = spark.read.format("colf").load(bloom_dataset).select(
        "o_orderkey").limit(1).collect()[0][0]
    on = (spark.read.format("colf").load(bloom_dataset)
          .filter(F.col("o_orderkey") == probe).collect())
    off = (spark.read.format("colf").option("pruning", "off")
           .load(bloom_dataset)
           .filter(F.col("o_orderkey") == probe).collect())
    assert sorted(map(tuple, on)) == sorted(map(tuple, off)) and len(on) >= 1


def test_in_list_pruning(spark, bloom_dataset):
    schema = spark.read.format("colf").load(bloom_dataset).schema
    keys = [r["o_orderkey"] for r in
            spark.read.format("colf").load(bloom_dataset)
            .select("o_orderkey").limit(3).collect()]
    opened = _n_files(_reader(bloom_dataset, [In(("o_orderkey",), tuple(keys))],
                              schema))
    assert opened <= 4  # ≤ one file per probed key (+fp margin)
    # non-equality filters never consult blooms
    assert _n_files(_reader(bloom_dataset, [IsNotNull(("o_orderkey",))],
                            schema)) == 8


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True),
                min_size=1, max_size=300))
@settings(max_examples=50, deadline=None)
def test_no_false_negatives_float64(values):
    bl = B.build((B.encode_float64(v) for v in values), n_hint=len(values))
    for v in values:
        assert B.might_contain(bl, B.encode_float64(v))


def test_float64_canonical_encoding():
    # SQL-equal values must share one encoding: ±0.0, any-NaN
    assert B.encode_float64(0.0) == B.encode_float64(-0.0)
    import struct

    odd_nan = struct.unpack("<d", struct.pack("<Q", 0x7FF8DEADBEEF0001))[0]
    assert B.encode_float64(odd_nan) == B.encode_float64(float("nan"))
    assert B.encode_float64(1.5) != B.encode_float64(-1.5)


def test_float_bloom_point_lookup_prunes(spark, tmp_path):
    """float64 keys get real bloom pruning now (round-6 left them
    zone-map-only): an absent-key probe on a hash-scattered double
    column must prune every file, and present-key probes keep the
    right file — including a stored -0.0 probed as 0.0."""
    register(spark)
    p = str(tmp_path / "fds")
    df = spark.range(1, 20_001).select(
        F.col("id").cast("int").alias("id"),
        # hash-scattered doubles so zone maps can't prune, plus a -0.0
        F.when(F.col("id") == 7, F.lit(-0.0))
         .otherwise((F.col("id") * 2654435761 % 1000003) / 7.0)
         .alias("key"))
    (df.repartition(8).write.format("colf")
     .option("bloomColumns", "key").mode("overwrite").save(p))
    schema = spark.read.format("colf").load(p).schema

    def opened(value, pruning="on"):
        r = ColfReader({"path": p, "pruning": pruning}, schema)
        r.pushFilters([EqualTo(("key",), value)])
        return len({pt.file for pt in r.partitions() if pt.file is not None})

    assert opened(-1.0) == 0        # absent key: every file pruned
    present = df.filter("id = 12345").first().key
    assert opened(present) >= 1
    # a present key sits inside every file's zone map, so only the
    # blooms prune: its file plus at most one false positive of 8
    from columnar_format_spark.colf.datasource import (
        _file_may_match, load_manifest)

    probe = EqualTo(("key",), present)
    assert all(_file_may_match(stats, probe)
               for stats in load_manifest(p).values())
    assert opened(present) <= 2 < opened(present, "off") == 8
    back = spark.read.format("colf").load(p)
    assert back.filter(F.col("key") == present).count() >= 1
    # signed zero: stored -0.0, probed 0.0 — SQL-equal, must survive
    assert opened(0.0) >= 1
    assert back.filter(F.col("key") == 0.0).count() == 1
    assert back.filter(F.col("key") == 0.0).first().id == 7


def test_unknown_bloom_column_rejected(spark, bloom_dataset, tmp_path):
    df = spark.read.format("colf").load(bloom_dataset)
    with pytest.raises(Exception) as e:
        (df.write.format("colf").option("bloomColumns", "nope")
         .mode("overwrite").save(str(tmp_path / "bad2")))
    assert "unknown column" in str(e.value)


# ---------- maintenance preservation ----------


@pytest.mark.slow
def test_cow_and_compaction_preserve_blooms(spark, tmp_path):
    register(spark)
    d = str(tmp_path / "ds")
    (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .select(F.col("o_orderkey").cast("int").alias("o_orderkey"),
                F.col("o_orderpriority").alias("o_orderpriority"))
        .repartition(4)
        .write.format("colf").option("bloomColumns", "o_orderkey")
        .mode("overwrite").save(d)
    )
    probe = spark.read.format("colf").load(d).select(
        "o_orderkey").limit(1).collect()[0][0]

    # CoW delete rewrite keeps bloom coverage on every live file
    delete_where(spark, d, f"o_orderkey = {int(probe)}")
    live = {os.path.basename(f) for f in live_files(d)}
    blooms = load_blooms(d)
    assert live <= set(blooms), "delete rewrite dropped bloom entries"

    # merge: upsert one row, blooms still cover every live file
    src = spark.createDataFrame(
        [(int(probe), "0-RESTORED")], "o_orderkey int, o_orderpriority string")
    merge_into(spark, d, src, ["o_orderkey"])
    live = {os.path.basename(f) for f in live_files(d)}
    assert live <= set(load_blooms(d))

    # retained compaction: compacted files get fresh blooms; vacuum
    # prunes the superseded files' entries
    compact(spark, d, 2, retain=True)
    live = {os.path.basename(f) for f in live_files(d)}
    assert live <= set(load_blooms(d))
    vacuum(d, keep_last=1)
    assert set(load_blooms(d)) == live

    # the data survived all of it
    got = spark.read.format("colf").load(d).filter(
        F.col("o_orderkey") == int(probe)).collect()
    assert [r["o_orderpriority"] for r in got] == ["0-RESTORED"]


def test_v3_stripe_blooms_prune_tasks(spark, tmp_path):
    """v3 + bloomColumns: the sidecar carries per-STRIPE blooms and an
    equality probe prunes stripe TASKS, not just files — one big sorted
    file plans ~1 stripe for a point lookup on a key zone maps can't
    discriminate (hash-scrambled within each stripe? no — here the key
    IS sorted, so zone maps also prune; the bloom case is the GAP key)."""
    register(spark)
    d = str(tmp_path / "v3ds")
    # even keys 0..19998, ONE file, 10 stripes of 1000 rows: every
    # stripe's zone map covers its range, but a missing ODD key inside
    # a stripe's range is only provably absent via that stripe's bloom
    (spark.range(0, 20000, 2).select(F.col("id").cast("int").alias("k"))
     .coalesce(1)
     .write.format("colf").option("version", "3")
     .option("stripeRows", "1000").option("bloomColumns", "k")
     .mode("overwrite").save(d))
    blooms = load_blooms(d)
    (per_file,) = blooms.values()
    assert len(per_file["stripes"]) == 10
    schema = spark.read.format("colf").load(d).schema

    def planned(flt):
        r = ColfReader({"path": d}, schema)
        r.pushFilters([flt])
        return [p for p in r.partitions() if p.file is not None]

    # in-range absent key: stripe zone maps keep its covering stripe,
    # the stripe bloom kills it (≤1 fp stripe tolerated)
    assert len(planned(EqualTo(("k",), 5001))) <= 1
    # present key: exactly its stripe (+fp margin)
    assert 1 <= len(planned(EqualTo(("k",), 5000))) <= 2
    # correctness through the full read path
    got = (spark.read.format("colf").load(d)
           .filter(F.col("k").isin(5000, 5001)).collect())
    assert [r["k"] for r in got] == [5000]


def test_v3_cow_preserves_stripe_blooms(spark, tmp_path):
    """delete_where on a v3+bloom dataset: the rewritten file carries
    fresh stripe blooms (the rewrite passes bloomColumns through and
    the writer re-stripes)."""
    register(spark)
    d = str(tmp_path / "v3cow")
    (spark.range(0, 8000, 2).select(F.col("id").cast("int").alias("k"))
     .coalesce(1)
     .write.format("colf").option("version", "3")
     .option("stripeRows", "1000").option("bloomColumns", "k")
     .mode("overwrite").save(d))
    delete_where(spark, d, "k = 4000")
    live = {os.path.basename(f) for f in live_files(d)}
    blooms = load_blooms(d)
    assert live <= set(blooms)
    for base in live:
        assert blooms[base].get("stripes"), "rewrite lost stripe blooms"
    assert (spark.read.format("colf").load(d)
            .filter(F.col("k") == 4000).count()) == 0


def test_corrupt_bloom_sidecar_degrades_to_no_pruning(spark, tmp_path):
    """A corrupt/garbage _blooms/ shard must never fail a read or change
    results — blooms can only SKIP I/O, so the degradation is to scan
    every zone-map-surviving file (same contract as a corrupt
    manifest)."""
    from columnar_format_spark.colf.datasource import (BLOOMS_DIR_NAME,
                                                       _shard_files)

    register(spark)
    d = str(tmp_path / "ds")
    (spark.range(0, 1000, 2).select(F.col("id").cast("int").alias("k"))
     .repartition(3)
     .write.format("colf").option("bloomColumns", "k")
     .mode("overwrite").save(d))
    want = (spark.read.format("colf").load(d)
            .filter(F.col("k") == 500).collect())
    for shard in _shard_files(d, BLOOMS_DIR_NAME):
        with open(shard, "w") as f:
            f.write("{not json")
    assert load_blooms(d) == {}
    got = (spark.read.format("colf").load(d)
           .filter(F.col("k") == 500).collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    schema = spark.read.format("colf").load(d).schema
    r = _reader(d, [EqualTo(("k",), 501)], schema)  # absent key
    # no blooms → nothing proves absence → all files planned
    assert _n_files(r) == 3


@pytest.mark.slow
def test_merge_key_pushdown_equivalent_to_full_scan(spark, tmp_path,
                                                    monkeypatch):
    """merge_into pushes CDC-sized key sets into the discovery scan as
    IN filters (bloom/zone-map prunable). The pushdown is a pruning
    superset, so the merge outcome must be IDENTICAL with it forced
    off — pinned by running the same upsert both ways."""
    from columnar_format_spark.colf import maintenance as M

    register(spark)

    def build(d):
        (spark.range(0, 2000, 2).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("int").alias("v"))
         .repartition(4)
         .write.format("colf").option("bloomColumns", "k")
         .mode("overwrite").save(d))

    src = spark.createDataFrame(
        [(100, -1), (1001, -2)], "k int, v int")  # one update, one insert

    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    build(d1)
    build(d2)
    r1 = M.merge_into(spark, d1, src, ["k"])
    monkeypatch.setattr(M, "MERGE_PUSHDOWN_KEYS", 0)  # force old path
    r2 = M.merge_into(spark, d2, src, ["k"])
    monkeypatch.undo()

    a = sorted(tuple(r) for r in spark.read.format("colf").load(d1).collect())
    b = sorted(tuple(r) for r in spark.read.format("colf").load(d2).collect())
    assert a == b
    assert (r1["n_replaced_rows"], r1["n_source_rows"]) == \
           (r2["n_replaced_rows"], r2["n_source_rows"]) == (1, 2)
    got = dict((r["k"], r["v"]) for r in
               spark.read.format("colf").load(d1)
               .filter(F.col("k").isin(100, 1001)).collect())
    assert got == {100: -1, 1001: -2}
