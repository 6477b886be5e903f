"""Copy-on-write delete (colf.maintenance.delete_where) and the two
reader hooks it builds on: the virtual _colf_file column and the
files= scan restriction."""

import os

import pytest
from pyspark.sql import functions as F

from columnar_format_spark.colf.format import ColfFormatError, read_schema
from columnar_format_spark.colf.maintenance import delete_where


@pytest.fixture(scope="module")
def colf_spark(spark):
    from columnar_format_spark.colf.datasource import register

    register(spark)
    return spark


def _dataset(spark, tmp_path, version="1", range_partition=False, n=1000):
    df = spark.range(n).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 10).cast("double").alias("v"),
        (F.col("id") % 3).cast("string").alias("tag"))
    if range_partition:
        df = df.repartitionByRange(4, "id")
    else:
        df = df.repartition(4)
    p = str(tmp_path / "ds")
    df.write.format("colf").option("version", version).mode("append").save(p)
    return p


def _files(p):
    return sorted(f for f in os.listdir(p) if f.endswith(".colf"))


def test_partial_delete_and_time_travel(colf_spark, tmp_path):
    p = _dataset(colf_spark, tmp_path)
    stats = delete_where(colf_spark, p, "id >= 100 AND id < 300")
    assert stats["n_deleted_rows"] == 200
    assert stats["version"] == 2
    back = colf_spark.read.format("colf").load(p)
    assert back.count() == 800
    assert back.filter("id >= 100 AND id < 300").count() == 0
    # the pre-delete version still reads complete
    old = colf_spark.read.format("colf").option("snapshot", "1").load(p)
    assert old.count() == 1000


def test_file_pruned_delete_touches_only_matching_files(colf_spark, tmp_path):
    p = _dataset(colf_spark, tmp_path, range_partition=True)
    pre = {f: os.path.getsize(os.path.join(p, f)) for f in _files(p)}
    # ids are range-partitioned across 4 files; a one-quartile delete
    # must rewrite exactly 1 file and leave the other 3 byte-identical
    stats = delete_where(colf_spark, p, "id < 200")
    assert stats["n_deleted_rows"] == 200
    assert stats["n_rewritten_files"] == 1
    assert stats["n_kept_files"] == 3
    post = {f: os.path.getsize(os.path.join(p, f)) for f in _files(p)}
    # CoW: all 4 originals stay on disk untouched (the old version
    # still references the rewritten one), plus 1 new rewrite file
    unchanged = [f for f in pre if f in post and post[f] == pre[f]]
    assert len(unchanged) == 4
    assert len(post) == 5
    assert colf_spark.read.format("colf").load(p).count() == 800
    # vacuum reclaims the superseded original
    from columnar_format_spark.colf.maintenance import vacuum

    deleted = vacuum(p, keep_last=1)
    assert len(deleted) == 1
    assert deleted[0] in pre
    assert colf_spark.read.format("colf").load(p).count() == 800


def test_delete_preserves_file_version(colf_spark, tmp_path):
    p = _dataset(colf_spark, tmp_path, version="2")
    delete_where(colf_spark, p, "id < 100")
    # every live file (rewrites included) still carries version 2
    from columnar_format_spark.colf.datasource import live_files

    assert {read_schema(f).version for f in live_files(p)} == {2}


def test_noop_delete_commits_nothing(colf_spark, tmp_path):
    p = _dataset(colf_spark, tmp_path)
    stats = delete_where(colf_spark, p, "id > 10000000")
    assert stats == {"version": 1, "n_deleted_rows": 0,
                     "n_rewritten_files": 0, "n_kept_files": 4}
    assert colf_spark.read.format("colf").load(p).count() == 1000


def test_delete_all_leaves_valid_empty_dataset(colf_spark, tmp_path):
    p = _dataset(colf_spark, tmp_path)
    stats = delete_where(colf_spark, p, "v >= 0")
    assert stats["n_deleted_rows"] == 1000
    back = colf_spark.read.format("colf").load(p)
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == ["id", "v", "tag"]


def test_with_file_column(colf_spark, tmp_path):
    p = _dataset(colf_spark, tmp_path)
    tagged = (colf_spark.read.format("colf")
              .option("withFileColumn", "true").load(p))
    assert tagged.schema.fieldNames()[-1] == "_colf_file"
    per_file = dict(tagged.groupBy("_colf_file").count().collect())
    assert set(per_file) == set(_files(p))
    assert sum(per_file.values()) == 1000


def test_file_column_only_projection_counts(colf_spark, tmp_path):
    # a metadata-only projection (columns=_colf_file) must still emit
    # one row per data row, with counts from the file headers — the
    # cheapest possible per-file row-count query
    p = _dataset(colf_spark, tmp_path)
    only = (colf_spark.read.format("colf")
            .option("withFileColumn", "true")
            .option("columns", "_colf_file").load(p))
    per_file = dict(only.groupBy("_colf_file").count().collect())
    assert set(per_file) == set(_files(p))
    assert sum(per_file.values()) == 1000


def test_delete_null_condition_rows_survive(colf_spark, tmp_path):
    # SQL DELETE semantics: rows where the predicate evaluates to NULL
    # are NOT deleted. 100 rows have v=NULL; "v > 5.0" is NULL there.
    df = colf_spark.range(1000).select(
        F.col("id").cast("int").alias("id"),
        F.when(F.col("id") % 10 == 0, F.lit(None))
         .otherwise((F.col("id") % 10).cast("double")).alias("v"),
        (F.col("id") % 3).cast("string").alias("tag"))
    p = str(tmp_path / "nulls")
    (df.repartition(2).write.format("colf").mode("append").save(p))
    stats = delete_where(colf_spark, p, "v > 5.0")
    # v in {1..9} uniform over 900 non-null rows: 6,7,8,9 -> 400 deleted
    assert stats["n_deleted_rows"] == 400
    back = colf_spark.read.format("colf").load(p)
    assert back.count() == 600
    assert back.filter("v IS NULL").count() == 100  # survivors


def test_files_option_restricts_and_validates(colf_spark, tmp_path):
    p = _dataset(colf_spark, tmp_path)
    one = _files(p)[0]
    sub = (colf_spark.read.format("colf")
           .option("files", one).load(p))
    n = sub.count()
    assert 0 < n < 1000
    bad = (colf_spark.read.format("colf")
           .option("files", "nope.colf").load(p))
    with pytest.raises(Exception, match="not in the live set"):
        bad.count()


# --- merge_into (CoW key-upsert) -----------------------------------------


def test_merge_upsert_semantics(colf_spark, tmp_path):
    from columnar_format_spark.colf.maintenance import merge_into

    p = _dataset(colf_spark, tmp_path, version="2", range_partition=True)
    src = colf_spark.range(100, 150).union(
        colf_spark.range(2000, 2010)).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 2.0).alias("v"),
        F.lit("new").alias("tag"))
    stats = merge_into(colf_spark, p, src, ["id"])
    assert stats["n_replaced_rows"] == 50
    assert stats["n_source_rows"] == 60
    back = colf_spark.read.format("colf").load(p)
    assert back.count() == 1010
    assert back.filter("id = 120").first().tag == "new"
    assert back.filter("id = 2005").first().v == 4010.0
    assert back.filter("id = 500").first().tag == str(500 % 3)
    # pre-merge version intact; file versions preserved
    assert (colf_spark.read.format("colf").option("snapshot", "1")
            .load(p).count() == 1000)
    from columnar_format_spark.colf.datasource import live_files

    assert {read_schema(f).version for f in live_files(p)} == {2}


def test_merge_insert_files_sized_like_dataset(colf_spark, tmp_path):
    from columnar_format_spark.colf.maintenance import merge_into

    p = _dataset(colf_spark, tmp_path, range_partition=True)
    # a tiny insert-only source must land as ONE part file, not one
    # per source partition
    src = colf_spark.range(5000, 5020).repartition(16).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 1.0).alias("v"), F.lit("x").alias("tag"))
    stats = merge_into(colf_spark, p, src, ["id"])
    assert stats["n_replaced_rows"] == 0
    assert stats["n_rewritten_files"] == 1
    assert stats["n_kept_files"] == 4


def test_merge_rejects_duplicate_source_keys(colf_spark, tmp_path):
    from columnar_format_spark.colf.maintenance import merge_into

    p = _dataset(colf_spark, tmp_path)
    src = colf_spark.range(3).union(colf_spark.range(3)).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 1.0).alias("v"), F.lit("x").alias("tag"))
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(colf_spark, p, src, ["id"])


def test_merge_rejects_schema_mismatch(colf_spark, tmp_path):
    from columnar_format_spark.colf.maintenance import merge_into

    p = _dataset(colf_spark, tmp_path)
    src = colf_spark.range(3).select(F.col("id").cast("int").alias("id"))
    with pytest.raises(ValueError, match="must match"):
        merge_into(colf_spark, p, src, ["id"])


def test_delete_cas_conflict_with_racing_append(colf_spark, tmp_path):
    """A delete whose snapshot commit lands AFTER a concurrent append
    committed must fail the CAS parent check loudly — never silently
    drop the appended files from the live set."""
    from unittest import mock

    from columnar_format_spark.colf import maintenance as M

    p = _dataset(colf_spark, tmp_path)
    real_commit = M.commit_snapshot
    appended = colf_spark.range(9000, 9100).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 1.0).alias("v"), F.lit("late").alias("tag"))

    def commit_with_race(path, files, **kw):
        # simulate: another writer appends (and commits) between this
        # delete's planning and its metadata-log commit
        appended.coalesce(1).write.format("colf").mode("append").save(p)
        return real_commit(path, files, **kw)

    with mock.patch.object(M, "commit_snapshot", side_effect=commit_with_race):
        with pytest.raises(ColfFormatError, match="version"):
            M.delete_where(colf_spark, p, "id < 100")
    # the racing append's rows survived
    assert colf_spark.read.format("colf").load(p).count() == 1100


def test_merge_cas_conflict_with_racing_append(colf_spark, tmp_path):
    """merge_into has the same single-snapshot CAS contract as
    delete_where: a commit racing a concurrent append fails loudly."""
    from unittest import mock

    from columnar_format_spark.colf import maintenance as M

    p = _dataset(colf_spark, tmp_path)
    real_commit = M.commit_snapshot
    late = colf_spark.range(9000, 9050).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 1.0).alias("v"), F.lit("late").alias("tag"))
    src = colf_spark.range(10).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 2.0).alias("v"), F.lit("new").alias("tag"))

    def commit_with_race(path, files, **kw):
        late.coalesce(1).write.format("colf").mode("append").save(p)
        return real_commit(path, files, **kw)

    with mock.patch.object(M, "commit_snapshot", side_effect=commit_with_race):
        with pytest.raises(ColfFormatError, match="version"):
            M.merge_into(colf_spark, p, src, ["id"])
    assert colf_spark.read.format("colf").load(p).count() == 1050


def test_interrupted_rewrite_leaves_reference_dir_readable(spark, tmp_path,
                                                           monkeypatch):
    """Crash-window durability on a LOGLESS dataset (reference-writer /
    hand-made dirs, where the directory listing is the live set): CoW
    moves rewritten files into the live dir before its snapshot
    commit, so delete_where must first bootstrap the metadata log from
    the listing — then a crash between move and commit leaves readers
    on the bootstrapped version (original rows exactly once), never
    double-counting old + rewritten files."""
    import shutil

    from columnar_format_spark.colf import maintenance as M
    from columnar_format_spark.colf.datasource import (
        load_snapshots, log_dir, register)

    register(spark)
    d = str(tmp_path / "ds")
    (spark.range(0, 1000).select(F.col("id").cast("int").alias("k"))
     .repartition(2).write.format("colf").mode("overwrite").save(d))
    # make it LOGLESS, as a dataset assembled by the reference writer
    # would be (the connector always commits a log)
    shutil.rmtree(log_dir(d))
    want = spark.read.format("colf").load(d).count()

    real = M.commit_snapshot

    def failing(path, live, reset=False, expected_parent=None):
        if expected_parent is not None:  # the delete's final commit
            raise RuntimeError("injected crash before snapshot commit")
        return real(path, live, reset=reset, expected_parent=expected_parent)

    monkeypatch.setattr(M, "commit_snapshot", failing)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.delete_where(spark, d, "k < 100")
    monkeypatch.undo()

    # the bootstrapped log pins the pre-delete live set: the orphaned
    # rewrite output sits in the directory but is invisible to readers
    assert load_snapshots(d), "log was not bootstrapped before the rewrite"
    assert spark.read.format("colf").load(d).count() == want

    # and a clean retry succeeds from the bootstrapped version
    res = M.delete_where(spark, d, "k < 100")
    assert res["n_deleted_rows"] == 100
    assert spark.read.format("colf").load(d).count() == want - 100


def test_parse_condition_shapes():
    """The metadata-discovery parser must accept exactly the simple
    conjunction shapes and reject everything it could misjudge."""
    from columnar_format_spark.colf.maintenance import _parse_condition

    types = {"id": "int32", "v": "float64", "tag": "utf8"}
    ok = _parse_condition("id >= 100 AND id < 300", types)
    assert [type(f).__name__ for f in ok] == ["GreaterThanOrEqual",
                                              "LessThan"]
    assert _parse_condition("tag = 'R'", types)[0].value == "R"
    assert _parse_condition("v > 5.0", types)[0].value == 5.0
    assert _parse_condition("id IN (1, 2, 3)", types)[0].value == (1, 2, 3)
    assert type(_parse_condition("tag IS NULL", types)[0]).__name__ \
        == "IsNull"
    assert type(_parse_condition("tag IS NOT NULL", types)[0]).__name__ \
        == "IsNotNull"
    # rejected shapes -> scan fallback
    assert _parse_condition("id = 1 OR id = 2", types) is None
    assert _parse_condition("NOT (id = 1)", types) is None
    assert _parse_condition("(id = 1)", types) is None
    assert _parse_condition("unknown = 1", types) is None
    assert _parse_condition("tag = 1", types) is None       # type mismatch
    assert _parse_condition("id = 'x'", types) is None      # type mismatch
    assert _parse_condition("id % 2 = 0", types) is None    # expression
    assert _parse_condition("lower(tag) = 'r'", types) is None
    assert _parse_condition("id != 3", types) is None       # not pushable


def test_metadata_planned_delete_matches_scan_discovery(colf_spark,
                                                        tmp_path):
    """The fast path and the scan path must reach identical datasets
    and identical exact counts — run both shapes on twin datasets."""
    pa = _dataset(colf_spark, tmp_path / "a", range_partition=True)
    pb = _dataset(colf_spark, tmp_path / "b", range_partition=True)
    # fast path: simple conjunction
    sa = delete_where(colf_spark, pa, "id >= 100 AND id < 300")
    # forced scan path: equivalent condition the parser rejects
    sb = delete_where(colf_spark, pb, "id >= 100 AND id < 300 AND (1 = 1)")
    assert sa["n_deleted_rows"] == sb["n_deleted_rows"] == 200
    ra = sorted(map(tuple, colf_spark.read.format("colf").load(pa).collect()))
    rb = sorted(map(tuple, colf_spark.read.format("colf").load(pb).collect()))
    assert ra == rb


def test_metadata_planned_delete_fp_candidate_is_noop(colf_spark, tmp_path):
    """A condition inside every zone range that matches NOTHING: the
    planner keeps candidates, the rewrite finds no deletions, and the
    op must discard the rewrite and commit no version."""
    p = _dataset(colf_spark, tmp_path)  # v = id % 10 in {0..9}
    stats = delete_where(colf_spark, p, "v = 3.5")  # in-range, absent
    assert stats["n_deleted_rows"] == 0
    assert stats["n_rewritten_files"] == 0
    assert stats["version"] == 1
    assert colf_spark.read.format("colf").load(p).count() == 1000


def test_clone_dataset_hardlinks_isolate_mutations(spark, tmp_path):
    """clone_dataset hardlinks a staged template; a CoW delete (and a
    vacuum) in the clone must leave the template byte-identical —
    sound only while every mutation is new-file + tmp/rename, which
    this pins."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from columnar_format_spark.colf.datasource import register
    from columnar_format_spark.colf.maintenance import delete_where, vacuum
    from columnar_format_spark.staging import clone_dataset

    register(spark)
    tmpl = str(tmp_path / "tmpl")
    (spark.range(100).select(F.col("id").cast("int").alias("k"))
     .repartition(4).write.format("colf").mode("overwrite").save(tmpl))

    def digest(d):
        # walk INTO subdirs (_log/, _manifests/) rather than skip
        # them: a clone mutation leaking a log entry or sidecar shard
        # into the template must fail
        out = {}
        for root, _dirs, files in sorted(os.walk(d)):
            for f in sorted(files):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, d)] = hashlib.md5(
                        fh.read()).hexdigest()
        return out

    before = digest(tmpl)
    clone = str(tmp_path / "clone")
    clone_dataset(tmpl, clone)
    assert delete_where(spark, clone, "k < 50")["n_deleted_rows"] == 50
    vacuum(clone, keep_last=1)
    assert digest(tmpl) == before
    assert spark.read.format("colf").load(tmpl).count() == 100
    assert spark.read.format("colf").load(clone).count() == 50


def test_merge_localized_big_source_plans_from_metadata(
        colf_spark, tmp_path, monkeypatch):
    """A source past the IN-pushdown cap whose keys are range-localized
    must plan its touched files from zone-map BOUNDS (one tiny source
    agg, no dataset key scan) and rewrite only the covered files."""
    import columnar_format_spark.colf.maintenance as M
    from pyspark.sql import functions as F

    monkeypatch.setattr(M, "MERGE_PUSHDOWN_KEYS", 50)
    path = str(tmp_path / "loc")
    # even keys 0..398, range-partitioned: 8 files of ~25 keys each
    (colf_spark.range(200)
     .select((F.col("id") * 2).cast("int").alias("k"),
             F.lit("old").alias("val"))
     .repartitionByRange(8, "k")
     .write.format("colf").mode("overwrite").save(path))

    calls = []
    orig = M._plan_candidates
    monkeypatch.setattr(M, "_plan_candidates",
                        lambda *a, **k: (calls.append(1), orig(*a, **k))[1])

    # 60 distinct keys (> patched cap), all inside [0, 99] — the span
    # of 2 of the 8 files: 50 updates (even keys) + 10 inserts (odd)
    src = colf_spark.createDataFrame(
        [(k, "U") for k in range(0, 100, 2)]
        + [(k, "N") for k in range(1, 20, 2)],
        "k int, val string")
    res = M.merge_into(colf_spark, path, src, ["k"])
    assert calls, "metadata bounds planning was never consulted"
    assert res["discovery"] == "metadata-bounds"
    assert res["n_source_rows"] == 60
    assert res["n_replaced_rows"] == 50
    assert res["n_kept_files"] == 6       # only the 2 covered files moved
    assert res["n_rewritten_files"] <= 3  # 2 survivors + <=1 insert file

    back = colf_spark.read.format("colf").load(path)
    rows = {r["k"]: r["val"] for r in back.collect()}
    assert len(rows) == 210
    assert all(rows[k] == "U" for k in range(0, 100, 2))
    assert all(rows[k] == "N" for k in range(1, 20, 2))
    assert all(rows[k] == "old" for k in range(100, 400, 2))


def test_merge_scattered_big_source_still_correct(
        colf_spark, tmp_path, monkeypatch):
    """A big source spanning the whole key range must NOT take the
    bounds path (gate: candidates > 1/4 of files) and still merge
    correctly through scan discovery."""
    import columnar_format_spark.colf.maintenance as M
    from pyspark.sql import functions as F

    monkeypatch.setattr(M, "MERGE_PUSHDOWN_KEYS", 50)
    path = str(tmp_path / "scat")
    (colf_spark.range(200)
     .select((F.col("id") * 2).cast("int").alias("k"),
             F.lit("old").alias("val"))
     .repartitionByRange(8, "k")
     .write.format("colf").mode("overwrite").save(path))
    # 100 keys spread over the full range
    src = colf_spark.createDataFrame(
        [(k, "U") for k in range(0, 400, 4)], "k int, val string")
    res = M.merge_into(colf_spark, path, src, ["k"])
    assert res["discovery"] == "scan"
    assert res["n_replaced_rows"] == 100
    assert res["n_kept_files"] == 0  # every file held matches
    back = colf_spark.read.format("colf").load(path)
    rows = {r["k"]: r["val"] for r in back.collect()}
    assert len(rows) == 200
    assert all(rows[k] == "U" for k in range(0, 400, 4))
    assert all(rows[k] == "old" for k in range(2, 400, 4))
