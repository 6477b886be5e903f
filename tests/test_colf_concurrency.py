"""End-to-end racing committers against one COLF dataset.

The metadata log is single-writer-per-dataset with an optimistic
``expected_parent`` guard (datasource.commit_snapshot) — the same
contract as Iceberg's HadoopTableOperations on plain filesystems.
test_colf_snapshots pins the guard at the unit level; this file races
REAL writers through the Spark write path: concurrent appenders (and a
retained compaction) with the documented retry-on-ColfFormatError
loop. The invariants that must hold whatever the interleaving:
exactly one committer wins each version (strictly increasing, no
duplicates), NO update is lost (the final row count equals initial +
every successful append), and every surviving snapshot's files are on
disk."""

import threading

import pytest
from pyspark.sql import functions as F

from columnar_format_spark.colf.datasource import (
    load_snapshots,
    register,
)
from columnar_format_spark.colf.format import ColfFormatError


@pytest.fixture(scope="module")
def colf_spark(spark):
    register(spark)
    return spark


def _bind_session(spark) -> None:
    """PySpark 4 pins each Python thread to its own JVM thread, whose
    thread-local active session starts UNSET — and the Python data
    source lookup resolves through the active session, so a child
    thread's very first ``format("colf")`` write dies with
    DATA_SOURCE_NOT_FOUND. Any multi-threaded driver must bind the
    session per thread (generic PySpark behavior, not COLF-specific;
    also noted in register()'s docstring)."""
    spark._jvm.org.apache.spark.sql.classic.SparkSession \
        .setActiveSession(spark._jsparkSession)


def test_racing_appenders_and_compaction_lose_nothing(colf_spark,
                                                      tmp_path):
    from columnar_format_spark.colf.maintenance import compact

    p = str(tmp_path / "raceds")
    (colf_spark.range(1000).select(F.col("id").cast("int").alias("k"))
     .repartition(4).write.format("colf").mode("overwrite").save(p))

    APPENDS_PER_THREAD = 5
    ROWS_PER_APPEND = 10
    errors: list = []
    conflicts = {"n": 0}
    lock = threading.Lock()

    def appender(tid: int) -> None:
        try:
            _bind_session(colf_spark)
            for i in range(APPENDS_PER_THREAD):
                lo = 10_000 * (tid + 1) + i * ROWS_PER_APPEND
                df = (colf_spark.range(lo, lo + ROWS_PER_APPEND)
                      .select(F.col("id").cast("int").alias("k"))
                      .coalesce(1))
                for _ in range(50):  # documented retry loop
                    try:
                        df.write.format("colf").mode("append").save(p)
                        break
                    except Exception as exc:  # noqa: BLE001
                        # only the documented optimistic-concurrency
                        # error is retryable; anything else is a bug
                        if "concurrent commit" not in str(exc):
                            raise
                        with lock:
                            conflicts["n"] += 1
                else:
                    raise AssertionError("append starved after 50 retries")
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def compactor() -> None:
        try:
            _bind_session(colf_spark)
            for _ in range(50):
                try:
                    compact(colf_spark, p, 2, retain=True)
                    return
                except Exception as exc:  # noqa: BLE001
                    if "concurrent commit" not in str(exc):
                        raise
                    with lock:
                        conflicts["n"] += 1
            raise AssertionError("compaction starved after 50 retries")
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=appender, args=(t,))
               for t in range(2)] + [threading.Thread(target=compactor)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors

    # no lost update: every append's rows are present exactly once
    expect = 1000 + 2 * APPENDS_PER_THREAD * ROWS_PER_APPEND
    got = colf_spark.read.format("colf").load(p)
    assert got.count() == expect
    assert got.select("k").distinct().count() == expect

    # the log is a clean single-writer history: strictly increasing,
    # duplicate-free versions, and every surviving snapshot readable
    snaps = load_snapshots(p)
    versions = [s["version"] for s in snaps]
    assert versions == sorted(set(versions))
    import os

    for s in snaps:
        for b in s["files"]:
            assert os.path.exists(os.path.join(p, b)), (s["version"], b)
    # 1 overwrite + 10 appends + 1 compaction commit all landed
    assert len(versions) == 12


def _retry_dml(fn, conflicts: dict, lock, max_tries: int = 50):
    """The documented optimistic-concurrency retry loop: re-run the
    WHOLE DML call (it re-discovers against the new head) on the
    retryable concurrent-commit error; anything else is a bug."""
    for _ in range(max_tries):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001
            if "concurrent commit" not in str(exc):
                raise
            with lock:
                conflicts["n"] += 1
    raise AssertionError(f"DML starved after {max_tries} retries")


def _run_threads(colf_spark, workers, errors):
    import traceback

    def wrap(fn):
        def run():
            try:
                _bind_session(colf_spark)
                fn()
            except Exception:  # noqa: BLE001
                errors.append(traceback.format_exc())
        return run

    threads = [threading.Thread(target=wrap(fn)) for fn in workers]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors


def _seed(colf_spark, path: str, n: int = 1000) -> None:
    (colf_spark.range(n).select(F.col("id").cast("int").alias("k"),
                                F.lit(0).cast("int").alias("v"))
     .repartition(4).write.format("colf").mode("overwrite").save(path))


def test_concurrent_cow_deletes_disjoint_both_land(colf_spark, tmp_path):
    """Conflict matrix, cell 1: two copy-on-write delete_where writers
    on DISJOINT predicates. The log is single-writer, so one commit
    loses the race — but with the documented retry (re-run the whole
    delete against the new head) BOTH deletes must land and neither
    may clobber the other's rewrite."""
    from columnar_format_spark.colf.maintenance import delete_where

    p = str(tmp_path / "disjoint")
    _seed(colf_spark, p)
    lock = threading.Lock()
    conflicts = {"n": 0}
    stats: dict[str, dict] = {}
    errors: list = []

    def deleter(name: str, cond: str):
        def run():
            stats[name] = _retry_dml(
                lambda: delete_where(colf_spark, p, cond),
                conflicts, lock)
        return run

    _run_threads(colf_spark, [deleter("a", "k < 100"),
                              deleter("b", "k >= 900")], errors)

    got = colf_spark.read.format("colf").load(p)
    assert got.count() == 800
    lo, hi = got.agg(F.min("k"), F.max("k")).first()
    assert (lo, hi) == (100, 899)
    # no lost delete: between them the two writers removed exactly the
    # 200 matching rows, however the commits interleaved
    assert (stats["a"]["n_deleted_rows"]
            + stats["b"]["n_deleted_rows"]) == 200


def test_cow_delete_overtaken_after_planning_is_retryable(colf_spark,
                                                          tmp_path,
                                                          monkeypatch):
    """Cell 1 made deterministic: another delete commits right after
    this one read the head, replacing every file it planned to
    rewrite. Its reads stay on the snapshot it planned from, so it
    fails only at its own commit, with the retryable error."""
    from columnar_format_spark.colf import maintenance

    p = str(tmp_path / "overtaken")
    _seed(colf_spark, p)
    real = maintenance._bootstrap_log
    raced: list = []

    def bootstrap_then_race(path):
        got = real(path)
        if not raced:
            raced.append(path)
            maintenance.delete_where(colf_spark, p, "k >= 900")
        return got

    monkeypatch.setattr(maintenance, "_bootstrap_log", bootstrap_then_race)
    with pytest.raises(Exception, match="concurrent commit"):
        maintenance.delete_where(colf_spark, p, "k < 100")
    monkeypatch.undo()
    maintenance.delete_where(colf_spark, p, "k < 100")
    assert colf_spark.read.format("colf").load(p).count() == 800


def test_cow_delete_overtaken_by_mor_mask_is_retryable(colf_spark,
                                                       tmp_path,
                                                       monkeypatch):
    """A merge-on-read delete of a NON-matching row in the file a
    copy-on-write delete will rewrite commits right after the latter
    read the head. The rewrite's row count must come from the same
    snapshot as its survivors: counting the new mask as deleted would
    net the delete to zero rows and drop it as a no-op, uncommitted."""
    from columnar_format_spark.colf import maintenance

    p = str(tmp_path / "masked")
    (colf_spark.range(1000).select(F.col("id").cast("int").alias("k"))
     .coalesce(1).write.format("colf").mode("overwrite").save(p))
    real = maintenance._bootstrap_log
    raced: list = []

    def bootstrap_then_mask(path):
        got = real(path)
        if not raced:
            raced.append(path)
            maintenance.delete_where(colf_spark, p, "k = 500", mode="mor")
        return got

    monkeypatch.setattr(maintenance, "_bootstrap_log", bootstrap_then_mask)
    with pytest.raises(Exception, match="concurrent commit"):
        maintenance.delete_where(colf_spark, p, "k = 5")
    monkeypatch.undo()
    got = maintenance.delete_where(colf_spark, p, "k = 5")
    assert got["n_deleted_rows"] == 1
    assert colf_spark.read.format("colf").load(p).count() == 998


def test_concurrent_cow_deletes_overlapping_serialize(colf_spark,
                                                      tmp_path):
    """Conflict matrix, cell 2: OVERLAPPING delete predicates must
    serialize — the retried loser re-discovers against the winner's
    head, so the overlap rows [100, 200) are deleted exactly once and
    the final state equals the sequential result in either order."""
    from columnar_format_spark.colf.maintenance import delete_where

    p = str(tmp_path / "overlap")
    _seed(colf_spark, p)
    lock = threading.Lock()
    conflicts = {"n": 0}
    stats: dict[str, dict] = {}
    errors: list = []

    def deleter(name: str, cond: str):
        def run():
            stats[name] = _retry_dml(
                lambda: delete_where(colf_spark, p, cond),
                conflicts, lock)
        return run

    _run_threads(colf_spark,
                 [deleter("a", "k < 200"),
                  deleter("b", "k >= 100 AND k < 300")], errors)

    got = colf_spark.read.format("colf").load(p)
    assert got.count() == 700
    assert got.agg(F.min("k")).first()[0] == 300
    # the union [0, 300) is deleted exactly once across both writers
    assert (stats["a"]["n_deleted_rows"]
            + stats["b"]["n_deleted_rows"]) == 300


def test_concurrent_merges_disjoint_keys_both_land(colf_spark,
                                                   tmp_path):
    """Conflict matrix, cell 3: two merge_into upserts with DISJOINT
    key sets (each updates 50 existing keys and inserts 10 new ones).
    Both must land under retry; the final table reflects both."""
    from columnar_format_spark.colf.maintenance import merge_into

    p = str(tmp_path / "mergerace")
    _seed(colf_spark, p)
    lock = threading.Lock()
    conflicts = {"n": 0}
    errors: list = []

    def src(lo_upd: int, lo_ins: int, val: int):
        upd = colf_spark.range(lo_upd, lo_upd + 50)
        ins = colf_spark.range(lo_ins, lo_ins + 10)
        return (upd.union(ins)
                .select(F.col("id").cast("int").alias("k"),
                        F.lit(val).cast("int").alias("v")))

    def merger(lo_upd: int, lo_ins: int, val: int):
        def run():
            _retry_dml(
                lambda: merge_into(colf_spark, p,
                                   src(lo_upd, lo_ins, val), ["k"]),
                conflicts, lock)
        return run

    _run_threads(colf_spark, [merger(0, 2000, 111),
                              merger(500, 3000, 222)], errors)

    got = colf_spark.read.format("colf").load(p)
    assert got.count() == 1020
    assert got.select("k").distinct().count() == 1020
    by_v = dict(got.groupBy("v").count().collect())
    assert by_v == {111: 60, 222: 60, 0: 900}
    # spot-check both updates applied to existing rows
    assert got.filter("k = 10").first()["v"] == 111
    assert got.filter("k = 510").first()["v"] == 222


def test_concurrent_delete_vs_merge_is_serializable(colf_spark,
                                                    tmp_path):
    """Conflict matrix, cell 4: a delete racing a merge whose key
    range OVERLAPS the delete predicate. The two serial orders differ
    (delete-then-merge re-inserts keys 50..99; merge-then-delete
    removes them), so the invariant is SERIALIZABILITY: the final
    state must equal exactly one of the two sequential outcomes —
    never an interleaved hybrid."""
    from columnar_format_spark.colf.maintenance import (
        delete_where,
        merge_into,
    )

    p = str(tmp_path / "delmerge")
    _seed(colf_spark, p)
    lock = threading.Lock()
    conflicts = {"n": 0}
    errors: list = []

    source = (colf_spark.range(50, 150)
              .select(F.col("id").cast("int").alias("k"),
                      F.lit(999).cast("int").alias("v")))

    _run_threads(
        colf_spark,
        [lambda: _retry_dml(
            lambda: delete_where(colf_spark, p, "k < 100"),
            conflicts, lock),
         lambda: _retry_dml(
            lambda: merge_into(colf_spark, p, source, ["k"]),
            conflicts, lock)],
        errors)

    rows = {(r["k"], r["v"]) for r in
            colf_spark.read.format("colf").load(p).collect()}
    # delete → merge: 50..149 @999, 150..999 @0
    after_del_then_merge = ({(k, 999) for k in range(50, 150)}
                            | {(k, 0) for k in range(150, 1000)})
    # merge → delete: 100..149 @999, 150..999 @0
    after_merge_then_del = ({(k, 999) for k in range(100, 150)}
                            | {(k, 0) for k in range(150, 1000)})
    assert rows in (after_del_then_merge, after_merge_then_del)


def test_concurrent_mor_delete_vs_compact(colf_spark, tmp_path):
    """Conflict matrix, cell 5: a merge-on-read delete (position
    sidecars keyed to specific data files) racing a retained
    compaction (which rewrites those files and clears delete state).
    Stale positions must never mask the wrong rows: whichever order
    the commits land, the visible result is the sequential one."""
    from columnar_format_spark.colf.maintenance import (
        compact,
        delete_where,
    )

    p = str(tmp_path / "morcompact")
    _seed(colf_spark, p)
    lock = threading.Lock()
    conflicts = {"n": 0}
    errors: list = []

    _run_threads(
        colf_spark,
        [lambda: _retry_dml(
            lambda: delete_where(colf_spark, p, "k < 50", mode="mor"),
            conflicts, lock),
         lambda: _retry_dml(
            lambda: compact(colf_spark, p, 2, retain=True),
            conflicts, lock)],
        errors)

    got = colf_spark.read.format("colf").load(p)
    assert got.count() == 950
    assert got.agg(F.min("k")).first()[0] == 50
    assert got.select("k").distinct().count() == 950


def test_stale_writer_raises_not_clobbers(colf_spark, tmp_path):
    """A writer whose live set was computed against a superseded
    version must RAISE the documented error, and the interim commit it
    would have clobbered must stay intact — pinned deterministically
    by interleaving the commits by hand through the same API the
    writer uses."""
    from columnar_format_spark.colf.datasource import commit_snapshot

    p = str(tmp_path / "staleds")
    (colf_spark.range(100).select(F.col("id").cast("int").alias("k"))
     .coalesce(1).write.format("colf").mode("overwrite").save(p))
    snaps = load_snapshots(p)
    parent = snaps[-1]["version"]
    # interim committer wins version parent+1
    commit_snapshot(p, list(snaps[-1]["files"]), expected_parent=parent)
    # the stale writer (still believing `parent`) must fail loudly...
    with pytest.raises(ColfFormatError, match="concurrent commit"):
        commit_snapshot(p, [], expected_parent=parent)
    # ...and the interim commit is untouched
    snaps2 = load_snapshots(p)
    assert snaps2[-1]["version"] == parent + 1
    assert snaps2[-1]["files"] == snaps[-1]["files"]
