"""COLF round-trip as a registered, oracle-checked query: write a
lineitem projection through the COLF connector, read it back, and
aggregate. The DuckDB oracle runs the same aggregation on the original
parquet — they match iff the COLF write→read path is lossless
(int32/float64 bit-exact, utf8 byte-exact, SPEC.md layout)."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register, table
from ..session import local_df
from ..staging import clone_dataset, run_dir, stage_once


@register(
    "q70_colf_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(l_linenumber) AS BIGINT) AS sum_line,
           MIN(l_orderkey) AS min_key,
           MAX(l_orderkey) AS max_key
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q70_colf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → COLF dataset (one part file per partition) → read →
    aggregate. Exercises the whole connector: Arrow write path, per-
    file partitions, schema from header, typed decode.

    Scale: the write is embarrassingly parallel (one .colf per task);
    the read plans one InputPartition per file. The format itself is
    the scale limiter (no intra-file splitting — SURVEY.md §4.3), which
    is why file count == parallelism is part of the dataset convention.
    """
    import os

    from .datasource import register as register_ds

    register_ds(spark)
    # Size write parallelism by input bytes (the maxPartitionBytes idea
    # applied to the write side): ~1 MB of parquet per .colf part file.
    # Blindly using full parallelism makes each Python write task pay
    # its fixed Arrow/worker overhead on a sliver of data; one giant
    # file serializes the encode. On a 100 TB input this saturates the
    # cluster cap; on the bench SFs it picks a balanced handful.
    src = f"{sf_dir}/lineitem.parquet"
    p = spark.sparkContext.defaultParallelism
    n_files = max(2, min(p, os.path.getsize(src) // (1 << 20) + 1))
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("int").alias("l_orderkey"),
        F.col("l_linenumber").alias("l_linenumber"),
        F.col("l_quantity").alias("l_quantity"),
        F.col("l_extendedprice").alias("l_extendedprice"),
        F.col("l_returnflag").alias("l_returnflag"),
    ).repartition(int(n_files))
    path = run_dir(("colf-rt-run", sf_dir), "colf_rt_")
    li.write.format("colf").mode("overwrite").save(path)
    back = spark.read.format("colf").load(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.sum("l_linenumber").cast("bigint").alias("sum_line"),
        F.min(F.col("l_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("l_orderkey").cast("bigint")).alias("max_key"),
    )


def _stage_orders_csv(spark: SparkSession, sf_dir: str) -> str:
    def write(d: str) -> None:
        o = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
            .alias("o_orderdate"),
            "o_orderpriority",
        )
        o.repartition(8).write.option("header", True).mode("overwrite").csv(d)

    return stage_once(("csv", sf_dir), "csv_ingest_", write)


@register(
    "q73_csv_ingest",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key,
           (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                 AS DOUBLE) / 100.0) AS sum_price,
           COUNT(DISTINCT o_orderstatus) AS n_statuses,
           MAX(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')) AS max_date
    FROM orders
    """,
)
def q73_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 end-to-end under the correctness gate: orders staged as raw
    CSV → reference-rules schema inference (int32→float64→utf8 cascade,
    blank⇒NULL — csv_ingest.py, NOT Spark's inferSchema) → COLF dataset
    → read back → typed aggregation. Matches the oracle on the original
    parquet iff inference typed every column correctly AND the
    CSV→COLF→Spark round-trip is lossless (shortest-repr double text
    round-trips exactly; int32 keys; utf8 strings byte-exact).

    Scale: the inference pass is one distributed aggregation of regex
    verdicts (map-side ANDs); ingest itself is a map-only cast.
    """
    from .csv_ingest import apply_colf_schema, infer_colf_types, read_csv_raw

    raw = read_csv_raw(spark, _stage_orders_csv(spark, sf_dir))
    typed = apply_colf_schema(raw, infer_colf_types(raw))
    from .datasource import register as register_ds

    register_ds(spark)
    out = run_dir(("colf-ing-run", sf_dir), "colf_ing_")
    typed.write.format("colf").mode("overwrite").save(out)
    back = spark.read.format("colf").load(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.col("o_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("o_orderkey").cast("bigint")).alias("max_key"),
        (F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint"))
         .cast("double") / F.lit(100.0)).alias("sum_price"),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
        F.max("o_orderdate").alias("max_date"),
    )


# shared COLF dataset staging for the selective-read / zone-map queries
def _stage_lineitem_colf(spark: SparkSession, sf_dir: str) -> str:
    """lineitem (5 columns, int32-keyed) written once per session as a
    RANGE-PARTITIONED COLF dataset: repartitionByRange(l_orderkey) gives
    each part file a disjoint key range, so the _manifests/ zone maps
    can prune files for key predicates."""
    def write(d: str) -> None:
        from .datasource import register as register_ds

        register_ds(spark)
        li = table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").cast("int").alias("l_orderkey"),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag",
        ).repartitionByRange(8, "l_orderkey")
        li.write.format("colf").mode("overwrite").save(d)

    return stage_once(("colf-li", sf_dir), "colf_li_", write)


@register(
    "q75_colf_selective_read",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q75_colf_selective_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The format's raison d'être as a checked query: read ONLY the
    (l_returnflag, l_quantity) blocks from the staged COLF dataset —
    the reader seeks those offsets and never touches the other three
    columns' bytes (reference reader.py:165-192 semantics at the I/O
    layer, on top of Catalyst's logical pruning).

    Scale: I/O saved is proportional to the unread column bytes — the
    same 2.5× the reference measures on its 1-of-5-column benchmark.
    """
    from .datasource import read_colf
    from .datasource import register as register_ds

    register_ds(spark)  # idempotent; staging may have run in another session
    d = _stage_lineitem_colf(spark, sf_dir)
    df = read_colf(spark, d, ["l_returnflag", "l_quantity"])
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
    )


@register(
    "q76_colf_zonemap_pruning",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(l_linenumber) AS BIGINT) AS sum_line,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
    FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
    """,
)
def q76_colf_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping under the correctness gate: a key-range
    predicate over the range-partitioned COLF dataset reaches
    ColfReader.pushFilters, which consults the _manifests/ min/max
    stats and opens only the file(s) whose range can match (1-2 of 8);
    Spark re-applies the filter row-level, so pruning can only save
    I/O, never change the result — which is exactly what the oracle
    verifies.

    Scale: this is the parquet-footer-stats design applied to a format
    with no row groups — the sidecar manifest makes a whole-file the
    pruning granule, which is why the dataset convention range-
    partitions on the layout key.
    """
    from .datasource import register as register_ds

    register_ds(spark)  # idempotent; staging may have run in another session
    d = _stage_lineitem_colf(spark, sf_dir)
    df = spark.read.format("colf").load(d).filter(
        F.col("l_orderkey").between(1000, 2000))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_linenumber").cast("bigint").alias("sum_line"),
        F.min(F.col("l_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("l_orderkey").cast("bigint")).alias("max_key"),
    )


@register(
    "q109_colf_stream_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q109_colf_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLF as a STREAMING source under the correctness gate: tail the
    staged COLF dataset with readStream.format("colf"), aggregate per
    return flag in complete mode, drain with availableNow — the final
    state must equal the batch answer on the original parquet, which
    holds iff the connector's file-tailing offsets replay every part
    file exactly once AND the typed decode is lossless. Composes the
    custom Python DataSource's stream reader with native stateful
    aggregation (the q80 pattern, custom source instead of parquet).

    Scale: the source lists part files per micro-batch (offset = file
    list position, replayable); state is one row per flag. File-count
    == write parallelism by the dataset convention, so a 100 TB COLF
    dataset streams at the cluster's file-open rate.
    """
    from ..streaming.stream_queries import _drain
    from .datasource import register as register_ds

    register_ds(spark)  # idempotent; staging may have run in another session
    d = _stage_lineitem_colf(spark, sf_dir)
    stream = spark.readStream.format("colf").load(d)
    agg = stream.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.max("l_orderkey").cast("bigint").alias("max_key"),
    )
    return _drain(agg, "complete")


COMPACT_TARGET = 2


@register(
    "q112_colf_compact",
    oracle=f"""
    SELECT CAST({COMPACT_TARGET} AS BIGINT) AS n_files,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
    FROM lineitem
    """,
)
def q112_colf_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the correctness gate: copy the
    8-file range-partitioned dataset, `maintenance.compact()` it down
    to COMPACT_TARGET part files (atomic directory swap), and verify
    BOTH that the file count hit the target (n_files, pinned by the
    oracle literal) and that no row was lost or changed (the lineitem
    aggregate). Compaction is the maintenance op the streaming sink
    needs at scale — many small per-batch part files rolled into scan-
    efficient ones, zone-map manifest rebuilt by the rewrite.

    Scale: compact() is one distributed repartition+write, not a
    driver-side merge; the atomic swap means concurrent readers see
    either the old or new complete dataset.
    """
    import shutil

    from ..staging import stage_once
    from .datasource import dataset_files
    from .datasource import register as register_ds
    from .maintenance import compact

    register_ds(spark)  # idempotent; staging may have run in another session
    src = _stage_lineitem_colf(spark, sf_dir)

    def write(d: str) -> None:
        shutil.rmtree(d)  # stage_once gives us an empty dir; copytree wants none
        shutil.copytree(src, d)
        compact(spark, d, COMPACT_TARGET)

    d = stage_once(("colf-li-compacted", sf_dir), "colf_comp_", write)
    n_files = len(dataset_files(d))
    back = spark.read.format("colf").load(d)
    return back.agg(
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.min(F.col("l_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("l_orderkey").cast("bigint")).alias("max_key"),
    )


@register(
    "q170_colf_size_compact",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
           CAST(1 AS BOOLEAN) AS sized_ok
    FROM lineitem
    """,
)
def q170_colf_size_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-targeted compaction (the scheduled-maintenance form of
    q112): the 8-file dataset rolls into ``ceil(live_bytes/target)``
    BALANCED files for a quarter-of-total byte target — the query
    asserts 1 < n <= 6 outputs with max/min size ratio <= 2 (round-
    robin row balance), emits that as the oracle-pinned `sized_ok`
    boolean, and value-checks the lineitem aggregate so the rewrite
    provably lost nothing.

    Scale: a 100 TB maintenance job says "make ~128 MB files", not "make
    N files" — the byte form needs no knowledge of current file counts
    and stays one distributed repartition; outputs are row-balanced so
    no post-compaction task skew. Complements q112 (count-targeted) and
    q153/q155 (stripe preservation through rewrites).
    """
    import os
    import shutil

    from ..staging import stage_once
    from .datasource import live_files
    from .datasource import register as register_ds
    from .maintenance import compact

    register_ds(spark)
    src = _stage_lineitem_colf(spark, sf_dir)

    def write(d: str) -> None:
        shutil.rmtree(d)
        shutil.copytree(src, d)
        total = sum(os.path.getsize(f) for f in live_files(d))
        compact(spark, d, target_file_bytes=max(1, total // 4))

    d = stage_once(("colf-li-size-compacted", sf_dir), "colf_szcomp_", write)
    sizes = sorted(os.path.getsize(f) for f in live_files(d))
    sized_ok = (1 < len(sizes) <= 6
                and sizes[0] > 0 and sizes[-1] <= 2 * sizes[0])
    if not sized_ok:
        raise AssertionError(
            f"size-targeted compaction produced {len(sizes)} files "
            f"with sizes {sizes} — unbalanced or off-target")
    back = spark.read.format("colf").load(d)
    return back.agg(
        F.lit(True).alias("sized_ok"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.min(F.col("l_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("l_orderkey").cast("bigint")).alias("max_key"),
    )


TT_COMPACT_TARGET = 2


def _stage_timetravel_colf(spark: SparkSession, sf_dir: str) -> str:
    """A three-version COLF dataset: v1 = even order keys (overwrite),
    v2 = v1 + odd order keys (append), v3 = retained compaction of v2
    down to TT_COMPACT_TARGET part files. Old part files stay on disk,
    so every version remains readable via option("snapshot", N)."""
    def write(d: str) -> None:
        from .datasource import register as register_ds
        from .maintenance import compact

        register_ds(spark)
        li = table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").cast("int").alias("l_orderkey"),
            "l_linenumber", "l_quantity",
        )
        li.where(F.col("l_orderkey") % 2 == 0) \
            .write.format("colf").mode("overwrite").save(d)
        li.where(F.col("l_orderkey") % 2 == 1) \
            .write.format("colf").mode("append").save(d)
        compact(spark, d, TT_COMPACT_TARGET, retain=True)

    return stage_once(("colf-li-timetravel", sf_dir), "colf_tt_", write)


@register(
    "q122_colf_time_travel",
    oracle=f"""
    SELECT CAST(3 AS BIGINT) AS n_versions,
           CAST({TT_COMPACT_TARGET} AS BIGINT) AS latest_files,
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_orderkey % 2 = 0) AS BIGINT) AS v1_rows,
           CAST((SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem
                 WHERE l_orderkey % 2 = 0) AS BIGINT) AS v1_sum_qty,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS latest_rows,
           CAST((SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem)
                AS BIGINT) AS latest_sum_qty
    """,
)
def q122_colf_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel over the COLF metadata log:
    the dataset is overwritten (v1), appended (v2), and compacted with
    retention (v3); reading ``option("snapshot", 1)`` must reproduce
    exactly the v1 rows while the default read serves the compacted
    live set — proving commits are immutable versions, not mutations.

    Scale: snapshots are file-LIST metadata (Iceberg's core idea) — a
    version flip is one sidecar JSON rename regardless of data volume,
    and time-travel reads plan the old file set with zero data copies.
    The log grows with commit count, not data size; vacuum() bounds
    disk by retiring expired versions.
    """
    from .datasource import load_snapshots
    from .datasource import register as register_ds

    register_ds(spark)  # idempotent; staging may have run in another session
    d = _stage_timetravel_colf(spark, sf_dir)
    n_versions = len(load_snapshots(d))
    latest_files = len(load_snapshots(d)[-1]["files"])
    v1 = spark.read.format("colf").option("snapshot", 1).load(d)
    latest = spark.read.format("colf").load(d)
    v1_agg = v1.agg(
        F.count(F.lit(1)).alias("v1_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("v1_sum_qty"),
    )
    latest_agg = latest.agg(
        F.count(F.lit(1)).alias("latest_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("latest_sum_qty"),
    )
    return (
        v1_agg.crossJoin(latest_agg)
        .select(
            F.lit(n_versions).cast("bigint").alias("n_versions"),
            F.lit(latest_files).cast("bigint").alias("latest_files"),
            "v1_rows", "v1_sum_qty", "latest_rows", "latest_sum_qty",
        )
    )


VACUUM_TARGET = 2


@register(
    "q136_colf_vacuum",
    oracle=f"""
    SELECT CAST(4 AS BIGINT) AS n_deleted,
           CAST({VACUUM_TARGET} AS BIGINT) AS n_files_left,
           CAST(1 AS BIGINT) AS n_versions_left,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem)
                AS BIGINT) AS sum_qty
    """,
)
def q136_colf_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention under the correctness gate: an 4-file
    dataset is compacted with retention (old part files stay on disk
    for time travel), then ``vacuum(keep_last=1)`` physically reclaims
    the 4 expired pre-compaction files and prunes the metadata log to
    the live version — pinned by the oracle literals — while the
    surviving live read still matches the lineitem aggregate exactly
    (retention never touches referenced files).

    Scale: vacuum is pure metadata + unlink — it walks the file LIST
    of expired versions, no data reads; the grace rule (files newer
    than the latest snapshot are spared) is what makes it safe to run
    beside in-flight appends (maintenance.py).
    """
    import shutil

    from ..staging import stage_once
    from .datasource import dataset_files, load_snapshots
    from .datasource import register as register_ds
    from .maintenance import compact, vacuum

    register_ds(spark)
    result: dict = {}

    def write(d: str) -> None:
        shutil.rmtree(d)
        li = table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").cast("int").alias("l_orderkey"),
            "l_linenumber", "l_quantity",
        ).repartition(4)
        li.write.format("colf").mode("overwrite").save(d)
        compact(spark, d, VACUUM_TARGET, retain=True)
        deleted = vacuum(d, keep_last=1)
        # stash the vacuum report next to the dataset so bench reps /
        # repeat calls (stage_once runs write exactly once) see it
        with open(f"{d}/_vacuum_report.txt", "w") as fh:
            fh.write(str(len(deleted)))

    d = stage_once(("colf-li-vacuumed", sf_dir), "colf_vac_", write)
    with open(f"{d}/_vacuum_report.txt") as fh:
        n_deleted = int(fh.read())
    n_files = len(dataset_files(d))
    n_versions = len(load_snapshots(d))
    back = spark.read.format("colf").load(d)
    return back.agg(
        F.lit(n_deleted).cast("bigint").alias("n_deleted"),
        F.lit(n_files).cast("bigint").alias("n_files_left"),
        F.lit(n_versions).cast("bigint").alias("n_versions_left"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
    )


@register(
    "q134_colf_incremental_read",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS inc_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS inc_qty,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem WHERE l_orderkey % 2 = 1
    """,
)
def q134_colf_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style incremental scan over the COLF metadata log: a
    consumer that has processed version 1 of the time-travel dataset
    reads ``option("incrementalFrom", 1).option("snapshot", 2)`` and
    gets EXACTLY the rows appended by the v2 commit (the odd order
    keys) — planned as a file-LIST diff, so nothing already consumed
    is re-read or re-shuffled. The explicit ``snapshot=2`` upper bound
    matters: v3 is a retained compaction, which rewrites the file set,
    so an increment spanning it would degenerate to the full
    compacted set (file-level diff semantics).

    Scale: this is Iceberg's incremental-scan idea — the increment's
    cost is proportional to the APPENDED data, not the dataset; the
    version diff itself is pure sidecar metadata.
    """
    from .datasource import register as register_ds

    register_ds(spark)
    d = _stage_timetravel_colf(spark, sf_dir)
    inc = (spark.read.format("colf")
           .option("incrementalFrom", 1).option("snapshot", 2).load(d))
    return inc.agg(
        F.count(F.lit(1)).cast("bigint").alias("inc_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("inc_qty"),
        F.min(F.col("l_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("l_orderkey").cast("bigint")).alias("max_key"),
    )


@register(
    "q137_colf_v2_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           MIN(l_orderkey) AS min_key,
           MAX(l_orderkey) AS max_key,
           MAX(strftime(l_shipdate, '%Y-%m-%d')) AS max_ship,
           COUNT(DISTINCT strftime(l_shipdate, '%Y-%m-%d')) AS n_ship_days
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q137_colf_v2_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q70's round-trip through the OPT-IN v2 encodings
    (``option("version", "2")`` — format.py docstring: delta-zigzag
    int32, byte-stream-split float64, dictionary utf8). Matches the
    parquet oracle iff every v2 encode→decode is lossless; before
    returning, the query additionally asserts on the written files
    that the adaptive encoder actually picked the non-plain encodings
    (version byte 2; l_quantity=bss; 3-value l_returnflag=dict —
    l_shipdate is left to the adaptive choice: ~2 400 distinct dates
    only clear the distinct<=n/2 dict threshold once files hold
    >4 800 rows), so a silent fall-back-to-plain regression turns the
    driver row red rather than passing on v1 semantics.

    Scale: identical plan shape to q70 (parallel one-file-per-task
    write, one InputPartition per file read); v2 trades a vectorized
    numpy transform per block for smaller blocks — at 100 TB that is
    less I/O and less zlib input on every scan of cold data.
    """
    import os

    from .datasource import register as register_ds
    from .format import read_schema as read_colf_schema

    register_ds(spark)
    src = f"{sf_dir}/lineitem.parquet"
    p = spark.sparkContext.defaultParallelism
    n_files = max(2, min(p, os.path.getsize(src) // (1 << 20) + 1))
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("int").alias("l_orderkey"),
        F.col("l_quantity").alias("l_quantity"),
        F.col("l_returnflag").alias("l_returnflag"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("l_shipdate"),
    ).repartition(int(n_files))
    path = run_dir(("colf-v2-rt-run", sf_dir), "colf_v2_rt_")
    li.write.format("colf").option("version", "2").mode("overwrite").save(path)

    for f in sorted(os.listdir(path)):
        if not f.endswith(".colf"):
            continue
        s = read_colf_schema(os.path.join(path, f))
        enc = {c.name: c.encoding for c in s.columns}
        if s.version != 2 or enc["l_quantity"] != "bss" \
                or enc["l_returnflag"] != "dict":
            raise AssertionError(
                f"v2 write did not produce the expected encodings in "
                f"{f}: version={s.version} encodings={enc}")

    back = spark.read.format("colf").load(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
        .alias("sum_qty"),
        F.min(F.col("l_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("l_orderkey").cast("bigint")).alias("max_key"),
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_shipdate").alias("n_ship_days"),
    )


@register(
    "q148_colf_delete",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R')
                AS BIGINT) AS n_deleted,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows_before,
           CAST(COUNT(*) AS BIGINT) AS n_rows_after,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_after,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key_after
    FROM lineitem WHERE l_returnflag <> 'R'
    """,
)
def q148_colf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level DELETE under the correctness gate
    (colf.maintenance.delete_where): lineitem → 4-file v2 COLF dataset
    → DELETE WHERE l_returnflag = 'R' → read back. Matches the oracle
    iff (a) exactly the matching rows were removed, (b) nothing else
    was perturbed by the rewrite, and (c) the pre-delete snapshot
    still time-travels to the FULL row count (n_rows_before comes from
    ``option("snapshot", 1)``, not from the original parquet).

    Scale: pass 1 is a zone-map-prunable scan producing one row per
    touched file; pass 2 rewrites only the touched bytes — the
    Iceberg CoW cost model. Here 'R' rows live in every file (~1/3 of
    rows), the worst case for CoW; a key- or time-localized delete
    (the common GDPR/retention shape) touches a sliver because the
    dataset convention range-partitions those columns.
    """
    import shutil

    from .datasource import register as register_ds
    from .maintenance import delete_where

    register_ds(spark)

    # the dataset under mutation is staged ONCE per process (the CoW
    # delete is the operator under measure, not the staging write);
    # each run mutates a fresh OS-level copy of the template
    def write(d: str) -> None:
        li = table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").cast("int").alias("l_orderkey"),
            F.col("l_quantity").alias("l_quantity"),
            F.col("l_returnflag").alias("l_returnflag"),
        ).repartition(4)
        (li.write.format("colf").option("version", "2")
         .mode("append").save(d + "/ds"))

    tmpl = stage_once(("cow-del", sf_dir), "colf_del_tmpl_", write)
    path = run_dir(("cow-del-run", sf_dir), "colf_del_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    stats = delete_where(spark, path, "l_returnflag = 'R'")

    # time-travel completeness check: count via a single-column read
    # (no automatic column pruning in the Python datasource API)
    before = (spark.read.format("colf").option("snapshot", "1")
              .option("columns", "l_orderkey").load(path)
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows_before")))
    after = spark.read.format("colf").load(path).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_after"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty_after"),
        F.min(F.col("l_orderkey").cast("bigint")).alias("min_key_after"))
    return (
        after.crossJoin(F.broadcast(before))
        .select(
            F.lit(stats["n_deleted_rows"]).cast("bigint").alias("n_deleted"),
            "n_rows_before", "n_rows_after", "sum_qty_after", "min_key_after")
    )


# q149's per-sf max-key anchor, filled when its template stages
_MERGE_MAXKEY: dict[str, int] = {}


@register(
    "q149_colf_merge",
    oracle="""
    WITH tgt AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    src AS (
      SELECT o_orderkey,
             o_totalprice * 2 AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
             o_totalprice,
             'N'
      FROM orders WHERE o_orderkey % 100 = 7),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT * FROM tgt
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM merged
    GROUP BY o_orderstatus
    """,
)
def q149_colf_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-level key-UPSERT under the correctness gate
    (colf.maintenance.merge_into): orders → 4-file v2 COLF dataset,
    then MERGE a source of updates (keys ≡3 mod 10, doubled price,
    status 'U') and inserts (fresh keys past MAX, status 'N').
    Matches the oracle's src-∪-(tgt∖src-keys) relational definition
    iff replaced rows carry exactly the source values, unmatched rows
    are untouched, and inserts all land — per status group, exact
    cents sums and key extremes.

    Scale: the touched-file discovery is a zone-map-prunable semi
    join; survivors rewrite only touched files; inserts are sized
    like the dataset's existing files (manifest row counts), not the
    source's partitioning. One snapshot commit — a reader never sees
    the half-merged state.
    """
    import shutil

    from .datasource import register as register_ds
    from .maintenance import merge_into

    register_ds(spark)
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        F.col("o_totalprice").alias("o_totalprice"),
        F.col("o_orderstatus").alias("o_orderstatus"),
    )

    # staged once per process, mutated on a fresh OS-level copy (the
    # MERGE is the operator under measure, not the staging write); the
    # source's max-key anchor is computed alongside the template so
    # repeat runs skip that job too
    def write(d: str) -> None:
        (o.repartitionByRange(4, "o_orderkey").write.format("colf")
         .option("version", "2").mode("append").save(d + "/ds"))
        _MERGE_MAXKEY[sf_dir] = o.agg(F.max("o_orderkey")).first()[0]

    tmpl = stage_once(("cow-mrg", sf_dir), "colf_mrg_tmpl_", write)
    path = run_dir(("cow-mrg-run", sf_dir), "colf_mrg_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    max_key = _MERGE_MAXKEY[sf_dir]
    updates = (o.filter(F.col("o_orderkey") % 10 == 3)
               .select("o_orderkey",
                       (F.col("o_totalprice") * 2).alias("o_totalprice"),
                       F.lit("U").alias("o_orderstatus")))
    inserts = (o.filter(F.col("o_orderkey") % 100 == 7)
               .select((F.col("o_orderkey") + F.lit(int(max_key) + 1))
                       .cast("int").alias("o_orderkey"),
                       "o_totalprice",
                       F.lit("N").alias("o_orderstatus")))
    merge_into(spark, path, updates.unionAll(inserts), ["o_orderkey"])

    back = spark.read.format("colf").load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
         .cast("bigint").cast("double") / F.lit(100.0)).alias("sum_price"),
        F.min(F.col("o_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("o_orderkey").cast("bigint")).alias("max_key"),
    )


# q155's per-sf anchors (max key, stripe rows), filled at staging
_V3COW_ANCHOR: dict[str, tuple[int, int]] = {}


@register(
    "q155_colf_v3_cow",
    oracle="""
    WITH tgt AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderstatus <> 'F'),
    src AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
             o_totalprice, 'N'
      FROM orders WHERE o_orderkey % 100 = 7),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT * FROM tgt
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM merged
    GROUP BY o_orderstatus
    """,
)
def q155_colf_v3_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoW × striping under the correctness gate: orders staged as a
    2-file v3 STRIPED dataset (~4 stripes/file), then DELETE WHERE
    o_orderstatus = 'F' followed by a key-MERGE (updates for keys
    ≡3 mod 10 — including re-inserts of keys the delete removed — and
    fresh inserts past MAX). Matches the oracle iff both rewrites
    preserved the untouched rows exactly; before returning, the query
    asserts the scale property the combination exists for: every live
    file is still version 3 and the scan plans MORE partitions than
    files (the rewrites kept intra-file stripe parallelism instead of
    silently downgrading or shattering one file per stripe).

    Scale: both maintenance ops coalesce survivors back to the
    touched-file count and carry the manifest's stripe granularity, so
    a 100 TB v3 dataset keeps its file sizing and per-stripe task
    fan-out through any number of delete/merge cycles.
    """
    import os
    import shutil

    from .datasource import ColfDataSource, live_files
    from .datasource import register as register_ds
    from .format import read_schema
    from .maintenance import delete_where, merge_into

    register_ds(spark)
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        F.col("o_totalprice").alias("o_totalprice"),
        F.col("o_orderstatus").alias("o_orderstatus"),
    )

    def write(d: str) -> None:
        n, mx = o.agg(F.count(F.lit(1)), F.max("o_orderkey")).first()
        srows = max(1, int(n) // 8)  # 2 files => ~4 stripes each
        (o.repartitionByRange(2, "o_orderkey").write.format("colf")
         .option("version", "3").option("stripeRows", str(srows))
         .mode("append").save(d + "/ds"))
        _V3COW_ANCHOR[sf_dir] = (int(mx), srows)

    tmpl = stage_once(("cow-v3", sf_dir), "colf_v3cow_tmpl_", write)
    path = run_dir(("cow-v3-run", sf_dir), "colf_v3cow_") + "/ds"
    clone_dataset(tmpl + "/ds", path)
    max_key, _ = _V3COW_ANCHOR[sf_dir]

    delete_where(spark, path, "o_orderstatus = 'F'")
    updates = (o.filter(F.col("o_orderkey") % 10 == 3)
               .select("o_orderkey",
                       (F.col("o_totalprice") * 2).alias("o_totalprice"),
                       F.lit("U").alias("o_orderstatus")))
    inserts = (o.filter(F.col("o_orderkey") % 100 == 7)
               .select((F.col("o_orderkey") + F.lit(int(max_key) + 1))
                       .cast("int").alias("o_orderkey"),
                       "o_totalprice",
                       F.lit("N").alias("o_orderstatus")))
    merge_into(spark, path, updates.unionAll(inserts), ["o_orderkey"])

    live = live_files(path)
    vers = {read_schema(f).version for f in live}
    if vers != {3}:
        raise AssertionError(f"CoW rewrite changed format version: {vers}")
    ds = ColfDataSource({"path": path})
    n_parts = len(ds.reader(ds.schema()).partitions())
    if n_parts <= len(live):
        raise AssertionError(
            f"post-CoW scan plans {n_parts} partition(s) over {len(live)} "
            f"file(s) — the rewrites lost intra-file stripe parallelism")

    back = spark.read.format("colf").load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
         .cast("bigint").cast("double") / F.lit(100.0)).alias("sum_price"),
        F.min(F.col("o_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("o_orderkey").cast("bigint")).alias("max_key"),
    )


@register(
    "q160_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
                ELSE '<pre-evolution>' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY 1
    """,
)
def q160_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution under the correctness gate: even-key
    orders land first WITHOUT o_orderstatus, odd-key orders append
    WITH it. The dataset schema becomes the union; pre-evolution rows
    read o_orderstatus as NULL (mapped to '<pre-evolution>' for the
    group-by), post-evolution rows carry their real status — per
    group, exact counts, cent sums, and key extremes against the
    parquet oracle.

    Scale: schema discovery is metadata-bounded (one header read plus
    one per file whose manifest column set adds something new —
    datasource.py dataset_union_columns), so a million-file dataset
    does not open a million headers; the NULL fill happens per task
    at decode time with no rewrite of old files — the Iceberg/parquet
    add-column model, which is the only affordable one at 100 TB
    (rewriting history for a new column is a full-dataset write).
    """
    from .datasource import register as register_ds

    register_ds(spark)
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        F.col("o_totalprice").alias("o_totalprice"),
        F.col("o_orderstatus").alias("o_orderstatus"),
    )

    def write(d: str) -> None:
        (o.filter(F.col("o_orderkey") % 2 == 0)
         .drop("o_orderstatus").repartition(2)
         .write.format("colf").mode("append").save(d + "/ds"))
        (o.filter(F.col("o_orderkey") % 2 == 1).repartition(2)
         .write.format("colf").mode("append").save(d + "/ds"))

    tmpl = stage_once(("schema-evo", sf_dir), "colf_evo_tmpl_", write)
    back = spark.read.format("colf").load(tmpl + "/ds")
    return (back.groupBy(
        F.coalesce(F.col("o_orderstatus"), F.lit("<pre-evolution>"))
        .alias("status"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
             .cast("bigint").cast("double") / F.lit(100.0))
            .alias("sum_price"),
            F.min(F.col("o_orderkey").cast("bigint")).alias("min_key"),
            F.max(F.col("o_orderkey").cast("bigint")).alias("max_key"),
    ))


_LINEITEM_ROWS: dict[str, int] = {}  # per-sf row count (q153 striping)


@register(
    "q153_colf_v3_striped",
    oracle="""
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           MIN(l_orderkey) AS min_key,
           MAX(l_orderkey) AS max_key
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q153_colf_v3_striped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the v3 STRIPED format (format.py: one file,
    many independently-readable row groups): lineitem lands as a
    SINGLE .colf file striped every 5,000 rows, and the read back must
    still match the parquet oracle. Before returning, the query
    asserts the scale property the stripes exist for: the reader plans
    MULTIPLE partitions out of the one file (one per stripe) — v1/v2's
    file-equals-task limit, SURVEY.md §4.3, is gone for v3 data.

    Scale: a 100 TB dataset written as large v3 files no longer needs
    file count == desired parallelism; every executor core gets a
    stripe, and per-stripe zone maps (manifest sidecar) prune at
    stripe granularity — the parquet row-group model, reached without
    breaking v1 byte-compat (v3 is opt-in; v1-only readers reject the
    version byte loudly).
    """
    import os

    from .datasource import ColfDataSource, register as register_ds

    register_ds(spark)
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("int").alias("l_orderkey"),
        F.col("l_quantity").alias("l_quantity"),
        F.col("l_linestatus").alias("l_linestatus"),
    ).coalesce(1)
    path = run_dir(("v3-striped-run", sf_dir), "colf_v3_") + "/ds"
    # stripeRows sized so a stripe is a real unit of work (the parquet
    # row-group rule: big enough to amortize per-task overhead, small
    # enough that one file still fans out to many cores) — 5k-row
    # stripes planned 120 scan tasks at sf0.1 whose per-task
    # Python-worker cost dominated the query; adaptive ~n/8 (capped at
    # 50k) keeps >=8 partitions from one file at EVERY test SF
    if sf_dir not in _LINEITEM_ROWS:
        _LINEITEM_ROWS[sf_dir] = table(spark, sf_dir, "lineitem").count()
    srows = max(500, min(50_000, _LINEITEM_ROWS[sf_dir] // 8))
    (li.write.format("colf").option("version", "3")
     .option("stripeRows", str(srows)).mode("append").save(path))

    colf_files = [f for f in os.listdir(path) if f.endswith(".colf")]
    if len(colf_files) != 1:
        raise AssertionError(f"expected 1 part file, got {colf_files}")
    ds = ColfDataSource({"path": path})
    n_parts = len(ds.reader(ds.schema()).partitions())
    if n_parts < 2:
        raise AssertionError(
            f"v3 single-file scan planned only {n_parts} partition(s) — "
            f"striping is not splitting the file")

    back = spark.read.format("colf").load(path)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.min(F.col("l_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("l_orderkey").cast("bigint")).alias("max_key"),
    )


@register(
    "q164_colf_bloom_lookup",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           o_orderpriority,
           (CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            / 100.0) AS price
    FROM orders
    WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
    """,
)
def q164_colf_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point lookup under the correctness gate: orders is
    staged HASH-scattered (repartition, not range) into a COLF dataset
    with ``option("bloomColumns", "o_orderkey")`` — the layout where
    every file's zone map spans ~the whole key range, so min/max
    pruning opens all files and the per-file Bloom sidecar
    (_blooms/, bloom.py) is the only signal that can skip I/O. The
    query probes one known key and ASSERTS, from the reader's own
    partition planning, that (a) the bloom pass opened at most half
    the files (expected: 1 true + ~1% fp of the rest) and (b) zone
    maps alone would have opened everything — then returns the looked-
    up row, which the oracle checks value-exactly (pruning must never
    change an answer; a bloom false NEGATIVE would).

    Scale: this is the Parquet column-bloom / Iceberg puffin design on
    the sidecar convention — ~10 bits/row buys ~99% file skipping for
    id-equality probes on unclustered keys, the access pattern zone
    maps fundamentally cannot serve. The pruning decision reads only
    the metadata sidecars; no data file is opened to decide.
    """
    from pyspark.sql.datasource import EqualTo

    from .datasource import ColfReader
    from .datasource import register as register_ds

    register_ds(spark)

    def write(d: str) -> None:
        (table(spark, sf_dir, "orders")
         .select(F.col("o_orderkey").cast("int").alias("o_orderkey"),
                 "o_orderpriority", "o_totalprice")
         .repartition(8)
         .write.format("colf").option("bloomColumns", "o_orderkey")
         .mode("overwrite").save(d + "/ds"))

    base = stage_once(("colf-bloom", sf_dir), "colf_bloom_", write)
    d = base + "/ds"
    df = spark.read.format("colf").load(d)
    probe = int(df.agg(F.min("o_orderkey")).collect()[0][0])  # 1 scalar

    def opened(pruning: str) -> int:
        r = ColfReader({"path": d, "pruning": pruning}, df.schema)
        r.pushFilters([EqualTo(("o_orderkey",), probe)])
        return len({p.file for p in r.partitions() if p.file is not None})

    n_files, with_bloom = opened("off"), opened("on")
    # bound from the sidecar's RECORDED fpp (true file + 3-sigma-ish
    # expected false positives), so it scales with the realized filter
    # quality; capped at half the files so the assertion still means
    # "blooms fired" even if a sidecar records a degenerate fpp
    import math

    from .datasource import load_blooms

    blooms = load_blooms(d)
    fpp = max((per["columns"]["o_orderkey"].get("fpp") or 0.0)
              for per in blooms.values()) if blooms else 0.01
    bound = min(1 + math.ceil(3 * max(fpp, 1e-6) * n_files), n_files // 2)
    if with_bloom > bound:
        raise AssertionError(
            f"bloom point lookup opened {with_bloom}/{n_files} files "
            f"(fpp-derived bound {bound}) — the _blooms/ sidecar is "
            f"not pruning a hash layout")
    return (df.filter(F.col("o_orderkey") == probe)
            .select(F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                    "o_orderpriority",
                    ((F.col("o_totalprice").cast("decimal(18,2)") * 100)
                     .cast("bigint") / 100.0).alias("price")))


@register(
    "q167_colf_targeted_delete",
    oracle="""
    WITH victim AS (SELECT MIN(o_orderkey) AS vk FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price,
           CAST(COUNT(CASE WHEN o_orderkey = (SELECT vk FROM victim)
                           THEN 1 END) AS BIGINT) AS victim_rows
    FROM orders
    WHERE o_orderkey <> (SELECT vk FROM victim)
    """,
)
def q167_colf_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GDPR/right-to-erasure shape end-to-end: a row-level DELETE
    keyed on a Bloom-indexed id over a HASH-scattered dataset (the
    layout where zone maps cover every file). The delete's pass-1
    discovery scan pushes `o_orderkey = <victim>` through pushFilters,
    so the _blooms/ sidecar prunes the candidate set to the one
    file that can hold the key — asserted via the op's own
    n_rewritten_files (≤2 of 8: the true file plus at most one false
    positive) — and the rewrite touches only those bytes. The oracle
    value-checks the surviving dataset: every other row exactly once,
    the victim gone.

    Scale: THE argument for blooms + CoW together — an id-keyed erasure
    on 100 TB costs one metadata lookup plus a rewrite of the files
    that actually hold the id (~1 + fpp×files), instead of a full scan
    and a full rewrite. Composes q164's pruning with q148's CoW
    machinery; both sides already carry their own driver rows.
    """
    import shutil

    from .datasource import register as register_ds
    from .maintenance import delete_where

    register_ds(spark)

    def write(d: str) -> None:
        (table(spark, sf_dir, "orders")
         .select(F.col("o_orderkey").cast("int").alias("o_orderkey"),
                 "o_totalprice")
         .repartition(8)
         .write.format("colf").option("bloomColumns", "o_orderkey")
         .mode("overwrite").save(d + "/ds"))

    tmpl = stage_once(("colf-bloom-del", sf_dir), "colf_tdel_", write)
    path = run_dir(("colf-tdel-run", sf_dir), "colf_tdel_run_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    victim = int(spark.read.format("colf").load(path)
                 .agg(F.min("o_orderkey")).collect()[0][0])
    res = delete_where(spark, path, f"o_orderkey = {victim}")
    if res["n_deleted_rows"] < 1:
        raise AssertionError("targeted delete matched no rows")
    # the rewrite bound derives from the sidecar's own RECORDED fpp
    # (true file + 3-sigma-ish margin of expected false positives over
    # the other files), so the assertion scales with the realized
    # filter quality instead of a hand-picked constant
    import math

    from .datasource import load_blooms

    blooms = load_blooms(path)
    n_files = len(blooms)
    fpp = max((per["columns"]["o_orderkey"].get("fpp") or 0.0)
              for per in blooms.values()) if blooms else 0.01
    bound = 1 + math.ceil(3 * max(fpp, 1e-6) * n_files)
    if res["n_rewritten_files"] > bound:
        raise AssertionError(
            f"targeted delete rewrote {res['n_rewritten_files']}/{n_files} "
            f"files (fpp-derived bound {bound}) — bloom pruning is not "
            f"reaching the discovery planning")
    back = spark.read.format("colf").load(path)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
         .cast("bigint").cast("double") / F.lit(100.0)).alias("sum_price"),
        F.count(F.when(F.col("o_orderkey") == victim, 1))
        .cast("bigint").alias("victim_rows"),
    )


@register(
    "q171_colf_partitioned",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price
    FROM orders
    WHERE o_orderpriority = '3-MEDIUM'
    GROUP BY o_orderpriority
    """,
)
def q171_colf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned dataset layout under the correctness gate: orders is
    written with ``option("partitionColumns", "o_orderpriority")`` —
    the writer splits every task's rows into one VALUE-HOMOGENEOUS part
    file per partition value it holds, and records the partition tuple
    in the manifest entry (datasource.py _write_split).

    This is the Iceberg partitioning model, not Hive's: the tuple
    lives in metadata and the directory stays flat, so 100 TB planning
    reads one sidecar instead of a recursive listing — and because a
    homogeneous file's zone map has min == max == value, the EXISTING
    pruning path serves partition pruning exactly (equality, IN,
    ranges, IsNull), no new reader code. The query ASSERTS from the
    reader's own planning that (a) the dataset holds exactly one file
    per distinct priority (each value lands in one task under the
    upstream repartition, and the split keeps it pure), and (b) a
    single-priority probe opens exactly 1 of them. The oracle then
    value-checks the filtered aggregate — pruning must never change
    an answer.

    Scale: the split bounds file count at tasks × values-per-task; the
    documented pattern (upstream repartition on the partition key, as
    here) makes it exactly one file per value. The reference has no
    partitioned layout at all (its dataset = one file); this is the
    warehouse-tier extension of its one-file format.
    """
    from pyspark.sql.datasource import EqualTo

    from .datasource import ColfReader, load_manifest
    from .datasource import register as register_ds

    register_ds(spark)

    def write(d: str) -> None:
        (table(spark, sf_dir, "orders")
         .select(F.col("o_orderkey").cast("int").alias("o_orderkey"),
                 "o_orderpriority", "o_totalprice")
         .repartition(8, "o_orderpriority")
         .write.format("colf")
         .option("partitionColumns", "o_orderpriority")
         .mode("overwrite").save(d + "/ds"))

    d = stage_once(("colf-partitioned", sf_dir), "colf_part_", write) + "/ds"
    df = spark.read.format("colf").load(d)

    manifest = load_manifest(d)
    values = {e.get("partition", {}).get("o_orderpriority")
              for e in manifest.values()}
    if len(manifest) != len(values) or None in values:
        raise AssertionError(
            f"partitionColumns write produced {len(manifest)} files for "
            f"{len(values)} partition values {sorted(map(str, values))} — "
            f"expected exactly one value-homogeneous file per value")

    def opened(pruning: str) -> int:
        r = ColfReader({"path": d, "pruning": pruning}, df.schema)
        r.pushFilters([EqualTo(("o_orderpriority",), "3-MEDIUM")])
        return len({p.file for p in r.partitions() if p.file is not None})

    n_files, pruned = opened("off"), opened("on")
    if pruned != 1:
        raise AssertionError(
            f"partition-value probe opened {pruned}/{n_files} files — "
            f"zone maps over value-homogeneous files must prune exactly")
    return (df.filter(F.col("o_orderpriority") == "3-MEDIUM")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
                  .cast("bigint").cast("double") / F.lit(100.0))
                 .alias("sum_price")))


@register(
    "q172_metadata_profile",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS null_count,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           MIN(o_orderpriority),
           MAX(o_orderpriority)
    FROM orders
    """,
)
def q172_metadata_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only table profile: COUNT(*)/null_count/MIN/MAX per
    column folded entirely from the ``_manifests/`` zone-map sidecar
    — ZERO data-file I/O, the Delta/Iceberg "answer SELECT COUNT(*)
    from file statistics" fast path. The query reuses q164's staged
    orders dataset (same stage_once key), raises if any live file
    lacks a manifest entry (a partial fold would silently report a
    wrong total — the same all-or-nothing rule as cli_snapshots), and
    the DuckDB oracle recomputes the aggregates from the source
    parquet, value-checking that sidecar statistics equal the truth.

    Scale: the fold is O(live files) over a JSON sidecar — at 100 TB
    that is thousands of manifest entries on the driver, the exact
    planning cost every scan already pays; no executor, no shuffle,
    no data block is touched. MIN/MAX are reported for int32/utf8
    columns (stringified — int decimal form is engine-independent);
    float extrema stay with the scan tier because NaN ordering differs
    across engines (datasource.py float zone-map notes).
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType)

    from .datasource import live_files, load_manifest
    from .datasource import register as register_ds

    register_ds(spark)

    def write(d: str) -> None:
        (table(spark, sf_dir, "orders")
         .select(F.col("o_orderkey").cast("int").alias("o_orderkey"),
                 "o_orderpriority", "o_totalprice")
         .repartition(8)
         .write.format("colf").option("bloomColumns", "o_orderkey")
         .mode("overwrite").save(d + "/ds"))

    d = stage_once(("colf-bloom", sf_dir), "colf_bloom_", write) + "/ds"
    manifest = load_manifest(d)
    import os as _os

    live = [_os.path.basename(f) for f in live_files(d)]
    missing = [b for b in live if b not in manifest]
    if missing:
        raise AssertionError(
            f"metadata profile impossible: {len(missing)} live files "
            f"have no manifest entry (e.g. {missing[:3]})")
    entries = [manifest[b] for b in live]
    n_rows = sum(e["num_rows"] for e in entries)
    out = []
    for col in ("o_orderkey", "o_orderpriority"):
        stats = [e["columns"][col] for e in entries]
        nulls = sum(s["null_count"] for s in stats)
        mins = [s["min"] for s in stats if s["min"] is not None]
        maxs = [s["max"] for s in stats if s["max"] is not None]
        out.append((col, n_rows, nulls,
                    str(min(mins)) if mins else None,
                    str(max(maxs)) if maxs else None))
    return local_df(spark, out, StructType([
        StructField("col_name", StringType(), False),
        StructField("n_rows", LongType(), False),
        StructField("null_count", LongType(), False),
        StructField("min_val", StringType(), True),
        StructField("max_val", StringType(), True),
    ]))


@register(
    "q173_colf_bounds_merge",
    oracle="""
    SELECT CASE WHEN r < 22000 THEN 'U' ELSE 'old' END AS val,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(r) AS BIGINT) AS min_k,
           CAST(MAX(r) AS BIGINT) AS max_k
    FROM (SELECT CAST(range AS BIGINT) AS r FROM range(200000))
    GROUP BY 1
    """,
)
def q173_colf_bounds_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The localized-big-source merge tier under the correctness gate:
    a 200k-row range-partitioned dataset (8 files) takes a 22,000-key
    upsert — past MERGE_PUSHDOWN_KEYS, so the per-value IN planning is
    unavailable — whose keys all lie in the first two files' span.
    merge_into must plan the touched files from exact source key
    BOUNDS over the zone maps (maintenance.py "metadata-bounds" tier:
    one tiny source-side aggregate, no dataset key scan) and the query
    ASSERTS that from the op's own reported discovery mode plus the
    kept-file count (>= 6 of 8 untouched). The oracle rebuilds the
    expected post-merge state from DuckDB's range() — deterministic
    and sf-independent, like the operator it gates.

    Scale: this is the "re-upsert one day's partition" shape — at
    100 TB the bulk-but-localized source is the common maintenance
    case, and the bounds tier turns its discovery from a dataset-wide
    key-column scan into a metadata read.
    """
    from .datasource import register as register_ds
    from .maintenance import merge_into

    register_ds(spark)

    def write(d: str) -> None:
        (spark.range(200_000)
         .select(F.col("id").cast("int").alias("k"),
                 F.lit("old").alias("val"))
         .repartitionByRange(8, "k")
         .write.format("colf").mode("overwrite").save(d + "/ds"))

    tmpl = stage_once(("colf-bounds-merge",), "colf_bmrg_tmpl_", write)
    path = run_dir(("colf-bounds-merge-run", sf_dir), "colf_bmrg_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    src = (spark.range(22_000)
           .select(F.col("id").cast("int").alias("k"),
                   F.lit("U").alias("val")))
    res = merge_into(spark, path, src, ["k"])
    if res["discovery"] != "metadata-bounds":
        raise AssertionError(
            f"localized 22k-key merge planned via {res['discovery']!r} — "
            f"expected the zone-map bounds tier")
    if res["n_kept_files"] < 6 or res["n_replaced_rows"] != 22_000:
        raise AssertionError(
            f"bounds-planned merge rewrote too much: {res}")
    back = spark.read.format("colf").load(path)
    return back.groupBy("val").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min(F.col("k").cast("bigint")).alias("min_k"),
        F.max(F.col("k").cast("bigint")).alias("max_k"))


@register(
    "q174_partition_stats",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q174_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level statistics from metadata alone: row counts per
    partition tuple folded from the manifest of the q171 staged
    partitioned dataset — Iceberg's ``partitions`` metadata-table
    shape, zero data I/O. The oracle recomputes the grouped counts
    from the source parquet, proving the sidecar's per-tuple
    accounting equals a real GROUP BY. Raises if any live file lacks
    a partition tuple (a mixed layout cannot claim per-tuple totals —
    the all-or-nothing rule of q172).

    Scale: a 100 TB "rows per day/source" dashboard query becomes an
    O(files) sidecar fold — the exact planning cost every scan
    already pays — instead of a full-table aggregate.
    """
    import os as _os

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType)

    from .datasource import live_files, load_manifest
    from .datasource import register as register_ds

    register_ds(spark)

    def write(d: str) -> None:
        (table(spark, sf_dir, "orders")
         .select(F.col("o_orderkey").cast("int").alias("o_orderkey"),
                 "o_orderpriority", "o_totalprice")
         .repartition(8, "o_orderpriority")
         .write.format("colf")
         .option("partitionColumns", "o_orderpriority")
         .mode("overwrite").save(d + "/ds"))

    d = stage_once(("colf-partitioned", sf_dir), "colf_part_", write) + "/ds"
    manifest = load_manifest(d)
    live = [_os.path.basename(f) for f in live_files(d)]
    totals: dict[str, int] = {}
    for b in live:
        entry = manifest.get(b) or {}
        part = entry.get("partition")
        if not part or entry.get("num_rows") is None:
            raise AssertionError(
                f"partition stats impossible: live file {b} lacks a "
                f"partition tuple or row count in the manifest")
        key = part["o_orderpriority"]
        totals[key] = totals.get(key, 0) + entry["num_rows"]
    return local_df(
        spark, sorted(totals.items()),
        StructType([StructField("o_orderpriority", StringType(), False),
                    StructField("n_rows", LongType(), False)]))


@register(
    "q179_colf_spec_evolution",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q179_colf_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION under the correctness gate (the
    Iceberg model: the spec is table metadata in the snapshot log, not
    a per-write choice). Even-key orders are staged partitioned by
    o_orderpriority; the odd-key half then appends with
    ``partitionColumns=o_orderstatus`` + ``evolvePartitionSpec=true``
    — the commit records the new spec while the old files keep their
    priority layout and manifest tuples. The query ASSERTS that (a)
    the recorded spec changed and BOTH tuple shapes coexist in the
    manifest, (b) a status-equality probe opens exactly the file set
    the manifest's own zone maps imply (old heterogeneous files can't
    prune on status; new homogeneous files prune exactly), and (c)
    ``compact()`` — "rewrite data files to latest spec" — converges
    every live file to the NEW spec, after which the same probe opens
    exactly ONE file. The oracle value-checks the final per-status
    aggregate over the full orders table: neither the evolution nor
    the rewrite may change an answer.

    Scale: evolution itself is a metadata-only commit (zero data I/O
    at 100 TB); mixed-spec reads stay pruned per-file from manifest
    tuples, so an evolved table never pays a flag-day rewrite unless
    compact() is asked for one.
    """
    from pyspark.sql.datasource import EqualTo

    from .datasource import (ColfReader, current_partition_spec,
                             live_files, load_manifest)
    from .datasource import register as register_ds
    from .maintenance import compact

    register_ds(spark)

    def sel(df):
        return df.select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_orderpriority", "o_orderstatus", "o_totalprice")

    def write(d: str) -> None:
        (sel(table(spark, sf_dir, "orders")
             .filter(F.col("o_orderkey") % 2 == 0))
         .repartition(4, "o_orderpriority")
         .write.format("colf")
         .option("partitionColumns", "o_orderpriority")
         .mode("overwrite").save(d + "/ds"))

    tmpl = stage_once(("colf-spec-evo", sf_dir), "colf_spec_tmpl_", write)
    path = run_dir(("colf-spec-evo-run", sf_dir), "colf_spec_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    if current_partition_spec(path) != ["o_orderpriority"]:
        raise AssertionError(
            f"staged overwrite must record its spec, got "
            f"{current_partition_spec(path)}")

    (sel(table(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") % 2 == 1))
     .repartition(3, "o_orderstatus")
     .write.format("colf")
     .option("partitionColumns", "o_orderstatus")
     .option("evolvePartitionSpec", "true")
     .mode("append").save(path))

    if current_partition_spec(path) != ["o_orderstatus"]:
        raise AssertionError("evolving append must record the new spec")
    import os as _os

    man = load_manifest(path)
    shapes = {tuple(((man.get(_os.path.basename(f)) or {})
                     .get("partition") or {}).keys())
              for f in live_files(path)}
    if shapes != {("o_orderpriority",), ("o_orderstatus",)}:
        raise AssertionError(
            f"evolution must leave both layouts in place, got {shapes}")

    schema = spark.read.format("colf").load(path).schema

    def opened(pruning: str) -> set:
        r = ColfReader({"path": path, "pruning": pruning}, schema)
        r.pushFilters([EqualTo(("o_orderstatus",), "F")])
        return {p.file for p in r.partitions() if p.file is not None}

    # the EXACT expected open set from the manifest's own zone maps:
    # files whose o_orderstatus [min,max] covers 'F'
    expect = set()
    for f in live_files(path):
        st = (man.get(_os.path.basename(f)) or {}).get(
            "columns", {}).get("o_orderstatus", {})
        lo, hi = st.get("min"), st.get("max")
        if lo is None or (lo <= "F" <= hi):
            expect.add(f)
    got = opened("on")
    if got != expect:
        raise AssertionError(
            f"mixed-spec probe opened {len(got)} files, zone maps imply "
            f"{len(expect)}")

    compact(spark, path, 2)
    man2 = load_manifest(path)
    shapes2 = {tuple(((man2.get(_os.path.basename(f)) or {})
                      .get("partition") or {}).keys())
               for f in live_files(path)}
    if shapes2 != {("o_orderstatus",)}:
        raise AssertionError(
            f"compact must rewrite every file into the CURRENT spec, "
            f"got {shapes2}")
    after = opened("on")
    if len(after) != 1:
        raise AssertionError(
            f"post-compact status probe opened {len(after)} files — a "
            f"value-homogeneous layout must prune to exactly one")

    df = spark.read.format("colf").load(path)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
         .cast("bigint").cast("double") / F.lit(100.0)).alias("sum_price"),
        F.min(F.col("o_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("o_orderkey").cast("bigint")).alias("max_key"))


@register(
    "q180_colf_bucket_transform",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           (CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price
    FROM lineitem
    WHERE l_orderkey = (SELECT MAX(l_orderkey) FROM lineitem)
    """,
)
def q180_colf_bucket_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-transform partitioning (Iceberg hidden partitioning)
    under the correctness gate: lineitem lands as
    ``partitionColumns=bucket(16,l_orderkey)`` — the split writer
    groups rows by the md5 bucket of the key (never materializing a
    bucket column) and records the bucket id in the manifest tuple.
    This is THE layout for point lookups on a high-cardinality key,
    where identity partitioning would shatter into one file per key
    (the writer's tuple-cap guard rejects it) and zone maps can't
    prune arrival-ordered keys. The query ASSERTS from the reader's
    own planning that a key-equality probe opens exactly the files
    whose manifest tuple equals the probe's bucket (~1/16 of the
    dataset, before blooms even load); the oracle then value-checks
    the probe aggregate — layout must never change an answer.

    Scale: the bucket function is the Bloom byte-encoding contract
    (md5, canonical bytes), so any task, executor, or CoW rewrite
    agrees on every row's bucket; reader-side probe mapping is O(1)
    per file against the metadata tuple. At 100 TB with N=4096
    buckets a key lookup plans 1/4096 of the manifest to open.
    """
    from pyspark.sql.datasource import EqualTo

    from .datasource import (ColfReader, bucket_of,
                             current_partition_spec, live_files,
                             load_manifest)
    from .datasource import register as register_ds

    register_ds(spark)

    def write(d: str) -> None:
        (table(spark, sf_dir, "lineitem")
         .select(F.col("l_orderkey").cast("int").alias("l_orderkey"),
                 F.col("l_quantity"), F.col("l_extendedprice"))
         .coalesce(2)
         .write.format("colf")
         .option("partitionColumns", "bucket(16,l_orderkey)")
         .mode("overwrite").save(d + "/ds"))

    d = stage_once(("colf-bucket", sf_dir), "colf_bucket_", write) + "/ds"
    if current_partition_spec(d) != ["bucket(16,l_orderkey)"]:
        raise AssertionError(
            f"bucket write must record its transform spec, got "
            f"{current_partition_spec(d)}")
    import os as _os

    man = load_manifest(d)
    live = [_os.path.basename(f) for f in live_files(d)]
    buckets = {b: man[b]["partition"]["bucket(16,l_orderkey)"]
               for b in live}
    if not all(isinstance(v, int) and 0 <= v < 16
               for v in buckets.values()):
        raise AssertionError(f"bad bucket tuples: {set(buckets.values())}")

    df = spark.read.format("colf").load(d)
    probe = int(df.agg(F.max("l_orderkey")).first()[0])
    want = bucket_of(probe, "int32", 16)
    expect = {b for b, v in buckets.items() if v == want}

    r = ColfReader({"path": d, "pruning": "on"}, df.schema)
    r.pushFilters([EqualTo(("l_orderkey",), probe)])
    got = {_os.path.basename(p.file) for p in r.partitions()
           if p.file is not None}
    if not got or not got <= expect:
        raise AssertionError(
            f"bucket probe opened {len(got)}/{len(live)} files; the "
            f"probe's bucket {want} maps to {len(expect)} — planning "
            f"must open only (a subset of) those")

    return (df.filter(F.col("l_orderkey") == probe).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
         .cast("bigint").cast("double") / F.lit(100.0))
        .alias("sum_price")))


@register(
    "q181_partition_stats_evolved",
    oracle="""
    SELECT 'o_orderpriority' AS spec, o_orderpriority AS part_value,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderkey % 2 = 0
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'o_orderstatus', o_orderstatus,
           CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderkey % 2 = 1
    GROUP BY o_orderstatus
    """,
)
def q181_partition_stats_evolved(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The ``partitions`` metadata table over a MID-EVOLUTION dataset
    (q172/q174 fold a single-spec layout and reject mixed ones
    all-or-nothing; this is the spec-AWARE completion): even-key
    orders land partitioned by priority, the odd-key half appends
    under an evolved status spec, and the per-(spec, value) row
    counts fold purely from the manifest — zero data I/O. The oracle
    recomputes both groupings from the source parquet: the sidecar's
    per-tuple accounting must equal a real GROUP BY on BOTH sides of
    the evolution boundary.

    Scale: spec evolution means a 100 TB table's "rows per partition"
    dashboard keeps working THROUGH a repartitioning migration — the
    fold stays O(live files) over the sidecar, and each file reports
    under the spec it was actually written with.
    """
    import os as _os

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType)

    from .datasource import live_files, load_manifest
    from .datasource import register as register_ds

    register_ds(spark)

    def sel(df):
        return df.select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_orderpriority", "o_orderstatus", "o_totalprice")

    def write(d: str) -> None:
        (sel(table(spark, sf_dir, "orders")
             .filter(F.col("o_orderkey") % 2 == 0))
         .repartition(4, "o_orderpriority")
         .write.format("colf")
         .option("partitionColumns", "o_orderpriority")
         .mode("overwrite").save(d + "/ds"))
        (sel(table(spark, sf_dir, "orders")
             .filter(F.col("o_orderkey") % 2 == 1))
         .repartition(3, "o_orderstatus")
         .write.format("colf")
         .option("partitionColumns", "o_orderstatus")
         .option("evolvePartitionSpec", "true")
         .mode("append").save(d + "/ds"))

    d = stage_once(("colf-spec-mixed", sf_dir), "colf_specmix_",
                   write) + "/ds"
    man = load_manifest(d)
    totals: dict[tuple, int] = {}
    for f in live_files(d):
        entry = man.get(_os.path.basename(f)) or {}
        part = entry.get("partition")
        if not part or entry.get("num_rows") is None:
            raise AssertionError(
                f"evolved dataset must keep every file tuple-tagged: "
                f"{_os.path.basename(f)}")
        (col, val), = part.items()
        totals[(col, val)] = totals.get((col, val), 0) + entry["num_rows"]
    rows = sorted((c, v, n) for (c, v), n in totals.items())
    return local_df(spark, rows, StructType([
        StructField("spec", StringType(), False),
        StructField("part_value", StringType(), False),
        StructField("n_rows", LongType(), False)]))


@register(
    "q182_colf_sorted_maintenance",
    oracle="""
    WITH b AS (SELECT (MAX(l_orderkey) * 3) // 10 AS lo,
                      (MAX(l_orderkey) * 4) // 10 AS hi
               FROM lineitem)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_k,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_k
    FROM lineitem, b
    WHERE l_orderkey BETWEEN lo AND hi
    """,
)
def q182_colf_sorted_maintenance(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Recorded sort orders under the correctness gate (Iceberg's
    sort-order metadata): lineitem lands range-partitioned AND in-file
    sorted on l_orderkey (``option("sortOrder", ...)`` — the writer
    sorts each part file's Arrow table before encoding and records
    the order in the snapshot log), then ``compact()`` rewrites the
    dataset — and because the order is RECORDED, the rewrite
    re-clusters (repartitionByRange + in-file sort) instead of
    round-robin scrambling. The query ASSERTS that after compaction
    (a) the order is still recorded, (b) the per-stripe zone maps
    stay disjoint enough that a 10% key band plans at most ~1/5 of
    the stripes, and (c) the v3 stripe granularity survived. The
    oracle value-checks the band aggregate — layout must never change
    an answer.

    Scale: without recorded sort metadata every 100 TB maintenance
    cycle silently decays scan locality; with it, compaction is the
    operation that RESTORES clustering (Delta OPTIMIZE's contract).
    """
    from pyspark.sql.datasource import (GreaterThanOrEqual,
                                        LessThanOrEqual)

    from .datasource import ColfReader, current_sort_order, load_manifest
    from .datasource import register as register_ds
    from .maintenance import compact

    register_ds(spark)

    def write(d: str) -> None:
        (table(spark, sf_dir, "lineitem")
         .select(F.col("l_orderkey").cast("int").alias("l_orderkey"),
                 F.col("l_quantity"))
         .repartitionByRange(4, "l_orderkey")
         .write.format("colf").option("version", "3")
         # 20k-row stripes: compact() inherits the dataset's stripe
         # size, so the post-compaction band probe still sees ~30
         # stripes (4k stripes made every scan a 152-task fan-out
         # whose per-task Python-worker cost dominated the query)
         .option("stripeRows", "20000")
         .option("sortOrder", "l_orderkey")
         .mode("overwrite").save(d + "/ds"))

    tmpl = stage_once(("colf-sorted-maint", sf_dir),
                      "colf_sortm_tmpl_", write)
    path = run_dir(("colf-sorted-maint-run", sf_dir),
                   "colf_sortm_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    compact(spark, path, 2)
    if current_sort_order(path) != ["l_orderkey"]:
        raise AssertionError(
            f"compaction must preserve the recorded sort order, got "
            f"{current_sort_order(path)}")

    df = spark.read.format("colf").load(path)
    man = load_manifest(path)
    mx = max(s["columns"]["l_orderkey"]["max"] for s in man.values())
    lo, hi = mx * 3 // 10, mx * 4 // 10

    def stripes(pruning: str) -> int:
        r = ColfReader({"path": path, "pruning": pruning}, df.schema)
        r.pushFilters([GreaterThanOrEqual(("l_orderkey",), lo),
                       LessThanOrEqual(("l_orderkey",), hi)])
        return len([p for p in r.partitions() if p.file is not None])

    total, pruned = stripes("off"), stripes("on")
    if total < 2 or not pruned * 5 <= total:
        raise AssertionError(
            f"post-compaction band probe plans {pruned}/{total} stripes "
            f"— the recorded sort order is not preserving clustering")

    return (df.filter(F.col("l_orderkey").between(lo, hi)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.min(F.col("l_orderkey").cast("bigint")).alias("min_k"),
        F.max(F.col("l_orderkey").cast("bigint")).alias("max_k")))


@register(
    "q183_colf_snapshot_diff",
    oracle="""
    WITH v1 AS (SELECT o_orderkey, o_orderstatus FROM orders),
    v2 AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE NOT (o_orderkey % 7 = 0 AND o_orderstatus = 'F')
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders), 'N'
      FROM orders WHERE o_orderkey % 50 = 3)
    SELECT
      (SELECT COUNT(*) FROM (SELECT * FROM v2 EXCEPT ALL
                             SELECT * FROM v1)) AS n_added,
      (SELECT COUNT(*) FROM (SELECT * FROM v1 EXCEPT ALL
                             SELECT * FROM v2)) AS n_removed,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM v1) AS n_v1,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM v2) AS n_v2
    """,
)
def q183_colf_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-accurate SNAPSHOT DIFF between two table versions — the CDC
    question "what changed between v1 and now?" answered from the
    metadata log alone: two time-travel reads of the SAME dataset
    (``option("snapshot", 1)`` vs current) anti-joined both ways with
    exceptAll. The staged history is a CoW delete (every 7th 'F'
    order) followed by an append (one 'N' order per 50), so the diff
    must see through a REWRITE: rewritten survivor files carry rows
    from both versions, which file-level diffing (q134's incremental
    scan) intentionally over-reports — this query pins the exact
    row-level semantics on top. The oracle recomputes both versions
    relationally from the source parquet.

    Scale: both sides are zone-map-planned scans of one dataset;
    exceptAll is a single hash shuffle on the row key each way. The
    file-level shortcut (q134) stays the cheap first pass at 100 TB;
    this is the exact tier for audit/CDC-replay.
    """
    from .datasource import register as register_ds
    from .maintenance import delete_where

    register_ds(spark)

    def sel(df):
        return df.select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_orderstatus")

    def build(d: str) -> None:
        # the diff INPUT — base write + CoW delete + append — staged
        # once per process (the r13 2c80a2d convention); the operator
        # under test (the row-accurate two-version diff) runs per
        # invocation. Read-only per run, so no clone is needed.
        (sel(table(spark, sf_dir, "orders")).repartition(4)
         .write.format("colf").mode("overwrite").save(d + "/ds"))
        delete_where(spark, d + "/ds",
                     "o_orderkey % 7 = 0 AND o_orderstatus = 'F'")
        mx = int(sel(table(spark, sf_dir, "orders"))
                 .agg(F.max("o_orderkey")).first()[0])
        inserts = (sel(table(spark, sf_dir, "orders"))
                   .filter(F.col("o_orderkey") % 50 == 3)
                   .select((F.col("o_orderkey") + mx + 1).cast("int")
                           .alias("o_orderkey"),
                           F.lit("N").alias("o_orderstatus")))
        inserts.coalesce(1).write.format("colf").mode("append") \
            .save(d + "/ds")

    tmpl = stage_once(("colf-snapdiff-hist", sf_dir), "colf_sdiff_tmpl_",
                      build)
    path = tmpl + "/ds"

    v1 = (spark.read.format("colf").option("snapshot", "1").load(path)
          .select("o_orderkey", "o_orderstatus"))
    v2 = (spark.read.format("colf").load(path)
          .select("o_orderkey", "o_orderstatus"))
    # ONE pass instead of two exceptAll shuffles + two count subtrees
    # (each of which re-read its colf side — 6 scans total): tag each
    # side, count per row-value, and fold the multiset differences in
    # a single agg row. Σ max(c2−c1, 0) / Σ max(c1−c2, 0) are exactly
    # |v2 ∖ v1| / |v1 ∖ v2| under bag semantics — identical to the
    # exceptAll counts.
    u = (v1.withColumn("_s", F.lit(1))
         .unionAll(v2.withColumn("_s", F.lit(2))))
    per_row = (u.groupBy("o_orderkey", "o_orderstatus")
               .agg(F.count(F.when(F.col("_s") == 1, 1)).alias("c1"),
                    F.count(F.when(F.col("_s") == 2, 1)).alias("c2")))
    return per_row.agg(
        F.coalesce(F.sum(F.greatest(F.col("c2") - F.col("c1"), F.lit(0))),
                   F.lit(0)).cast("bigint").alias("n_added"),
        F.coalesce(F.sum(F.greatest(F.col("c1") - F.col("c2"), F.lit(0))),
                   F.lit(0)).cast("bigint").alias("n_removed"),
        F.coalesce(F.sum("c1"), F.lit(0)).cast("bigint").alias("n_v1"),
        F.coalesce(F.sum("c2"), F.lit(0)).cast("bigint").alias("n_v2"))


def _assert_bag_equal(a: DataFrame, b: DataFrame, msg: str) -> None:
    """ONE-pass multiset-equality proof (round-14): tag each side,
    group on the full row value, and any value whose per-side counts
    differ falsifies — exactly "both exceptAll directions empty", but
    with ONE consumption of each input and ONE shuffle instead of the
    union-of-exceptAlls' two consumptions per side and two exceptAll
    shuffles (the CDF-replay side is the expensive subtree here)."""
    cols = a.columns
    u = (a.withColumn("_s", F.lit(1))
         .unionAll(b.select(*cols).withColumn("_s", F.lit(2))))
    bad = (u.groupBy(*cols)
           .agg(F.count(F.when(F.col("_s") == 1, 1)).alias("c1"),
                F.count(F.when(F.col("_s") == 2, 1)).alias("c2"))
           .filter("c1 <> c2").count())
    if bad:
        raise AssertionError(msg)


# q184-q186 anchors (max order key per sf_dir), filled at staging
_CDC_MAXKEY: dict[str, int] = {}


def _stage_cdc_orders(spark: SparkSession, sf_dir: str) -> str:
    """A 2-column orders COLF dataset shared by the round-8 CDC tier
    (changelog / tags / WAP): staged once per process, mutated on
    fresh hardlink clones per run."""
    def write(d: str) -> None:
        o = table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_orderstatus")
        # range-partitioned on the key (the dataset convention for
        # retention-managed tables): key-localized deletes touch one
        # file and their discovery is metadata-planned via zone maps
        (o.repartitionByRange(4, "o_orderkey").write.format("colf")
         .mode("overwrite").save(d + "/ds"))
        _CDC_MAXKEY[sf_dir] = int(o.agg(F.max("o_orderkey")).first()[0])

    return stage_once(("colf-cdc-orders", sf_dir), "colf_cdc_tmpl_", write)


@register(
    "q184_colf_changelog",
    oracle="""
    WITH cut AS (SELECT MAX(o_orderkey) // 4 AS c FROM orders),
    v1 AS (SELECT o_orderkey, o_orderstatus FROM orders),
    v2 AS (
      SELECT o_orderkey, o_orderstatus FROM orders, cut
      WHERE NOT (o_orderkey <= cut.c AND o_orderstatus = 'O')
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders), 'C'
      FROM orders WHERE o_orderkey % 40 = 1),
    ins AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1),
    del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
    SELECT * FROM (
      SELECT 'insert' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      FROM ins
      UNION ALL
      SELECT 'delete' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      FROM del)
    WHERE n_rows > 0
    """,
)
def q184_colf_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-accurate CHANGELOG as a consumable DataFrame
    (maintenance.snapshot_changelog): every row between two table
    versions tagged ``_change_type`` insert/delete — the CDC feed a
    downstream incremental consumer replays, exact ACROSS a CoW
    rewrite (rewritten survivor files carry rows from both versions;
    file-level diffing over-reports them, the changelog cancels them).
    The staged history is a KEY-LOCALIZED CoW delete ('O' orders in
    the lowest key quartile — the retention-delete shape) then an
    append; the oracle recomputes both versions relationally and
    EXCEPT ALLs them.

    Scale: the delete's discovery is metadata-planned (range predicate
    over the range-partitioned layout's zone maps — no data scan) and
    rewrites ~1 of 4 files; then part files common to both versions
    cancel at the METADATA level before any changelog I/O — each side
    reads only the touched sliver, not the table; the residual
    exceptAll is one hash shuffle per direction over those slivers
    (see maintenance.snapshot_changelog and the planning test in
    tests/test_colf_refs_wap.py)."""
    from .datasource import register as register_ds
    from .maintenance import delete_where, snapshot_changelog

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-cdc-changelog-run", sf_dir), "colf_cdc_chg_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    mx = _CDC_MAXKEY[sf_dir]
    stats = delete_where(spark, path,
                         f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'")
    if stats["discovery"] != "metadata" or stats["n_rewritten_files"] > 2:
        raise AssertionError(
            f"key-quartile delete should be metadata-planned and touch "
            f"~1 of 4 files, got {stats}")
    inserts = (table(spark, sf_dir, "orders")
               .filter(F.col("o_orderkey") % 40 == 1)
               .select((F.col("o_orderkey") + mx + 1).cast("int")
                       .alias("o_orderkey"),
                       F.lit("C").alias("o_orderstatus")))
    inserts.coalesce(1).write.format("colf").mode("append").save(path)

    log = snapshot_changelog(spark, path, 1)
    return (log.groupBy(F.col("_change_type").alias("change_type"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.sum(F.col("o_orderkey").cast("bigint"))
                 .alias("key_sum")))


@register(
    "q185_colf_tag_read",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)
                AS BIGINT) AS n_tagged,
           CAST((SELECT SUM(o_orderkey) FROM orders
                 WHERE o_orderkey % 2 = 0) AS BIGINT) AS key_sum_tagged,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_current
    """,
)
def q185_colf_tag_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named snapshot refs under the correctness gate (Iceberg table
    refs): v1 (even order keys) is TAGGED ``baseline``, v2 appends the
    odd keys, then ``vacuum(keep_last=1)`` expires untagged history —
    and the tagged version must STILL read exactly (vacuum retains
    ref-pinned snapshots and their files). The oracle recomputes the
    tagged version's aggregate from the source parquet: a wrong
    retention decision (vacuumed tag files, or a tag resolving to the
    wrong version) changes the answer.

    Scale: a tag is one sidecar entry; retention cost is the pinned
    snapshot's files staying on disk — the "keep the quarterly audit
    snapshot readable" contract with zero read-path overhead."""
    from .datasource import register as register_ds
    from .maintenance import create_tag, vacuum

    register_ds(spark)

    def write(d: str) -> None:
        o = table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_orderstatus")
        (o.filter(F.col("o_orderkey") % 2 == 0).repartition(2)
         .write.format("colf").mode("overwrite").save(d + "/ds"))
        (o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1)
         .write.format("colf").mode("append").save(d + "/ds"))
        create_tag(d + "/ds", "baseline", 1)

    tmpl = stage_once(("colf-tagged", sf_dir), "colf_tag_tmpl_", write)
    path = run_dir(("colf-tagged-run", sf_dir), "colf_tag_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    vacuum(path, keep_last=1)
    tagged = (spark.read.format("colf").option("ref", "baseline")
              .load(path))
    current = spark.read.format("colf").load(path)
    t = tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tagged"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum_tagged"))
    c = current.agg(F.count(F.lit(1)).cast("bigint").alias("n_current"))
    return t.crossJoin(F.broadcast(c))


@register(
    "q186_colf_wap",
    oracle="""
    WITH published AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders)
               AS o_orderkey,
             'W' AS o_orderstatus
      FROM orders WHERE o_orderkey % 25 = 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(COUNT(CASE WHEN o_orderstatus = 'W' THEN 1 END)
                AS BIGINT) AS n_wap_rows
    FROM published
    """,
)
def q186_colf_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish under the correctness gate (Iceberg WAP):
    an append staged with ``option("wap", "true")`` lands in the
    metadata log but is INVISIBLE to normal reads; the query audits it
    through an explicit snapshot read (row-count gate — the "audit"
    step a production pipeline runs before exposing data), then
    ``publish_wap`` fast-forwards it into the published lineage. The
    query ASSERTS the isolation property at each step (pre-publish
    reads must not see staged rows) and returns the post-publish
    state, which the oracle recomputes relationally — a staged row
    leaking early or dropped at publish changes the answer.

    Scale: staging is a normal parallel append plus one metadata-log
    entry; audit reads plan from the log like any time travel;
    publish is a pure metadata commit (no data moves) — the
    dbt-style WAP pattern at warehouse scale."""
    from .datasource import register as register_ds
    from .maintenance import publish_wap, visible_count

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-wap-run", sf_dir), "colf_wap_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    # baseline from manifest arithmetic (visible_count, zero Spark
    # jobs); the isolation proof below stays a REAL reader count, so
    # the compare cross-checks the reader against the manifest
    n_published = visible_count(spark, path)
    mx = _CDC_MAXKEY[sf_dir]
    staged_rows = (table(spark, sf_dir, "orders")
                   .filter(F.col("o_orderkey") % 25 == 2)
                   .select((F.col("o_orderkey") + mx + 1).cast("int")
                           .alias("o_orderkey"),
                           F.lit("W").alias("o_orderstatus")))
    (staged_rows.coalesce(1).write.format("colf")
     .option("wap", "true").mode("append").save(path))

    # isolation: the staged commit must be invisible pre-publish
    n_visible = spark.read.format("colf").load(path).count()
    if n_visible != n_published:
        raise AssertionError(
            f"staged WAP commit leaked into normal reads: "
            f"{n_visible} vs {n_published} rows")
    # audit: the staged snapshot itself, via explicit version
    audit = (spark.read.format("colf").option("snapshot", "2")
             .load(path))
    n_audit = audit.count()
    if n_audit <= n_published:
        raise AssertionError(
            f"staged snapshot audit read saw {n_audit} rows "
            f"(published {n_published}) — staged data missing")
    publish_wap(path, 2)

    final = spark.read.format("colf").load(path)
    return final.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"),
        F.count(F.when(F.col("o_orderstatus") == "W", 1))
        .cast("bigint").alias("n_wap_rows"))


@register(
    "q187_colf_branch",
    oracle="""
    WITH landed AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders)
               AS o_orderkey,
             'B' AS o_orderstatus
      FROM orders WHERE o_orderkey % 30 = 4
      UNION ALL
      SELECT o_orderkey + 2 * (SELECT MAX(o_orderkey) + 1 FROM orders)
               AS o_orderkey,
             'B' AS o_orderstatus
      FROM orders WHERE o_orderkey % 30 = 5)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(COUNT(CASE WHEN o_orderstatus = 'B' THEN 1 END)
                AS BIGINT) AS n_branch_rows
    FROM landed
    """,
)
def q187_colf_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch lineages under the correctness gate (Iceberg branch +
    fast-forward — WAP generalized to MULTI-COMMIT staging): two
    appends land on a named branch (``option("branch", "dev")``),
    each advancing the branch head while the published table stays
    byte-identical; the query ASSERTS the isolation after every
    staged commit, audits the accumulated branch via
    ``option("ref", "dev")``, then ``fast_forward`` lands both
    commits as ONE published metadata commit. The oracle recomputes
    the landed state relationally — a staged row leaking early, a
    lost branch commit, or a wrong cherry-pick changes the answer.

    Scale: branch appends are ordinary parallel appends plus a ref
    update; the fast-forward is a pure metadata commit regardless of
    how many commits (or TBs) the branch accumulated — the multi-step
    ingestion-pipeline staging pattern at warehouse scale."""
    from .datasource import register as register_ds
    from .maintenance import create_branch, fast_forward, visible_count

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-branch-run", sf_dir), "colf_branch_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    # baseline from manifest arithmetic; each post-commit isolation
    # proof stays a REAL reader count (reader vs manifest cross-check)
    n_published = visible_count(spark, path)
    mx = _CDC_MAXKEY[sf_dir]
    create_branch(path, "dev")
    o = table(spark, sf_dir, "orders")
    for i, mod in enumerate((4, 5), start=1):
        staged = (o.filter(F.col("o_orderkey") % 30 == mod)
                  .select((F.col("o_orderkey") + i * (mx + 1)).cast("int")
                          .alias("o_orderkey"),
                          F.lit("B").alias("o_orderstatus")))
        (staged.coalesce(1).write.format("colf")
         .option("branch", "dev").mode("append").save(path))
        n_visible = spark.read.format("colf").load(path).count()
        if n_visible != n_published:
            raise AssertionError(
                f"branch commit {i} leaked into the published table: "
                f"{n_visible} vs {n_published} rows")
    # audit the accumulated branch before landing it
    n_branch = (spark.read.format("colf").option("ref", "dev")
                .load(path).count())
    if n_branch <= n_published:
        raise AssertionError(
            f"branch read saw {n_branch} rows (published "
            f"{n_published}) — staged commits missing")
    fast_forward(path, "dev")

    final = spark.read.format("colf").load(path)
    return final.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"),
        F.count(F.when(F.col("o_orderstatus") == "B", 1))
        .cast("bigint").alias("n_branch_rows"))


@register(
    "q188_colf_update",
    oracle="""
    WITH cut AS (SELECT MAX(o_orderkey) // 4 AS c FROM orders),
    updated AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= cut.c AND o_orderstatus = 'O'
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus
      FROM orders, cut)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM updated
    GROUP BY o_orderstatus
    """,
)
def q188_colf_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level UPDATE under the correctness gate
    (maintenance.update_where — the remaining DML verb next to
    q148 DELETE and q149 MERGE): 'O' orders in the lowest key
    quartile flip to status 'X'. Matches the oracle iff exactly the
    matching rows changed, every NULL/non-matching row survived
    byte-equal, and no row was lost or duplicated by the rewrite. The
    query ASSERTS the CoW cost model from the op's own stats:
    metadata-planned discovery (zone maps over the range-partitioned
    layout — no discovery scan) and a 1-of-4-file rewrite.

    Scale: the retention/backfill-update shape — discovery is free
    (sidecar metadata), cost is one read+write of the touched sliver;
    a full-scan UPDATE engine pays the whole table every time."""
    from .datasource import register as register_ds
    from .maintenance import update_where

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-update-run", sf_dir), "colf_upd_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    mx = _CDC_MAXKEY[sf_dir]
    stats = update_where(spark, path, {"o_orderstatus": "'X'"},
                         f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'")
    if stats["discovery"] != "metadata":
        raise AssertionError(
            f"key-range update should be metadata-planned, got "
            f"{stats['discovery']}")
    if not (1 <= stats["n_rewritten_files"] <= 2
            and stats["n_kept_files"] >= 2):
        raise AssertionError(
            f"key-quartile update should rewrite ~1 of 4 files, got "
            f"{stats['n_rewritten_files']} rewritten / "
            f"{stats['n_kept_files']} kept")
    back = spark.read.format("colf").load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q189_colf_clustered_maintenance",
    oracle="""
    WITH bounds AS (
      SELECT (MAX(l_partkey) * 3) // 10 AS lo_p,
             (MAX(l_partkey) * 4) // 10 AS hi_p,
             (MAX(l_suppkey) * 3) // 10 AS lo_s,
             (MAX(l_suppkey) * 4) // 10 AS hi_s
      FROM lineitem)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price,
           CAST(MIN(l_partkey) AS BIGINT) AS min_p,
           CAST(MAX(l_suppkey) AS BIGINT) AS max_s
    FROM lineitem, bounds
    WHERE l_partkey BETWEEN lo_p AND hi_p
      AND l_suppkey BETWEEN lo_s AND hi_s
    """,
)
def q189_colf_clustered_maintenance(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """RECORDED z-order clustering under the correctness gate (Delta
    OPTIMIZE ZORDER's model, completing the recorded-layout family
    next to q182's sort orders): lineitem lands HASH-SCATTERED on two
    keys (every file's zone maps span everything — a 10%x10% rectangle
    predicate prunes nothing), ``set_clustering`` records the layout
    as table metadata (one commit, no data), and ``compact()``
    re-clusters by the rank-normalized Morton interleave. The query
    ASSERTS from the manifest sidecar alone that the rectangle now
    overlaps at most half the files, that the clustering survived into
    the post-compaction log (the NEXT maintenance cycle keeps it), and
    returns the rectangle aggregate the oracle value-checks — layout
    must never change an answer.

    Scale: this is the maintenance-tier form of q169's write-side
    layout: at 100 TB the layout decision lives in table metadata, so
    every future OPTIMIZE restores multi-column pruning without any
    operator re-specifying it; the quantile pass is one scan and the
    cut points are metadata-sized."""
    from .datasource import current_clustering, load_manifest
    from .datasource import register as register_ds
    from .maintenance import compact, set_clustering

    register_ds(spark)

    def write(d: str) -> None:
        (table(spark, sf_dir, "lineitem")
         .select(F.col("l_partkey").cast("int").alias("l_partkey"),
                 F.col("l_suppkey").cast("int").alias("l_suppkey"),
                 F.col("l_extendedprice"))
         .repartition(8)
         .write.format("colf").option("version", "2")
         .mode("overwrite").save(d + "/ds"))
        set_clustering(d + "/ds", ["l_partkey", "l_suppkey"])

    tmpl = stage_once(("colf-clustered", sf_dir), "colf_clus_tmpl_", write)
    path = run_dir(("colf-clustered-run", sf_dir), "colf_clus_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    n_files = 8
    compact(spark, path, n_files)
    if current_clustering(path) != ["l_partkey", "l_suppkey"]:
        raise AssertionError(
            f"compaction must carry the recorded clustering, got "
            f"{current_clustering(path)}")
    man = load_manifest(path)
    mx_p = max(s["columns"]["l_partkey"]["max"] for s in man.values())
    mx_s = max(s["columns"]["l_suppkey"]["max"] for s in man.values())
    lo_p, hi_p = mx_p * 3 // 10, mx_p * 4 // 10
    lo_s, hi_s = mx_s * 3 // 10, mx_s * 4 // 10
    hit = sum(
        1 for s in man.values()
        if (s["columns"]["l_partkey"]["min"] <= hi_p
            and s["columns"]["l_partkey"]["max"] >= lo_p
            and s["columns"]["l_suppkey"]["min"] <= hi_s
            and s["columns"]["l_suppkey"]["max"] >= lo_s))
    if hit * 2 > n_files:
        raise AssertionError(
            f"post-compaction rectangle overlaps {hit}/{n_files} files "
            f"— recorded clustering is not restoring pruning")
    back = spark.read.format("colf").load(path).filter(
        (F.col("l_partkey") >= lo_p) & (F.col("l_partkey") <= hi_p)
        & (F.col("l_suppkey") >= lo_s) & (F.col("l_suppkey") <= hi_s))
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
         .cast("bigint").cast("double") / F.lit(100.0)).alias("sum_price"),
        F.min("l_partkey").cast("bigint").alias("min_p"),
        F.max("l_suppkey").cast("bigint").alias("max_s"))


@register(
    "q195_colf_mor_delete",
    oracle="""
    WITH cut AS (SELECT MAX(o_orderkey) // 4 AS c FROM orders),
    survivors AS (
      SELECT o_orderkey, o_orderstatus FROM orders, cut
      WHERE NOT (o_orderkey <= cut.c AND o_orderstatus = 'O')),
    appended AS (
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders)
               AS o_orderkey,
             'M' AS o_orderstatus
      FROM orders WHERE o_orderkey % 50 = 3)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM (SELECT * FROM survivors UNION ALL SELECT * FROM appended)
    GROUP BY o_orderstatus
    """,
)
def q195_colf_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ row-level DELETE under the correctness gate
    (maintenance.delete_where(mode="mor") — Iceberg v2 position
    deletes, the scale answer to the CoW family q148/q188): 'O'
    orders in the lowest key quartile are deleted by writing
    (file, position) sidecars and ONE metadata commit. The query
    ASSERTS the merge-on-read cost model from the op's stats and the
    filesystem itself: zero files rewritten, every data file
    byte-untouched (same set, same mtimes/sizes), >=1 sidecar
    committed — then proves the masks: the read sees exactly the
    survivors, the pre-delete snapshot still time-travels to the full
    count, and a subsequent APPEND inherits the delete list (masked
    rows must not resurrect). Matches the oracle iff the masked scan
    is row-exact per status group.

    Scale: at 100 TB a CoW delete of one row rewrites a ~128 MB file;
    this writes a KB-sized sidecar and a metadata commit. Readers pay
    one tiny decode per (delete file × addressed data file) — pruned
    per task by the sidecars' own file-column zone maps in the
    manifest — until compact() materializes the deletes away
    (pinned end-to-end in tests/test_colf_position_deletes.py).
    """
    import os

    from .datasource import live_files, load_snapshots
    from .datasource import register as register_ds
    from .maintenance import delete_where

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-mor-run", sf_dir), "colf_mor_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    mx = _CDC_MAXKEY[sf_dir]
    before = {f: (os.path.getmtime(f), os.path.getsize(f))
              for f in live_files(path)}
    stats = delete_where(
        spark, path,
        f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'", mode="mor")
    if stats["mode"] != "merge-on-read" or stats["n_rewritten_files"]:
        raise AssertionError(f"expected a pure metadata commit: {stats}")
    if stats["n_delete_files"] < 1 or stats["n_deleted_rows"] < 1:
        raise AssertionError(f"no positions were committed: {stats}")
    after = {f: (os.path.getmtime(f), os.path.getsize(f))
             for f in live_files(path)}
    if after != before:
        raise AssertionError(
            "merge-on-read delete touched data files: "
            f"{sorted(set(before) ^ set(after))}")
    snaps = load_snapshots(path)
    if not snaps[-1].get("deletes"):
        raise AssertionError("commit carries no delete sidecars")
    # the masks are exact: visible + deleted == the pre-delete
    # snapshot, counted through the reader itself
    n_now = spark.read.format("colf").load(path).count()
    n_v1 = (spark.read.format("colf").option("snapshot", "1")
            .option("columns", "o_orderkey").load(path).count())
    if n_now + stats["n_deleted_rows"] != n_v1:
        raise AssertionError(
            f"mask arithmetic broken: {n_now} visible + "
            f"{stats['n_deleted_rows']} deleted != {n_v1} at v1")
    # an append INHERITS the delete list — deleted rows stay masked
    o = table(spark, sf_dir, "orders")
    (o.filter(F.col("o_orderkey") % 50 == 3)
     .select((F.col("o_orderkey") + (mx + 1)).cast("int")
             .alias("o_orderkey"),
             F.lit("M").alias("o_orderstatus"))
     .coalesce(1).write.format("colf").mode("append").save(path))

    back = spark.read.format("colf").load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q197_colf_mor_update",
    oracle="""
    WITH cut AS (SELECT MAX(o_orderkey) // 4 AS c FROM orders),
    updated AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= cut.c AND o_orderstatus = 'O'
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus
      FROM orders, cut)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM updated
    GROUP BY o_orderstatus
    """,
)
def q197_colf_mor_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ row-level UPDATE under the correctness gate
    (maintenance.update_where(mode="mor") — Iceberg v2's
    delete-plus-append, the MoR twin of q188's CoW update): the same
    lowest-quartile 'O'→'X' flip, executed as position-delete sidecars
    masking the old images plus ordinary appended files carrying the
    new ones, in ONE metadata commit. The query ASSERTS the cost model
    from the op's stats and the filesystem: zero files rewritten,
    every pre-existing data file byte-untouched (same mtimes/sizes),
    >=1 sidecar AND >=1 appended file committed — then proves
    visibility algebra through the reader: updated images visible
    exactly once, old images masked, the pre-update snapshot
    time-travels to zero 'X' rows. Same oracle as q188: HOW the verb
    executes must never change WHAT it answers.

    Scale: the CoW update's cost is a read+write of every touched
    ~128 MB file; this writes the matched sliver twice (KB-sized
    coordinates + new images) regardless of how many file-fulls of
    rows sit around the matches. The trade is read-side: every scan
    until the next compact() pays the mask decode — exactly Iceberg's
    documented MoR trade."""
    import os

    from .datasource import live_files, load_snapshots
    from .datasource import register as register_ds
    from .maintenance import update_where

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-mor-upd-run", sf_dir), "colf_morupd_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    mx = _CDC_MAXKEY[sf_dir]
    before = {f: (os.path.getmtime(f), os.path.getsize(f))
              for f in live_files(path)}
    stats = update_where(
        spark, path, {"o_orderstatus": "'X'"},
        f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'", mode="mor")
    if stats["mode"] != "merge-on-read" or stats["n_rewritten_files"]:
        raise AssertionError(f"expected a pure MoR commit: {stats}")
    if stats["n_delete_files"] < 1 or stats["n_new_files"] < 1 \
            or stats["n_updated_rows"] < 1:
        raise AssertionError(f"MoR update committed nothing: {stats}")
    untouched = {f: m for f, m in
                 ((f, (os.path.getmtime(f), os.path.getsize(f)))
                  for f in live_files(path)) if f in before}
    if untouched != before:
        raise AssertionError("MoR update touched pre-existing files")
    snaps = load_snapshots(path)
    if not snaps[-1].get("deletes"):
        raise AssertionError("commit carries no delete sidecars")
    # old images masked, new visible once, time travel clean
    back = spark.read.format("colf").load(path)
    n_x = back.filter("o_orderstatus = 'X'").count()
    if n_x != stats["n_updated_rows"]:
        raise AssertionError(
            f"{stats['n_updated_rows']} rows updated but {n_x} 'X' "
            f"rows visible")
    n_x_v1 = (spark.read.format("colf").option("snapshot", "1")
              .load(path).filter("o_orderstatus = 'X'").count())
    if n_x_v1 != 0:
        raise AssertionError("updated images leaked into version 1")

    back = spark.read.format("colf").load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q198_colf_eq_delete",
    oracle="""
    WITH cut AS (SELECT MAX(o_orderkey) // 4 AS c FROM orders),
    survivors AS (
      SELECT o_orderkey, o_orderstatus FROM orders, cut
      WHERE NOT (o_orderkey <= cut.c AND o_orderstatus = 'O')),
    appended AS (
      SELECT -o_orderkey AS o_orderkey, 'O' AS o_orderstatus
      FROM orders WHERE o_orderkey % 40 = 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM (SELECT * FROM survivors UNION ALL SELECT * FROM appended)
    GROUP BY o_orderstatus
    """,
)
def q198_colf_eq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUALITY delete under the correctness gate
    (maintenance.delete_where(mode="eq") — Iceberg v2's second delete
    flavor, completing the delete triad next to CoW q148 and
    position-MoR q195): the low-quartile 'O' orders are deleted by
    committing THE PREDICATE ITSELF as table metadata — zero scans,
    zero data jobs, zero sidecar files, one log append. The query
    ASSERTS that radical cost model (the directory listing is
    byte-for-byte unchanged, n_delete_files == 0, the deleted count is
    honestly None — unknowable without a scan), then proves the two
    load-bearing semantics through the reader: (a) masking — matching
    rows vanish from every pre-delete file, even under a projection
    that EXCLUDES the predicate columns (the scan decodes them for the
    mask and drops them after); (b) SEQUENCE gating — appended rows
    that MATCH the predicate survive, because an equality delete masks
    only files whose first-appearance version predates it. That
    sequence rule is what makes this flavor safe for streaming upsert
    sinks, which cannot know positions at write time.

    Scale: the write side is O(predicate) — nothing else is touchable
    at any corpus size. The read side pays the predicate evaluation
    per batch (plus decoding the predicate columns when projected
    away) until compact() materializes; the evaluator is validated
    CLOSED at delete time (0-row probe of the reader's own kernel), so
    a committed equality delete can never fail to apply."""
    import os

    from .datasource import load_snapshots
    from .datasource import register as register_ds
    from .maintenance import delete_where

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-eq-run", sf_dir), "colf_eq_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    mx = _CDC_MAXKEY[sf_dir]
    listing_before = sorted(os.listdir(path))
    stats = delete_where(
        spark, path,
        f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'", mode="eq")
    if stats["mode"] != "merge-on-read-eq" \
            or stats["n_deleted_rows"] is not None \
            or stats["n_delete_files"] or stats["n_rewritten_files"]:
        raise AssertionError(f"expected a pure predicate commit: {stats}")
    if sorted(os.listdir(path)) != listing_before:
        raise AssertionError("equality delete wrote files")
    if not load_snapshots(path)[-1].get("eq_deletes"):
        raise AssertionError("commit carries no equality predicate")
    # three same-state proofs in ONE action (a union of labelled 1-row
    # counts): the projection-independence of the mask, the full count,
    # and the pre-delete snapshot count
    def one(df, k):
        return df.agg(F.count(F.lit(1)).alias("n")) \
            .select(F.lit(k).alias("k"), "n")

    counts = dict(
        (r["k"], r["n"]) for r in
        one(spark.read.format("colf").option("columns", "o_orderkey")
            .load(path), "proj")
        .unionAll(one(spark.read.format("colf").load(path), "full"))
        .unionAll(one(spark.read.format("colf").option("snapshot", "1")
                      .option("columns", "o_orderkey").load(path), "v1"))
        .collect())
    n_proj, n_full, n_v1 = counts["proj"], counts["full"], counts["v1"]
    if n_proj != n_full:
        raise AssertionError(
            f"projected scan saw {n_proj} rows, full scan {n_full} — "
            f"the mask must not depend on the projection")
    if n_full >= n_v1:
        raise AssertionError("the equality delete masked nothing")
    # sequence semantics: appended rows MATCHING the predicate survive
    o = table(spark, sf_dir, "orders")
    (o.filter(F.col("o_orderkey") % 40 == 1)
     .select((-F.col("o_orderkey")).cast("int").alias("o_orderkey"),
             F.lit("O").alias("o_orderstatus"))
     .coalesce(1).write.format("colf").mode("append").save(path))
    back = spark.read.format("colf").load(path)
    n_neg = back.filter("o_orderkey < 0").count()
    if n_neg == 0:
        raise AssertionError(
            "post-delete append was masked — sequence gating broken")

    back = spark.read.format("colf").load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q199_colf_mor_merge",
    oracle="""
    WITH tgt AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    src AS (
      SELECT o_orderkey,
             o_totalprice * 2 AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
             o_totalprice,
             'N'
      FROM orders WHERE o_orderkey % 100 = 7),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT * FROM tgt
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM merged
    GROUP BY o_orderstatus
    """,
)
def q199_colf_mor_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ key-UPSERT under the correctness gate
    (maintenance.merge_into(mode="mor") — completing the MoR DML triad
    next to q195 DELETE and q197 UPDATE, and the CoW/MoR matrix
    against q149): the same updates-plus-inserts source as q149,
    executed as position-delete sidecars masking every matched target
    row plus the WHOLE source appended as ordinary data files, in ONE
    metadata commit. Position deletes (never per-column equality
    predicates) carry the masks so multi-column keys would stay exact
    too. The query ASSERTS the MoR cost model — zero rewritten files,
    every pre-existing data file byte-untouched, >=1 sidecar and >=1
    appended file, the exact replaced-row count from the sidecar
    manifest alone — and the same oracle as q149 proves HOW the verb
    executes never changes WHAT it answers.

    Scale: the matched-coordinate scan is one zone-map/Bloom-prunable
    pass over the key columns only; the writes are sliver-sized
    (coordinates + source). A CoW merge pays a read+write of every
    touched ~128 MB file; at CDC cadence (many small upserts between
    compactions) MoR is the only shape that holds — exactly why
    Iceberg v2 streaming upserts write this way."""
    import os

    from .datasource import live_files, load_snapshots
    from .datasource import register as register_ds
    from .maintenance import merge_into

    register_ds(spark)
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        F.col("o_totalprice").alias("o_totalprice"),
        F.col("o_orderstatus").alias("o_orderstatus"),
    )

    def write(d: str) -> None:
        (o.repartitionByRange(4, "o_orderkey").write.format("colf")
         .option("version", "2").mode("append").save(d + "/ds"))
        _MERGE_MAXKEY[sf_dir] = o.agg(F.max("o_orderkey")).first()[0]

    tmpl = stage_once(("cow-mrg", sf_dir), "colf_mrg_tmpl_", write)
    path = run_dir(("mor-mrg-run", sf_dir), "colf_mormrg_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    max_key = _MERGE_MAXKEY[sf_dir]
    updates = (o.filter(F.col("o_orderkey") % 10 == 3)
               .select("o_orderkey",
                       (F.col("o_totalprice") * 2).alias("o_totalprice"),
                       F.lit("U").alias("o_orderstatus")))
    inserts = (o.filter(F.col("o_orderkey") % 100 == 7)
               .select((F.col("o_orderkey") + F.lit(int(max_key) + 1))
                       .cast("int").alias("o_orderkey"),
                       "o_totalprice",
                       F.lit("N").alias("o_orderstatus")))
    before = {f: (os.path.getmtime(f), os.path.getsize(f))
              for f in live_files(path)}
    stats = merge_into(spark, path, updates.unionAll(inserts),
                       ["o_orderkey"], mode="mor")
    if stats["mode"] != "merge-on-read" or stats["n_rewritten_files"]:
        raise AssertionError(f"expected a pure MoR commit: {stats}")
    if stats["n_delete_files"] < 1 or stats["n_new_files"] < 1:
        raise AssertionError(f"MoR merge committed nothing: {stats}")
    if stats["n_replaced_rows"] < 1 \
            or stats["n_replaced_rows"] >= stats["n_source_rows"]:
        raise AssertionError(
            f"replaced-count shape wrong (updates are a strict subset "
            f"of the source): {stats}")
    untouched = {f: m for f, m in
                 ((f, (os.path.getmtime(f), os.path.getsize(f)))
                  for f in live_files(path)) if f in before}
    if untouched != before:
        raise AssertionError("MoR merge touched pre-existing files")
    if not load_snapshots(path)[-1].get("deletes"):
        raise AssertionError("commit carries no delete sidecars")

    back = spark.read.format("colf").load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
         .cast("bigint").cast("double") / F.lit(100.0)).alias("sum_price"),
        F.min(F.col("o_orderkey").cast("bigint")).alias("min_key"),
        F.max(F.col("o_orderkey").cast("bigint")).alias("max_key"),
    )


@register(
    "q200_colf_cdc_stream",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    v1 AS (  -- initial load replays as inserts
      SELECT 1 AS _commit_version, 'insert' AS _change_type, o_orderkey
      FROM orders),
    v2 AS (  -- MoR position delete: low-quartile 'O' orders
      SELECT 2, 'delete', o_orderkey FROM orders, mx
      WHERE o_orderkey <= mx.m // 4 AND o_orderstatus = 'O'),
    v3d AS ( -- MoR merge masks matched keys still visible at v2
      SELECT 3, 'delete', o_orderkey FROM orders, mx
      WHERE o_orderkey % 50 = 3
        AND NOT (o_orderkey <= mx.m // 4 AND o_orderstatus = 'O')),
    v3i AS ( -- ... and appends the whole source (updates + inserts)
      SELECT 3, 'insert', o_orderkey FROM orders WHERE o_orderkey % 50 = 3
      UNION ALL
      SELECT 3, 'insert', o_orderkey + mx.m + 1 FROM orders, mx
      WHERE o_orderkey % 50 = 7),
    v4 AS (  -- equality delete among rows still visible at v3
      SELECT 4, 'delete', o_orderkey FROM orders, mx
      WHERE o_orderkey > 3 * (mx.m // 4) AND o_orderstatus = 'F'
        AND o_orderkey % 50 <> 3),
    chg AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
            UNION ALL SELECT * FROM v3d UNION ALL SELECT * FROM v3i
            UNION ALL SELECT * FROM v4)
    SELECT _commit_version, _change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM chg GROUP BY _commit_version, _change_type
    """,
)
def q200_colf_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CHANGE DATA FEED over a merge-on-read-mutated dataset
    (``spark.readStream.format("colf").option("readChangeFeed",
    "true")`` — the Delta CDF / Iceberg changelog-scan surface): the
    table takes a MoR position delete, a MoR MERGE (masks + appended
    images), and an equality delete; the stream then replays the whole
    history as row-level ``_change_type`` insert/delete rows, one
    micro-batch planning unit per commit, and the per-commit counts and
    key sums must match the oracle's independent reconstruction.

    No CDC files are written at DML time: every commit class here is
    METADATA-REPLAYABLE (added files → inserts; delta sidecars → the
    exact deleted ordinals; a new equality predicate → its matches
    among rows still visible at the parent, parent masks applied
    executor-side). Copy-on-write rewrite commits are the one
    non-replayable class — the stream refuses them loudly (or skips
    with skipChangeCommits), and batch maintenance.snapshot_changelog
    covers them via exceptAll cancellation (q184's exact tier).

    Scale: planning is log+manifest-sized on the driver (zone maps
    prune delete sidecars per data file; no data file opened); each
    partition decodes one file/stripe's changes Arrow-side. A tailing
    consumer pays per-commit deltas, never a table rescan — the shape
    a 100 TB CDC pipeline needs. compact(retain=True) commits are
    marked data_change=false and replay as ZERO change rows (pinned in
    tests/test_colf_cdc.py)."""
    from ..streaming.stream_queries import _drain
    from .datasource import register as register_ds
    from .maintenance import delete_where, merge_into

    register_ds(spark)

    def build(d: str) -> None:
        # the feed INPUT — a metadata-replayable 3-commit MoR/equality
        # DML history (each commit's pure-metadata contract asserted at
        # build) — staged once per process; the operators under test
        # (the CDF stream, the one-commit-per-trigger rate-limited
        # drain) run per invocation on a fresh clone
        base = _stage_cdc_orders(spark, sf_dir)
        clone_dataset(base + "/ds", d + "/ds")
        mx = _CDC_MAXKEY[sf_dir]
        # v2: MoR position delete (sidecars + one metadata commit)
        s2 = delete_where(
            spark, d + "/ds",
            f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'", mode="mor")
        if s2["mode"] != "merge-on-read" or s2["n_rewritten_files"]:
            raise AssertionError(f"expected a pure metadata commit: {s2}")
        # v3: MoR MERGE — update every %50==3 key to status 'M', insert
        # fresh keys shifted above the key space
        o = table(spark, sf_dir, "orders")
        src = (o.filter(F.col("o_orderkey") % 50 == 3)
               .select(F.col("o_orderkey").cast("int").alias("o_orderkey"),
                       F.lit("M").alias("o_orderstatus"))
               .unionAll(
                   o.filter(F.col("o_orderkey") % 50 == 7)
                   .select((F.col("o_orderkey") + (mx + 1)).cast("int")
                           .alias("o_orderkey"),
                           F.lit("M").alias("o_orderstatus"))))
        s3 = merge_into(spark, d + "/ds", src, ["o_orderkey"], mode="mor")
        if s3["n_rewritten_files"]:
            raise AssertionError(f"MoR merge rewrote data files: {s3}")
        # v4: equality delete — pure predicate metadata, zero scans
        delete_where(
            spark, d + "/ds",
            f"o_orderkey > {3 * (mx // 4)} AND o_orderstatus = 'F'",
            mode="eq")

    tmpl = stage_once(("colf-cdcstream-tmpl", sf_dir),
                      "colf_cdcstream_tmpl_", build)
    path = run_dir(("colf-cdcstream-run", sf_dir), "colf_cdcstream_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    # cheap per-run template sanity (r13 advice): the clone must carry
    # the full 4-commit history with the MoR masks and the equality
    # predicate live — a stale/corrupt template fails loudly here, not
    # as an oracle mismatch downstream
    from .datasource import published_head

    _head = published_head(path)
    if (_head or {}).get("version") != 4 or not _head.get("deletes") \
            or not _head.get("eq_deletes"):
        raise AssertionError(
            f"staged CDC template malformed on the clone: {_head and _head['version']}")

    cdc = (spark.readStream.format("colf")
           .option("readChangeFeed", "true").load(path))
    got = _drain(cdc, "append")

    # round-11 rate-limit variant: the same feed drained ONE COMMIT
    # PER TRIGGER (maxCommitsPerTrigger — the atomicity-preserving
    # changelog cap) must take exactly head-version triggers and
    # deliver exactly the same number of change rows. Driven through
    # the reader's own offset API — the bounded-micro-batch contract
    # a CDC consumer of a huge-commit table relies on.
    import warnings

    from .datasource import ColfStreamReader, load_snapshots

    head_v = load_snapshots(path)[-1]["version"]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # AvailableNow caveat warning
        rdr = ColfStreamReader(
            {"path": path, "readChangeFeed": "true",
             "maxCommitsPerTrigger": "1"}, cdc.schema)
    off = rdr.initialOffset()
    capped_rows = 0
    n_triggers = 0
    while True:
        end = rdr.latestOffset()
        if end == off:
            break
        n_triggers += 1
        if end["cv"] != off["cv"] + 1:
            raise AssertionError(
                f"capped trigger admitted more than one commit: "
                f"{off} -> {end}")
        for p in rdr.partitions(off, end):
            for rb in rdr.read(p):
                capped_rows += rb.num_rows
        rdr.commit(end)
        off = end
    if n_triggers != head_v or capped_rows != got.count():
        raise AssertionError(
            f"rate-limited drain diverged: {n_triggers} triggers "
            f"(head {head_v}), {capped_rows} rows vs {got.count()}")

    return got.groupBy(
        F.col("_commit_version").cast("bigint").alias("_commit_version"),
        "_change_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
          F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q201_colf_rewrite_deletes",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    s1 AS (  -- v2: MoR delete of low-quartile 'O' orders
      SELECT o_orderkey, o_orderstatus FROM orders, mx
      WHERE NOT (o_orderkey <= mx.m // 4 AND o_orderstatus = 'O')),
    s2 AS (  -- v3: MoR update flips every visible %50==3 key to 'U'
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 50 = 3 THEN 'U'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM s1),
    s3 AS (  -- v4: MoR delete of top-quartile 'F' orders
      SELECT s2.o_orderkey, s2.o_orderstatus FROM s2, mx
      WHERE NOT (s2.o_orderkey > 3 * (mx.m // 4)
                 AND s2.o_orderstatus = 'F'))
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM s3 GROUP BY o_orderstatus
    """,
)
def q201_colf_rewrite_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINOR compaction of position-delete sidecars
    (maintenance.rewrite_delete_files — Iceberg's
    RewritePositionDeleteFiles): three MoR DML commits (delete,
    update, delete) each add per-scan-task sidecars; the rewrite
    coalesces them to ONE sidecar in a single metadata commit. The
    query ASSERTS the maintenance contract from the stats, the
    manifest, and the filesystem — strictly fewer sidecar files, every
    data file byte-untouched (same set, same mtimes/sizes), visible
    row count unchanged, data_change=false recorded — then aggregates
    through the rewritten masks; it matches the oracle iff the merged
    sidecars mask exactly the rows the three DMLs killed.

    Scale: sidecars decode EXECUTOR-side (mapInArrow, one Arrow decode
    each, never collected); dead entries drop via a broadcast semi
    join against the metadata-sized live list; outputs are
    range-partitioned on (file, pos) so each rewritten sidecar covers
    a contiguous data-file range and zone-map-prunes tightly. This is
    the scheduled cheap maintenance between full compact() runs: reads
    consult one sidecar instead of one per historical DML commit
    (fuzzed against the pandas DML model in
    tests/test_colf_dml_model.py; pinned in
    tests/test_colf_position_deletes.py)."""
    import os

    from .datasource import live_files, load_snapshots
    from .datasource import register as register_ds
    from .maintenance import (delete_where, rewrite_delete_files,
                              update_where, visible_count)

    register_ds(spark)

    def build(d: str) -> None:
        # the rewrite INPUT — three MoR DML commits' accumulated
        # sidecars — staged once per process; the operators under test
        # (rewrite_delete_files and its stats-noop gate) run per
        # invocation on a fresh clone
        base = _stage_cdc_orders(spark, sf_dir)
        clone_dataset(base + "/ds", d + "/ds")
        mx = _CDC_MAXKEY[sf_dir]
        delete_where(spark, d + "/ds",
                     f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'",
                     mode="mor")
        update_where(spark, d + "/ds", {"o_orderstatus": "'U'"},
                     "o_orderkey % 50 = 3", mode="mor")
        delete_where(spark, d + "/ds",
                     f"o_orderkey > {3 * (mx // 4)} AND o_orderstatus = 'F'",
                     mode="mor")

    tmpl = stage_once(("colf-rdel-tmpl", sf_dir), "colf_rdel_tmpl_", build)
    path = run_dir(("colf-rdel-run", sf_dir), "colf_rdel_") + "/ds"
    clone_dataset(tmpl + "/ds", path)
    dels_before = load_snapshots(path)[-1].get("deletes") or []
    if len(dels_before) < 3:
        raise AssertionError(
            f"expected >=3 sidecars from 3 MoR commits: {dels_before}")
    before = {f: (os.path.getmtime(f), os.path.getsize(f))
              for f in live_files(path)}
    # baseline from manifest-minus-masks arithmetic (visible_count);
    # the post-rewrite proof below stays a REAL reader count, so the
    # compare cross-checks the rewritten masks against the manifest
    n_visible = visible_count(spark, path)

    stats = rewrite_delete_files(spark, path)
    if stats["n_delete_files_after"] >= stats["n_delete_files_before"]:
        raise AssertionError(f"sidecars did not shrink: {stats}")
    # round-12: the output count is STATS-SIZED (~one sidecar per
    # median live data file's rows), asserted like q214's strategies
    if stats["target_from"] != "stats-median-live":
        raise AssertionError(f"rewrite not stats-sized: {stats}")
    # and an immediate re-run must NO-OP from metadata alone: count
    # already at target, no data file removed since the rewrite commit
    stats2 = rewrite_delete_files(spark, path)
    if stats2.get("skipped") != "stats-noop" \
            or stats2["version"] != stats["version"]:
        raise AssertionError(f"converged rewrite did not skip: {stats2}")
    after = {f: (os.path.getmtime(f), os.path.getsize(f))
             for f in live_files(path)}
    if after != before:
        raise AssertionError(
            "rewrite_delete_files touched data files: "
            f"{sorted(set(before) ^ set(after))}")
    head = load_snapshots(path)[-1]
    if head.get("data_change") is not False:
        raise AssertionError("rewrite commit not marked data_change=false")
    if len(head.get("deletes") or []) != stats["n_delete_files_after"]:
        raise AssertionError("committed delete list != rewrite output")
    back = spark.read.format("colf").load(path)
    if back.count() != n_visible:
        raise AssertionError("visible rows changed across the rewrite")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q202_colf_schema_evolution",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    base AS (
      SELECT o_orderkey, o_orderstatus AS status FROM orders
      UNION ALL
      SELECT o_orderkey + mx.m + 1, 'M' FROM orders, mx
      WHERE o_orderkey % 50 = 7),
    vis AS (
      SELECT base.o_orderkey, base.status FROM base, mx
      WHERE NOT (base.status = 'O' AND base.o_orderkey <= mx.m // 4))
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM vis GROUP BY status
    """,
)
def q202_colf_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIELD-ID schema evolution (maintenance.rename_column /
    widen_column — the Iceberg model): the status column is RENAMED and
    the key column WIDENED int32→float64 as pure metadata commits; an
    append then lands files under the NEW schema next to the old-named
    int32 files, and a merge-on-read delete (condition written in the
    new names) masks rows across BOTH file generations. The aggregate
    matches the oracle iff by-ID resolution unifies old and new files
    exactly: old files' 'o_orderstatus' surfaces as 'status' via the
    frozen bootstrap name mapping, their int32 keys cast to float64 at
    decode, and the new files resolve by their embedded ids.

    Scale: rename/drop/widen are one metadata commit each — zero data
    bytes at any table size (a name-based engine rewrites the table).
    Readers pay one extra dict lookup per column per file; zone-map
    pruning keeps working for new-name files and degrades to
    keep-everything (never wrong) for old-name files. Time travel
    resolves the schema of its era (asserted in-query). Pinned with
    drop/re-add no-resurrection and guard coverage in
    tests/test_colf_schema_evolution.py; fuzzed as a rename op in
    tests/test_colf_dml_model.py."""
    from .datasource import register as register_ds
    from .maintenance import delete_where, rename_column, widen_column

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-evo-run", sf_dir), "colf_evo_") + "/ds"
    clone_dataset(tmpl + "/ds", path)
    mx = _CDC_MAXKEY[sf_dir]

    rename_column(path, "o_orderstatus", "status")      # v2: metadata only
    widen_column(path, "o_orderkey")                    # v3: int32→float64
    got = spark.read.format("colf").load(path)
    if got.columns != ["o_orderkey", "status"] \
            or dict(got.dtypes)["o_orderkey"] != "double":
        raise AssertionError(f"evolved schema wrong: {got.dtypes}")
    # time travel sees the schema of its era
    tv = spark.read.format("colf").option("snapshot", "1").load(path)
    if tv.columns != ["o_orderkey", "o_orderstatus"]:
        raise AssertionError(f"v1 schema not preserved: {tv.columns}")
    # append under the NEW schema (float64 key, new column name)
    o = table(spark, sf_dir, "orders")
    (o.filter(F.col("o_orderkey") % 50 == 7)
     .select((F.col("o_orderkey") + (mx + 1)).cast("double")
             .alias("o_orderkey"),
             F.lit("M").alias("status"))
     .coalesce(1).write.format("colf").mode("append").save(path))  # v4
    # MoR delete in the NEW names masks rows in OLD-named int32 files
    s = delete_where(spark, path,
                     f"status = 'O' AND o_orderkey <= {mx // 4}",
                     mode="mor")
    if s["n_rewritten_files"] or s["n_deleted_rows"] < 1:
        raise AssertionError(f"MoR delete under evolved schema: {s}")
    back = spark.read.format("colf").load(path)
    return back.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q203_colf_sql_surface",
    oracle="""
    SELECT l_linenumber,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey % 2 = 0)
                AS BIGINT) AS n_v1
    FROM lineitem WHERE l_orderkey > 1000
    GROUP BY l_linenumber
    """,
)
def q203_colf_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point (datasource.register_table): a real user's
    first act is often ``spark.sql``, so the staged three-version COLF
    dataset is registered as TABLES — the current version, and a
    TIME-TRAVEL view pinned at v1 — and ONE SQL statement aggregates
    the current table under a pushable key predicate while a scalar
    subquery counts the v1 table. Matches the oracle iff the SQL
    surface sees exactly the DataFrame API's semantics: same zone-map
    pruned scan, same snapshot resolution.

    Why views, not catalog tables: upstream PySpark 4.1.2 does not
    plumb ``CREATE TABLE ... USING colf OPTIONS (path ...)`` options
    into Python data source SCANS (the reader is constructed with an
    empty options map), so catalog tables create but cannot select.
    The gap is pinned with an upgrade canary in tests/test_colf_sql.py
    (the same discipline as the pushdown scan-reuse hazard); this
    query is the switch point when a Spark upgrade fixes it.

    Scale: nothing here is view-specific — Catalyst plans the exact
    scan the DataFrame API gets, so pushdown, stripe planning, and
    snapshot pinning are identical at any table size."""
    from .datasource import register as register_ds
    from .datasource import register_table

    register_ds(spark)
    path = _stage_timetravel_colf(spark, sf_dir)
    register_table(spark, "colf_li_sql", path)
    register_table(spark, "colf_li_sql__v1", path, snapshot=1)
    return spark.sql("""
        SELECT l_linenumber,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               (SELECT COUNT(*) FROM colf_li_sql__v1) AS n_v1
        FROM colf_li_sql WHERE l_orderkey > 1000
        GROUP BY l_linenumber
    """)


@register(
    "q206_colf_orphan_cleanup",
    oracle="""
    WITH cut AS (SELECT MAX(o_orderkey) // 4 AS c FROM orders)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders, cut
    WHERE NOT (o_orderkey <= cut.c AND o_orderstatus = 'O')
    GROUP BY o_orderstatus
    """,
)
def q206_colf_orphan_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORPHAN-file cleanup (maintenance.remove_orphan_files —
    Iceberg's remove_orphan_files action, the complement of vacuum's
    expire_snapshots): files NO snapshot references — a crashed
    writer's pre-commit part file, an abandoned compact() scratch dir,
    a stranded manifest rename temp — are reclaimed WITHOUT expiring a
    single snapshot. The query stages a CoW delete (so v1's
    rewritten-away files are referenced only by HISTORY), plants all
    three crash artifacts plus one recent orphan, then asserts the
    four-way contract in-query: (1) dry_run reports exactly the aged
    artifacts and deletes nothing; (2) the real run removes exactly
    them; (3) the snapshot log is byte-identical and v1 still
    time-travels to the pre-delete count — history files are NOT
    orphans, the distinction from vacuum; (4) the recent orphan
    survives the grace period (Iceberg's in-flight-writer guard).
    It then aggregates the table, matching the oracle iff cleanup
    changed nothing visible.

    Scale: the whole operation is metadata + directory-listing bound —
    no data file is opened, no Spark job runs; on an object store this
    is the one maintenance action that needs only LIST + DELETE. The
    grace period (default 3 days, Iceberg's) is what makes it safe to
    run concurrently with writers at any scale."""
    import os
    import shutil
    import time as _time

    from .datasource import register as register_ds
    from .maintenance import (delete_where, remove_orphan_files,
                              visible_count)

    register_ds(spark)

    def build(d: str) -> None:
        # the sweep INPUT — a 2-version history whose v1 files are
        # referenced only by HISTORY (the CoW delete rewrote them
        # away) — staged once per process (r13 verdict item #4, the
        # 2c80a2d pattern); the operators under test (artifact
        # planting, dry_run, the sweep, and all four contract proofs)
        # run per invocation on a fresh clone
        base = _stage_cdc_orders(spark, sf_dir)
        clone_dataset(base + "/ds", d + "/ds")
        mx = _CDC_MAXKEY[sf_dir]
        delete_where(spark, d + "/ds",
                     f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'")

    tmpl = stage_once(("colf-orphan-tmpl", sf_dir), "colf_orphan_tmpl_",
                      build)
    path = run_dir(("colf-orphan-run", sf_dir), "colf_orphan_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    # baselines from manifest arithmetic (zero Spark jobs); both
    # post-sweep proofs below stay REAL reader counts — v1 must
    # actually OPEN its history files to prove they survived the sweep
    n_v1 = visible_count(spark, path, snapshot=1)
    n_now = visible_count(spark, path)

    # plant the crash artifacts, aged past the grace period
    live0 = sorted(f for f in os.listdir(path) if f.endswith(".colf"))
    old_t = _time.time() - 7200
    aged = "part-orphan-crashed.colf"
    shutil.copy2(os.path.join(path, live0[0]), os.path.join(path, aged))
    os.utime(os.path.join(path, aged), (old_t, old_t))
    scratch = path + ".compact-deadcafe"
    os.makedirs(scratch)
    with open(os.path.join(scratch, "junk.colf"), "wb") as fh:
        fh.write(b"junk")
    os.utime(scratch, (old_t, old_t))
    # a manifest shard write that never reached its rename
    mtmp = "_manifests/.tmp-dead0"
    with open(os.path.join(path, mtmp), "w") as fh:
        fh.write("{}")
    os.utime(os.path.join(path, mtmp), (old_t, old_t))
    recent = "part-orphan-recent.colf"
    # plain copy + explicit fresh mtime — copy2 preserves the SOURCE
    # mtime, and the source can be a template-era file older than the
    # grace period, which would flake both assertions (round-10 advice)
    shutil.copy(os.path.join(path, live0[0]), os.path.join(path, recent))
    now_t = _time.time()
    os.utime(os.path.join(path, recent), (now_t, now_t))

    expect = {aged, os.path.basename(scratch), mtmp}
    from .datasource import log_fingerprint

    log_before = log_fingerprint(path)

    dry = set(remove_orphan_files(path, older_than_s=3600, dry_run=True))
    if dry != expect:
        raise AssertionError(f"dry_run reported {dry}, expected {expect}")
    if not os.path.exists(os.path.join(path, aged)):
        raise AssertionError("dry_run deleted a file")
    removed = set(remove_orphan_files(path, older_than_s=3600))
    if removed != expect:
        raise AssertionError(f"removed {removed}, expected {expect}")
    if os.path.exists(os.path.join(path, aged)) or os.path.isdir(scratch):
        raise AssertionError("aged orphan artifacts survived the sweep")
    if not os.path.exists(os.path.join(path, recent)):
        raise AssertionError("grace period violated: recent orphan swept")
    if log_fingerprint(path) != log_before:
        raise AssertionError("remove_orphan_files rewrote the log")
    v1 = spark.read.format("colf").option("snapshot", 1).load(path)
    if v1.count() != n_v1:
        raise AssertionError("history files swept: v1 no longer readable")
    back = spark.read.format("colf").load(path)
    if back.count() != n_now:
        raise AssertionError("visible rows changed across the cleanup")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q207_colf_metadata_tables",
    oracle="""
    WITH cut AS (SELECT MAX(o_orderkey) // 4 AS c FROM orders),
    appended AS (
      SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 40 = 1),
    head AS (
      SELECT (SELECT COUNT(*) FROM orders, cut
              WHERE NOT (o_orderkey <= cut.c AND o_orderstatus = 'O'))
             + (SELECT n FROM appended) AS n)
    SELECT 'appended_rows' AS metric, CAST(n AS BIGINT) AS n FROM appended
    UNION ALL
    SELECT 'head_rows' AS metric, CAST(n AS BIGINT) AS n FROM head
    """,
)
def q207_colf_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA TABLES as queryable DataFrames
    (maintenance.metadata_table; SQL via register_table(...,
    metadata="files") — Iceberg's ``table$files`` / ``$snapshots`` /
    ``$refs``, Delta's DESCRIBE DETAIL/HISTORY): the table's own
    manifest and log become relations. Staged history: append (v2,
    keys above the original range) then a key-localized CoW delete
    (v3). The query asserts the catalog contract in-query — three
    snapshot rows with the right file counts, the delete commit
    flagged data_change, the tag visible in ``refs`` at v3, every
    live file carrying stats — then answers ENTIRELY FROM METADATA:
    total visible rows (sum of per-file n_rows — exact because CoW
    leaves no masks) and rows introduced by the append (files whose
    first_version is 2, i.e. their Iceberg sequence number). The
    oracle recomputes both relationally; a match proves the manifest
    row counts and sequence numbers are exact, not advisory.

    Scale: both answers aggregate the FILES table — manifest-sized
    input (one row per file), zero data I/O; this is the Delta/Iceberg
    statistics fast path exposed as a relation instead of a special
    case (q172's profile is the widened twin)."""
    from .datasource import register as register_ds
    from .datasource import register_table
    from .maintenance import create_tag, delete_where, metadata_table

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-metatables-run", sf_dir), "colf_meta_") + "/ds"
    clone_dataset(tmpl + "/ds", path)
    mx = _CDC_MAXKEY[sf_dir]

    inserts = (table(spark, sf_dir, "orders")
               .filter(F.col("o_orderkey") % 40 == 1)
               .select((F.col("o_orderkey") + mx + 1).cast("int")
                       .alias("o_orderkey"),
                       F.lit("C").alias("o_orderstatus")))
    inserts.coalesce(1).write.format("colf").mode("append").save(path)
    delete_where(spark, path,
                 f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'")
    create_tag(path, "audited")

    snaps = metadata_table(spark, path, "snapshots").collect()
    if [r.version for r in snaps] != [1, 2, 3]:
        raise AssertionError(f"expected versions 1..3: {snaps}")
    if any(r.staged or r.branch is not None for r in snaps):
        raise AssertionError("no commit here is staged or on a branch")
    if snaps[-1].data_change is False:
        raise AssertionError("a CoW delete IS a data change")
    refs = metadata_table(spark, path, "refs").collect()
    if [(r.name, r.version) for r in refs] != [("audited", 3)]:
        raise AssertionError(f"refs table wrong: {refs}")
    files = register_table(spark, "colf_meta_files", path,
                           metadata="files")
    rows = files.collect()
    if len(rows) != snaps[-1].n_files:
        raise AssertionError(
            f"files table has {len(rows)} rows, head snapshot says "
            f"{snaps[-1].n_files} files")
    if any(r.n_rows <= 0 or r.size_bytes <= 0 or r.first_version is None
           for r in rows):
        raise AssertionError(f"files table missing stats: {rows}")

    appended = spark.sql("""
        SELECT CAST(SUM(n_rows) AS BIGINT) AS n FROM colf_meta_files
        WHERE first_version = 2""").select(
        F.lit("appended_rows").alias("metric"), "n")
    head = files.agg(F.sum("n_rows").cast("bigint").alias("n")).select(
        F.lit("head_rows").alias("metric"), "n")
    return appended.unionAll(head)


@register(
    "q208_colf_check_constraints",
    oracle="""
    WITH app AS (
      SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders)
               AS o_orderkey,
             'P' AS o_orderstatus
      FROM orders WHERE o_orderkey % 40 = 1),
    allr AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      UNION ALL SELECT o_orderkey, o_orderstatus FROM app)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM allr GROUP BY o_orderstatus
    """,
)
def q208_colf_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table CHECK constraints (maintenance.add_constraint /
    drop_constraint — Delta's ALTER TABLE ADD CONSTRAINT): named SQL
    conditions become table metadata that every write path — append,
    overwrite, DML rewrite, streaming micro-batch — validates
    EXECUTOR-side before a single byte lands; a violating write fails
    the job with nothing committed. The query asserts the contract
    in-query: (1) a constraint existing rows violate is refused at
    add time (Delta's validation scan); (2) a violating append raises
    and leaves version + row count untouched; (3) a violating CoW
    UPDATE raises through the rewrite path and the table keeps zero
    mutated rows; (4) a conforming append lands. It then aggregates
    the final table; matching the oracle proves the failed writes
    left no partial state behind.

    Scale: enforcement is DuckDB over each write task's own Arrow
    batches — vectorized, zero-copy, no added shuffle, no driver
    involvement, arbitrary SQL conditions; the add-time validation
    scan is one pushdown-filtered count over the table. Violations
    fail BEFORE file creation, so aborted writes leave nothing for
    remove_orphan_files to sweep."""
    from .datasource import register as register_ds
    from .datasource import load_snapshots
    from .format import ColfFormatError
    from .maintenance import add_constraint, update_where, visible_count

    register_ds(spark)
    tmpl = _stage_cdc_orders(spark, sf_dir)
    path = run_dir(("colf-constraints-run", sf_dir), "colf_chk_") + "/ds"
    clone_dataset(tmpl + "/ds", path)
    mx = _CDC_MAXKEY[sf_dir]

    add_constraint(spark, path, "status_domain",
                   "o_orderstatus IN ('O','F','P')")
    add_constraint(spark, path, "key_nonneg", "o_orderkey >= 0")
    try:
        add_constraint(spark, path, "impossible", f"o_orderkey > {mx}")
        raise AssertionError("violated-by-existing-data add not refused")
    except ColfFormatError:
        pass

    head0 = load_snapshots(path)[-1]["version"]
    # baseline from manifest arithmetic; the post-refusal proof below
    # stays a REAL reader count (reader vs manifest cross-check)
    n0 = visible_count(spark, path)
    bad = (table(spark, sf_dir, "orders")
           .filter(F.col("o_orderkey") % 40 == 1)
           .select((F.col("o_orderkey") + mx + 1).cast("int")
                   .alias("o_orderkey"),
                   F.lit("X").alias("o_orderstatus")))
    try:
        bad.coalesce(1).write.format("colf").mode("append").save(path)
        raise AssertionError("violating append was not refused")
    except Exception as exc:
        if "status_domain" not in str(exc):
            raise
    if (load_snapshots(path)[-1]["version"] != head0
            or spark.read.format("colf").load(path).count() != n0):
        raise AssertionError("failed append left committed state")

    try:
        update_where(spark, path, {"o_orderstatus": "'X'"},
                     f"o_orderkey <= {mx // 4}")
        raise AssertionError("violating UPDATE was not refused")
    except Exception as exc:
        if "status_domain" not in str(exc):
            raise
    cur = spark.read.format("colf").load(path)
    if cur.filter(F.col("o_orderstatus") == "X").count() != 0:
        raise AssertionError("failed UPDATE leaked mutated rows")

    good = bad.withColumn("o_orderstatus", F.lit("P"))
    good.coalesce(1).write.format("colf").mode("append").save(path)
    back = spark.read.format("colf").load(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q209_colf_binpack",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    app AS (
      SELECT o_orderkey + mx.m + 1 AS k, 'C' AS s
      FROM orders, mx WHERE o_orderkey % 40 IN (1, 2, 3)),
    allr AS (
      SELECT o_orderkey AS k, o_orderstatus AS s FROM orders
      UNION ALL SELECT k, s FROM app),
    vis AS (SELECT * FROM allr WHERE k % 10 <> 3)
    SELECT s AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum
    FROM vis GROUP BY s
    """,
)
def q209_colf_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECTIVE binpack compaction (maintenance.binpack — Iceberg's
    RewriteDataFiles binpack strategy): the streaming-ingest shape —
    two big base files plus three small appended files — followed by a
    scattered MoR delete, then a binpack that must coalesce ONLY the
    small tail. The query asserts the contract in-query: exactly the
    three small files were candidates and became one output; both big
    files are byte-untouched (same mtime+size); visible rows are
    identical across the rewrite; the commit is data_change=false; the
    delete sidecars are INHERITED (the untouched big files still need
    their masks) while the rewritten rows were materialized mask-free;
    and the pre-binpack version still time-travels. The oracle
    recomputes the visible state relationally.

    Scale: this is the maintenance economics that matter at 100 TB —
    a table ingesting micro-batches accumulates a small-file tail
    forever, and the nightly job must rewrite the TAIL (3 files here,
    thousands there), never the table; candidate selection is pure
    manifest metadata (file sizes), the rewrite reads candidates only
    (option files=), and untouched data moves zero bytes. compact()
    remains the full layout-change tool; binpack is the cheap
    scheduled one."""
    import os

    from .datasource import live_files, load_snapshots
    from .datasource import register as register_ds
    from .maintenance import binpack, delete_where, visible_count

    register_ds(spark)

    def build(d: str) -> None:
        # the binpack INPUT — 2 big base files + 3 small appends (the
        # streaming-ingest tail shape) — staged once per process; the
        # operators under test (the scattered MoR delete whose
        # sidecars binpack must inherit, and the selective binpack
        # itself) run per invocation on a fresh clone
        base_t = _stage_cdc_orders(spark, sf_dir)
        mx = _CDC_MAXKEY[sf_dir]
        base = spark.read.format("colf").load(base_t + "/ds")
        base.repartitionByRange(2, "o_orderkey").write.format("colf") \
            .mode("overwrite").save(d + "/ds")
        for m in (1, 2, 3):
            (table(spark, sf_dir, "orders")
             .filter(F.col("o_orderkey") % 40 == m)
             .select((F.col("o_orderkey") + mx + 1).cast("int")
                     .alias("o_orderkey"),
                     F.lit("C").alias("o_orderstatus"))
             .coalesce(1).write.format("colf").mode("append")
             .save(d + "/ds"))

    tmpl = stage_once(("colf-binpack-tmpl", sf_dir), "colf_binpack_tmpl_",
                      build)
    path = run_dir(("colf-binpack-run", sf_dir), "colf_binpack_") + "/ds"
    clone_dataset(tmpl + "/ds", path)
    delete_where(spark, path, "o_orderkey % 10 = 3", mode="mor")

    sizes = {f: os.path.getsize(f) for f in live_files(path)}
    smalls = sorted(sizes.values())[:3]
    bigs = sorted(sizes.values())[3:]
    if smalls[-1] >= bigs[0]:
        raise AssertionError(f"staging did not split sizes: {sizes}")
    threshold = (smalls[-1] + bigs[0]) // 2
    big_state = {f: (os.path.getmtime(f), sz)
                 for f, sz in sizes.items() if sz >= threshold}
    # baseline from manifest-minus-masks arithmetic; both proof reads
    # after the binpack stay REAL reader counts
    n_before = visible_count(spark, path)
    v_before = load_snapshots(path)[-1]["version"]

    stats = binpack(spark, path, smaller_than=threshold)
    if stats["n_candidates"] != 3 or stats["n_outputs"] != 1:
        raise AssertionError(f"binpack touched the wrong set: {stats}")
    if stats["n_live_after"] != 3:
        raise AssertionError(f"expected 2 big + 1 packed: {stats}")
    after = {f: (os.path.getmtime(f), os.path.getsize(f))
             for f in live_files(path)
             if os.path.getsize(f) >= threshold
             and (os.path.getmtime(f), os.path.getsize(f))
             in big_state.values()}
    if len(after) != len(big_state):
        raise AssertionError("binpack touched a big file")
    head = load_snapshots(path)[-1]
    if head.get("data_change") is not False:
        raise AssertionError("binpack commit not data_change=false")
    if not head.get("deletes"):
        raise AssertionError(
            "delete sidecars must be INHERITED for the untouched files")
    back = spark.read.format("colf").load(path)
    if back.count() != n_before:
        raise AssertionError("visible rows changed across binpack")
    prev = spark.read.format("colf").option("snapshot", v_before) \
        .load(path)
    if prev.count() != n_before:
        raise AssertionError("pre-binpack version no longer reads")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


_NDV_COLS = ["o_orderkey", "o_orderstatus", "o_custkey"]
_NDV_K = 1024  # rsd ~3.1%; audit ceiling 5*rsd like q154's


@register(
    "q211_colf_ndv_stats",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    app AS (
      SELECT o_orderkey + mx.m + 1 AS o_orderkey,
             'C' AS o_orderstatus, o_custkey
      FROM orders, mx WHERE o_orderkey % 40 = 1),
    vis AS (
      SELECT o_orderkey, o_orderstatus, o_custkey FROM orders, mx
      WHERE NOT (o_orderkey <= mx.m // 4 AND o_orderstatus = 'O')
      UNION ALL SELECT o_orderkey, o_orderstatus, o_custkey FROM app)
    SELECT 'o_orderkey' AS col_name,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_exact,
           COUNT(DISTINCT o_orderkey) < {_NDV_K} AS sketch_exact,
           true AS nd_within_bound
    FROM vis
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           COUNT(DISTINCT o_orderstatus) < {_NDV_K}, true FROM vis
    UNION ALL
    SELECT 'o_custkey',
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           COUNT(DISTINCT o_custkey) < {_NDV_K}, true FROM vis
    """,
)
def q211_colf_ndv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table NDV statistics from METADATA alone (writer
    ``option("ndvColumns", ...)`` + maintenance.table_ndv — the
    Iceberg Puffin theta-sketch role): every part file records a KMV
    (k-minimum-values) sketch per requested column in its manifest
    entry; table NDV is the MERGE of the live files' sketches — no
    data I/O — and stays fresh through the whole lifecycle because
    rewrites recompute their files' sketches in the same write (the
    delete below re-sketches its survivor files via the same option
    plumbing that preserves blooms). Below k distinct values the
    sketch is the exact value set, and ``sketch_exact ==
    (n_exact < k)`` is an identity this query proves relationally
    (union of complete per-file sets is complete).

    The audit is q154's shape: the oracle recomputes the exact
    distinct counts; the Spark side ASSERTS in-query that exact-mode
    estimates equal them exactly and sketch-mode estimates land
    within 5×rsd (~15.6% at k={_NDV_K}; observed ~2-5%), then emits
    the oracle-matched exact counts plus the pinned-true bound flags.

    Scale: this is ANALYZE TABLE for free — the sketch costs one
    hash pass per written file (bounded by the file's distinct set),
    merging is metadata-sized (k × files × columns), any file SUBSET
    merges (partition-level NDV comes free), and DML never leaves
    stats stale. MoR masks make estimates upper bounds until
    compact(), like Iceberg."""
    from .datasource import register as register_ds
    from .maintenance import delete_where, table_ndv

    register_ds(spark)

    def build(d: str) -> None:
        # the sketched INPUT — base write + append + CoW delete, each
        # carrying the NDV plumbing under test — staged once per
        # process (r13's 2c80a2d convention); the operators under test
        # (table_ndv's sketch merge and the exact-count audit) run per
        # invocation. Read-only per run, so no clone is needed (the
        # q164 bloom-staging pattern).
        path = d + "/ds"
        o = table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_orderstatus",
            F.col("o_custkey").cast("int").alias("o_custkey"))
        mx = int(o.agg(F.max("o_orderkey")).first()[0])
        (o.repartitionByRange(4, "o_orderkey").write.format("colf")
         .option("ndvColumns", ",".join(_NDV_COLS))
         .option("ndvK", str(_NDV_K)).mode("overwrite").save(path))
        (o.filter(F.col("o_orderkey") % 40 == 1)
         .select((F.col("o_orderkey") + mx + 1).cast("int")
                 .alias("o_orderkey"),
                 F.lit("C").alias("o_orderstatus"), "o_custkey")
         .coalesce(1).write.format("colf")
         .option("ndvColumns", ",".join(_NDV_COLS))
         .option("ndvK", str(_NDV_K)).mode("append").save(path))
        delete_where(spark, path,
                     f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'")

    path = stage_once(("colf-ndv-tmpl", sf_dir), "colf_ndv_",
                      build) + "/ds"

    est = table_ndv(path)
    back = spark.read.format("colf").load(path)
    ex = back.agg(*[F.countDistinct(c).alias(c) for c in _NDV_COLS]) \
        .first().asDict()
    if not est["o_orderstatus"]["exact"]:
        raise AssertionError("4-value column must sketch exactly")
    rows = []
    for c in _NDV_COLS:
        e, n = est[c], int(ex[c])
        if e["exact"]:
            if e["estimate"] != float(n):
                raise AssertionError(
                    f"exact sketch wrong for {c}: {e} vs {n}")
        elif abs(e["estimate"] - n) / n > 5 * e["rsd"]:
            raise AssertionError(
                f"NDV estimate for {c} outside 5*rsd: {e} vs {n}")
        rows.append((c, n, n < _NDV_K, True))
    from pyspark.sql.types import (BooleanType, LongType, StringType,
                                   StructField, StructType)

    return local_df(spark, rows, StructType([
        StructField("col_name", StringType(), False),
        StructField("n_exact", LongType(), False),
        StructField("sketch_exact", BooleanType(), False),
        StructField("nd_within_bound", BooleanType(), False),
    ]))


@register(
    "q212_colf_cdf_replay",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    s1 AS (  -- v2: append shifted 'C' rows
      SELECT o_orderkey, o_orderstatus FROM orders
      UNION ALL
      SELECT o_orderkey + mx.m + 1, 'C' FROM orders, mx
      WHERE o_orderkey % 40 = 1),
    s2 AS (  -- v3: MoR delete of low-quartile 'O' orders
      SELECT s1.o_orderkey, s1.o_orderstatus FROM s1, mx
      WHERE NOT (s1.o_orderkey <= mx.m // 4 AND s1.o_orderstatus = 'O')),
    s3 AS (  -- v4: MoR update flips visible %50==3 keys to 'U'
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 50 = 3 THEN 'U'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM s2)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM s3 GROUP BY o_orderstatus
    """,
)
def q212_colf_cdf_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE-FEED REPLAY — the consumer-side completeness proof for
    q200's Change Data Feed (datasource.cdf_replay): after a full
    CDF-replayable history (append, MoR delete, MoR update — the
    update arrives as delete+insert pairs), the state reconstructed
    PURELY from the feed's insert/delete rows must equal a direct
    read of the head, row for row. The query asserts exactly that
    in-query (exceptAll in both directions is empty — the property a
    downstream replica, cache, or index builder relies on), then
    aggregates the REPLAYED frame; the oracle recomputes the final
    state relationally, so a pass pins both the feed's completeness
    and the replay's multiset semantics.

    Scale: the replay groups on the full row — the honest cost of
    exact no-key-assumption replay (a keyed sink replays cheaper by
    keeping the max-_commit_version image per key); the feed itself
    is planned from metadata — per-commit partitions, delta sidecars
    as the deleted ordinals, zero CDC files written at DML time."""
    from .datasource import cdf_replay
    from .datasource import register as register_ds
    from .maintenance import delete_where, update_where

    register_ds(spark)

    def build(d: str) -> None:
        # the replay INPUT — a full CDF-replayable history (append,
        # MoR delete, MoR update) — staged once per process like every
        # other template; the operator under test (cdf_replay + the
        # reconstruction proof) runs per invocation on a fresh clone
        tmpl = _stage_cdc_orders(spark, sf_dir)
        clone_dataset(tmpl + "/ds", d + "/ds")
        mx = _CDC_MAXKEY[sf_dir]
        (table(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") % 40 == 1)
         .select((F.col("o_orderkey") + mx + 1).cast("int")
                 .alias("o_orderkey"),
                 F.lit("C").alias("o_orderstatus"))
         .coalesce(1).write.format("colf").mode("append").save(d + "/ds"))
        delete_where(spark, d + "/ds",
                     f"o_orderkey <= {mx // 4} AND o_orderstatus = 'O'",
                     mode="mor")
        update_where(spark, d + "/ds", {"o_orderstatus": "'U'"},
                     "o_orderkey % 50 = 3", mode="mor")

    tmpl = stage_once(("colf-cdf-replay-tmpl", sf_dir), "colf_replay_tmpl_",
                      build)
    path = run_dir(("colf-cdf-replay-run", sf_dir), "colf_replay_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    # materialize the replayed state once (it feeds the proof AND
    # the returned aggregate), then prove bag-equality in a single
    # tagged-union pass (_assert_bag_equal) instead of the two-
    # consumptions-per-side union of exceptAlls
    replayed = cdf_replay(spark, path).localCheckpoint()
    head = spark.read.format("colf").load(path)
    _assert_bag_equal(replayed, head,
                      "CDF replay does not reconstruct the head state")
    return replayed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))


@register(
    "q214_colf_stats_planning",
    oracle="""
    WITH base AS (
      SELECT o_orderkey % 4096 AS k,
             CAST(COUNT(*) AS INT) AS n,
             MIN(o_orderstatus) AS st
      FROM orders GROUP BY o_orderkey % 4096),
    m1 AS (  -- wide upsert: ~90% of keys (stats-full-scan regime)
      SELECT k, n + 100000 AS n, 'W' AS st FROM base WHERE k % 10 <> 0
      UNION ALL
      SELECT k, n, st FROM base WHERE k % 10 = 0),
    m2 AS (  -- narrow upsert: k < 64 (metadata-pruned regime)
      SELECT k, n, CASE WHEN k < 64 THEN 'Z' ELSE st END AS st FROM m1),
    t AS (SELECT k, n, st FROM m2
          UNION ALL SELECT 5000, 1, 'T'
          UNION ALL SELECT 5001, 1, 'T'
          UNION ALL SELECT 5002, 1, 'T')
    SELECT st, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(SUM(n) AS BIGINT) AS n_sum
    FROM t GROUP BY st
    """,
)
def q214_colf_stats_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATISTICS-DRIVEN MAINTENANCE PLANNING (round-10 verdict item
    #5): the engine's own stats — manifest KMV NDV sketches (q211's
    Iceberg-Puffin role) and per-file sizes/row counts — now FEED the
    plans the ENGINE owns, since PySpark 4.1.2 exposes no DataSource
    stats hook to Catalyst:

    - ``merge_into`` consults the table's distinct-key estimate: a
      source covering >= 50% of the table's keys makes per-file
      zone-map/Bloom probing pure overhead, so discovery goes straight
      to the join scan (``stats-full-scan``); a narrow source keeps
      the metadata-pruned path. Exact membership always comes from
      the joins — stats change COST, never results.
    - ``binpack`` with no explicit target sizes its outputs like the
      table's ESTABLISHED files (median live file size) instead of
      the arbitrary threshold (``target_from="stats-median-live"``).

    The query builds a bounded-key table (o_orderkey % 4096 — sf-
    independent coverage ratios) with NDV sketches, runs a wide merge,
    a narrow merge, three tail appends, and a binpack — asserting the
    CHOSEN strategy from each result (plan-pinned, the
    tests/test_plans.py discipline) — and returns the final state's
    aggregate; the oracle replays the upserts relationally.

    Scale: the NDV consult is zero-I/O metadata; at 100 TB the gated
    probe saves a per-file Bloom/zone pass over 10^5-10^6 manifest
    entries exactly when it cannot prune (CDC full-refresh merges),
    and stats-sized binpack outputs keep the layout converged instead
    of quantizing the tail to the threshold."""
    import os

    from .datasource import register as register_ds
    from .maintenance import binpack, merge_into, visible_count

    register_ds(spark)
    base = (table(spark, sf_dir, "orders")
            .groupBy((F.col("o_orderkey") % 4096).cast("int").alias("k"))
            .agg(F.count(F.lit(1)).cast("int").alias("n"),
                 F.min("o_orderstatus").alias("st")))

    def build(d: str) -> None:
        # the planner INPUT — the bounded-key NDV-sketched base table —
        # staged once per process; the operators under test (both
        # stats-gated merges, the tail appends, the stats-sized
        # binpack) run per invocation on a fresh clone
        (base.repartitionByRange(4, "k").write.format("colf")
         .option("ndvColumns", "k").option("ndvK", "1024")
         .mode("overwrite").save(d + "/ds"))

    tmpl = stage_once(("colf-stats-planning-tmpl", sf_dir),
                      "colf_statsplan_tmpl_", build)
    path = run_dir(("colf-stats-planning-run", sf_dir),
                   "colf_statsplan_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    # wide merge: ~90% key coverage -> the NDV gate must skip probing
    src1 = (base.filter(F.col("k") % 10 != 0)
            .select("k", (F.col("n") + 100000).cast("int").alias("n"),
                    F.lit("W").alias("st")))
    r1 = merge_into(spark, path, src1, ["k"])
    if r1["discovery"] != "stats-full-scan" \
            or r1["key_ndv_estimate"] is None:
        raise AssertionError(f"wide merge did not use the stats gate: "
                             f"{r1}")

    # narrow merge: <2% coverage -> metadata pruning stays on
    src2 = (spark.read.format("colf").load(path)
            .filter(F.col("k") < 64)
            .select("k", "n", F.lit("Z").alias("st")))
    r2 = merge_into(spark, path, src2, ["k"])
    if r2["discovery"] == "stats-full-scan" \
            or r2["key_ndv_estimate"] is None:
        raise AssertionError(f"narrow merge lost metadata pruning: {r2}")

    # small-file tail, then stats-sized binpack. ONE 3-row append
    # write, range-split into 3 one-row part files (r14: was three
    # separate 1-row appends — 3 write jobs + 3 commit/planner rounds
    # for the same 3-file tail; the binpack candidate set only cares
    # about the FILES, not the commit count). local_df, not
    # createDataFrame: see session.local_df.
    from ..session import local_df

    (local_df(spark, [(5000, 1, "T"), (5001, 1, "T"), (5002, 1, "T")],
              "k int, n int, st string")
     .repartitionByRange(3, "k")
     .write.format("colf")
     .option("ndvColumns", "k").option("ndvK", "1024")
     .mode("append").save(path))
    from .datasource import live_files as _lf

    # threshold between the 3 one-row tail files and the established
    # files, so exactly the tail is the candidate set
    sizes = sorted(os.path.getsize(f) for f in _lf(path))
    if sizes[2] >= sizes[3]:
        raise AssertionError(f"staging did not split sizes: {sizes}")
    thr = (sizes[2] + sizes[3]) // 2
    # baseline from manifest arithmetic; the post-binpack proof read
    # stays a REAL reader count
    n_before = visible_count(spark, path)
    rb = binpack(spark, path, smaller_than=thr)
    if rb["target_from"] != "stats-median-live" \
            or rb["n_outputs"] != 1 or rb["n_candidates"] != 3:
        raise AssertionError(f"binpack not stats-sized: {rb}")
    back = spark.read.format("colf").load(path)
    if back.count() != n_before:
        raise AssertionError("binpack changed visible rows")
    return back.groupBy("st").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("k").cast("bigint")).alias("key_sum"),
        F.sum(F.col("n").cast("bigint")).alias("n_sum"))


@register(
    "q215_colf_log_compaction",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    s1 AS (  -- v2 append: shifted 'P' rows
      SELECT o_orderkey, o_orderstatus FROM orders
      UNION ALL
      SELECT o_orderkey + mx.m + 1, 'P' FROM orders, mx
      WHERE o_orderkey % 30 = 2),
    s2 AS (  -- v3 MoR delete: %7==0 'F' rows out
      SELECT o_orderkey, o_orderstatus FROM s1
      WHERE NOT (o_orderkey % 7 = 0 AND o_orderstatus = 'F')),
    s3 AS (  -- v4 MoR update: %60==5 -> 'M'
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 60 = 5 THEN 'M'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM s2),
    s4 AS (  -- v5 append: doubly-shifted 'Q' rows
      SELECT o_orderkey, o_orderstatus FROM s3
      UNION ALL
      SELECT o_orderkey + 2 * mx.m + 2, 'Q' FROM orders, mx
      WHERE o_orderkey % 45 = 7)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM s4 GROUP BY o_orderstatus
    """,
)
def q215_colf_log_compaction(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """METADATA-LOG COMPACTION (round-12 verdict item #1): bounding
    the log's AT-REST cost by RETENTION, not table age.
    ``maintenance.compact_log`` is Delta's log-retention cleanup as a
    first-class op: history older than the horizon folds into the
    retained lineage — the oldest kept entry rewritten self-contained
    (the replay basis), newer kept entries kept delta-encoded, a fresh
    zlib-compressed head checkpoint — and the expired entry files are
    pruned. Data files are untouched (vacuum's job); time travel to
    pruned versions is LOST loudly, retained versions stay
    bit-identical.

    The query builds a 5-commit DML history (append, MoR delete, MoR
    update, append — merge-on-read so the changelog can replay them), compacts to the last 3 versions, and asserts
    IN-QUERY: (1) exactly 2 entries pruned / 3 kept on disk, (2) the
    head checkpoint is the compressed `.ckpt.jz` form, (3) time travel
    to a retained version is bit-identical across the compaction,
    (4) time travel to a pruned version fails loudly (Delta's
    out-of-retention contract), never serves stale data, (5) a CDF
    replay from version 0 across the compacted basis reconstructs the
    head exactly (the retained basis replays as inserts), (6) the next
    commit appends exactly ONE new O(commit) entry file. The oracle
    recomputes the final state relationally.

    Scale: with unbounded commit counts (streaming ingest at 100 TB:
    10^5-10^6 commits/year), the raw-entry count — and with it every
    cold full-log read — is bounded by the retention policy;
    tests/test_colf_metadata_at_rest.py pins the 10^5-file /
    10^3-commit bounds (cold head opens <= chain, checkpoint < 25% of
    raw, post-compaction entries == keep_last)."""
    import os

    from .datasource import (_parse_log_name, cdf_replay, head_snapshot,
                             load_snapshots, log_dir)
    from .datasource import register as register_ds
    from .maintenance import compact_log, delete_where, update_where

    register_ds(spark)
    orders = table(spark, sf_dir, "orders")

    def build(d: str) -> None:
        # the compaction INPUT — the 5-commit MoR DML history — staged
        # once per process; the operators under test (compact_log, the
        # retained-version/time-travel/replay proofs, the O(commit)
        # post-compaction append) run per invocation on a fresh clone
        base = _stage_cdc_orders(spark, sf_dir)
        clone_dataset(base + "/ds", d + "/ds")
        mx = _CDC_MAXKEY[sf_dir]
        (orders.filter(F.col("o_orderkey") % 30 == 2)
         .select((F.col("o_orderkey") + mx + 1).cast("int")
                 .alias("o_orderkey"),
                 F.lit("P").alias("o_orderstatus"))
         .coalesce(1).write.format("colf").mode("append")
         .save(d + "/ds"))                                          # v2
        delete_where(spark, d + "/ds",
                     "o_orderkey % 7 = 0 AND o_orderstatus = 'F'",
                     mode="mor")                                    # v3
        update_where(spark, d + "/ds", {"o_orderstatus": "'M'"},
                     "o_orderkey % 60 = 5", mode="mor")             # v4
        (orders.filter(F.col("o_orderkey") % 45 == 7)
         .select((F.col("o_orderkey") + 2 * mx + 2).cast("int")
                 .alias("o_orderkey"),
                 F.lit("Q").alias("o_orderstatus"))
         .coalesce(1).write.format("colf").mode("append")
         .save(d + "/ds"))                                          # v5

    tmpl = stage_once(("colf-log-compaction-tmpl", sf_dir),
                      "colf_logcompact_tmpl_", build)
    path = run_dir(("colf-log-compaction-run", sf_dir),
                   "colf_logcompact_") + "/ds"
    clone_dataset(tmpl + "/ds", path)

    def read_v(v: int):
        return (spark.read.format("colf")
                .option("snapshot", str(v)).load(path))

    v4_before = read_v(4).groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("s")).collect()[0]
    head_before = head_snapshot(path)

    r = compact_log(path, keep_last=3)
    if r["pruned"] != 2 or r["kept"] != 3:
        raise AssertionError(f"compact_log plan wrong: {r}")
    members = os.listdir(log_dir(path))
    entries = [n for n in members
               for p in (_parse_log_name(n),) if p and not p[1]]
    if len(entries) != 3:
        raise AssertionError(f"at-rest entries not bounded: {entries}")
    if not any(n.endswith(".ckpt.jz") for n in members):
        raise AssertionError("no compressed head checkpoint")
    if head_snapshot(path) != head_before:
        raise AssertionError("compaction changed the head")
    if [s["version"] for s in load_snapshots(path)] != [3, 4, 5]:
        raise AssertionError("retained versions wrong")

    v4_after = read_v(4).groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("s")).collect()[0]
    if v4_after != v4_before:
        raise AssertionError("retained version changed by compaction")
    try:
        read_v(2).count()
        raise AssertionError("pruned version served data")
    except AssertionError:
        raise
    except Exception:
        pass  # the loud out-of-retention failure is the contract

    # single tagged-union pass (_assert_bag_equal): the replay
    # subtree is evaluated ONCE instead of once per exceptAll side
    replayed = cdf_replay(spark, path)
    head = spark.read.format("colf").load(path)
    _assert_bag_equal(replayed, head,
                      "CDF replay across the compacted basis != head")

    n0 = len(entries)
    (orders.limit(0).select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        F.col("o_orderstatus"))
     .coalesce(1).write.format("colf").mode("append").save(path))   # v6
    entries_after = [n for n in os.listdir(log_dir(path))
                     for p in (_parse_log_name(n),) if p and not p[1]]
    if len(entries_after) != n0 + 1:
        raise AssertionError("post-compaction commit not O(commit)")

    return head.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).alias("key_sum"))
