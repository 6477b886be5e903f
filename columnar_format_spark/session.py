"""SparkSession factory with scale-aware defaults.

Tested on local[N]; the config choices are the ones that matter on a
real cluster too:

- AQE on (runtime coalescing of shuffle partitions, skew-join
  splitting, dynamic join-strategy switching).
- Arrow on for every Python<->JVM exchange (pandas UDFs, toPandas,
  Python DataSource Arrow batches).
- shuffle.partitions sized for the local test harness; on a 1000-
  executor cluster this would be ~2-3x total cores — AQE coalesces
  down from a high initial number, so erring high is the safe side.
- maxPartitionBytes left at default 128m: at 100 TB that yields
  ~800k input splits, which Spark handles; raising it only helps when
  tasks are launch-bound.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "columnar-format-spark",
              cpus: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, then 32 (the test box).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by the advisory BYTE size,
        # not up to defaultParallelism (the default parallelismFirst
        # spreads small shuffles across ~cores-many tiny partitions).
        # Bytes-first is the guide's cluster posture — partitions sized
        # 64 MB regardless of core count — and measured 5-25% off
        # shuffle-bound queries here (every sub-64MB shuffle becomes
        # one task instead of 32 near-empty ones).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (COLF zone-map file skipping)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Python worker channels over Unix domain sockets (Spark 4.1):
        # removes a localhost TCP connect per worker/planner spin-up.
        # Matters doubly here: loopback SYN latency under concurrent
        # connects measured p99 ~1 s on the bench box, and every COLF
        # action plans through a Python-datasource worker. Measured on
        # 4 vCPU, local[4], p50: a one-task mapPartitions 96-109 ->
        # 48-56 ms, a COLF point read 194-222 -> 151-176 ms.
        .config("spark.python.unix.domain.socket.enabled", "true")
        # limit(n).collect() — the merge kstat probes, dup probes and
        # stream drains — defaults to a 1-partition trial job that
        # scales up 4x per round (limit.scaleUpFactor), costing 3 jobs
        # per bounded collect on these 4-32 partition relations (r14
        # job-probe: 6 of q214's 26 jobs were ONE kstat collect each
        # merge). Start at 64 partitions so a bounded collect is one
        # job; only affects executeCollect of limited plans, never the
        # noop-sink query path.
        .config("spark.sql.limit.initialNumPartitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, schema):
    """Single-partition DataFrame from driver-local rows.

    ``spark.createDataFrame(rows, ...)`` parallelizes into
    ``defaultParallelism`` Python-evaluated slices; following it with
    ``coalesce(1)`` (the natural way to write one small file) makes
    ONE task evaluate every slice SEQUENTIALLY, one Python-runner round
    trip each. A one-row COLF write from 32 slices measured 450-520 ms
    against 100-130 ms from one slice (4 vCPU, p50). The round trip
    cost about 220 ms each (7.7 s per such write) while every worker
    task re-read pyspark.zip and the spark-core jar; see _zipimport.py.
    Driver-local row sets in this engine are bounded
    (merge key sets <= MERGE_PUSHDOWN_KEYS, test fixtures, metadata
    tables), so one partition is the right layout anyway — they feed
    broadcasts or single-file writes."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load every testdata table in ``sf_dir`` as a DataFrame dict and
    register each as a temp view (so spark.sql can be used too)."""
    names = ["region", "nation", "customer", "supplier", "part",
             "orders", "lineitem", "events", "documents", "embeddings"]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
