"""The workloads: one client in a closed loop, every answer checked.

Each workload runs whole ROUNDS of operations until ``--seconds`` have
passed, so every run has the same operation mix however many rounds
fit. Every operation's answer is compared with the oracle outside the
timed region; an exception or a wrong answer counts as a failed
operation and is kept in the sample.

In a traced run the rounds alternate between untraced and traced; the
traced rounds carry spans and replay, in the driver, the COLF work
Spark ran in its Python workers (schema, planning, reading, writing).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from . import data

RANGE_WIDTH = 500
APPEND_ROWS = 2000
MERGE_UPDATES = 20
MERGE_INSERTS = 50
CYCLES_PER_COMPACTION = 2


@dataclass
class OpRecord:
    kind: str
    ms: float
    ok: bool
    rows: int = 0
    traced: bool = False
    span: int | None = None
    jobs: int = 0
    stats: dict = field(default_factory=dict)


@dataclass
class ReadSpec:
    """What Spark hands the COLF reader for one read: the source options
    and the pushed filters. Replayed in the driver in traced runs."""
    options: dict
    filters: list
    bloom: bool = False


class Runner:
    """Executes, times and checks operations; owns the sample."""

    def __init__(self, spark, tracer, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.seconds = seconds
        self.records: list[OpRecord] = []
        self._t0 = None

    def start(self) -> None:
        self._t0 = time.perf_counter()

    def expired(self) -> bool:
        return time.perf_counter() - self._t0 >= self.seconds

    def sampled(self) -> bool:
        """At least one operation ran, and in a traced run both traced
        and untraced ones (the difference is the tracing overhead)."""
        seen = {r.traced for r in self.records}
        return bool(seen) and (self.tracer is None or len(seen) == 2)

    def traced(self, group: int) -> bool:
        return self.tracer is not None and group % 2 == 1

    def execute(self, kind: str, group: int, fn, check, rows=len,
                replay=None):
        """Run ``fn`` once, timed; ``check(result)`` decides correctness
        and ``rows(result)`` the rows it processed. Returns the result
        (None when the operation raised)."""
        tracer = self.tracer
        traced = self.traced(group)
        sc = self.spark.sparkContext
        job_group = f"perfbench-{len(self.records)}"
        if tracer is not None:
            sc.setJobGroup(job_group, kind)
            tracer.op = len(self.records)
        span_cm = tracer.span(f"op.{kind}") if traced else nullcontext()
        result, err = None, None
        with span_cm as sp:
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception:  # a failed operation is data, not a crash
                err = traceback.format_exc()
            ms = 1000 * (time.perf_counter() - t0)
        ok = err is None and _safe_check(check, result, kind)
        if err is not None:
            print(f"[perfbench] {kind} raised:\n{err}", file=sys.stderr)
        print(f"[perfbench] {kind} group={group} {ms:.1f} ms ok={ok}",
              file=sys.stderr, flush=True)
        rec = OpRecord(kind, ms, ok,
                       rows=rows(result) if ok else 0, traced=traced,
                       span=sp["id"] if traced else None)
        if tracer is not None:
            rec.jobs = len(sc.statusTracker().getJobIdsForGroup(job_group))
            sc.setJobGroup("perfbench-idle", "")
        if traced and replay is not None and err is None:
            replay(rec)
        if tracer is not None:
            tracer.op = None
        self.records.append(rec)
        return result


def _safe_check(check, result, kind) -> bool:
    try:
        ok = bool(check(result))
    except Exception:
        ok = False
    if not ok:
        print(f"[perfbench] {kind}: answer does not match the oracle",
              file=sys.stderr)
    return ok


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


# ---------------------------------------------------------------- replay

def replay_read(runner: Runner, rec: OpRecord, spec: ReadSpec) -> None:
    """Re-run, in the driver, the COLF reader calls Spark made in its
    Python workers for this read, as child spans of the operation, and
    count files opened, useful files, rows examined and Bloom skips."""
    from columnar_format_spark.colf import datasource as ds

    tracer = runner.tracer
    with tracer.span("replay.read", parent=rec.span, replayed=True) as rsp:
        source = ds.ColfDataSource(dict(spec.options))
        schema = source.schema()
        reader = source.reader(schema)
        reader.pushFilters(list(spec.filters))
        parts = reader.partitions()
        files = {p.file for p in parts if p.file is not None}
        useful, returned = set(), 0
        for p in parts:
            n = sum(b.num_rows for b in reader.read(p))
            returned += n
            if n and p.file is not None:
                useful.add(p.file)
    spans = tracer.spans[rsp["id"]:]

    def ms(*names):
        return 1000 * sum(s["end"] - s["start"] for s in spans
                          if s["name"] in names)

    decoded = [s for s in spans if s["name"] == "format.read_columns_arrow"]
    rec.stats.update(
        colf_ms=ms("replay.read"), schema_ms=ms("datasource.schema"),
        plan_ms=ms("datasource.pushFilters", "datasource.partitions"),
        read_ms=ms("datasource.read"),
        decode_ms=ms("format.read_columns_arrow"),
        decode_bytes=sum(s["bytes"] for s in decoded),
        rows_examined=sum(s["rows"] for s in decoded),
        files_opened=len(files), useful_files=len(useful),
        rows_returned=returned,
        files_total=len(ds.live_files(spec.options["path"])))
    if spec.bloom:
        # the same plan with the Bloom pass disabled: what zone maps keep
        plain = ds.ColfDataSource(dict(spec.options))
        zr = plain.reader(schema)
        zr.pushFilters(list(spec.filters))
        saved = ds.load_blooms
        ds.load_blooms = lambda _path: {}
        try:
            zone_kept = {p.file for p in zr.partitions() if p.file}
        finally:
            ds.load_blooms = saved
        rec.stats.update(zone_kept=len(zone_kept),
                         bloom_kept=len(files),
                         bloom_fp=len(files - useful))
    cold_head_snapshot(tracer, rec, spec.options["path"])


def cold_head_snapshot(tracer, rec: OpRecord, path: str):
    """head_snapshot with the process's metadata caches emptied: what a
    fresh planner process pays after a commit."""
    from columnar_format_spark.colf import datasource as ds

    caches = ("_HEAD_CACHE", "_LOG_RAW_CACHE", "_META_COLD_CACHE")
    saved = {c: getattr(ds, c) for c in caches if hasattr(ds, c)}
    for c in saved:
        setattr(ds, c, {})
    try:
        with tracer.span("datasource.head_snapshot_cold", parent=rec.span,
                         replayed=True):
            return ds.head_snapshot(path)
    finally:
        for c, v in saved.items():
            setattr(ds, c, v)


def replay_append(runner: Runner, rec: OpRecord, before: str,
                  batch: pa.Table) -> None:
    """Re-run the ColfWriter path of an append in the driver, onto a
    clone of the dataset as it was before the append."""
    from columnar_format_spark.colf import datasource as ds

    tracer = runner.tracer
    try:
        with tracer.span("replay.append", parent=rec.span,
                         replayed=True) as rsp:
            source = ds.ColfDataSource({"path": before})
            writer = source.writer(_spark_schema(batch), False)
            msg = writer.write(iter(batch.to_batches()))
            writer.commit([msg])
    finally:
        shutil.rmtree(before, ignore_errors=True)
    encoded = [s for s in tracer.spans[rsp["id"]:]
               if s["name"] == "format.write_colf_arrow"]
    rec.stats.update(
        colf_ms=1000 * (rsp["end"] - rsp["start"]),
        encode_ms=1000 * sum(s["end"] - s["start"] for s in encoded),
        encode_bytes=sum(s["bytes"] for s in encoded))


def _spark_schema(table: pa.Table):
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(table.schema)


# --------------------------------------------------------------- lookup

def _point(spark, path: str, key: int):
    from pyspark.sql import functions as F

    return lambda: [tuple(r) for r in spark.read.format("colf").load(path)
                    .filter(F.col("o_orderkey") == key).collect()]


def _key_range(spark, path: str, lo: int):
    from pyspark.sql import functions as F

    return lambda: sorted(tuple(r) for r in spark.read.format("colf")
                          .load(path).filter(F.col("l_orderkey")
                                             .between(lo, lo + RANGE_WIDTH))
                          .collect())


def lookup_round(ctx, runner: Runner, group: int) -> bool:
    """Two point lookups of present keys, one key-range read and one
    probe for an absent key. The order keys have no gaps, as in the
    source data, so an absent key lies past the last order: the zone
    maps prune every file, and the Bloom sidecar works on the present
    keys (every file's zone map covers them)."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThanOrEqual, IsNotNull, LessThanOrEqual)

    rng, oracle, spark = ctx.rng, ctx.oracle, ctx.spark
    n = oracle.order_rows
    orders, lineitem = ctx.datasets["orders"], ctx.datasets["lineitem"]
    for kind, key in (("point", int(rng.integers(0, n))),
                      ("point", int(rng.integers(0, n))),
                      ("range", int(rng.integers(0, n - RANGE_WIDTH))),
                      ("absent", n + int(rng.integers(0, n)))):
        if kind == "range":
            spec = ReadSpec({"path": lineitem}, [
                IsNotNull(("l_orderkey",)),
                GreaterThanOrEqual(("l_orderkey",), key),
                LessThanOrEqual(("l_orderkey",), key + RANGE_WIDTH)])
            expected = oracle.key_range(key, key + RANGE_WIDTH)
            fn = _key_range(spark, lineitem, key)
        else:
            spec = ReadSpec({"path": orders}, [
                IsNotNull(("o_orderkey",)), EqualTo(("o_orderkey",), key)],
                bloom=True)
            expected = oracle.point(key)
            fn = _point(spark, orders, key)
        runner.execute(kind, group, fn,
                       lambda got, want=expected: got == want,
                       replay=lambda rec, s=spec: replay_read(runner, rec, s))
    return True


# ----------------------------------------------------------------- scan

def _flag_groups(spark, path: str):
    """The paper's selective read: only 2 of the 5 column blocks."""
    from pyspark.sql import functions as F

    from columnar_format_spark.colf.datasource import read_colf

    return lambda: sorted(tuple(r) for r in read_colf(
        spark, path, ["l_returnflag", "l_quantity"])
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)), F.sum("l_quantity")).collect())


def _all_columns(spark, path: str):
    from pyspark.sql import functions as F

    return lambda: tuple(spark.read.format("colf").load(path).agg(
        F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_linenumber"),
        F.sum("l_quantity"), F.sum("l_extendedprice"),
        F.min("l_returnflag"), F.max("l_returnflag")).collect()[0])


def _same_aggregate(expected: tuple):
    def check(got) -> bool:
        return (len(got) == len(expected) and all(
            close(g, e) if isinstance(e, float) else g == e
            for g, e in zip(got, expected)))
    return check


def scan_round(ctx, runner: Runner, group: int) -> bool:
    """Two selective group-bys and one all-column aggregate, in a
    seed-chosen order. Two of three keeps the median on the selective
    read; the aggregate shows in the tail and the throughput."""
    path = ctx.datasets["lineitem"]
    n = ctx.oracle.lineitem_rows
    kinds = ["scan_groupby", "scan_groupby", "scan_all"]
    for i in ctx.rng.permutation(3):
        kind = kinds[i]
        if kind == "scan_groupby":
            fn = _flag_groups(ctx.spark, path)
            check = (lambda got, want=ctx.oracle.flag_groups():
                     got == want)
            spec = ReadSpec({"path": path,
                             "columns": "l_returnflag,l_quantity"}, [])
        else:
            fn = _all_columns(ctx.spark, path)
            check = _same_aggregate(ctx.oracle.all_columns())
            spec = ReadSpec({"path": path}, [])
        runner.execute(kind, group, fn, check, rows=lambda _r: n,
                       replay=lambda rec, s=spec: replay_read(runner, rec, s))
    return True


# --------------------------------------------------------------- ingest

class IngestModel:
    """The live rows the dataset must hold, kept beside it in memory."""

    def __init__(self, orders: pa.Table, rng: np.random.Generator):
        d = orders.to_pydict()
        self.rows = {k: (p, t) for k, p, t in zip(
            d["o_orderkey"], d["o_orderpriority"], d["o_totalprice"])}
        self.base_keys = sorted(self.rows)
        self.next_key = max(self.rows) + 1
        self.rng = rng

    def new_rows(self, n: int) -> pa.Table:
        t = data.make_orders(n, self.rng, first_key=self.next_key)
        self.next_key += n
        return t

    def apply_upsert(self, t: pa.Table) -> None:
        d = t.to_pydict()
        for k, p, price in zip(d["o_orderkey"], d["o_orderpriority"],
                               d["o_totalprice"]):
            self.rows[k] = (p, price)

    def live_base_key(self) -> int:
        while True:
            k = self.base_keys[int(self.rng.integers(0, len(self.base_keys)))]
            if k in self.rows:
                return k

    def range_answer(self, lo: int, hi: int) -> tuple:
        vals = [t for k, (_p, t) in self.rows.items() if lo <= k <= hi]
        return len(vals), math.fsum(vals)

    def totals(self) -> tuple:
        return (len(self.rows), sum(self.rows),
                math.fsum(t for _p, t in self.rows.values()))

    def arrow_bytes(self) -> int:
        keys = list(self.rows)
        return pa.table({
            "o_orderkey": pa.array(keys, pa.int32()),
            "o_orderpriority": [self.rows[k][0] for k in keys],
            "o_totalprice": [self.rows[k][1] for k in keys]}).nbytes


def ingest_prepare(ctx) -> None:
    """Start from a byte-identical clone of the staged orders table."""
    from columnar_format_spark.staging import clone_dataset

    work = os.path.join(ctx.run_dir, "ingest")
    clone_dataset(ctx.datasets["orders"], work)
    ctx.datasets = {"ingest": work}
    ctx.model = IngestModel(ctx.source.orders, ctx.rng)


def _orders_df(spark, t: pa.Table):
    from columnar_format_spark.session import local_df

    return local_df(spark, list(zip(*(t.column(c).to_pylist()
                                      for c in t.column_names))),
                    "o_orderkey int, o_orderpriority string, "
                    "o_totalprice double")


def _append(df, path: str) -> None:
    df.write.format("colf").mode("append").save(path)


def _range_totals(spark, path: str, lo: int, hi: int) -> tuple:
    from pyspark.sql import functions as F

    return tuple(spark.read.format("colf").load(path)
                 .filter(F.col("o_orderkey").between(lo, hi))
                 .agg(F.count(F.lit(1)), F.sum("o_totalprice")).collect()[0])


def _delete(spark, path: str, keys: list[int]) -> dict:
    from columnar_format_spark.colf import maintenance

    return maintenance.delete_where(
        spark, path, f"o_orderkey IN ({', '.join(map(str, keys))})")


def _merge(spark, path: str, df) -> dict:
    from columnar_format_spark.colf import maintenance

    return maintenance.merge_into(spark, path, df, ["o_orderkey"], mode="mor")


def _compact(spark, path: str) -> int:
    from columnar_format_spark.colf import maintenance

    return maintenance.compact(spark, path, target_files=data.FILES)


def ingest_cycle(ctx, runner: Runner, group: int) -> None:
    """Append a batch, delete three keys copy-on-write, upsert a batch
    merge-on-read, and read the batch's key range back after each."""
    from columnar_format_spark.staging import clone_dataset

    spark, model, path = ctx.spark, ctx.model, ctx.datasets["ingest"]

    # 1. append
    batch = model.new_rows(APPEND_ROWS)
    lo = batch.column("o_orderkey")[0].as_py()
    hi = batch.column("o_orderkey")[-1].as_py()
    df = _orders_df(spark, batch)
    before = os.path.join(ctx.run_dir, "replay-append")
    if runner.traced(group):
        clone_dataset(path, before)
    runner.execute(
        "append", group, lambda: _append(df, path),
        check=lambda _r: True, rows=lambda _r: batch.num_rows,
        replay=lambda rec: replay_append(runner, rec, before, batch))
    shutil.rmtree(before, ignore_errors=True)
    runner.records[-1].stats["user_bytes"] = batch.nbytes
    model.apply_upsert(batch)
    _after_commit(ctx, runner, path)

    # 2. read-your-write over the batch's key range
    _ryw(ctx, runner, group, lo, hi)

    # 3. copy-on-write delete: one base key and two keys of this batch,
    # then read the batch back
    fresh = batch.column("o_orderkey").to_pylist()
    victims = [model.live_base_key()] + [
        fresh[int(i)] for i in model.rng.choice(len(fresh), 2, replace=False)]
    _rewrites(runner.execute(
        "delete", group, lambda: _delete(spark, path, victims),
        check=lambda r: r["n_deleted_rows"] == len(victims),
        rows=lambda _r: 0), runner)
    for k in victims:
        model.rows.pop(k, None)
    _after_commit(ctx, runner, path)
    _ryw(ctx, runner, group, lo, hi)

    # 4. merge-on-read upsert: updates of live keys of this batch plus
    # inserts of new keys
    live_fresh = [k for k in fresh if k in model.rows]
    upd = sorted(live_fresh[int(i)] for i in model.rng.choice(
        len(live_fresh), MERGE_UPDATES, replace=False))
    ins = model.new_rows(MERGE_INSERTS)
    fresh_vals = data.make_orders(MERGE_UPDATES, model.rng)
    src = pa.concat_tables([pa.table({
        "o_orderkey": pa.array(upd, pa.int32()),
        "o_orderpriority": fresh_vals.column("o_orderpriority"),
        "o_totalprice": fresh_vals.column("o_totalprice")}), ins])
    src_df = _orders_df(spark, src)
    _rewrites(runner.execute(
        "merge", group, lambda: _merge(spark, path, src_df),
        check=lambda r: (r["n_replaced_rows"] == len(upd)
                         and r["n_source_rows"] == src.num_rows),
        rows=lambda _r: src.num_rows), runner)
    runner.records[-1].stats["user_bytes"] = src.nbytes
    model.apply_upsert(src)
    _after_commit(ctx, runner, path)

    # 5. read-your-write over the batch, its updates and inserts
    _ryw(ctx, runner, group, lo, ins.column("o_orderkey")[-1].as_py())


def _ryw(ctx, runner: Runner, group: int, lo: int, hi: int) -> None:
    """Count and sum over ``lo <= o_orderkey <= hi``, checked against
    the model right after a commit: the metadata caches are cold."""
    from pyspark.sql.datasource import (
        GreaterThanOrEqual, IsNotNull, LessThanOrEqual)

    spark, path = ctx.spark, ctx.datasets["ingest"]
    spec = ReadSpec({"path": path}, [
        IsNotNull(("o_orderkey",)), GreaterThanOrEqual(("o_orderkey",), lo),
        LessThanOrEqual(("o_orderkey",), hi)])
    want = ctx.model.range_answer(lo, hi)
    runner.execute(
        "ryw", group, lambda: _range_totals(spark, path, lo, hi),
        check=lambda got: (got[0] == want[0]
                           and close(got[1] or 0.0, want[1])),
        rows=lambda _r: 1,
        replay=lambda rec: replay_read(runner, rec, spec))


def _compaction(ctx, runner: Runner, group: int) -> None:
    path = ctx.datasets["ingest"]
    live = getattr(ctx, "_live", 0)
    runner.execute("compact", group, lambda: _compact(ctx.spark, path),
                   check=lambda n: n == data.FILES, rows=lambda _r: 0)
    runner.records[-1].stats["files_rewritten"] = live
    _after_commit(ctx, runner, path)


def _rewrites(result, runner: Runner) -> None:
    if result is not None:
        runner.records[-1].stats["files_rewritten"] = \
            result["n_rewritten_files"]


def _after_commit(ctx, runner: Runner, path: str) -> None:
    """Traced rounds: data files the commit wrote, and the cold
    head_snapshot the next reader pays."""
    rec = runner.records[-1] if runner.records else None
    if rec is None or not rec.traced or getattr(ctx, "tracer", None) is None:
        return
    now = _data_files(path)
    prev = getattr(ctx, "_files", None) or {}
    rec.stats["new_data_bytes"] = sum(sz for f, sz in now.items()
                                      if f not in prev)
    ctx._files = now
    head = cold_head_snapshot(ctx.tracer, rec, path)
    ctx._live = len(head["files"]) if head else 0


def _data_files(path: str) -> dict:
    return {f: os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".colf") or f.endswith(".colfd")}


def ingest_round(ctx, runner: Runner, group: int) -> bool:
    """One cycle; every CYCLES_PER_COMPACTION-th ends in a compaction,
    and only then may the run stop, so every run ends in the same phase
    of the write/compact saw-tooth. The footprint is taken at its peak,
    right before the compaction, while the copy-on-write rewrites,
    merge-on-read sidecars and log growth are still on disk. A traced
    run alternates per cycle."""
    if runner.tracer is not None:
        ctx._files = _data_files(ctx.datasets["ingest"])
    ingest_cycle(ctx, runner, group)
    if (group + 1) % CYCLES_PER_COMPACTION:
        return False
    ctx.footprint = data.footprint(ctx.datasets.values())
    _compaction(ctx, runner, group)
    return True


def ingest_verify(ctx, runner: Runner) -> None:
    """Whole-table count and sums against the model, after the run."""
    from pyspark.sql import functions as F

    path = ctx.datasets["ingest"]
    want = ctx.model.totals()
    runner.execute(
        "verify", -2,
        lambda: tuple(ctx.spark.read.format("colf").load(path).agg(
            F.count(F.lit(1)), F.sum("o_orderkey"), F.sum("o_totalprice"))
            .collect()[0]),
        check=lambda got: (got[0] == want[0] and got[1] == want[1]
                           and close(got[2], want[2])),
        rows=lambda _r: 0)


# Lookup and scan warm up with one whole round, checked but not timed:
# after a partial warm-up the first round still ran up to half slower
# than the next, which put the median of a two-round run between the
# two. Ingest warms its operations at once instead, each writer on its
# own clone (a whole cycle would add about ten seconds to every run).

def ingest_warm(ctx) -> list:
    """Each writing operation gets its own clone of the ingest table."""
    from columnar_format_spark.staging import clone_dataset

    s, path = ctx.spark, ctx.datasets["ingest"]
    clones = []
    for i in range(4):
        clones.append(os.path.join(ctx.run_dir, f"warm-{i}"))
        clone_dataset(path, clones[-1])
    rows = data.make_orders(APPEND_ROWS, np.random.default_rng(0),
                            first_key=ctx.model.next_key)
    return [lambda: _append(_orders_df(s, rows), clones[0]),
            lambda: _range_totals(s, path, 0, 4000),
            lambda: _delete(s, clones[1], [0, 2, 4]),
            lambda: _merge(s, clones[2], _orders_df(s, rows.slice(0, 70))),
            lambda: _compact(s, clones[3])]


STAGERS = {"orders": data.stage_orders, "lineitem": data.stage_lineitem}

# workload: (tables it stages, step after staging, concurrent warm-up
# operations, warm-up rounds, one round)
WORKLOADS = {
    "lookup": (("orders", "lineitem"), None, None, 1, lookup_round),
    "scan": (("lineitem",), None, None, 1, scan_round),
    "ingest": (("orders",), ingest_prepare, ingest_warm, 0, ingest_round),
}


def stage(workload: str, ctx) -> None:
    """Write the workload's tables; needs no Spark session."""
    tables = WORKLOADS[workload][0]
    ctx.datasets = {t: os.path.join(ctx.run_dir, t) for t in tables}
    for t in tables:
        STAGERS[t](ctx.source, ctx.datasets[t])


def warm_up(workload: str, ctx, runner: Runner) -> None:
    """Run every code path before timing starts: the first Spark read
    or write of a process costs about ten seconds more than later
    ones. Warm-up rounds record into ``runner``, whose answers count
    like any other; concurrent warm-up operations are not checked, and
    their failures are only logged."""
    _tables, prepare, warm, rounds, round_fn = WORKLOADS[workload]
    if prepare is not None:
        prepare(ctx)
    spark = ctx.spark

    def run(fn):
        # Python data sources resolve through the JVM thread's active
        # session, which a new thread does not have
        spark._jvm.org.apache.spark.sql.classic.SparkSession \
            .setActiveSession(spark._jsparkSession)
        try:
            fn()
        except Exception:
            print(f"[perfbench] warm-up failed:\n{traceback.format_exc()}",
                  file=sys.stderr)

    threads = [threading.Thread(target=run, args=(fn,))
               for fn in (warm(ctx) if warm else [])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for group in range(-rounds, 0):
        round_fn(ctx, runner, group)


# -------------------------------------------------------------- metrics

TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the median when there are fewer than twenty."""
    xs = sorted(values)
    for p in TAIL_PCTS:
        if len(xs) * (1 - p / 100) >= 10:
            return float(np.percentile(xs, p)), p
    return float(statistics.median(xs)), 50.0
