"""Turn one run's operation records and spans into named metrics.

End-to-end metrics apply to every workload; what counts as a read and
which rows count are the workload's own (see README.md). Per-layer
metrics a workload does not exercise read 0.
"""

from __future__ import annotations

import os
import statistics
import time
import zlib

import numpy as np

from perfbench import data
from perfbench.workloads import tail

READ_KINDS = {"point", "range", "absent", "scan_groupby", "scan_all", "ryw"}
MAINTENANCE_KINDS = {"delete", "merge", "compact"}

END_TO_END_UNITS = {
    "setup_s": "s",
    "correct_frac": "ratio",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "bytes_per_user_byte": "ratio",
}

PER_LAYER_UNITS = {
    "spark.overhead_ms": "ms",
    "spark.jobs_per_op": "count",
    "datasource.schema_ms": "ms",
    "datasource.plan_ms": "ms",
    "datasource.read_ms": "ms",
    "datasource.files_opened": "count",
    "datasource.files_total": "count",
    "datasource.useful_file_ratio": "ratio",
    "datasource.rows_examined_per_row_returned": "ratio",
    "datasource.head_snapshot_ms": "ms",
    "datasource.log_entries": "count",
    "datasource.metadata_bytes": "bytes",
    "datasource.append_p50_ms": "ms",
    "datasource.append_tail_ms": "ms",
    "format.decode_ms": "ms",
    "format.decode_mb_per_s": "MB/s",
    "format.encode_ms": "ms",
    "format.encode_mb_per_s": "MB/s",
    "format.compression_ratio": "ratio",
    "bloom.files_skipped_ratio": "ratio",
    "bloom.false_positive_files": "count",
    "maintenance.delete_ms": "ms",
    "maintenance.merge_ms": "ms",
    "maintenance.compact_ms": "ms",
    "maintenance.dml_p50_ms": "ms",
    "maintenance.files_rewritten": "count",
    "maintenance.bytes_rewritten_per_user_byte": "ratio",
    "session.start_ms": "ms",
    "session.peak_rss_mb": "MB",
    "host.parquet_scan_ms": "ms",
    "host.cpu_probe_start_ms": "ms",
    "host.cpu_probe_end_ms": "ms",
    "host.steal_start_pct": "%",
    "host.steal_end_pct": "%",
    "trace.overhead_ms": "ms",
    "trace.read_tail_pct": "pct",
}


def _named(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _footprint(ctx) -> data.Footprint:
    """The on-disk footprint the run reports: ingest's, taken before
    its last compaction (see workloads.ingest_round); otherwise the
    datasets' at the end of the run."""
    return (getattr(ctx, "footprint", None)
            or data.footprint(ctx.datasets.values()))


def _user_bytes(ctx) -> int:
    """Arrow bytes of the live rows the workload's datasets hold."""
    model = getattr(ctx, "model", None)
    if model is not None:
        return model.arrow_bytes()
    tables = {"orders": ctx.source.orders, "lineitem": ctx.source.lineitem}
    return sum(tables[name].nbytes for name in ctx.datasets)


def _measured(runner):
    return [r for r in runner.records if r.kind != "verify"]


def end_to_end(ctx, runner, setup_s: float, checked: list) -> dict:
    ops = _measured(runner)
    reads = [r.ms for r in ops if r.kind in READ_KINDS]
    busy_s = sum(r.ms for r in ops) / 1000
    return _named({
        "setup_s": setup_s,
        "correct_frac": _ratio(sum(r.ok for r in checked), len(checked)),
        "read_p50_ms": _median(reads),
        "read_tail_ms": tail(reads)[0],
        "ops_per_s": _ratio(len(ops), busy_s),
        "rows_per_s": _ratio(sum(r.rows for r in ops), busy_s),
        "bytes_per_user_byte": _ratio(_footprint(ctx).total, _user_bytes(ctx)),
    }, END_TO_END_UNITS)


def per_layer(ctx, runner, session_ms: float, host: dict) -> dict:
    tracer = runner.tracer
    ops = _measured(runner)
    traced = [r for r in ops if r.traced]
    t_reads = [r for r in traced if r.kind in READ_KINDS]
    bloom_ops = [r for r in t_reads if "zone_kept" in r.stats]
    appends = [r for r in traced if r.kind == "append"]
    maint = [r for r in traced if r.kind in MAINTENANCE_KINDS]

    def stat(recs, key):
        return [r.stats.get(key, 0) for r in recs]

    def span_ms(name):
        return [1000 * (s["end"] - s["start"]) for s in tracer.spans
                if s["name"] == name]

    reads_all = [r.ms for r in ops if r.kind in READ_KINDS]
    untraced_reads = [r.ms for r in ops
                      if r.kind in READ_KINDS and not r.traced]
    decode_b, decode_ms = sum(stat(t_reads, "decode_bytes")), \
        sum(stat(t_reads, "decode_ms"))
    encode_b, encode_ms = sum(stat(appends, "encode_bytes")), \
        sum(stat(appends, "encode_ms"))
    user_written = sum(r.stats.get("user_bytes", 0) for r in traced)
    disk = _footprint(ctx)
    # live data only: after ingest's last compaction nothing dead is left
    live_data_b = data.footprint(ctx.datasets.values()).data_bytes
    append_ms = [r.ms for r in ops if r.kind == "append"]
    return _named({
        "spark.overhead_ms": _median(r.ms - r.stats.get("colf_ms", 0.0)
                                     for r in t_reads),
        "spark.jobs_per_op": _mean(r.jobs for r in ops),
        "datasource.schema_ms": _median(stat(t_reads, "schema_ms")),
        "datasource.plan_ms": _median(stat(t_reads, "plan_ms")),
        "datasource.read_ms": _median(stat(t_reads, "read_ms")),
        "datasource.files_opened": _mean(stat(t_reads, "files_opened")),
        "datasource.files_total": _mean(stat(t_reads, "files_total")),
        "datasource.useful_file_ratio": _ratio(
            sum(stat(t_reads, "useful_files")),
            sum(stat(t_reads, "files_opened"))),
        "datasource.rows_examined_per_row_returned": _ratio(
            sum(stat(t_reads, "rows_examined")),
            max(1, sum(stat(t_reads, "rows_returned")))),
        "datasource.head_snapshot_ms": _median(
            span_ms("datasource.head_snapshot_cold")),
        "datasource.log_entries": disk.log_entries,
        "datasource.metadata_bytes": disk.meta_bytes,
        "datasource.append_p50_ms": _median(append_ms),
        "datasource.append_tail_ms": tail(append_ms)[0] if append_ms else 0.0,
        "format.decode_ms": _median(stat(t_reads, "decode_ms")),
        "format.decode_mb_per_s": _ratio(decode_b / 1e6, decode_ms / 1e3),
        "format.encode_ms": _median(stat(appends, "encode_ms")),
        "format.encode_mb_per_s": _ratio(encode_b / 1e6, encode_ms / 1e3),
        "format.compression_ratio": _ratio(_user_bytes(ctx), live_data_b),
        "bloom.files_skipped_ratio": _ratio(
            sum(stat(bloom_ops, "zone_kept")) -
            sum(stat(bloom_ops, "bloom_kept")),
            sum(stat(bloom_ops, "zone_kept"))),
        "bloom.false_positive_files": _mean(stat(bloom_ops, "bloom_fp")),
        "maintenance.delete_ms": _median(span_ms("maintenance.delete_where")),
        "maintenance.merge_ms": _median(span_ms("maintenance.merge_into")),
        "maintenance.compact_ms": _median(span_ms("maintenance.compact")),
        "maintenance.dml_p50_ms": _median(r.ms for r in ops
                                          if r.kind in ("delete", "merge")),
        "maintenance.files_rewritten": _mean(stat(maint, "files_rewritten")),
        "maintenance.bytes_rewritten_per_user_byte": _ratio(
            sum(stat(maint, "new_data_bytes")), user_written),
        "session.start_ms": session_ms,
        "session.peak_rss_mb": peak_rss_mb(ctx.spark),
        "host.parquet_scan_ms": parquet_scan_ms(ctx),
        **host,
        "trace.overhead_ms": (_median(r.ms for r in t_reads)
                              - _median(untraced_reads)),
        "trace.read_tail_pct": tail(reads_all)[1],
    }, PER_LAYER_UNITS)


# ------------------------------------------------------- host controls

# bench.py's _host_calibration probes a 16 MB buffer and a 768^2 matrix
# (about 2 s a call); a benchmark run probes twice within a tight time
# budget, so it uses a quarter of each (about 0.4 s a call)
PROBE_BYTES = 4 << 20
PROBE_MATRIX = 384


def host_probe() -> dict:
    """A fixed single-threaded CPU probe (zlib over a pseudo-random
    buffer plus a matrix product, best of three) and the share of CPU
    time the hypervisor stole while it ran. A drift in these between
    two runs is the host's, not the code's."""
    import bench

    rng = np.random.default_rng(13)
    blob = rng.integers(0, 256, PROBE_BYTES, dtype=np.uint8).tobytes()
    a = rng.standard_normal((PROBE_MATRIX, PROBE_MATRIX))

    def once() -> float:
        t = time.perf_counter()
        zlib.compress(blob, 6)
        float((a @ a).sum())
        return time.perf_counter() - t

    t0 = bench._cpu_ticks()
    best = min(once() for _ in range(3))
    drift = bench._cpu_drift(t0, bench._cpu_ticks())
    return {"cpu_probe_ms": 1000 * best,
            "steal_pct": drift.get("steal_pct", 0.0)}


def host_controls(start: dict, end: dict) -> dict:
    """The CPU probe and steal readings of one run, before and after
    its measured rounds."""
    return {
        "host.cpu_probe_start_ms": start["cpu_probe_ms"],
        "host.cpu_probe_end_ms": end["cpu_probe_ms"],
        "host.steal_start_pct": start["steal_pct"],
        "host.steal_end_pct": end["steal_pct"],
    }


def parquet_scan_ms(ctx) -> float:
    """The scan workload's group-by over the source Parquet file through
    Spark's built-in reader (median of three): the same engine, none of
    the COLF code. Only traced runs take it: the first Parquet read of
    a process costs 3 to 6 s, too much to add to every timed run."""
    from pyspark.sql import functions as F

    def once() -> float:
        t = time.perf_counter()
        (ctx.spark.read.parquet(ctx.source.lineitem_path)
         .groupBy("l_returnflag")
         .agg(F.count(F.lit(1)), F.sum("l_quantity")).collect())
        return 1000 * (time.perf_counter() - t)

    once()
    return _median(once() for _ in range(3))


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process, the JVM and every process
    the JVM started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    pids = [os.getpid()] + ([proc.pid] if proc is not None else [])
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
    stack = pids[1:]
    while stack:
        kids = children.get(stack.pop(), [])
        pids += kids
        stack += kids
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024
