#!/usr/bin/env python3
"""COLF benchmark driver: one workload, one fresh process, one result.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Runs from any working directory. Everything it writes stays under
``.perfbench/`` at the repository root: a per-run directory (source
tables, staged COLF datasets, Spark scratch, temp files) that is deleted
on exit, the run's captured stdout/stderr in ``<workload>.log``, one line
per run with its host drift controls in ``host.jsonl`` and, for traced
runs, the spans in ``<workload>.spans.jsonl``. Standard output
carries exactly one line, the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "columnar_format_spark"
SOCKET_DIR = "sock"
# A fixed floor on the sample: on a loaded host a round can outlast
# --seconds, and one round holds only three or four reads.
MIN_ROUNDS = 2


def _age_at_import() -> float:
    """Seconds between this process's creation and now (0 when /proc is
    unavailable); /proc counts in clock ticks, so it is read only once."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


_IMPORTED = time.perf_counter()
_AGE_AT_IMPORT = _age_at_import()


def _seconds_since_process_start() -> float:
    return _AGE_AT_IMPORT + time.perf_counter() - _IMPORTED


def _log(msg: str) -> None:
    print(f"[perfbench {_seconds_since_process_start():7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["lookup", "scan", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="table size relative to 150k orders / 600k "
                        "lineitem rows (tests use a small scale)")
    return p.parse_args(argv)


class _Context:
    """What the workload functions share for one run."""

    def __init__(self, spark, run_dir, source, oracle, rng, tracer):
        self.spark, self.run_dir = spark, run_dir
        self.source, self.oracle = source, oracle
        self.rng, self.tracer = rng, tracer
        self.datasets: dict[str, str] = {}


def _redirect_output(log_path: str) -> int:
    """Point fds 1 and 2 (inherited by the JVM and its Python workers)
    at the log; return a private duplicate of the real stdout."""
    out = os.dup(1)
    log = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(log, 1)
    os.dup2(log, 2)
    os.close(log)
    return out


def _reap_stale_runs(home: str) -> None:
    """Remove run directories left by runs that were killed."""
    for name in os.listdir(home):
        if not name.startswith("run-"):
            continue
        try:
            pid = int(name.split("-")[1])
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(home, name), ignore_errors=True)
        except (ValueError, IndexError, PermissionError):
            pass


def _start_spark(run_dir: str, tmp: str):
    from columnar_format_spark.colf.datasource import register
    from columnar_format_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # relative to the run dir, the cwd of the JVM and its Python
            # workers: a socket path must fit in 107 bytes, whatever
            # the checkout's path
            "spark.python.unix.domain.socket.dir": SOCKET_DIR,
        })
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _inputs(workload: str, run_dir: str, scale: float, seed: int):
    """Source tables, oracle, seeded generator and staged datasets."""
    import numpy as np

    from perfbench import data, workloads

    src = data.make_source(run_dir, scale)
    ctx = _Context(None, run_dir, src, data.Oracle(src),
                   np.random.default_rng(seed), None)
    workloads.stage(workload, ctx)
    return ctx


def _record_host(home: str, args, host: dict, result: dict) -> None:
    """Append the run's host drift controls beside its result to
    ``host.jsonl``: the result line itself may carry only the declared
    metrics, and a regression report needs both to tell host drift
    from a code change."""
    line = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "time": time.time(), "host": host,
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}
    _log(f"host controls {json.dumps(host)}")
    with open(os.path.join(home, "host.jsonl"), "a") as f:
        f.write(json.dumps(line) + "\n")


def run(args, run_dir: str, home: str) -> dict:
    cwd = os.getcwd()
    os.makedirs(os.path.join(run_dir, SOCKET_DIR), exist_ok=True)
    os.chdir(run_dir)
    try:
        return _run(args, run_dir, home)
    finally:
        os.chdir(cwd)


def _run(args, run_dir: str, home: str) -> dict:
    from perfbench import metrics, workloads

    t = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        # inputs are generated and staged while the JVM starts
        inputs = pool.submit(_inputs, args.workload, run_dir, args.scale,
                             args.seed)
        spark = _start_spark(run_dir, os.environ["TMPDIR"])
        session_ms = 1000 * (time.perf_counter() - t)
        _log(f"session up in {session_ms:.0f} ms")
    tracer = None
    try:
        ctx = inputs.result()
        ctx.spark = spark
        _log("staged")
        warm = workloads.Runner(spark, None, 0)
        workloads.warm_up(args.workload, ctx, warm)
        setup_s = _seconds_since_process_start()
        _log("staged and warm")
        if args.trace:
            from perfbench.tracing import Tracer, instrument_layers

            tracer = ctx.tracer = Tracer()
            instrument_layers(tracer)
        host0 = metrics.host_probe()
        runner = workloads.Runner(spark, tracer, args.seconds)
        runner.start()
        round_fn = workloads.WORKLOADS[args.workload][-1]
        group = 0
        while True:
            may_stop = round_fn(ctx, runner, group)
            group += 1
            if (may_stop and group >= MIN_ROUNDS and runner.expired()
                    and runner.sampled()):
                break
        _log(f"measured {group} rounds, {len(runner.records)} operations")
        if args.workload == "ingest":
            workloads.ingest_verify(ctx, runner)
        host = metrics.host_controls(host0, metrics.host_probe())
        # every checked answer counts, the warm-up round's too
        checked = warm.records + runner.records
        if tracer is None:
            values = metrics.end_to_end(ctx, runner, setup_s, checked)
        else:
            values = metrics.per_layer(ctx, runner, session_ms, host)
            tracer.dump(os.path.join(home, f"{args.workload}.spans.jsonl"))
        bad = sum(not r.ok for r in checked)
        result = {"correct": bad == 0, "attempted": len(checked),
                  "failed": bad, "metrics": values}
        _record_host(home, args, host, result)
        return result
    except Exception:
        # a Py4J error renders only while the JVM is still up
        traceback.print_exc()
        raise
    finally:
        if tracer is not None:
            tracer.restore()
        _stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run the "
              f"benchmark from a full checkout", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    home = os.path.join(ROOT, ".perfbench")
    os.makedirs(home, exist_ok=True)
    _reap_stale_runs(home)
    run_dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=home)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers must import the package from any cwd, and
    # every temp file of the JVM and the workers stays in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    out = _redirect_output(os.path.join(home, f"{args.workload}.log"))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, run_dir, home)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    os.write(out, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
