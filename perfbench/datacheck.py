#!/usr/bin/env python3
"""Compare the generated source tables with real ones, column by column.

    python3 perfbench/datacheck.py DIR

DIR holds ``orders.parquet`` and ``lineitem.parquet`` (the repo's sf0.1
test data). Both sides are projected and cast as the engine's own COLF
staging does, staged as 8-file COLF datasets by the benchmark's stagers,
and compared on row count, per-column type, distinct count, min and
max, lines per order, staged COLF bytes and decode speed. Prints one
JSON document; nothing of it is used by a benchmark run.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import data  # noqa: E402

ORDERS_COLS = ["o_orderkey", "o_orderpriority", "o_totalprice"]


def project(path: str, cols: list[str], key: str) -> pa.Table:
    t = pq.read_table(path, columns=cols)
    return t.set_column(t.column_names.index(key), key,
                        pc.cast(t.column(key), pa.int32()))


def columns(t: pa.Table) -> dict:
    out = {}
    for c in t.column_names:
        mm = pc.min_max(t.column(c))
        out[c] = {"type": str(t.schema.field(c).type),
                  "distinct": pc.count_distinct(t.column(c)).as_py(),
                  "min": mm["min"].as_py(), "max": mm["max"].as_py()}
    return out


def staged(src: data.Source, work: str) -> dict:
    from columnar_format_spark.colf.format import read_columns_arrow

    out = {}
    for name, stager, t in (("orders", data.stage_orders, src.orders),
                            ("lineitem", data.stage_lineitem, src.lineitem)):
        path = os.path.join(work, name)
        stager(src, path)
        files = sorted(glob.glob(os.path.join(path, "*.colf")))
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for f in files:
                read_columns_arrow(f, t.column_names)
            best = min(best, time.perf_counter() - t0)
        colf = sum(os.path.getsize(f) for f in files)
        out[name] = {"rows": t.num_rows, "arrow_bytes": t.nbytes,
                     "colf_data_bytes": colf,
                     "compression_ratio": round(t.nbytes / colf, 4),
                     "decode_mb_per_s": round(t.nbytes / 1e6 / best, 1),
                     "columns": columns(t)}
    lines = np.bincount(src.lineitem.column("l_orderkey").to_numpy(),
                        minlength=src.orders.num_rows)
    out["lines_per_order"] = {"mean": round(float(lines.mean()), 4),
                              "share_without_lines":
                                  round(float((lines == 0).mean()), 4),
                              "max": int(lines.max())}
    return out


def main(argv: list[str]) -> int:
    real_dir = argv[0]
    home = os.path.join(ROOT, ".perfbench")
    os.makedirs(home, exist_ok=True)
    work = tempfile.mkdtemp(prefix="datacheck-", dir=home)
    try:
        os.makedirs(os.path.join(work, "gen"))
        os.makedirs(os.path.join(work, "real"))
        gen = data.make_source(os.path.join(work, "gen"), 1.0)
        real = data.Source(
            "", "",
            project(os.path.join(real_dir, "orders.parquet"), ORDERS_COLS,
                    "o_orderkey"),
            project(os.path.join(real_dir, "lineitem.parquet"),
                    data.LINEITEM_COLS, "l_orderkey"))
        report = {"generated": staged(gen, os.path.join(work, "gen")),
                  "real": staged(real, os.path.join(work, "real"))}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, indent=1, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
