#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to files.

    python tools/explain_query.py --out /tmp/plans --suffix _before q183 q206

Writes <out>/<full_query_name><suffix>.txt for every registered query
matching any name substring. Runs at sf0.001 by default (plan SHAPE is
sf-independent; fixture staging stays cheap)."""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.001"
    out = "plans"
    suffix = ""
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf = args[i + 1]
            i += 2
        elif args[i] == "--out":
            out = args[i + 1]
            i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    from columnar_format_spark.session import get_spark
    import columnar_format_spark.queries  # noqa: F401
    from columnar_format_spark.registry import QUERIES

    spark = get_spark(app_name="explain", cpus=8)
    os.makedirs(out, exist_ok=True)
    for q in [q for q in QUERIES if any(n in q for n in names)]:
        df = QUERIES[q].fn(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        fp = os.path.join(out, f"{q}{suffix}.txt")
        with open(fp, "w") as fh:
            fh.write(plan)
        print(f"wrote {fp} ({len(plan.splitlines())} lines)", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
