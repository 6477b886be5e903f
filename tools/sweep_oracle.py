#!/usr/bin/env python
"""Driver-style full-registry oracle sweep: run every registered query
AND its DuckDB oracle at a scale-factor dir, compare rows/schema/values
the way the external driver does, and print one JSON line per query
plus a final summary. Usage:

    python tools/sweep_oracle.py [--dtypes] [sf_dir] [name_substring ...]

`--dtypes` additionally runs the driver-replica pandas dtype-parity
check (oracle.pandas_dtype_parity) per query — the exact-hash gate the
driver applies materializes through pandas, where DuckDB HUGEINT
becomes float64 while Spark bigint stays int64, so a value-equal
query can still hash-fail (the q33 r01/r02 and q177 r07 failure
class). Run the --dtypes pass before every ship.

Defaults to /root/testdata/sf0.01. Numeric values compare with 1e-9
tolerance (both engines compute identical doubles by the determinism
rules; the tolerance only absorbs display-roundtrip noise). Known
limitation vs the real driver: rows pair up by SORTING on stringified
9dp-rounded cells, so two rows tying on every leading column while two
engines' floats straddle a 9dp rounding boundary could mispair and
report a spurious FAIL — inspect such a failure by hand before
believing it (it has not occurred across any full sweep).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return round(v, 9) if math.isfinite(v) else repr(v)
    return v


def _rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # None-safe total order: rows may carry NULLs, which Python can't
    # compare to values — sort on (is_null, stringified) per cell while
    # equality still compares the actual values
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=lambda t: tuple((x is None, str(x)) for x in t))


def _values_close(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from columnar_format_spark.session import get_spark

    argv = [a for a in sys.argv[1:] if a != "--dtypes"]
    check_dtypes = "--dtypes" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = argv[1:]
    spark = get_spark(app_name="sweep")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    queries = entry.queries()
    oracles = entry.oracle_sql()
    n_fail = 0
    for name, fn in queries.items():
        if only and not any(s in name for s in only):
            continue
        t0 = time.perf_counter()
        rec = {"q": name}
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            sql = oracles.get(name)
            if sql is None:
                rec["status"] = "rows_only"
                rec["spark_rows"] = len(srows)
            else:
                cur = con.execute(sql)
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                ok_rows = len(srows) == len(orows)
                ok_schema = sorted(scols) == sorted(ocols)
                ok_vals = (ok_rows and ok_schema and _values_close(
                    _rows_key(scols, srows), _rows_key(ocols, orows)))
                rec.update(status="pass" if (ok_rows and ok_schema and ok_vals)
                           else "FAIL",
                           rows_match=ok_rows, schema_match=ok_schema,
                           hash_match=ok_vals, spark_rows=len(srows),
                           oracle_rows=len(orows))
                if rec["status"] == "FAIL":
                    n_fail += 1
                if check_dtypes:
                    from columnar_format_spark.oracle import (
                        pandas_dtype_parity,
                    )
                    par = pandas_dtype_parity(spark, sf_dir, name)
                    rec["dtype_parity"] = par["ok"]
                    if not par["ok"]:
                        rec["dtype_notes"] = par["notes"]
                        rec["status"] = "FAIL"
                        n_fail += 1
        except Exception as exc:  # noqa: BLE001 — sweep must not die mid-run
            rec.update(status="ERROR", err=f"{type(exc).__name__}: {exc}"[:300])
            n_fail += 1
        rec["sec"] = round(time.perf_counter() - t0, 2)
        print(json.dumps(rec), flush=True)
        # drop temp views streaming queries leave behind
        for t in spark.catalog.listTables():
            if t.name.startswith("q_") and t.isTemporary:
                spark.catalog.dropTempView(t.name)
    n = len([q for q in queries if not only or any(s in q for s in only)])
    print(json.dumps({"summary": True, "sf_dir": sf_dir, "n_queries": n,
                      "n_fail": n_fail}), flush=True)
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
