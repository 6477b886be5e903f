"""columnar_format_spark — a PySpark-native analytics engine with the
capabilities of the reference single-file columnar format ("COLF",
satyakalla890/columnar-format) plus a full Spark query surface and
LLM-data-pipeline operators.

Layout:
  colf/       — the COLF on-disk format: pure-Python codec + PySpark
                Python DataSource (read/write), CSV ingest with the
                reference's schema-inference semantics.
  operators/  — relational query builders (joins, aggregations,
                windows, set ops, as-of/range joins, top-k).
  functions/  — text analysis, deduplication (exact/MinHash/SimHash/
                n-gram), similarity search, multimodal column plumbing.
  streaming/  — Structured Streaming pipelines over the events table.
  session.py  — tuned SparkSession builder for local[N] testing that
                carries cluster-scale defaults (AQE, shuffle sizing).
  queries.py  — the registry consumed by __spark_entry__.py: named
                queries plus DuckDB oracle SQL for each.
"""

# First: every Spark worker that unpickles engine code imports this
# package, which makes its later per-task cache invalidations cheap.
from columnar_format_spark import _zipimport  # noqa: F401

__version__ = "0.1.0"
