"""Final query registry: importing this module registers every query
from the operator/function modules into registry.QUERIES, in
registration order.

Each entry is a QuerySpec: ``fn(spark, sf_dir) -> DataFrame`` plus an
optional DuckDB ``oracle`` SQL string. __spark_entry__.py exposes the
two views below; tests/test_queries_oracle.py runs every query against
its oracle, and tests/test_entry.py pins that every query has one.
"""

from __future__ import annotations

from . import operators  # noqa: F401
from . import functions  # noqa: F401
from .colf import roundtrip  # noqa: F401
from . import sources  # noqa: F401
from .streaming import stream_queries  # noqa: F401
from .registry import QUERIES, QuerySpec  # noqa: F401


def spark_queries():
    """name -> fn(spark, sf_dir) for __spark_entry__.queries()."""
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_queries():
    """name -> DuckDB SQL for __spark_entry__.oracle_sql() (only the
    SQL-expressible subset)."""
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}
