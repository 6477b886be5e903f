"""Smoke tests for the driver contract in __spark_entry__.py."""

import os
import re
import sys

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert len(qs) >= 30
    # every oracle key must have a matching query
    assert set(os_) <= set(qs)
    # the vast majority of queries must be oracle-checked
    assert len(os_) >= len(qs) - 5


def test_every_query_has_an_oracle():
    # test_queries_oracle executes and compares every query that has
    # an oracle, so an oracle for each registered query means every
    # query is run end to end in that gate.
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


def test_readme_query_count_is_live():
    """README's stated registry size must match the registry (the
    round-7..9 reviews caught this count rotting twice)."""
    sys.path.insert(0, REPO)
    from columnar_format_spark.queries import QUERIES

    with open(os.path.join(REPO, "README.md")) as f:
        text = f.read()
    m = re.search(r"`queries\(\)` \((\d+) named queries\)", text)
    assert m, "README no longer states the registry size"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries, registry has {len(QUERIES)}")
