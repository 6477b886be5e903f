"""Synthetic source tables, their COLF staging, and the answer oracle.

The source tables reproduce the repo's sf0.1 ``orders`` and ``lineitem``
tables as the engine's own COLF staging projects them (``bench.py``'s
Bloom staging: ``o_orderkey`` cast to int, ``o_orderpriority``,
``o_totalprice``; ``roundtrip._stage_lineitem_colf``: five lineitem
columns, ``l_orderkey`` cast to int). Those tables are themselves
uniform synthetic data: ``o_orderkey`` is 0..149,999 in order,
``l_orderkey`` is uniform over the order keys (so the lines per order
are Poisson with mean 4), and every other column is uniform and
independent. ``datacheck.py`` compares the two column by column.

The tables are generated here from a fixed data seed, so a run needs
nothing outside its checkout and every run stages byte-identical
inputs. The workload seed never changes the tables, only the
operations run against them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_SEED = 20240917
ORDERS_ROWS = 150_000
LINEITEM_ROWS = 600_000
FILES = 8
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS = ["A", "N", "R"]
LINEITEM_COLS = ["l_orderkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_returnflag"]


def make_orders(n: int, rng: np.random.Generator, first_key: int = 0) -> pa.Table:
    """``n`` order rows with keys ``first_key, first_key + 1, ...``."""
    return pa.table({
        "o_orderkey": pa.array(first_key + np.arange(n), pa.int32()),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
    })


def make_lineitem(n: int, n_orders: int, rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int32()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_returnflag": pa.array(np.array(FLAGS)[rng.integers(0, 3, n)]),
    })


@dataclass
class Source:
    """The generated source Parquet files and their in-memory tables."""
    orders_path: str
    lineitem_path: str
    orders: pa.Table
    lineitem: pa.Table


def make_source(out_dir: str, scale: float) -> Source:
    rng = np.random.default_rng(DATA_SEED)
    n_orders = max(100, int(ORDERS_ROWS * scale))
    orders = make_orders(n_orders, rng)
    lineitem = make_lineitem(max(400, int(LINEITEM_ROWS * scale)),
                             n_orders, rng)
    src = Source(os.path.join(out_dir, "orders.parquet"),
                 os.path.join(out_dir, "lineitem.parquet"), orders, lineitem)
    pq.write_table(orders, src.orders_path)
    pq.write_table(lineitem, src.lineitem_path)
    return src


def write_dataset(path: str, table: pa.Table, files: list, **options) -> None:
    """Write ``table`` as a COLF dataset, one part file per index array
    in ``files``, through the engine's own ColfWriter: the per-partition
    ``write`` Spark runs on executors, then the driver-side ``commit``
    (manifest, Bloom sidecar, snapshot log). Staging in-process keeps
    Spark's first-job costs out of every run's set-up."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from columnar_format_spark.colf.datasource import ColfDataSource

    writer = ColfDataSource({"path": path, **options}).writer(
        from_arrow_schema(table.schema), True)
    writer.commit([writer.write(iter(table.take(idx).to_batches()))
                   for idx in files])


def stage_orders(src: Source, dst: str) -> None:
    """Hash-scattered orders: every file's key zone map spans nearly the
    whole key range, so only the Bloom sidecar can prune a point probe."""
    keys = src.orders.column("o_orderkey").to_numpy().astype(np.uint64)
    # multiplicative hash; its high bits pick the file
    bucket = (keys * 2654435761 % (1 << 32)) * FILES >> 32
    write_dataset(dst, src.orders,
                  [np.flatnonzero(bucket == b) for b in range(FILES)],
                  bloomColumns="o_orderkey")


def stage_lineitem(src: Source, dst: str) -> None:
    """Range-partitioned lineitem: disjoint key ranges per file, so the
    zone maps prune a key-range read to one or two files."""
    order = np.argsort(src.lineitem.column("l_orderkey").to_numpy(),
                       kind="stable")
    write_dataset(dst, src.lineitem, np.array_split(order, FILES))


@dataclass
class Footprint:
    """What a set of datasets holds on disk."""
    data_bytes: int  # data files
    meta_bytes: int  # everything else: log, manifest, sidecars
    log_entries: int  # files in the snapshot logs

    @property
    def total(self) -> int:
        return self.data_bytes + self.meta_bytes


def footprint(paths) -> Footprint:
    data = meta = log = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            if os.path.basename(root) == "_log":
                log += len(files)
            for f in files:
                size = os.path.getsize(os.path.join(root, f))
                if f.endswith(".colf") or f.endswith(".colfd"):
                    data += size
                else:
                    meta += size
    return Footprint(data, meta, log)


class Oracle:
    """Expected answers, computed from the source tables with pyarrow
    and numpy — never through the engine under test."""

    def __init__(self, src: Source):
        self._orders = src.orders
        self.order_rows = src.orders.num_rows
        li = src.lineitem.sort_by("l_orderkey")
        self._li = li
        self._li_keys = li.column("l_orderkey").to_numpy()
        self.lineitem_rows = li.num_rows
        self._flag_groups = self._all_columns = None

    def point(self, key: int) -> list[tuple]:
        """The order row with ``key`` (keys are 0, 1, 2, ...)."""
        if not 0 <= key < self._orders.num_rows:
            return []
        return [tuple(self._orders.column(c)[key].as_py()
                      for c in self._orders.column_names)]

    def key_range(self, lo: int, hi: int) -> list[tuple]:
        """Sorted lineitem rows with ``lo <= l_orderkey <= hi``."""
        a = int(np.searchsorted(self._li_keys, lo, side="left"))
        b = int(np.searchsorted(self._li_keys, hi, side="right"))
        part = self._li.slice(a, b - a)
        return sorted(zip(*(part.column(c).to_pylist()
                            for c in LINEITEM_COLS)))

    def flag_groups(self) -> list[tuple]:
        """(l_returnflag, count, sum(l_quantity)) per flag."""
        if self._flag_groups is None:
            g = self._li.group_by("l_returnflag").aggregate(
                [([], "count_all"), ("l_quantity", "sum")])
            self._flag_groups = sorted(zip(
                g.column("l_returnflag").to_pylist(),
                g.column("count_all").to_pylist(),
                g.column("l_quantity_sum").to_pylist()))
        return self._flag_groups

    def all_columns(self) -> tuple:
        """count, sum of each numeric column, min/max l_returnflag."""
        if self._all_columns is None:
            t = self._li
            mm = pc.min_max(t.column("l_returnflag"))
            self._all_columns = (
                t.num_rows,
                pc.sum(t.column("l_orderkey").cast(pa.int64())).as_py(),
                pc.sum(t.column("l_linenumber").cast(pa.int64())).as_py(),
                pc.sum(t.column("l_quantity")).as_py(),
                pc.sum(t.column("l_extendedprice")).as_py(),
                mm["min"].as_py(), mm["max"].as_py())
        return self._all_columns
