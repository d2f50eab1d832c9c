"""Seeded CDC input generator for the benchmark.

Everything the pipeline consumes is made here from ``--seed``: two
TPC-H-shaped source tables (``src.orders`` and ``src.lineitem``, the same
columns and types as the engine's fixtures) and a stream of
insert/update/delete change events over their primary keys, wrapped into
envelope rows by the engine's own ``cdc.envelope.envelope_from_typed``
and cut into parquet files.  The pipeline receives only those files.

Key choice per event is either uniform (a backlog that touches every
bucket) or Zipf-hot (a trickle that keeps hitting the same few keys).
Per key the op follows a small state machine: the first event of an
absent key is an insert, a live key is updated or, with probability
``P_DELETE``, deleted.  ``seq`` is one strictly increasing counter over
both tables, in file order, so last-writer-wins has one answer.

Lineitem keys are ``(l_orderkey, l_linenumber)`` pairs built unique by
construction (four line numbers per order key), so the fixture's
duplicate-key dedupe (``cdc/changestream.py::lineitem_change_stream``)
has nothing to remove here.  ``l_returnflag`` is a function of the key,
because a partitioned target requires its partition column to be
immutable per key.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

ORDERS_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampType()),
        StructField("o_orderpriority", StringType()),
    ]
)
LINEITEM_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("l_partkey", LongType()),
        StructField("l_suppkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_extendedprice", DoubleType()),
        StructField("l_discount", DoubleType()),
        StructField("l_tax", DoubleType()),
        StructField("l_returnflag", StringType()),
        StructField("l_linestatus", StringType()),
        StructField("l_shipdate", TimestampType()),
    ]
)
SCHEMAS = {("src", "orders"): ORDERS_SCHEMA, ("src", "lineitem"): LINEITEM_SCHEMA}
KEYS = {
    ("src", "orders"): ["o_orderkey"],
    ("src", "lineitem"): ["l_orderkey", "l_linenumber"],
}
LINES_PER_ORDER = 4
N_CUSTOMERS = 1500
P_DELETE = 0.08
_EPOCH = dt.datetime(1992, 1, 1)
_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_FLAGS = np.array(["A", "N", "R"])


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.datetime64(_EPOCH, "us") + rng.integers(0, 2400, n).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


class EventGen:
    """One seeded event stream over both tables; successive ``events``
    calls continue the same key states and the same ``seq`` counter."""

    def __init__(self, seed: int, *, n_orders: int, n_lineitem: int):
        self.rng = np.random.default_rng(seed)
        self.n_keys = {"orders": n_orders, "lineitem": n_lineitem}
        self.alive = {t: np.zeros(n, dtype=bool) for t, n in self.n_keys.items()}
        # Zipf rank -> key: a seeded permutation, so hot keys differ by seed
        self.perm = {t: self.rng.permutation(n) for t, n in self.n_keys.items()}
        self.seq = 0

    def pick(self, table: str, n: int, *, zipf: float | None = None) -> np.ndarray:
        """Key indices for ``n`` events: uniform, or Zipf(``zipf``) ranks
        mapped through the seeded permutation."""
        size = self.n_keys[table]
        if zipf is None:
            return self.rng.integers(0, size, n)
        ranks = self.rng.zipf(zipf, n * 2)
        ranks = ranks[ranks <= size][:n] - 1
        while len(ranks) < n:  # the tail past `size` is rare; top up
            more = self.rng.zipf(zipf, n)
            ranks = np.concatenate([ranks, more[more <= size] - 1])[:n]
        return self.perm[table][ranks]

    def _ops(self, table: str, idx: np.ndarray) -> np.ndarray:
        alive = self.alive[table]
        coin = self.rng.random(len(idx)) < P_DELETE
        ops = np.empty(len(idx), dtype=object)
        for i, k in enumerate(idx):
            if not alive[k]:
                ops[i] = "insert"
                alive[k] = True
            elif coin[i]:
                ops[i] = "delete"
                alive[k] = False
            else:
                ops[i] = "update"
        return ops

    def events(self, table: str, idx: np.ndarray) -> pa.Table:
        """Typed change rows ``(op, seq, <table columns>)`` for the keys
        ``idx`` in that order, with fresh random row images."""
        n = len(idx)
        rng = self.rng
        ops = self._ops(table, idx)
        seq = np.arange(self.seq + 1, self.seq + 1 + n, dtype=np.int64)
        self.seq += n
        if table == "orders":
            cols = {
                "o_orderkey": idx.astype(np.int64) + 1,
                "o_custkey": rng.integers(1, N_CUSTOMERS + 1, n).astype(np.int64),
                "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
                "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n), 2),
                "o_orderdate": _days(rng, n),
                "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
            }
            schema = ORDERS_SCHEMA
        else:
            okey = idx.astype(np.int64) // LINES_PER_ORDER + 1
            line = (idx % LINES_PER_ORDER + 1).astype(np.int32)
            qty = rng.integers(1, 51, n).astype(np.float64)
            cols = {
                "l_orderkey": okey,
                "l_partkey": rng.integers(1, 20001, n).astype(np.int64),
                "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
                "l_linenumber": line,
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
                "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
                "l_returnflag": _FLAGS[(okey + line) % 3],
                "l_linestatus": np.where(rng.random(n) < 0.5, "O", "F"),
                "l_shipdate": _days(rng, n),
            }
            schema = LINEITEM_SCHEMA
        arrays = {"op": pa.array(ops, pa.string()), "seq": pa.array(seq)}
        for f in schema.fields:
            arrays[f.name] = pa.array(cols[f.name])
        return pa.table(arrays)


def to_envelopes(spark, table: str, typed: pa.Table) -> pa.Table:
    """Wrap typed change rows into envelope rows with the engine's own
    ``envelope_from_typed`` (one Spark job), ordered by ``seq``."""
    from qin_cdc_spark.cdc.envelope import envelope_from_typed

    schema = StructType(
        [StructField("op", StringType()), StructField("seq", LongType())]
        + SCHEMAS[("src", table)].fields
    )
    df = spark.createDataFrame(typed.to_pandas(), schema)
    env = envelope_from_typed(df, db="src", table=table)
    return env.toArrow().sort_by("seq")


def split_by_seq(env: pa.Table, bounds: list[int]) -> list[pa.Table]:
    """Cut a seq-sorted envelope table into files at the given seq
    upper bounds (inclusive, increasing)."""
    seqs = env.column("seq").to_numpy()
    cuts = np.searchsorted(seqs, np.asarray(bounds), side="right")
    out, lo = [], 0
    for hi in cuts:
        out.append(env.slice(lo, hi - lo))
        lo = hi
    return out


def write_file(directory: str, index: int, table: pa.Table) -> int:
    """Write one envelope file atomically (hidden name, then rename) so a
    directory tail never sees a partial file; returns its size."""
    name = f"part-{index:06d}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))
    return os.path.getsize(os.path.join(directory, name))
