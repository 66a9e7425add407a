"""Seeded input tables for the benchmark.

``data/`` holds copies of the repository's sf 0.1 test tables
(TESTDATA.md), cut to what the benchmark reads: the columns that
``raptor_spark`` reads, and the orders (with their lineitems) whose key
is below 30 000. ``documents``, ``embeddings`` and ``customer`` are
whole. A smaller scale factor takes a key range of these copies: the
rows whose key is below the table's sf-sized row count.

The table *contents* therefore depend only on the scale factor, and
every workload's expected output is the same for every benchmark seed.
The seed only permutes the row order in which each table is written,
which changes how rows fall into scan splits, shuffle map outputs and
Arrow batches without changing any result.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: table -> (key column, rows per unit of scale factor); None keeps the
#: whole table
KEYS = {
    "orders": ("o_orderkey", 1_500_000),
    "lineitem": ("l_orderkey", 1_500_000),
    "customer": None,
    "documents": ("doc_id", 50_000),
    "embeddings": ("vec_id", 20_000),
}


def key_limit(table: str, sf: float) -> int:
    """Rows of ``table`` with a key below this are in the sf-sized cut."""
    return max(int(round(KEYS[table][1] * sf)), 50)


def load(table: str, sf: float) -> pa.Table:
    t = pq.read_table(os.path.join(DATA, table + ".parquet"))
    if KEYS[table] is None:
        return t
    key = KEYS[table][0]
    limit = key_limit(table, sf)
    if limit > pc.max(t[key]).as_py() + 1:
        raise ValueError(
            "%s holds keys below %d only; sf %g needs %d"
            % (table, pc.max(t[key]).as_py() + 1, sf, limit)
        )
    return t.filter(pc.less(t[key], limit))


def write_tables(names, sf: float, out_dir: str, seed: int) -> dict:
    """Write each named table as ``out_dir/<name>.parquet`` in a
    seed-chosen row order; returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, name in enumerate(sorted(names)):
        table = load(name, sf)
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(
            table.take(pa.array(perm)),
            os.path.join(out_dir, name + ".parquet"),
            row_group_size=64 * 1024,
        )
        rows[name] = table.num_rows
    return rows
