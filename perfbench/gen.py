"""Seeded inputs for the benchmark.

The inputs are copies of the project's test data, committed under
``data/``: the TPC-H-shaped sf0.01 tables (nation, customer, part, orders,
lineitem) and the sf0.1 documents table (5,000 documents). A run writes
them out in seeded row order with pyarrow only, so that making the inputs
never starts Spark or warms the program: the tables as CSV files, the
documents as one parquet file. The seed also fixes the query parameters
and the query order (``workloads.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("nation", "customer", "part", "orders", "lineitem")
#: every committed file; a file's index seeds its own row order
FILES = TABLES + ("documents",)


def shuffled(name: str, seed: int) -> pa.Table:
    """The table ``data/<name>.parquet`` in seeded row order."""
    table = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
    rng = np.random.default_rng([seed, FILES.index(name)])
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _as_csv(table: pa.Table) -> pa.Table:
    # the timestamps of the test data all fall on midnight: write them as
    # dates, the form a CSV user has
    cols = [c.cast(pa.date32()) if pa.types.is_timestamp(c.type) else c
            for c in table.columns]
    return pa.table(cols, names=table.column_names)


def write_csvs(seed: int, out_dir: str) -> tuple[dict[str, str], dict[str, int]]:
    """The TPC-H tables as CSV files; returns (paths, rows) by table."""
    os.makedirs(out_dir, exist_ok=True)
    paths, rows = {}, {}
    for name in TABLES:
        table = shuffled(name, seed)
        paths[name] = os.path.join(out_dir, f"{name}.csv")
        rows[name] = table.num_rows
        pcsv.write_csv(_as_csv(table), paths[name])
    return paths, rows


def write_documents(seed: int, out_dir: str) -> tuple[dict[str, str], dict[str, int]]:
    """The documents as one parquet file; returns (paths, rows)."""
    os.makedirs(out_dir, exist_ok=True)
    table = shuffled("documents", seed)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return {"documents": path}, {"documents": table.num_rows}


def describe(paths: dict[str, str], rows: dict[str, int]) -> list[dict]:
    """Rows and bytes of each generated file, for the run output."""
    return [
        {"file": os.path.basename(p), "rows": rows[k], "bytes": os.path.getsize(p)}
        for k, p in paths.items()
    ]
