"""Seeded benchmark inputs.

Graphs come from the program's own generator
(``hama_spark.sources.fast_graph_gen``); the star-join tables are
TPC-H-shaped (nation, customer, orders, lineitem) and written as parquet
from NumPy, so the DuckDB reference and Spark read the same files. The
same seed always gives the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ("nation", "customer", "orders", "lineitem")


def graph(spark, n: int, max_out: int, seed: int, weighted: bool):
    """Materialized (src, dst[, weight]) edges of a generated graph.

    Weighted graphs carry integer weights 1..100 (the generator draws
    0..99; SSSP needs them positive)."""
    from pyspark.sql import functions as F

    from hama_spark.sources import fast_graph_gen

    e = fast_graph_gen(spark, n, max_out=max_out, weight=100 if weighted else 0, seed=seed)
    cols = ["src", "dst"]
    if weighted:
        cols.append((F.col("weight") + 1).alias("weight"))
    return e.select(*cols).localCheckpoint(eager=True)


def star_tables(out_dir: str, seed: int, orders: int) -> dict[str, str]:
    """Write the four star-join tables for ``orders`` orders; returns
    table name -> parquet path. Revenue columns are integers (cents and
    whole percent), so every engine sums them exactly."""
    rng = np.random.default_rng([seed, 0x57A2])
    customers = max(25, orders // 10)
    o_key = np.arange(1, orders + 1, dtype=np.int64)
    lines = rng.integers(1, 8, size=orders)
    n_lines = int(lines.sum())
    cols = {
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int64),
            "n_name": np.array([f"NATION_{i:02d}" for i in range(25)]),
        },
        "customer": {
            "c_custkey": np.arange(1, customers + 1, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, size=customers).astype(np.int64),
        },
        "orders": {
            "o_orderkey": o_key,
            "o_custkey": rng.integers(1, customers + 1, size=orders).astype(np.int64),
        },
        "lineitem": {
            "l_orderkey": np.repeat(o_key, lines),
            "l_price_cents": rng.integers(90_000, 10_000_000, size=n_lines).astype(np.int64),
            "l_discount_pct": rng.integers(0, 11, size=n_lines).astype(np.int64),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in STAR_TABLES:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols[name]), paths[name])
    return paths


def star_rows(paths: dict[str, str]) -> int:
    return sum(pq.read_metadata(p).num_rows for p in paths.values())
