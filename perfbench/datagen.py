"""Deterministic TPC-H-shaped tables for the benchmark graph.

Writes the five tables ``load_tpch_graph`` reads (customer, supplier, nation,
orders, lineitem), with only the columns it uses, as Parquet files.  At
``scale=1`` the shape matches TPC-H sf0.1: 15,000 customers, 1,000 suppliers,
25 nations, 150,000 orders and 600,000 line items with uniform keys, which
derives a graph of 16,025 nodes and about 603,000 edges.

Its customer out-degree distribution matches the sf0.1 tables this
repository's tests read; ``python3 -m perfbench.datagen --histogram DIR``
prints it for any directory of TPC-H Parquet tables (see the README).

The dataset is a fixed input, like a TPC-H scale factor: it is drawn from
``DATASET_SEED`` and does not change with the run's ``--seed``, which only
draws the query list.  That keeps set-up cost and store size identical
across seeds.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

DATASET_SEED = 20140901
NATIONS = 25

# rows at scale=1 (TPC-H sf0.1)
CUSTOMERS = 15_000
SUPPLIERS = 1_000
ORDERS = 150_000
LINEITEMS = 600_000


def table_sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(20, int(CUSTOMERS * scale)),
        "supplier": max(4, int(SUPPLIERS * scale)),
        "nation": NATIONS,
        "orders": max(100, int(ORDERS * scale)),
        "lineitem": max(400, int(LINEITEMS * scale)),
    }


def write_tables(out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write the tables under ``out_dir``; returns the row count per table."""
    rng = np.random.default_rng(DATASET_SEED)
    size = table_sizes(scale)
    nc, ns, no, nl = size["customer"], size["supplier"], size["orders"], size["lineitem"]
    os.makedirs(out_dir, exist_ok=True)
    frames = {
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(nc, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": rng.integers(0, NATIONS, nc).astype(np.int32),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(ns, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": rng.integers(0, NATIONS, ns).astype(np.int32),
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(NATIONS, dtype=np.int32),
                "n_name": [f"NATION{i:02d}" for i in range(NATIONS)],
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(no, dtype=np.int64),
                "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
                "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            }
        ),
    }
    for name, df in frames.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return size


OUT_DEGREE_BINS = (1, 2, 10, 20, 30, 40, 50, 60, 80, 100, 1000)


def out_degree_histogram(tpch_dir: str) -> dict[str, object]:
    """Customer out-degree (distinct suppliers + its nation) histogram of
    the graph ``load_tpch_graph`` derives from ``tpch_dir``."""
    cust = pd.read_parquet(os.path.join(tpch_dir, "customer.parquet"), columns=["c_custkey"])
    orders = pd.read_parquet(os.path.join(tpch_dir, "orders.parquet"),
                             columns=["o_orderkey", "o_custkey"])
    items = pd.read_parquet(os.path.join(tpch_dir, "lineitem.parquet"),
                            columns=["l_orderkey", "l_suppkey"])
    pairs = orders.merge(items, left_on="o_orderkey", right_on="l_orderkey")
    pairs = pairs[["o_custkey", "l_suppkey"]].drop_duplicates()
    deg = pairs.groupby("o_custkey").size().reindex(cust["c_custkey"], fill_value=0) + 1
    counts, _ = np.histogram(deg.to_numpy(), bins=OUT_DEGREE_BINS)
    return {
        "customers": len(cust),
        "ordering": int(orders["o_custkey"].nunique()),
        "customer_supplier_edges": len(pairs),
        "median": float(deg.median()),
        "bins": dict(zip(OUT_DEGREE_BINS[:-1], counts.tolist())),
    }


if __name__ == "__main__":
    # python3 -m perfbench.datagen OUT_DIR [SCALE]   write the tables
    # python3 -m perfbench.datagen --histogram DIR   customer out-degrees
    if sys.argv[1] == "--histogram":
        print(out_degree_histogram(sys.argv[2]))
    else:
        write_tables(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0)
