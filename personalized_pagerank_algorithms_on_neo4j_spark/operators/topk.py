"""Top-k retrieval with the reference's tie semantics (T2/T3/T4).

Reference `retrieveTopK` (Forward_Push.java:413-429 and 4 clones): find the
k-th largest ppr (quickselect, Algo_Util.java:32-79); keep *every* row with
ppr >= that value — the result may exceed k rows; if there are fewer than k
rows, keep them all.

Scale note: a global `rank()` window would sort the whole result on one
partition. Instead the k-th value is found with a distributed
TakeOrderedAndProject (`orderBy(desc).limit(k)` — per-partition top-k then a
k-way driver merge), and the tie-set is a plain filter, which Catalyst can
push down. Equivalent to `rank() <= k` for every input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kth_value(df: DataFrame, k: int, value_col: str = "ppr") -> float | None:
    """k-th largest value, or None if df has fewer than k rows (T2)."""
    rows = df.select(value_col).orderBy(F.desc(value_col)).limit(k).collect()
    if len(rows) < k:
        return None
    return rows[-1][0]


def retrieve_topk(df: DataFrame, k: int, value_col: str = "ppr") -> DataFrame:
    """All rows with value >= k-th largest (ties included; may exceed k rows)."""
    kth = kth_value(df, k, value_col)
    if kth is None:
        return df
    return df.where(F.col(value_col) >= F.lit(kth))

