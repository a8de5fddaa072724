"""All-Pair-Backward-Search ("BASE") preprocessing + lookup (I7).

Reference: Base_Whole_Graph.java:57-186. For every node t, run Backward
Search (I4) from t; invert the result into (source=v, target=t, pi) triples;
keep pi >= threshold (whole-graph mode) or the per-source sorted top-k
(top-k mode, Base_Whole_Graph.java:133-162); persist per source; queries
become per-source reads.

Spark-first design: the reference's sequential for-every-t loop
(Base_Whole_Graph.java:64) is one `backward_search_all` job over a targets
DataFrame — all reverse pushes advance in the same supersteps, keyed
(target, node). The store is source-partitioned Parquet, so the read path
(`readPreprocessedPPR`, Base_Whole_Graph.java:167-186) is a partition-pruned
scan. rmax for the search derives from the threshold: rmax = threshold
(the reference passes the configured rmax; Gen_Util.java:190 sweeps it as the
"threshold" parameter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA
from ..graph import PropertyGraph
from ..sources.prep_store import read_prep, write_prep
from .backward_search import backward_search_all, split_by_in_degree
from .topk import retrieve_topk


def base_preprocess(
    graph: PropertyGraph,
    threshold: float,
    rmax: float | None = None,
    alpha: float = DEFAULT_ALPHA,
    k: int | None = None,
    targets: DataFrame | None = None,
    mode: str = "auto",
) -> DataFrame:
    """Materialize the all-pair PPR view. Returns (source, target, ppr [, rank]).

    k=None: whole-graph mode — threshold filter (Base_Whole_Graph.java:83).
    k>=0:   top-k mode — per-source tie-aware top-k, rank column kept
            (Base_Whole_Graph.java:133-162).

    mode='auto' picks the driver-local per-target vectorized kernel below the
    broadcast-like cutoff (identical batch-superstep schedule), else the
    single multi-target distributed job.
    """
    rmax = threshold if rmax is None else rmax
    if targets is None:
        targets = graph.nodes.select(F.col("id").alias("target"))
    if graph.resolve_mode(mode) == "local":
        all_pairs = _base_all_local(graph, targets, rmax, alpha)
    else:
        # pi(v -> t): invert to (source=v, target=t)
        all_pairs = backward_search_all(graph, targets, rmax, alpha).select(
            F.col("node").alias("source"), "target", "ppr"
        )
    if k is None:
        return all_pairs.where(F.col("ppr") >= F.lit(threshold))
    # per-source tie-aware top-k: rank() over a window PARTITIONED by source
    # scales (each partition sorts locally), unlike the global-window case
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("ppr"), F.asc("target"))
    return (
        all_pairs.withColumn("rank", F.rank().over(w))
        .where(F.col("rank") <= k)
    )


def _base_all_local(
    graph: PropertyGraph, targets: DataFrame, rmax: float, alpha: float
) -> DataFrame:
    """Per-target vectorized reverse-push kernels, fanned out over executors.

    The CSR snapshot is broadcast once per graph (it fits by definition on
    this path — same cutoff as a broadcast join) and the targets stay a
    DataFrame end to end: `mapInPandas` over the target rows runs the
    deterministic numpy kernel per target on whichever executor holds the
    row. Compared to a driver-side `targets.collect()` loop this (a)
    removes the only collect on the prep path and (b) runs the target sweep
    cores-wide instead of sequentially — the sweep is embarrassingly
    parallel over targets (reference Base_Whole_Graph.java:64 loops
    sequentially). In-degree-0 targets short-circuit declaratively to
    pi(t,t)=1 (Backward_Search.java:44-49) so the Arrow stage only sees
    targets with a real reverse frontier."""
    import numpy as np
    import pandas as pd

    from . import _kernels

    shuffle_n = int(graph.spark.conf.get("spark.sql.shuffle.partitions"))
    trivial, nontrivial = split_by_in_degree(graph, targets)

    bc = graph.local_broadcast

    def run(batches):
        g = bc.value
        for pdf in batches:
            out = []
            for tid in pdf["target"].astype("int64"):
                pi, _, _ = _kernels.backward_search_batch(
                    g, g.dense(int(tid)), alpha, rmax
                )
                nz = np.where(pi > 0)[0]
                out.append(
                    pd.DataFrame(
                        {
                            "source": g.ids[nz],
                            "target": np.full(len(nz), int(tid), dtype=np.int64),
                            "ppr": pi[nz],
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    heavy = nontrivial.repartition(shuffle_n, "target").mapInPandas(
        run, "source long, target long, ppr double"
    )
    return trivial.select(
        F.col("target").alias("source"), "target", F.lit(1.0).alias("ppr")
    ).unionByName(heavy)


def base_preprocess_to_store(
    graph: PropertyGraph,
    path: str,
    threshold: float,
    alpha: float = DEFAULT_ALPHA,
    k: int | None = None,
) -> None:
    write_prep(base_preprocess(graph, threshold, alpha=alpha, k=k), path)


def base_lookup(graph: PropertyGraph, path: str, source: int) -> DataFrame:
    """Whole-graph query from the prep store (partition-pruned read)."""
    return read_prep(graph.spark, path, source=source).select(
        F.col("target").alias("node"), "ppr"
    )


def base_topk_lookup(
    graph: PropertyGraph, path: str, source: int, k: int
) -> DataFrame:
    """Top-k query from a (pre-sorted) prep store (Base_Whole_Graph.java:213-217)."""
    df = base_lookup(graph, path, source)
    return retrieve_topk(df, k)
