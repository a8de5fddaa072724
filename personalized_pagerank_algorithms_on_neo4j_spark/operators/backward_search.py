"""Backward Search (I4) — reverse push from a target node.

Reference: Backward_Search.java:38-100. pi(v, t): pop v; pi(v) += alpha*r(v);
each *in*-neighbor u gets r(u) += (1-alpha)*r(v)/out(u) (weighted by u's own
out-degree); enqueue test is the *strict, non-degree-normalized* `r(u) > rmax`
(Backward_Search.java:89). An in-degree-0 target short-circuits to
pi(t,t) = 1; residue leaks at in-degree-0 intermediate nodes, so the estimate
is only sound on undirected graphs (dissertation sections 2.2.4 / 4.1.3) —
reproduced as-is.

The batch schedule processes every node with r > rmax per superstep (target
unconditionally on the first); same fixed point as the reference's queue.

`backward_search_all` runs the reverse push for *many targets at once* as one
DataFrame keyed (target, node) — the scale path for BASE all-pair
preprocessing (I7), where the per-target loop of the reference
(Base_Whole_Graph.java:57-164) becomes a single embarrassingly-parallel job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA
from ..graph import PropertyGraph
from . import _kernels
from ._result import ppr_result_from_dense


def backward_search(
    graph: PropertyGraph,
    target: int,
    rmax: float,
    alpha: float = DEFAULT_ALPHA,
    mode: str = "auto",
    max_supersteps: int = 10_000,
) -> DataFrame:
    """PPR *to* `target` from every source. Returns DataFrame(node, ppr)."""
    if graph.resolve_mode(mode) == "local":
        lg = graph.local
        pi, _, _ = _kernels.backward_search_batch(
            lg, lg.dense(target), alpha, rmax, max_supersteps=max_supersteps
        )
        return ppr_result_from_dense(graph, pi)
    targets = graph.spark.createDataFrame([(int(target),)], "target long")
    state = backward_search_all(graph, targets, rmax, alpha, max_supersteps)
    return state.where(F.col("target") == int(target)).select("node", "ppr")


def backward_search_all(
    graph: PropertyGraph,
    targets: DataFrame,
    rmax: float,
    alpha: float = DEFAULT_ALPHA,
    max_supersteps: int = 10_000,
) -> DataFrame:
    """Reverse push from every row of targets(target: long) simultaneously.

    Returns DataFrame(target, node, ppr) with ppr > 0 — i.e. pi(node -> target).
    State is keyed (target, node); each superstep is one join + groupBy over
    all live targets, so skew in one target's frontier amortizes across the
    batch (AQE handles stragglers).
    """
    edges = graph.edges_by_dst  # (src, dst, src_out_degree), partitioned by dst
    in_deg = graph.degrees.select("node", "in_degree")  # cached table

    t = targets.select(F.col("target").cast("long").alias("target"))
    # in-degree-0 targets short-circuit to pi(t,t)=1 (Backward_Search.java:44-49)
    t_deg = t.join(in_deg, t.target == in_deg.node, "left").select(
        "target", F.coalesce("in_degree", F.lit(0)).alias("in_degree")
    )
    trivial = t_deg.where(F.col("in_degree") == 0).select(
        "target",
        F.col("target").alias("node"),
        F.lit(0.0).alias("residue"),
        F.lit(1.0).alias("reserve"),
    )
    live = t_deg.where(F.col("in_degree") > 0).select(
        "target",
        F.col("target").alias("node"),
        F.lit(1.0).alias("residue"),
        F.lit(0.0).alias("reserve"),
    )

    state = live
    first = True
    for _ in range(max_supersteps):
        qual = F.col("residue") > (0.0 if first else rmax)
        s = state.withColumn("qual", qual).localCheckpoint(eager=True)
        first = False
        frontier = s.where("qual")
        if frontier.isEmpty():
            state = s.select("target", "node", "residue", "reserve")
            break
        rest = s.where(~F.col("qual")).select("target", "node", "residue", "reserve")
        kept = frontier.select(
            "target",
            "node",
            F.lit(0.0).alias("residue"),
            (F.col("reserve") + F.lit(alpha) * F.col("residue")).alias("reserve"),
        )
        # reverse expansion: frontier node v matches edges (u -> v); u receives
        # (1-alpha) * r(v) / out(u)
        pushed = frontier.join(edges, frontier.node == edges.dst).select(
            "target",
            F.col("src").alias("node"),
            (F.lit(1.0 - alpha) * F.col("residue") / F.col("src_out_degree")).alias(
                "residue"
            ),
            F.lit(0.0).alias("reserve"),
        )
        state = (
            rest.unionAll(kept)
            .unionAll(pushed)
            .groupBy("target", "node")
            .agg(F.sum("residue").alias("residue"), F.sum("reserve").alias("reserve"))
        )
    return (
        state.select("target", "node", "reserve")
        .unionAll(trivial.select("target", "node", "reserve"))
        .where(F.col("reserve") > 0)
        .select("target", "node", F.col("reserve").alias("ppr"))
    )
