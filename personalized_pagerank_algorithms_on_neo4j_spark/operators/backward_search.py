"""Backward Search (I4) — reverse push from a target node.

Reference: Backward_Search.java:38-100. pi(v, t): pop v; pi(v) += alpha*r(v);
each *in*-neighbor u gets r(u) += (1-alpha)*r(v)/out(u) (weighted by u's own
out-degree); enqueue test is the *strict, non-degree-normalized* `r(u) > rmax`
(Backward_Search.java:89). An in-degree-0 target short-circuits to
pi(t,t) = 1; residue leaks at in-degree-0 intermediate nodes, so the estimate
is only sound on undirected graphs (dissertation sections 2.2.4 / 4.1.3) —
reproduced as-is.

The batch schedule processes every node with |r| > rmax per superstep (target
unconditionally on the first); same fixed point as the reference's queue.

`reverse_push` is the one distributed reverse-push superstep loop. It serves
`backward_search_all` — the reverse push for *many targets at once* as one
state keyed (target, node), the scale path for BASE all-pair preprocessing
(I7), where the per-target loop of the reference
(Base_Whole_Graph.java:57-164) becomes a single embarrassingly-parallel
job — and dynamic PPR's `reverse_push_state`, which resumes a repaired
state. The loop runs under `static_superstep_plan` (AQE off): each superstep
shuffles only the frontier-bounded pushed aggregate and merges it into the
already-partitioned state with one full-outer join. Its local twin is
`_kernels.backward_search_batch`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA
from ..graph import PropertyGraph
from ..plans.iterative import static_superstep_plan
from . import _kernels
from ._result import ppr_result_from_dense


def over_budget(rmax: float, max_supersteps: int) -> RuntimeError:
    """The error every reverse push raises when ``max_supersteps`` ends
    with a residue above rmax."""
    return RuntimeError(
        f"reverse push: |residue| > {rmax} after {max_supersteps} "
        f"supersteps — raise max_supersteps"
    )


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
        pi, r, _ = _kernels.backward_search_batch(
            lg, lg.dense(target), alpha, rmax, max_supersteps=max_supersteps
        )
        if (r > rmax).any():
            raise over_budget(rmax, max_supersteps)
        return ppr_result_from_dense(graph, pi)
    targets = graph.spark.createDataFrame([(int(target),)], "target long")
    state = backward_search_all(graph, targets, rmax, alpha, max_supersteps)
    return state.where(F.col("target") == int(target)).select("node", "ppr")


def split_by_in_degree(
    graph: PropertyGraph, targets: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(trivial, live) target(target: long) frames: in-degree-0 targets,
    whose search short-circuits to pi(t,t) = 1 (Backward_Search.java:44-49),
    and the rest."""
    t = targets.select(F.col("target").cast("long").alias("target"))
    ind = graph.degrees.select("node", "in_degree")  # cached table
    t_deg = t.join(ind, t.target == ind.node, "left").select(
        "target", F.coalesce("in_degree", F.lit(0)).alias("in_degree")
    )
    return (
        t_deg.where(F.col("in_degree") == 0).select("target"),
        t_deg.where(F.col("in_degree") > 0).select("target"),
    )


def backward_search_all(
    graph: PropertyGraph,
    targets: DataFrame,
    rmax: float,
    alpha: float = DEFAULT_ALPHA,
    max_supersteps: int = 10_000,
) -> DataFrame:
    """Reverse push from every row of targets(target: long) simultaneously.

    Returns DataFrame(target, node, ppr) with ppr > 0 — i.e. pi(node -> target).
    State is keyed (target, node); each `reverse_push` superstep advances
    all live targets at once, so skew in one target's frontier amortizes
    across the batch.
    """
    trivial, live = split_by_in_degree(graph, targets)
    seed = live.select(
        "target",
        F.col("target").alias("node"),
        F.lit(1.0).alias("residue"),
        F.lit(0.0).alias("reserve"),
    )
    state = reverse_push(
        graph.edges_by_dst, seed, rmax, alpha, max_supersteps, fresh=True
    )
    return (
        state.where(F.col("reserve") > 0)
        .select("target", "node", F.col("reserve").alias("ppr"))
        .unionByName(
            trivial.select(
                "target", F.col("target").alias("node"), F.lit(1.0).alias("ppr")
            )
        )
    )


def reverse_push(
    edges: DataFrame,
    state: DataFrame,
    rmax: float,
    alpha: float,
    max_supersteps: int,
    fresh: bool,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Push ``state`` (target, node, residue, reserve) over ``edges``
    (src, dst, src_out_degree) until every |residue| <= rmax; returns the
    pushed state. ``fresh`` pushes every nonzero residue on the first
    superstep (a search from r = e_t); otherwise only |r| > rmax rows move,
    positive or negative. Raises `over_budget` when ``max_supersteps``
    ends above rmax.

    Loop shape (the sssp_weighted merge discipline, NOT a whole-state
    re-aggregation): the state frame stays (target, node)-partitioned from
    its previous checkpoint; each round only the FRONTIER-BOUNDED
    pushed-residue aggregate moves through the shuffle, merged with one
    full-outer join — so a small repair cascade shuffles a few rows per
    round while the state is only streamed, never re-shuffled."""
    thr = 0.0 if fresh else rmax
    with static_superstep_plan(state.sparkSession, shuffle_partitions):
        state = state.localCheckpoint(eager=True)
        for _ in range(max_supersteps):
            qual = F.abs(F.col("residue")) > thr
            frontier = state.where(qual).select("target", "node", "residue")
            if frontier.isEmpty():
                return state
            # reverse expansion: frontier node v matches edges (u -> v); u
            # receives (1-alpha) * r(v) / out(u)
            pushed = (
                frontier.join(edges, frontier.node == edges.dst)
                .groupBy("target", F.col("src").alias("node"))
                .agg(
                    F.sum(
                        F.lit(1.0 - alpha)
                        * F.col("residue")
                        / F.col("src_out_degree")
                    ).alias("dr")
                )
            )
            # full outer joins cannot broadcast; the state side is already
            # (target, node)-partitioned from the previous checkpoint, so
            # only the frontier-bounded pushed aggregate moves
            state = (
                state.join(pushed, ["target", "node"], "full_outer")
                .select(
                    "target",
                    "node",
                    (
                        F.when(qual, 0.0)
                        .otherwise(F.coalesce("residue", F.lit(0.0)))
                        + F.coalesce("dr", F.lit(0.0))
                    ).alias("residue"),
                    (
                        F.coalesce("reserve", F.lit(0.0))
                        + F.when(qual, F.lit(alpha) * F.col("residue"))
                        .otherwise(0.0)
                    ).alias("reserve"),
                )
                .localCheckpoint(eager=True)
            )
            thr = rmax
        # a push that drained the frontier on the final allowed superstep
        # is converged, not over budget — re-probe before raising
        if state.where(F.abs(F.col("residue")) > rmax).limit(1).count() > 0:
            raise over_budget(rmax, max_supersteps)
    return state
