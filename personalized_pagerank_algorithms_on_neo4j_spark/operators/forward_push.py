"""Forward Push (I1/I2).

Reference: Forward_Push.java:63-142 (whole-graph) and 144-250 (resumable
top-k variant). The reference processes a sequential queue; push is linear and
order-independent over the residue vector, so the engine executes the
*frontier-synchronous batch* schedule instead: per superstep, every node with
r > 0 and (out == 0 or r/out >= rmax) pushes simultaneously. Same fixed point
(every processed node met the threshold), one Spark stage per superstep
instead of one per queue pop — the only schedule that makes sense on a
cluster.

One distributed loop, ``push_round``, serves every caller. It is the
two-threshold resumable push (I2): each superstep re-qualifies only the
active set (the nodes the previous superstep updated), and a round hands its
state and candidate frontier to the next, tighter round. The whole-graph push
is a single fresh round with ``min_rmax = rmax``; FORA whole-graph runs its
rmax halvings as rounds, FORA top-k its delta rounds (operators/fora.py).

Quirk reproduced: the reference's enqueue test `r(u)/out(u) >= rmax` evaluates
to +inf for out-degree-0 nodes, so dangling nodes *always* qualify once they
hold residue; their push routes (1-alpha)*r back to the source
(Forward_Push.java:101-115). An out-degree-0 source short-circuits to
pi(s,s) = 1 (Forward_Push.java:72-76); each caller checks this once per query
(``source_is_dangling``), before its first round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA
from ..graph import PropertyGraph
from ..plans.iterative import (
    BROADCAST_NODE_BOUND,
    loop_shuffle_partitions,
    static_superstep_plan,
)
from . import _kernels
from ._result import ppr_result_from_dense, ppr_result_from_state

# Under the shared node bound the push frontier (<= n rows of ~32 bytes)
# broadcasts into the edge-expansion join, so the cached edge table never
# re-shuffles even though the loop runs at state-scaled parallelism;
# above it the loop keeps the session's shuffle-partition count so the
# frontier exchange lands on the edge cache's partitioning — the
# O(frontier)-shuffle plan that is right at 10^9 edges.


def forward_push(
    graph: PropertyGraph,
    source: int,
    rmax: float,
    alpha: float = DEFAULT_ALPHA,
    mode: str = "auto",
    max_supersteps: int = 10_000,
) -> DataFrame:
    """Whole-graph SSPPR via local push. Returns DataFrame(node, ppr)."""
    if graph.resolve_mode(mode) == "local":
        lg = graph.local
        pi, _, _ = _kernels.forward_push_batch(
            lg, lg.dense(source), alpha, rmax, max_supersteps=max_supersteps
        )
        return ppr_result_from_dense(graph, pi)
    if source_is_dangling(graph, source):
        return dangling_source_result(graph, source)
    state, _ = push_round(graph, source, rmax, rmax, alpha, max_supersteps)
    return ppr_result_from_state(state)


def source_is_dangling(graph: PropertyGraph, source: int) -> bool:
    """Whether ``source`` has out-degree 0 (one Spark job): its PPR is then
    the single row (source, 1.0) and no push runs. A source id that is not
    in the graph raises the ``KeyError`` the local path raises."""
    row = graph.degrees.where(F.col("node") == int(source)).select("out_degree").take(1)
    if not row:
        raise KeyError(f"node id {source} not in graph")
    return row[0][0] == 0


def dangling_source_result(graph: PropertyGraph, source: int) -> DataFrame:
    """pi(s, s) = 1 for an out-degree-0 source (Forward_Push.java:72-76)."""
    return graph.spark.createDataFrame([(int(source), 1.0)], schema="node long, ppr double")


def _qual_expr(rmax: float):
    """Push qualification: r > 0 and (dangling or r/out >= rmax) — the
    reference's enqueue test with its +inf-for-out-degree-0 quirk."""
    return (F.col("residue") > 0) & (
        (F.col("od") == 0) | (F.col("residue") >= F.lit(rmax) * F.col("od"))
    )


def _superstep_rows(
    frontier: DataFrame,
    edges: DataFrame,
    out_deg: DataFrame,
    source: int,
    alpha: float,
    hint_broadcast: bool,
) -> DataFrame:
    """The rows one batch push over a qualified frontier
    (node, residue, reserve, od) adds to the state, as
    (node, residue, reserve, od, active): `kept` banks alpha*r into reserve
    and zeroes residue; `pushed` fans (1-alpha)*r/out to out-neighbors;
    `dangling` routes the out-degree-0 nodes' (1-alpha)*r back to the source
    as one row. Pushed and dangling rows are the updates, so they are marked
    active and take their node's out-degree from ``out_deg``.

    `hint_broadcast` applies `F.broadcast` ONLY to the join input of the
    `pushed` branch — hinting the whole frontier orphaned the hint on the
    select/aggregate branches, logging two HintErrorLogger warnings per
    superstep."""
    kept = frontier.select(
        "node",
        F.lit(0.0).alias("residue"),
        (F.col("reserve") + F.lit(alpha) * F.col("residue")).alias("reserve"),
        "od",
        F.lit(False).alias("active"),
    )
    push_in = frontier.where(F.col("od") > 0)
    if hint_broadcast:
        push_in = F.broadcast(push_in)
    pushed = (
        push_in
        .join(edges, push_in.node == edges.src)
        .select(
            F.col("dst").alias("node"),
            (F.lit(1.0 - alpha) * F.col("residue") / F.col("src_out_degree")).alias(
                "residue"
            ),
        )
    )
    dangling = (
        frontier.where(F.col("od") == 0)
        .agg(F.sum(F.lit(1.0 - alpha) * F.col("residue")).alias("residue"))
        .select(
            F.lit(int(source)).cast("long").alias("node"),
            F.coalesce("residue", F.lit(0.0)).alias("residue"),
        )
    )
    updates = pushed.unionAll(dangling).join(out_deg, "node", "left").select(
        "node",
        "residue",
        F.lit(0.0).alias("reserve"),
        F.coalesce("od", F.lit(0)).alias("od"),
        F.lit(True).alias("active"),
    )
    return kept.unionAll(updates)


def push_round(
    graph: PropertyGraph,
    source: int,
    rmax: float,
    min_rmax: float,
    alpha: float,
    max_supersteps: int,
    state: DataFrame | None = None,
    cand: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One round of the two-threshold resumable push (I2,
    Forward_Push.java:144-250): supersteps at ``rmax`` until no node
    qualifies. The source must have out-degree > 0 (``source_is_dangling``).

    Batch analogue of the reference's (Q, Q_next) queue pair: only ACTIVE
    nodes are qualified — at the round's start the candidate frontier carried
    from the previous round (``cand``, nodes that reached r/out >= min_rmax),
    then the nodes each superstep updated. A node outside the active set
    cannot newly qualify (its residue is unchanged), so the fixed point is
    that of a full re-scan. Each superstep runs two Spark actions: the
    frontier test on the checkpointed state, and the checkpoint of the merged
    next state, whose rows carry their out-degree and active/qualified flags
    so that the superstep joins the degree table and expands the frontier's
    edges once each.

    ``state``/``cand`` resume the previous round (``cand`` as returned: one
    row per node); omitted, the round starts fresh from residue 1 at the
    source. Returns (state, next_cand), the state being the full
    (node, residue, reserve) table. ``next_cand`` accumulates every active
    node observed at r/out in [min_rmax, rmax) — like the reference's Q_next
    it may retain nodes whose residue was later pushed out
    (Forward_Push.java never removes from Q_next); stale entries are harmless
    because every carried candidate is re-qualified against the live state at
    the next round's start. With ``min_rmax >= rmax`` that interval is
    empty: ``next_cand`` is an empty frame and costs no Spark job.
    """
    spark = graph.spark
    edges = graph.edges_deg
    # the CACHED degrees table, not `out_degrees`: the latter is an uncached
    # aggregation, so joining it per superstep re-runs the edge groupBy
    # shuffle every iteration
    out_deg = graph.degrees.select("node", F.col("out_degree").alias("od"))
    if state is None:
        state = spark.createDataFrame(
            [(int(source), 1.0, 0.0)], schema="node long, residue double, reserve double"
        )
        cand = spark.createDataFrame([(int(source),)], "node long")
    track = min_rmax < rmax
    # demoted to Q_next: alive but under this round's rmax
    # (Forward_Push.java:243-249)
    demoted = (
        F.col("active")
        & ~F.col("qual")
        & (F.col("residue") > 0)
        & (F.col("residue") >= F.lit(min_rmax) * F.col("od"))
    )

    def checked(rows: DataFrame) -> DataFrame:
        return rows.withColumn(
            "qual", F.col("active") & _qual_expr(rmax)
        ).localCheckpoint(eager=True)

    next_cand = spark.createDataFrame([], "node long")
    small = graph.n <= BROADCAST_NODE_BOUND
    loop_parts = loop_shuffle_partitions(spark, graph.n) if small else None
    with static_superstep_plan(spark, shuffle_partitions=loop_parts):
        state = checked(
            state.select("node", "residue", "reserve")
            .join(out_deg, "node", "left")
            .join(cand.select("node", F.lit(True).alias("active")), "node", "left")
            .select(
                "node",
                "residue",
                "reserve",
                F.coalesce("od", F.lit(0)).alias("od"),
                F.coalesce("active", F.lit(False)).alias("active"),
            )
        )
        for _ in range(max_supersteps):
            if track:
                next_cand = next_cand.unionAll(state.where(demoted).select("node"))
            frontier = state.where("qual")
            if frontier.isEmpty():
                break
            rows = _superstep_rows(
                frontier, edges, out_deg, source, alpha, hint_broadcast=small
            )
            state = checked(
                state.where(~F.col("qual"))
                .select("node", "residue", "reserve", "od", F.lit(False).alias("active"))
                .unionAll(rows)
                .groupBy("node")
                .agg(
                    F.sum("residue").alias("residue"),
                    F.sum("reserve").alias("reserve"),
                    F.max("od").alias("od"),
                    F.max("active").alias("active"),
                )
            )
        if track:
            next_cand = next_cand.distinct().localCheckpoint(eager=True)
    return state.select("node", "residue", "reserve"), next_cand
