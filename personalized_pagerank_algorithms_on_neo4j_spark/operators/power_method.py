"""Synchronous propagation: the Power Method (I3), its multi-source form, and
the one distributed superstep loop that the Neo4j-convention PageRanks
(operators/pagerank.py) share with them.

Reference: Power_Method.java:43-101. `iterations` synchronous supersteps; per
superstep every node v with residue r(v): reserve(v) += alpha*r(v); spreads
(1-alpha)*r(v)/out(v) to out-neighbors; out-degree-0 nodes return
(1-alpha)*r(v) to the *source* (the dangling->source rule that distinguishes
this PPR definition from classic PageRank teleport). Multi-source PPR starts
with 1/k on each of k sources and returns dangling mass evenly to the set.

All of these run one recurrence, x <- restart + (1-alpha) P^T x; only the
restart vector and where dangling mass goes differ.

Physical strategies:
- local: `_kernels.power_method`, the batch forward push at rmax 0 with the
  source (set) residue passed in (picked when the graph is under the
  driver-local cutoff).
- distributed: `propagate`, the recurrence in rank form. The reserve after T
  supersteps equals x_T with x_0 = 0 and restart alpha/k on each source; x_1
  is the restart itself, so the loop starts there. The dangling policy lives
  in the edge table: `source_set_edges` points each dangling node's virtual
  edge of `graph.edges_push` at the sources, and the PageRanks read
  `graph.edges_deg`, where dangling mass has nowhere to go.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA, POWER_ITERATIONS
from ..graph import PropertyGraph
from ..plans.iterative import (
    BROADCAST_NODE_BOUND,
    SuperstepLoop,
    loop_shuffle_partitions,
    static_superstep_plan,
)
from . import _kernels
from ._result import ppr_result_from_dense


def power_method(
    graph: PropertyGraph,
    source: int,
    alpha: float = DEFAULT_ALPHA,
    iterations: int = POWER_ITERATIONS,
    mode: str = "auto",
) -> DataFrame:
    """Returns DataFrame(node: long, ppr: double), only rows with ppr > 0."""
    return power_method_multi(graph, [source], alpha, iterations, mode)


def power_method_multi(
    graph: PropertyGraph,
    sources: list[int],
    alpha: float = DEFAULT_ALPHA,
    iterations: int = POWER_ITERATIONS,
    mode: str = "auto",
) -> DataFrame:
    """Multi-source PPR: restart mass uniform over a source SET — the
    gds.pageRank sourceNodes-list shape in this engine's dangling
    convention (dangling mass returns uniformly to the set; the reference
    personalizes on one node, Neo4j_Method.java:66-98, and this is its
    natural k-source generalization). Returns DataFrame(node, ppr),
    ppr > 0 rows only; identical to `power_method` when len(sources)==1."""
    sources = sorted(set(int(x) for x in sources))
    if not sources:
        raise ValueError("sources is empty")
    if graph.resolve_mode(mode) == "local":
        lg = graph.local
        pi = _kernels.power_method(lg, [lg.dense(s) for s in sources], alpha, iterations)
        return ppr_result_from_dense(graph, pi)
    restart = source_restart(graph, sources, alpha / len(sources))
    if iterations < 1:
        return graph.spark.createDataFrame([], "node long, ppr double")
    ranks = propagate(
        edges=source_set_edges(graph, sources),
        contrib=F.lit(1.0 - alpha) * F.col("rank") / F.col("src_out_degree"),
        restart=restart,
        n=graph.n,
        iterations=iterations - 1,
        rank0=restart,
    )
    return ranks.where(F.col("score") > 0).select("node", F.col("score").alias("ppr"))


def source_restart(graph: PropertyGraph, sources: list[int], mass: float) -> DataFrame:
    """(node, rank) with ``mass`` on each source, a filter over the cached
    node table that every superstep re-reads. A source id that is not in
    the graph raises the ``KeyError`` the local path raises
    (`LocalGraph.dense`); the check is one small job."""
    restart = graph.nodes.where(F.col("id").isin(sources)).select(
        F.col("id").alias("node"), F.lit(mass).alias("rank")
    )
    missing = set(sources) - {r[0] for r in restart.collect()}
    if missing:
        raise KeyError(f"node id {min(missing)} not in graph")
    return restart


def source_set_edges(graph: PropertyGraph, sources: list[int]) -> DataFrame:
    """`graph.edges_push` with each dangling node's virtual (v, -1) edge
    replaced by one edge to every source, all k of them weighted as an
    out-degree of k: the dangling node's (1-alpha)*x(v) returns evenly to
    the set. A projection of the cached src-partitioned table, so the
    superstep join never re-exchanges it."""
    dangling = F.col("dst") < 0
    targets = F.array(*(F.lit(s).cast("long") for s in sources))
    return graph.edges_push.select(
        "src",
        F.explode(F.when(dangling, targets).otherwise(F.array("dst"))).alias("dst"),
        (F.col("src_out_degree") * F.when(dangling, len(sources)).otherwise(1)).alias(
            "src_out_degree"
        ),
    )


def propagate(
    edges: DataFrame,
    contrib,
    restart: DataFrame,
    n: int,
    iterations: int,
    rank0: DataFrame | None = None,
) -> DataFrame:
    """The synchronous superstep loop behind power, multi-source power, the
    personalized and whole-graph PageRanks, ArticleRank and weighted
    PageRank: `iterations` times

        x(v) <- sum over edges u->v of contrib + restart(v),

    from ``rank0`` (default: 1/n on every node of ``restart``). ``contrib``
    is the per-edge expression over the joined (rank, edge) row; ``edges``
    is (src, dst, ...). Returns (node, score).

    Loop discipline: AQE off for the whole loop (fixed-shape join+agg plans
    re-planned per superstep cost more than they save; plans/iterative.py),
    shuffle partitions state-scaled ONLY on the broadcast path
    (loop_shuffle_partitions clamps to the session default at scale, so the
    non-broadcast path keeps full parallelism), and the node-bounded rank
    vector broadcast into the edge join so the cached edge table never
    re-exchanges. The state is read once per superstep, so the lineage is
    cut every 4 supersteps, not every one."""
    rank = (
        rank0
        if rank0 is not None
        else restart.select("node", F.lit(1.0 / n).alias("rank"))
    )
    spark = edges.sparkSession
    loop = SuperstepLoop(checkpoint_every=4)
    small = n <= BROADCAST_NODE_BOUND
    loop_parts = loop_shuffle_partitions(spark, n) if small else None
    with static_superstep_plan(spark, shuffle_partitions=loop_parts):
        for _ in range(iterations):
            rj = F.broadcast(rank) if small else rank
            step = rj.join(edges, rj.node == edges.src).select(
                F.col("dst").alias("node"), contrib.alias("rank")
            )
            rank = (
                step.unionAll(restart)
                .groupBy("node")
                .agg(F.sum("rank").alias("rank"))
            )
            rank = loop.materialize(rank)
    return rank.select("node", F.col("rank").alias("score"))
