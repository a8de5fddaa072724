"""Power Method (I3) — the correctness oracle.

Reference: Power_Method.java:43-101. `iterations` synchronous supersteps; per
superstep every node v with residue r(v): reserve(v) += alpha*r(v); spreads
(1-alpha)*r(v)/out(v) to out-neighbors; out-degree-0 nodes return
(1-alpha)*r(v) to the *source* (the dangling->source rule that distinguishes
this PPR definition from classic PageRank teleport).

Physical strategies:
- distributed: one join + union + groupBy per superstep against the cached,
  src-partitioned edge table; lineage truncated via localCheckpoint.
- local: vectorized numpy kernel on the driver CSR snapshot (picked when the
  graph is under the broadcast-like size cutoff).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA, POWER_ITERATIONS
from ..graph import PropertyGraph
from ..plans.iterative import static_superstep_plan
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
    if graph.resolve_mode(mode) == "local":
        lg = graph.local
        pi = _kernels.power_method(lg, lg.dense(source), alpha, iterations)
        return ppr_result_from_dense(graph, pi)
    return _power_method_distributed(graph, source, alpha, iterations)


def _power_method_distributed(
    graph: PropertyGraph, source: int, alpha: float, iterations: int
) -> DataFrame:
    spark = graph.spark
    # edges + one virtual (v, -1, 1) edge per dangling node: the dangling->
    # source return is a plain push whose dst is remapped below, so the loop
    # needs no out-degree join and no global aggregation per superstep
    # (graph.edges_push) — per superstep only TWO exchanges remain: the state
    # shuffle into the edge join and the groupBy merge.
    edges = graph.edges_push
    src_lit = F.lit(int(source)).cast("long")

    state = spark.createDataFrame(
        [(int(source), 1.0, 0.0)], schema="node long, residue double, reserve double"
    )
    with static_superstep_plan(spark):
        for _ in range(iterations):
            # `s` fans out into TWO branches (kept/pushed); it must be
            # materialized every superstep or each superstep recomputes its
            # predecessor 2x — compounding to 2^k between checkpoints (measured
            # 19 s/superstep at sf0.1 with a 4-step cadence on the pre-rewrite
            # 3-branch loop vs ~1 s with per-step materialization)
            s = state.localCheckpoint(eager=True)
            kept = s.select(
                "node",
                F.lit(0.0).alias("residue"),
                (F.col("reserve") + F.lit(alpha) * F.col("residue")).alias("reserve"),
            )
            pushed = (
                # pushing zero residue contributes exactly 0.0 to every sum —
                # pruning it shrinks the join input, never the result
                s.where(F.col("residue") != 0.0)
                .join(edges, s.node == edges.src)
                .select(
                    F.when(F.col("dst") < 0, src_lit).otherwise(F.col("dst")).alias("node"),
                    (F.lit(1.0 - alpha) * F.col("residue") / F.col("src_out_degree")).alias(
                        "residue"
                    ),
                    F.lit(0.0).alias("reserve"),
                )
            )
            state = (
                kept.unionAll(pushed)
                .groupBy("node")
                .agg(F.sum("residue").alias("residue"), F.sum("reserve").alias("reserve"))
            )
            # state itself is read once (by the next superstep's checkpoint) —
            # its groupBy folds into that job, no extra materialization
    return state.where(F.col("reserve") > 0).select(
        "node", F.col("reserve").alias("ppr")
    )

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
        pi = _kernels.power_method_multi(
            lg, [lg.dense(s) for s in sources], alpha, iterations
        )
        return ppr_result_from_dense(graph, pi)
    return _power_method_multi_distributed(graph, sources, alpha, iterations)


def _power_method_multi_distributed(
    graph: PropertyGraph, sources: list[int], alpha: float, iterations: int
) -> DataFrame:
    spark = graph.spark
    k = len(sources)
    srcs = spark.createDataFrame([(int(x),) for x in sources], "s long")
    # Pre-fan the virtual dangling edges over the source set ONCE, outside
    # the loop: each (v, -1) row becomes k rows (v, s_i, factor 1/k), real
    # edges keep factor 1. The superstep then stays the single-source
    # loop's ONE join + ONE branch shape — a dst>=0/dst<0 branch split
    # inside the loop would execute the dominant state-edges join twice
    # per superstep (two consumers of a non-exchange subtree).
    ep = graph.edges_push
    edges = (
        ep.where(F.col("dst") >= 0)
        .select("src", "dst", "src_out_degree", F.lit(1.0).alias("factor"))
        .unionAll(
            ep.where(F.col("dst") < 0)
            .crossJoin(F.broadcast(srcs))
            .select(
                "src",
                F.col("s").alias("dst"),
                "src_out_degree",
                F.lit(1.0 / k).alias("factor"),
            )
        )
        .localCheckpoint(eager=True)
    )

    state = spark.createDataFrame(
        [(int(x), 1.0 / k, 0.0) for x in sources],
        schema="node long, residue double, reserve double",
    )
    with static_superstep_plan(spark):
        for _ in range(iterations):
            s = state.localCheckpoint(eager=True)
            kept = s.select(
                "node",
                F.lit(0.0).alias("residue"),
                (F.col("reserve") + F.lit(alpha) * F.col("residue")).alias("reserve"),
            )
            pushed = (
                s.where(F.col("residue") != 0.0)
                .join(edges, s.node == edges.src)
                .select(
                    F.col("dst").alias("node"),
                    (
                        F.lit(1.0 - alpha)
                        * F.col("residue")
                        * F.col("factor")
                        / F.col("src_out_degree")
                    ).alias("residue"),
                    F.lit(0.0).alias("reserve"),
                )
            )
            state = (
                kept.unionAll(pushed)
                .groupBy("node")
                .agg(
                    F.sum("residue").alias("residue"),
                    F.sum("reserve").alias("reserve"),
                )
            )
    return state.where(F.col("reserve") > 0).select(
        "node", F.col("reserve").alias("ppr")
    )

