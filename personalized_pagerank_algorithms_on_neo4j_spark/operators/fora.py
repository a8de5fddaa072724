"""FORA (I5 whole-graph, I6 top-k): forward push + compensating random walks.

Reference: Fora_Whole_Graph.java:82-146, Fora_Topk.java:102-184.
rmax = eps*sqrt(delta/(3 m ln(2/pfail)))/(1-alpha); omega = (eps+2)*ln(2/pfail)
/eps^2/delta. After the push phase, every node v_i still holding residue r_i
banks alpha*r_i into its reserve, then launches
omega_i = ceil(r_i'/rsum * omega*rsum) no-zero-hop walks, each endpoint
receiving a_i/omega_total*rsum (Fora_Whole_Graph.java:116-140).

Deviation (documented, SURVEY section 4): the reference halves rmax while
wall-clock push time < a 400 ns/walk cost-model estimate
(Fora_Whole_Graph.java:75-79) and re-runs the push from scratch each halving;
wall-clock control flow is irreproducible, so the engine uses a deterministic
`push_halvings` budget and *resumes* the push (the reference's own top-k
variant resumes too, via I2).

Top-k: delta refines 1/k -> 1/n (divide by 4 per round), per round a resumable
push + walks, early exit when the k-th score >= (1+eps')*delta. The per-round
push state carries over; walk contributions are recomputed each round
(Fora_Topk.java:118-146 re-copies the push state, dropping the previous
round's walk additions). The per-round rmax and omega come from
``config.TopkConf``, shared with the local kernel.

Distributed mode: both variants push through the one two-threshold loop,
``forward_push.push_round`` — whole-graph runs one round per rmax halving,
top-k one per delta round — carrying the state and candidate frontier
between rounds, with the floor ``min_rmax`` set to the last round's rmax. An
out-degree-0 source is checked once per query, before the first round.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA, DEFAULT_EPSILON, TopkConf, WholeGraphConf
from ..graph import PropertyGraph
from . import _kernels
from ._result import ppr_result_from_dense
from .forward_push import dangling_source_result, push_round, source_is_dangling
from .monte_carlo import run_walks_counted


def fora_whole_graph(
    graph: PropertyGraph,
    source: int,
    epsilon: float = DEFAULT_EPSILON,
    alpha: float = DEFAULT_ALPHA,
    mode: str = "auto",
    seed: int | None = 42,
    push_halvings: int = 2,
) -> DataFrame:
    conf = WholeGraphConf(alpha=alpha, n=graph.n, m=graph.m)
    if graph.resolve_mode(mode) == "local":
        lg = graph.local
        rng = np.random.default_rng(seed)
        pi = _kernels.fora_whole_graph(
            lg,
            lg.dense(source),
            alpha,
            epsilon,
            conf.delta,
            conf.pfail,
            graph.m,
            rng,
            push_halvings=push_halvings,
        )
        return ppr_result_from_dense(graph, pi)
    return _fora_whole_graph_distributed(
        graph, source, epsilon, alpha, conf, seed, push_halvings
    )


def _fora_whole_graph_distributed(
    graph: PropertyGraph,
    source: int,
    epsilon: float,
    alpha: float,
    conf: WholeGraphConf,
    seed: int | None,
    push_halvings: int,
) -> DataFrame:
    # out-degree-0 source short-circuits to pi(s,s)=1 (Forward_Push.java:72-76)
    if source_is_dangling(graph, source):
        return dangling_source_result(graph, source)
    omega = conf.fora_omega(epsilon)
    rmaxes = [conf.fora_rmax(epsilon)]
    for _ in range(push_halvings):
        rmaxes.append(rmaxes[-1] / 2.0)
    state = cand = None
    for rmax in rmaxes:
        state, cand = push_round(
            graph, source, rmax, rmaxes[-1], alpha, 10_000, state=state, cand=cand
        )

    rsum = state.agg(F.sum("residue")).collect()[0][0] or 0.0
    rsum_local = rsum * (1.0 - alpha)
    num_walks = float(int(omega * rsum_local))

    # alpha extraction: every residue node banks alpha*r into reserve
    reserve = state.select(
        "node", (F.col("reserve") + F.lit(alpha) * F.col("residue")).alias("ppr")
    )
    if num_walks <= 0 or rsum_local <= 0:
        return reserve.where(F.col("ppr") > 0)

    residue = state.where(F.col("residue") > 0).select(
        "node", (F.col("residue") * F.lit(1.0 - alpha)).alias("r")
    )
    fan = residue.select(
        "node",
        "r",
        F.ceil(F.col("r") / F.lit(rsum_local) * F.lit(num_walks)).cast("long").alias(
            "omega_i"
        ),
    ).where(F.col("omega_i") > 0)
    # incr = a_i / num_walks * rsum = r_i / omega_i  (algebraic simplification
    # of Fora_Whole_Graph.java:132-134: a_i = (r_i/rsum*num)/omega_i).
    # COUNTED fan-out: one row per residue node instead of omega_i
    # replicated walk rows; per-start weights join back onto the counted
    # endpoints (weight is constant per start by construction).
    walks = fan.select(
        F.col("node").alias("start"),
        F.col("node").alias("cur"),
        F.col("omega_i").alias("cnt"),
    )
    incr = fan.select(
        F.col("node").alias("start"), (F.col("r") / F.col("omega_i")).alias("incr")
    )
    ends = run_walks_counted(graph, walks, alpha, zero_hop=False, seed=seed)
    walk_ppr = (
        ends.join(incr, "start")
        .groupBy(F.col("cur").alias("node"))
        .agg(F.sum(F.col("cnt") * F.col("incr")).alias("ppr"))
    )
    return (
        reserve.unionAll(walk_ppr)
        .groupBy("node")
        .agg(F.sum("ppr").alias("ppr"))
        .where(F.col("ppr") > 0)
    )


def fora_topk(
    graph: PropertyGraph,
    source: int,
    k: int,
    epsilon: float = DEFAULT_EPSILON,
    alpha: float = DEFAULT_ALPHA,
    mode: str = "auto",
    seed: int | None = 42,
) -> DataFrame:
    """FORA top-k whole result (caller applies tie-aware top-k retrieval)."""
    if graph.resolve_mode(mode) == "local":
        lg = graph.local
        rng = np.random.default_rng(seed)
        pi = _kernels.fora_topk(
            lg, lg.dense(source), alpha, epsilon, k, graph.m, rng
        )
        return ppr_result_from_dense(graph, pi)
    return _fora_topk_distributed(graph, source, k, epsilon, alpha, seed)


def _fora_topk_distributed(
    graph: PropertyGraph,
    source: int,
    k: int,
    epsilon: float,
    alpha: float,
    seed: int | None,
) -> DataFrame:
    conf = TopkConf(alpha=alpha, n=graph.n, m=graph.m, k=k)
    # out-degree-0 source short-circuits to pi(s,s)=1 (Fora_Topk.java:127-131)
    if source_is_dangling(graph, source):
        return dangling_source_result(graph, source)
    eps = epsilon * 0.5
    delta = conf.delta
    # two-threshold resumable frontier (I2): min_rmax is the floor rmax of the
    # final refinement round (Fora_Topk.java:112-113); nodes that ever reach
    # r/out >= min_rmax are carried as next-round candidates so later rounds
    # re-qualify only the carried frontier, never the whole state.
    # Deliberate deviation from Fora_Topk.java:113: the reference captures
    # candidates at the UNadjusted floor while adjusting each round's rmax by
    # sqrt(m*rmax)*3 (Fora_Topk.java:133), so nodes with r/out in
    # [adjusted_final_rmax, min_rmax) are silently never re-pushed there.
    # We apply the same adjustment to the capture floor: rmax decreases
    # monotonically across rounds, so the adjusted floor equals the final
    # round's actual qualification threshold and the frontier provably covers
    # every node any later round would qualify — exact equivalence with full
    # re-qualification (and with the local kernel's forward_push_batch).
    min_rmax = conf.round_rmax(eps, conf.min_delta)
    state = cand = None
    round_i = 0
    while True:
        state, cand = push_round(
            graph, source, conf.round_rmax(eps, delta), min_rmax, alpha, 10_000,
            state=state, cand=cand,
        )
        omega = conf.round_omega(eps, delta)

        rsum = state.agg(F.sum("residue")).collect()[0][0] or 0.0
        rsum_rw = rsum * (1.0 - alpha)
        num_walks = float(int(omega * rsum_rw))

        pi = state.select("node", F.col("reserve").alias("ppr"))
        if num_walks > 0:
            fan = (
                state.where(F.col("residue") > 0)
                .select(
                    "node",
                    F.col("residue").alias("r"),
                    F.ceil(F.col("residue") * F.lit(num_walks)).cast("long").alias(
                        "omega_i"
                    ),
                )
                .where(F.col("omega_i") > 0)
            )
            walks = fan.select(
                F.col("node").alias("start"),
                F.col("node").alias("cur"),
                F.col("omega_i").alias("cnt"),
            )
            incr = fan.select(
                F.col("node").alias("start"),
                (F.col("r") / F.col("omega_i")).alias("incr"),
            )
            ends = run_walks_counted(
                graph, walks, alpha, zero_hop=True,
                seed=None if seed is None else seed + round_i,
            )
            walk_ppr = (
                ends.join(incr, "start")
                .groupBy(F.col("cur").alias("node"))
                .agg(F.sum(F.col("cnt") * F.col("incr")).alias("ppr"))
            )
            pi = pi.unionAll(walk_ppr).groupBy("node").agg(F.sum("ppr").alias("ppr"))
        pi = pi.where(F.col("ppr") > 0).localCheckpoint(eager=True)

        kth_rows = pi.orderBy(F.desc("ppr")).limit(k).collect()
        kth = kth_rows[-1]["ppr"] if len(kth_rows) >= k else 0.0
        if kth >= (1.0 + eps) * delta or delta <= conf.min_delta:
            return pi
        delta = max(conf.min_delta, delta / 4.0)
        round_i += 1
