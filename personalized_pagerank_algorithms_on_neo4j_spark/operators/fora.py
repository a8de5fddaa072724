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
out-degree-0 source is checked once per query, before the first round. Both
then run the one compensating-walk phase, ``_walk_phase`` (the twin of
``_kernels._fora_walk_phase``), as counted walks through
``monte_carlo.run_walks_counted``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA, DEFAULT_EPSILON, TopkConf, WholeGraphConf
from ..graph import PropertyGraph
from . import _kernels
from . import topk as topk_ops
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
    if graph.resolve_mode(mode) == "local":
        lg = graph.local
        rng = np.random.default_rng(seed)
        pi = _kernels.fora_whole_graph(
            lg, lg.dense(source), alpha, epsilon, graph.m, rng, push_halvings=push_halvings
        )
        return ppr_result_from_dense(graph, pi)
    return _fora_whole_graph_distributed(graph, source, epsilon, alpha, seed, push_halvings)


def _fora_whole_graph_distributed(
    graph: PropertyGraph,
    source: int,
    epsilon: float,
    alpha: float,
    seed: int | None,
    push_halvings: int,
) -> DataFrame:
    # out-degree-0 source short-circuits to pi(s,s)=1 (Forward_Push.java:72-76)
    if source_is_dangling(graph, source):
        return dangling_source_result(graph, source)
    conf = WholeGraphConf(alpha=alpha, n=graph.n, m=graph.m)
    omega = conf.fora_omega(epsilon)
    rmaxes = [conf.fora_rmax(epsilon)]
    for _ in range(push_halvings):
        rmaxes.append(rmaxes[-1] / 2.0)
    state = cand = None
    for rmax in rmaxes:
        state, cand = push_round(
            graph, source, rmax, rmaxes[-1], alpha, 10_000, state=state, cand=cand
        )

    # alpha extraction: every residue node banks alpha*r into reserve
    reserve = state.select(
        "node", (F.col("reserve") + F.lit(alpha) * F.col("residue")).alias("ppr")
    )
    pi = _walk_phase(graph, state, reserve, omega, alpha, zero_hop=False, seed=seed)
    return pi.where(F.col("ppr") > 0)


def _walk_phase(
    graph: PropertyGraph,
    state: DataFrame,
    pi: DataFrame,
    omega: float,
    alpha: float,
    zero_hop: bool,
    seed: int | None,
) -> DataFrame:
    """The compensating-walk phase both FORA variants run after their push:
    the distributed twin of ``_kernels._fora_walk_phase``. Adds the walk
    increments to ``pi`` (node, ppr); ``pi`` comes back as is when no walk
    is launched.

    ``num_walks`` = (long)(omega * rsum * (1-alpha)) (Fora_Whole_Graph.java:114,
    Fora_Topk.java:154). Each residue node launches
    omega_i = ceil(r / rsum_scale * num_walks) walks, and every endpoint
    receives r / omega_i per walk — the algebraic simplification of
    a_i / num_walks * rsum_scale with a_i = r / rsum_scale * num_walks / omega_i.
    Top-k (``zero_hop=True``, Fora_Topk.java:151-168): the walks carry
    r = residue with rsum_scale = 1. Whole-graph (``zero_hop=False``,
    Fora_Whole_Graph.java:116-140): the caller has banked the alpha*residue
    share a zero-hop walk would stop on at its start, so the walks carry
    r = (1-alpha)*residue with rsum_scale = rsum*(1-alpha) and take one
    unconditional first step.

    COUNTED fan-out: one walk row per residue node instead of omega_i
    replicated rows; the per-start weight is constant per start, so it
    joins back onto the counted endpoints.
    """
    rsum = state.agg(F.sum("residue")).collect()[0][0] or 0.0
    rsum_rw = rsum * (1.0 - alpha)
    num_walks = float(int(omega * rsum_rw))
    if num_walks <= 0:
        return pi
    if zero_hop:
        r, rsum_scale = F.col("residue"), 1.0
    else:
        r, rsum_scale = F.col("residue") * F.lit(1.0 - alpha), rsum_rw
    fan = (
        state.where(F.col("residue") > 0)
        .select("node", r.alias("r"))
        .select(
            "node",
            "r",
            F.ceil(F.col("r") / F.lit(rsum_scale) * F.lit(num_walks))
            .cast("long")
            .alias("omega_i"),
        )
        .where(F.col("omega_i") > 0)
    )
    walks = fan.select(
        F.col("node").alias("start"),
        F.col("node").alias("cur"),
        F.col("omega_i").alias("cnt"),
    )
    incr = fan.select(
        F.col("node").alias("start"), (F.col("r") / F.col("omega_i")).alias("incr")
    )
    ends = run_walks_counted(graph, walks, alpha, zero_hop=zero_hop, seed=seed)
    walk_ppr = (
        ends.join(incr, "start")
        .groupBy(F.col("cur").alias("node"))
        .agg(F.sum(F.col("cnt") * F.col("incr")).alias("ppr"))
    )
    return pi.unionAll(walk_ppr).groupBy("node").agg(F.sum("ppr").alias("ppr"))


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
        pi = _walk_phase(
            graph, state, state.select("node", F.col("reserve").alias("ppr")),
            conf.round_omega(eps, delta), alpha, zero_hop=True,
            seed=None if seed is None else seed + round_i,
        )
        pi = pi.where(F.col("ppr") > 0).localCheckpoint(eager=True)

        kth = topk_ops.kth_value(pi, conf.k)
        kth = 0.0 if kth is None else kth
        if kth >= (1.0 + eps) * delta or delta <= conf.min_delta:
            return pi
        delta = max(conf.min_delta, delta / 4.0)
        round_i += 1
