"""Monte-Carlo PPR (R2/R3/A1) — vectorized alpha-stop random walks.

Reference: Monte_Carlo.java:60-157. omega = 3*ln(2/pfail)/eps^2/delta walks
from the source; pi(t) = (#walks stopping at t)/omega. Walk semantics:
- a start node with out-degree 0 ends the walk immediately at the start;
- each step first stops with probability alpha, else moves to a uniformly
  random out-neighbor; a dangling current node *resets the walk to its start*
  (consuming the step) — the dangling->source rule in walk form;
- the `no_zero_hop` variant (used by FORA's whole-graph walk phase) takes one
  unconditional first step.

Distributed plan: COUNTED walks (`run_walks_counted`) — the omega walks
never materialize as rows. State is (start, cur, walk_count); per superstep
stops split Binomial(cnt, alpha) and movers split multinomially over the
adjacency arrays — sums of the identical iid per-walk draws, so endpoint
distributions match per-walk simulation exactly. Single-source MC keeps
<= active-node rows regardless of omega; FORA's weighted multi-start
fan-out rides the same loop with per-start weights applied to the counted
endpoints afterward. Per-(step, start, cur) hash seeding makes results
independent of partition layout (unlike `F.rand`). The superstep count is
geometric (~ln(omega)/ln(1/(1-alpha)) rounds to drain); the driver probes
emptiness every 3rd round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA, WholeGraphConf
from ..graph import PropertyGraph
from ..plans.iterative import (
    BROADCAST_EDGE_BOUND,
    loop_shuffle_partitions,
    static_superstep_plan,
)
from . import _kernels
from ._result import ppr_result_from_dense

import numpy as np

# Rows with cnt above this draw from a per-row Philox generator (one
# C-level binomial/multinomial call amortized over many walks); rows at or
# below it realize every walk's draw from counter-based hashed uniforms,
# fully vectorized across the Arrow batch. Only the first few supersteps
# carry large counts — mass spreads and alpha-drains geometrically — so
# the per-row tier touches a handful of rows while the bulk of every
# frame rides the vectorized tier.
_SMALL_CNT = 64

# The walk-adjacency broadcast uses the shared edge bound
# (plans/iterative.BROADCAST_EDGE_BOUND, ~128 MB of packed int64).


def _empty_step_frame(pd, np):
    return pd.DataFrame(
        {
            "start": np.empty(0, np.int64),
            "cur": np.empty(0, np.int64),
            "cnt": np.empty(0, np.int64),
            "stopped": np.empty(0, bool),
        }
    )


def _splitmix64(x, np):
    """Vectorized splitmix64 (increment + avalanche): uint64 -> uint64.

    The avalanche rounds are the point — the round-3 seed was a plain
    linear combination of (step, start, cur), where distinct rows could
    collide exactly and adjacent node ids produced correlated streams."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _drain_walks_batch(pdf, base_seed, stop_prob, lg, np, pd):
    """Finish every live walk of one Arrow batch in-process, vectorized.

    The superstep loop's geometric tail is its cost problem: after step s
    only ~(1-alpha)^s of the walk mass is live, yet each further superstep
    is a full Spark job (join + Arrow pass + shuffle + checkpoint) — at
    local-mode job latency the last ~80 near-empty supersteps cost more
    than the first 10 heavy ones (measured 48.7 s full drain vs 5.6 s for
    10 supersteps at sf0.1).  When the graph fits the driver-local CSR
    bound, the tail is instead finished HERE: walks expand to one numpy
    row each (the tail is small by construction) and iterate
    stop-draw/move rounds entirely in memory against the broadcast CSR —
    one Spark job total.

    Semantics are the superstep kernel's exactly: per round a
    Bernoulli(alpha) stop at the current node, then movers pick a uniform
    out-neighbor (dangling movers reset to the walk's START).  Draws hash
    (base_seed, start, entry-cur, walk-index, round) through splitmix64 —
    row-content keys, so results are identical under any partition layout
    or Arrow batch split, like every other draw in this module."""
    u64 = np.uint64
    if len(pdf) == 0:
        return _empty_step_frame(pd, np).drop(columns=["stopped"])
    start = pdf["start"].to_numpy(np.int64)
    cur0 = pdf["cur"].to_numpy(np.int64)
    cnt = pdf["cnt"].to_numpy(np.int64)
    total = int(cnt.sum())
    if total == 0:
        return _empty_step_frame(pd, np).drop(columns=["stopped"])

    row_rep = np.repeat(np.arange(len(pdf), dtype=np.int64), cnt)
    ws = start[row_rep]
    ends = np.cumsum(cnt)
    widx = np.arange(total, dtype=np.int64) - np.repeat(ends - cnt, cnt)

    with np.errstate(over="ignore"):
        salt = u64((int(base_seed) + 0xBF3D_52A9_37C1_4E0B) % (2**64))
        mix = _splitmix64(salt ^ ws.view(u64), np)
        mix = _splitmix64(mix ^ cur0[row_rep].view(u64), np)
        mix = _splitmix64(mix ^ (u64(0x94D0_49BB_1331_11EB) * widx.view(u64)), np)

        ws_d = np.searchsorted(lg.ids, ws).astype(np.int64)
        wc = np.searchsorted(lg.ids, cur0)[row_rep].astype(np.int64)
        alive_idx = np.arange(total, dtype=np.int64)
        # termination backstop only: P(one of 2M walks survives 48/alpha
        # alpha-stop rounds) ~ 1e-16; survivors (none in practice) keep
        # their current node so endpoint mass still sums to the walk count
        for rnd in range(max(64, int(48.0 / max(stop_prob, 1e-3)))):
            if len(alive_idx) == 0:
                break
            rsalt = u64(((rnd + 1) * 0xD6E8_FEB8_6659_FD93) % (2**64))
            u = (_splitmix64(mix[alive_idx] ^ rsalt, np) >> u64(11)).astype(
                np.float64
            ) * 2.0**-53
            moving = alive_idx[u >= stop_prob]
            alive_idx = moving
            if len(moving) == 0:
                break
            c = wc[moving]
            deg = lg.out_deg[c]
            dang = deg == 0
            if dang.any():
                wc[moving[dang]] = ws_d[moving[dang]]
            mv = moving[~dang]
            if len(mv):
                msalt = u64(
                    ((rnd + 1) * 0xA076_1D64_78BD_642F + 0x9E6C_63D0_876A_9A47)
                    % (2**64)
                )
                u2 = (_splitmix64(mix[mv] ^ msalt, np) >> u64(11)).astype(
                    np.float64
                ) * 2.0**-53
                d = lg.out_deg[wc[mv]]
                pick = np.minimum((u2 * d).astype(np.int64), d - 1)
                wc[mv] = lg.indices[lg.indptr[wc[mv]] + pick]

    # exact in-batch aggregation on (start, endpoint).  Raw ids can't be
    # composite-packed (arbitrary int64 residues could collide), but both
    # sides are available as POSITIONS into the sorted lg.ids (ws_d from
    # line one of the walk setup, wc throughout), so pos_s * n + pos_c is
    # collision-free up to n ~ 3e9 — one probed-kind unique instead of a
    # two-key lexsort (r12's stable-pinned lexsort was the mc_dist10
    # 0.34x regression; ascending position order == ascending id order,
    # so the emitted rows are identical).
    from .._nputil import group_count

    n_ids = np.int64(len(lg.ids))
    uniq, counts = group_count(ws_d * n_ids + wc)
    return pd.DataFrame(
        {
            "start": lg.ids[uniq // n_ids],
            "cur": lg.ids[uniq % n_ids],
            "cnt": counts.astype(np.int64),
        }
    )


def _counted_step_batch(pdf, base_seed, step_i, stop_prob, np, pd):
    """One Arrow batch of one counted-walk superstep, vectorized.

    Every draw is a pure function of (base_seed, step, start, cur, draw
    index) through splitmix64 — identical output under any partition
    layout or Arrow batch split. Sampling is exact in both tiers: the
    small tier realizes stops as sums of per-walk Bernoulli(alpha) draws
    and destinations as per-walk uniform neighbor picks (the walk
    process's own definition); the large tier draws the equivalent
    Binomial/Multinomial totals from a Philox generator keyed by the same
    per-row hash."""
    u64 = np.uint64
    n_rows = len(pdf)
    start = np.ascontiguousarray(pdf["start"].to_numpy(np.int64))
    cur = np.ascontiguousarray(pdf["cur"].to_numpy(np.int64))
    cnt = pdf["cnt"].to_numpy(np.int64)
    nbrs_list = list(pdf["neighbors"])
    deg = np.fromiter(
        (0 if v is None else len(v) for v in nbrs_list),
        count=n_rows,
        dtype=np.int64,
    )

    with np.errstate(over="ignore"):
        step_salt = u64(
            (int(base_seed) + (int(step_i) + 2) * 0xA24BAED4963EE407) % (2**64)
        )
        mix = _splitmix64(step_salt ^ start.view(u64), np)
        mix = _splitmix64(mix ^ cur.view(u64), np)

        # ---- stop draws ---------------------------------------------------
        stops = np.zeros(n_rows, np.int64)
        if stop_prob > 0.0:
            small = np.nonzero(cnt <= _SMALL_CNT)[0]
            if len(small):
                scnt = cnt[small]
                row_rep = np.repeat(small, scnt)
                ends = np.cumsum(scnt)
                j = np.arange(int(ends[-1]), dtype=np.int64) - np.repeat(
                    ends - scnt, scnt
                )
                salt = u64(0xD6E8FEB86659FD93) * (j.view(u64) + u64(1))
                u = (_splitmix64(mix[row_rep] ^ salt, np) >> u64(11)).astype(
                    np.float64
                ) * 2.0**-53
                stops += np.bincount(
                    row_rep[u < stop_prob], minlength=n_rows
                ).astype(np.int64)
            for i in np.nonzero(cnt > _SMALL_CNT)[0]:
                gen = np.random.Generator(np.random.Philox(key=int(mix[i])))
                stops[i] = gen.binomial(int(cnt[i]), stop_prob)
        movers = cnt - stops

        parts_s, parts_c, parts_n, parts_f = [], [], [], []
        stopped_rows = np.nonzero(stops > 0)[0]
        if len(stopped_rows):
            parts_s.append(start[stopped_rows])
            parts_c.append(cur[stopped_rows])
            parts_n.append(stops[stopped_rows])
            parts_f.append(np.ones(len(stopped_rows), bool))

        mv = movers > 0
        # dangling current node: every mover resets to the walk's start
        dang = np.nonzero(mv & (deg == 0))[0]
        if len(dang):
            parts_s.append(start[dang])
            parts_c.append(start[dang])
            parts_n.append(movers[dang])
            parts_f.append(np.zeros(len(dang), bool))
        # single out-neighbor: the uniform pick is deterministic
        single = np.nonzero(mv & (deg == 1))[0]
        if len(single):
            parts_s.append(start[single])
            parts_c.append(
                np.fromiter(
                    (int(nbrs_list[i][0]) for i in single),
                    count=len(single),
                    dtype=np.int64,
                )
            )
            parts_n.append(movers[single])
            parts_f.append(np.zeros(len(single), bool))

        multi = np.nonzero(mv & (deg > 1))[0]
        small_m = multi[movers[multi] <= _SMALL_CNT]
        big_m = multi[movers[multi] > _SMALL_CNT]
        if len(small_m):
            pm = movers[small_m]
            row_rep2 = np.repeat(small_m, pm)
            pos_in = np.repeat(np.arange(len(small_m)), pm)
            ends2 = np.cumsum(pm)
            k = np.arange(int(ends2[-1]), dtype=np.int64) - np.repeat(
                ends2 - pm, pm
            )
            salt2 = u64(0xA0761D6478BD642F) * (k.view(u64) + u64(1)) + u64(
                0x9E6C63D0876A9A47
            )
            u2 = (_splitmix64(mix[row_rep2] ^ salt2, np) >> u64(11)).astype(
                np.float64
            ) * 2.0**-53
            dsel = deg[row_rep2]
            pick = np.minimum((u2 * dsel).astype(np.int64), dsel - 1)
            flat_nbrs = np.concatenate(
                [np.asarray(nbrs_list[i], np.int64) for i in small_m]
            )
            ends_d = np.cumsum(deg[small_m])
            slot = (ends_d - deg[small_m])[pos_in] + pick
            from .._nputil import group_count

            uniq, counts = group_count(slot)
            upos = np.searchsorted(ends_d, uniq, side="right")
            parts_s.append(start[small_m[upos]])
            parts_c.append(flat_nbrs[uniq])
            parts_n.append(counts.astype(np.int64))
            parts_f.append(np.zeros(len(uniq), bool))
        for i in big_m:
            na = np.asarray(nbrs_list[i], np.int64)
            key = int(_splitmix64(mix[i] ^ u64(0x8BB84B93962EACC9), np))
            gen = np.random.Generator(np.random.Philox(key=key))
            c = gen.multinomial(int(movers[i]), np.full(len(na), 1.0 / len(na)))
            nz = np.nonzero(c)[0]
            parts_s.append(np.full(len(nz), start[i], np.int64))
            parts_c.append(na[nz])
            parts_n.append(c[nz].astype(np.int64))
            parts_f.append(np.zeros(len(nz), bool))

    if not parts_s:
        return _empty_step_frame(pd, np)
    return pd.DataFrame(
        {
            "start": np.concatenate(parts_s),
            "cur": np.concatenate(parts_c),
            "cnt": np.concatenate(parts_n),
            "stopped": np.concatenate(parts_f),
        }
    )


def monte_carlo(
    graph: PropertyGraph,
    source: int,
    epsilon: float,
    alpha: float = DEFAULT_ALPHA,
    mode: str = "auto",
    seed: int | None = 42,
    max_supersteps: int = 1_000,
    on_budget: str = "stop",
) -> DataFrame:
    """Whole-graph MC PPR. Returns DataFrame(node, ppr)."""
    conf = WholeGraphConf(alpha=alpha, n=graph.n, m=graph.m)
    omega = conf.mc_omega(epsilon)
    if graph.resolve_mode(mode) == "local":
        lg = graph.local
        rng = np.random.default_rng(seed)
        pi = _kernels.monte_carlo(lg, lg.dense(source), alpha, omega, rng)
        return ppr_result_from_dense(graph, pi)
    return _monte_carlo_distributed(
        graph, source, alpha, omega, seed, max_supersteps, on_budget
    )


def _monte_carlo_distributed(
    graph: PropertyGraph,
    source: int,
    alpha: float,
    omega: int,
    seed: int | None,
    max_supersteps: int = 1_000,
    on_budget: str = "stop",
) -> DataFrame:
    """Counted-walk simulation: the omega walks NEVER materialize as rows.

    Walks from one source are exchangeable, so the superstep state is
    (cur, cnt) — bounded by the number of ACTIVE NODES, not omega. Each
    superstep splits each node's walk count binomially (stop vs move) and
    multinomially over its out-neighbors; both splits are exact samples of
    the same joint distribution as per-walk simulation (sums of iid
    Bernoulli/categorical draws). At omega ~ 1e9 (the 100 TB operating
    point: omega grows as 1/delta = n) the per-walk frame is billions of
    rows per superstep; the counted frame is <= n rows and shrinks
    geometrically. Randomness is seeded per (step, node) via a hash —
    deterministic REGARDLESS of partition layout, unlike F.rand."""
    walks = graph.spark.createDataFrame(
        [(int(source), int(source), int(omega))], "start long, cur long, cnt long"
    )
    ends = run_walks_counted(
        graph,
        walks,
        alpha,
        zero_hop=True,
        seed=seed,
        max_supersteps=max_supersteps,
        on_budget=on_budget,
    )
    return ends.select(
        F.col("cur").alias("node"),
        (F.col("cnt").cast("double") / F.lit(float(omega))).alias("ppr"),
    )


def run_walks_counted(
    graph: PropertyGraph,
    walks: DataFrame,
    alpha: float,
    zero_hop: bool = True,
    seed: int | None = None,
    max_supersteps: int = 1_000,
    on_budget: str = "stop",
) -> DataFrame:
    """Drive counted walks(start, cur, cnt) to their stop nodes; returns
    (start, cur, cnt) of stopped walk counts (summed over supersteps).

    ``on_budget`` picks what happens to walks still live when the
    superstep budget runs out: ``"stop"`` (default) freezes them at their
    current node — the bounded-step reading; ``"drain"`` finishes them
    exactly in one vectorized pass against the driver-local CSR
    (_drain_walks_batch) when the graph fits the local bound, falling
    back to "stop" (with the WARN) when it does not.

    Reference walk semantics (alpha-stop, uniform out-neighbor, dangling
    resets to the walk's START, degree-0 start stops immediately,
    ``zero_hop=False`` takes one unconditional first move —
    Monte_Carlo.java:60-133) expressed over walk COUNTS: per superstep each
    (start, cur, cnt) row draws stops ~ Binomial(cnt, alpha) and splits the
    movers Multinomial(uniform over out-neighbors) — sums of the identical
    iid per-walk draws, so every end-point distribution matches per-walk
    simulation exactly. State is bounded by live (start, cur) pairs — for
    single-start MC that is <= active nodes regardless of omega; for FORA's
    multi-start fan-out it is <= the sum of frontier neighborhoods, never
    the walk count. One adjacency join + one Arrow pass + one groupBy merge
    per superstep; randomness is seeded per (step, start, cur) hash, so
    results are independent of partition layout.
    """
    if seed is None:
        import random as _random

        base_seed = _random.randrange(2**31)
    else:
        base_seed = int(seed)

    adj = graph.adj  # (node, neighbors, out_degree)
    small = graph.m <= BROADCAST_EDGE_BOUND
    if small:
        # shuffle-free superstep join: the walk frame never moves for the
        # expansion, only the (start, cur) re-merge shuffles
        adj = F.broadcast(adj)

    # one row per (start, cur): duplicate rows would share a per-(step,
    # start, cur) seed and draw correlated splits
    walks = walks.groupBy("start", "cur").agg(F.sum("cnt").alias("cnt"))

    # walks whose start has no out-edges stop at the start immediately
    deg0 = walks.join(adj, walks.cur == adj.node, "left")
    done0 = deg0.where(F.col("node").isNull()).select("start", "cur", "cnt")
    live = deg0.where(F.col("node").isNotNull()).select("start", "cur", "cnt")

    def step_factory(step_i: int, stop_prob: float):
        def step(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    yield _empty_step_frame(pd, np)
                    continue
                yield _counted_step_batch(
                    pdf, base_seed, step_i, stop_prob, np, pd
                )

        return step

    schema = "start long, cur long, cnt long, stopped boolean"

    def one_step(frame: DataFrame, step_i: int, stop_prob: float) -> DataFrame:
        j = frame.join(adj, frame.cur == adj.node, "left").select(
            "start", "cur", "cnt", "neighbors"
        )
        # ONE materialization per superstep serves both the stopped slice
        # (kept for the final union) and the next live frontier. Single
        # groupBy(start, cur) with conditional sums: one output row per
        # pair and the narrower shuffle key.
        return (
            j.mapInPandas(step_factory(step_i, stop_prob), schema)
            .groupBy("start", "cur")
            .agg(
                F.sum(F.when(F.col("stopped"), F.col("cnt")).otherwise(0)).alias(
                    "stop_cnt"
                ),
                F.sum(F.when(~F.col("stopped"), F.col("cnt")).otherwise(0)).alias(
                    "live_cnt"
                ),
            )
        ).localCheckpoint(eager=True)

    finished = [done0]
    # gate the state-scaled partition override on the broadcast path,
    # like forward_push: when adj is NOT broadcast the superstep join is
    # a shuffle join, and collapsing the session partition count would
    # drag the full adjacency into a handful of partitions every step
    loop_parts = loop_shuffle_partitions(graph.spark, graph.n) if small else None
    with static_superstep_plan(graph.spark, shuffle_partitions=loop_parts):
        live = live.localCheckpoint(eager=True)
        if not zero_hop:
            # unconditional first move (no stop draw): all live have
            # out-degree > 0 here, so no mass can stop or reset
            nxt = one_step(live, -1, 0.0)
            live = nxt.where(F.col("live_cnt") > 0).select(
                "start", "cur", F.col("live_cnt").alias("cnt")
            )
        for i in range(max_supersteps):
            # emptiness probe every 3rd step: the geometric tail takes tens
            # of supersteps to drain, and each probe is a driver job; a few
            # no-op supersteps past drain are cheaper than per-step probes
            if i % 3 == 0 and live.isEmpty():
                break
            nxt = one_step(live, i, alpha)
            finished.append(
                nxt.where(F.col("stop_cnt") > 0).select(
                    "start", "cur", F.col("stop_cnt").alias("cnt")
                )
            )
            live = nxt.where(F.col("live_cnt") > 0).select(
                "start", "cur", F.col("live_cnt").alias("cnt")
            )
        else:
            # superstep budget exhausted with walks possibly still live
            if not live.isEmpty():
                if on_budget == "drain" and graph.fits_local():
                    # finish the geometric tail exactly, in ONE job: the
                    # supersteps above carried the heavy head; the
                    # survivors expand to per-walk numpy rows against the
                    # broadcast CSR (_drain_walks_batch).  Same walk
                    # semantics, no truncated mass, no WARN.
                    bc = graph.local_broadcast
                    drain_seed = base_seed

                    def drain(batches):
                        import numpy as np
                        import pandas as pd

                        lg = bc.value
                        for pdf in batches:
                            yield _drain_walks_batch(
                                pdf, drain_seed, alpha, lg, np, pd
                            )

                    finished.append(
                        live.mapInPandas(drain, "start long, cur long, cnt long")
                    )
                else:
                    # force-stop at the current node (the bounded-step
                    # reading of the reference's walk loop) instead of
                    # silently dropping mass — endpoint counts always sum
                    # to the walk count, so downstream ppr mass stays 1.
                    # (on_budget="drain" lands here too when the graph
                    # exceeds the driver-local CSR bound: at that scale
                    # raise max_supersteps instead — cluster job latency,
                    # unlike local mode's, amortizes near-empty steps.)
                    import logging

                    logging.getLogger(__name__).warning(
                        "run_walks_counted: max_supersteps=%d reached with "
                        "live walks; force-stopping them at their current "
                        "node",
                        max_supersteps,
                    )
                    finished.append(live)

    out = finished[0]
    for f in finished[1:]:
        out = out.unionAll(f)
    return out.groupBy("start", "cur").agg(F.sum("cnt").alias("cnt"))
