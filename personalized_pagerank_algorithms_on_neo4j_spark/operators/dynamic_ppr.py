"""Incremental PPR maintenance — reverse-push residual repair on edge
arrival (the reference's preprocess-then-lookup BASE path, made dynamic).

The reference (Base_Whole_Graph.java:57-186) recomputes the all-pair
store from scratch; published dynamic-PPR work (Ohsaka/Maehara/Kawarabayashi
KDD'15 "Efficient PageRank Tracking in Evolving Networks"; Zhang/Lofgren/
Goel KDD'16 "Approximate Personalized PageRank on Dynamic Graphs")
repairs the push state locally instead.  This module derives the exact
repair from the push VALIDITY IDENTITY.  A reverse-push state (p, r)
for target t is valid on a graph with row-stochastic-or-zero transition
matrix P iff

    alpha * r + (I - (1 - alpha) * P) * p = alpha * e_t        (++)

(each push is precisely a Gaussian-elimination step of this system;
initial state r = e_t, p = 0 satisfies it trivially, and the estimate
guarantee |pi(v,t) - p(v)| <= sum_x |r(x)| pi(v,x) follows from it).
Inserting edges changes ONLY the touched rows u of P, so keeping p and
solving (++) for r on the new graph gives a repair that touches ONLY
r(u) for touched sources u:

    r(u) += (1-alpha)/alpha * [ sum_{w in W_u} p(w) / d'_u
                                + (1/d'_u - 1/d_u) * sum_{x in N_old(u)} p(x) ]

where W_u are u's newly inserted out-edges, d_u / d'_u the old / new
out-degree (the second term vanishes for a previously dangling u — its
P row was zero).  The repaired state satisfies (++) EXACTLY (pinned to
float precision by `invariant_residual`), so resuming pushes until
|r| <= rmax restores the reference's estimate guarantee on the new
graph — residues may now be NEGATIVE (an inserted edge dilutes the
old neighbors' share), and pushing negative residue is the same linear
step, so the resume loop qualifies on |r|.

Cost shape: repair is |touched u| x |targets| x avg-degree rows (two
joins against the stored reserves) + a few resume supersteps over the
repair frontier — independent of graph size, vs a from-scratch
recompute's full multi-superstep push over every target.  Measured at
sf0.1 (512 targets, 108-edge batch): the resume shuffles 2,389
frontier+pushed rows in 1 round vs the recompute's 600,290 in 2 — a
251x shuffle-volume reduction, the metric that prices a 1000-executor
run.  On the FIXTURE graph local wall-clock ties or favors recompute
(0.7-0.9x): that graph is a ~3-layer DAG whose push terminates exactly
in ~3 supersteps at ANY rmax (measured: identical state rows at
rmax 1e-4..1e-6), so recompute is always ~3 jobs and the repair's
fixed 4-6 jobs cannot amortize — a property of the fixture, not the
operator.  On a cyclic graph at the same edge scale the wall-clock
crossover is real and sits at rmax <= 1e-4: 1.13x at 1e-4, 2.02x at
1e-5 (PERF_NOTES r11 crossover study — the full batch x targets x
depth sweep).  The r12 flavor columns (PERF_NOTES r12): delete crosses
over deeper (1.93x at 1e-5 — its keep-term scans every remaining
out-edge of the touched sources, ~2x insert's repair cost) and mixed
deeper still (1.36x at 1e-5, the two repairs' fixed costs summing).
Production guidance: batch deletes WITH inserts into one mixed repair
(one resume amortizes both); prefer recompute only on provably shallow
graphs or at loose rmax.

The fresh push and every resume run `backward_search.reverse_push`, the
package's one distributed reverse-push loop (state keyed (target, node),
one frontier-bounded push aggregate + one full-outer merge per round,
per-round eager checkpoints, early exit off a 1-row emptiness probe);
under the driver-local edge cutoff the same schedule runs as per-target
`_kernels.backward_search_batch` resumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_ALPHA, LOCAL_EDGE_THRESHOLD
from ..plans.iterative import loop_shuffle_partitions
from .backward_search import over_budget, reverse_push

# Driver-local kernel bounds (beyond the shared edge cutoff): the dense
# (targets x nodes) state matrices and the per-superstep O(T x E) push
# must both stay broadcast-sized.  Above either bound the distributed
# superstep loop (`reverse_push`) runs unchanged — the 100x plan.
_LOCAL_STATE_CELLS = 32_000_000  # T x n doubles, ~256 MB for the pair
_LOCAL_PUSH_WORK = 64_000_000  # T x E multiply-adds per superstep


def _edges_with_outdeg(edges: DataFrame) -> DataFrame:
    """(src, dst, src_out_degree): directed edge list with the src
    out-degree bound on (the push weight denominator)."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("src_out_degree"))
    return edges.join(deg, "src")


def reverse_push_state(
    spark: SparkSession,
    edges: DataFrame,
    targets: DataFrame,
    rmax: float,
    alpha: float = DEFAULT_ALPHA,
    max_supersteps: int = 200,
    state: DataFrame | None = None,
    state_rows_hint: int | None = None,
) -> DataFrame:
    """Reverse push to |residue| <= rmax, KEEPING residues: returns
    (target, node, residue, reserve) — the maintainable state, unlike
    `backward_search_all` which folds to the ppr view.  Pure push
    semantics (no in-degree-0 target short-circuit; a zero-out-degree
    node is an absorbing zero row of P, matching the push algebra).

    ``state=None`` starts fresh from r = e_t per target (the first
    superstep pushes targets unconditionally, mirroring
    Backward_Search.java:44's immediate pop); pass a repaired state to
    RESUME maintenance pushes (only |r| > rmax rows move, positive or
    negative).

    ``state_rows_hint``: optional bound on the state row count
    (|targets| x nodes from the caller) — scales the loop's shuffle
    partitions like every other superstep verb (plans/iterative); without
    it the loop pays session-default task counts per round even when the
    state is a few thousand rows."""
    # one materialization serves both paths: the distributed loop reads
    # the degree-joined checkpoint, the gate counts it, the local kernel
    # collects it
    edges = _edges_with_outdeg(edges).localCheckpoint(eager=True)
    fresh = state is None
    if fresh:
        state = targets.select(
            F.col("target").cast("long").alias("target"),
            F.col("target").cast("long").alias("node"),
            F.lit(1.0).alias("residue"),
            F.lit(0.0).alias("reserve"),
        )
    # Driver-local kernel under the LocalGraph edge cutoff (graph.py
    # precedent): the kernel resumes each target's state on the same
    # |r|-qualified frontier-synchronous schedule, so the fixed point
    # agrees to float precision (the oracle compares after
    # ROUND(..., 9)).  A fresh r = e_t qualifies on the first superstep
    # exactly when rmax < 1; at rmax >= 1 only the distributed loop pushes
    # it unconditionally.
    if (rmax < 1.0 or not fresh) and edges.count() <= LOCAL_EDGE_THRESHOLD:
        local = _reverse_push_local(
            spark, edges, state, rmax, alpha, max_supersteps
        )
        if local is not None:
            return local
    loop_parts = (
        loop_shuffle_partitions(spark, state_rows_hint)
        if state_rows_hint is not None
        else None
    )
    return reverse_push(
        edges, state, rmax, alpha, max_supersteps, fresh, loop_parts
    )


def _reverse_push_local(
    spark: SparkSession,
    edges: DataFrame,
    state: DataFrame,
    rmax: float,
    alpha: float,
    max_supersteps: int,
) -> DataFrame | None:
    """`reverse_push_state` on the driver: one
    `_kernels.backward_search_batch` resume per target of the dense
    (targets x nodes) state.  Returns None when the dense state or the
    per-superstep push work would exceed the driver-local bounds — the
    caller then runs the distributed loop unchanged."""
    import numpy as np

    from .._nputil import unique_stable
    from ..graph import LocalGraph
    from . import _kernels

    epd = edges.select("src", "dst").toPandas()
    spd = state.toPandas()
    es_o = epd["src"].to_numpy(dtype=np.int64)
    ed_o = epd["dst"].to_numpy(dtype=np.int64)
    tgt = unique_stable(spd["target"].to_numpy(dtype=np.int64))
    ids = unique_stable(
        np.concatenate(
            [es_o, ed_o, spd["node"].to_numpy(dtype=np.int64), tgt]
        )
    )
    n, t_cnt, m = len(ids), len(tgt), len(es_o)
    if t_cnt * n > _LOCAL_STATE_CELLS or t_cnt * m > _LOCAL_PUSH_WORK:
        return None
    lg = LocalGraph.from_coo(
        ids, np.searchsorted(ids, es_o), np.searchsorted(ids, ed_o)
    )
    resid, resv = _dense_state(spd, tgt, ids)
    for i, t in enumerate(np.searchsorted(ids, tgt)):
        resv[i], resid[i], _ = _kernels.backward_search_batch(
            lg, int(t), alpha, rmax, reserve=resv[i], residue=resid[i],
            max_supersteps=max_supersteps,
        )
        if (np.abs(resid[i]) > rmax).any():
            raise over_budget(rmax, max_supersteps)
    return _state_df(spark, tgt, ids, resid, resv)


def _dense_state(spd, tgt, ids):
    """(residue, reserve) (targets x nodes) matrices of a collected state.
    State is (target, node)-unique by construction; add.at keeps the
    groupBy-sum semantics if a caller ever passes duplicates."""
    import numpy as np

    resid = np.zeros((len(tgt), len(ids)))
    resv = np.zeros((len(tgt), len(ids)))
    ti = np.searchsorted(tgt, spd["target"].to_numpy(dtype=np.int64))
    ni = np.searchsorted(ids, spd["node"].to_numpy(dtype=np.int64))
    np.add.at(resid, (ti, ni), spd["residue"].to_numpy(dtype=np.float64))
    np.add.at(resv, (ti, ni), spd["reserve"].to_numpy(dtype=np.float64))
    return resid, resv


def _repair_local_arrays(state: DataFrame, old_edges: DataFrame, batch: DataFrame):
    """Collected + compacted inputs for the driver-local repair twins, or
    None above the edge gate / dense-state bound.  ``batch`` is collected
    DISTINCT (both repairs distinct their batch); ``old_edges`` raw (the
    degree counts are over raw rows, like the groupBy counts)."""
    if LOCAL_EDGE_THRESHOLD <= 0 or old_edges.count() > LOCAL_EDGE_THRESHOLD:
        return None
    import numpy as np

    from .._nputil import unique_stable

    spd = state.toPandas()
    oepd = old_edges.select("src", "dst").toPandas()
    bpd = batch.select("src", "dst").distinct().toPandas()
    os_, od_ = (
        oepd["src"].to_numpy(dtype=np.int64),
        oepd["dst"].to_numpy(dtype=np.int64),
    )
    bs_, bd_ = (
        bpd["src"].to_numpy(dtype=np.int64),
        bpd["dst"].to_numpy(dtype=np.int64),
    )
    sn = spd["node"].to_numpy(dtype=np.int64)
    tgt = unique_stable(spd["target"].to_numpy(dtype=np.int64))
    ids = unique_stable(np.concatenate([os_, od_, bs_, bd_, sn, tgt]))
    if len(tgt) * len(ids) > _LOCAL_STATE_CELLS:
        return None
    return (
        tgt,
        ids,
        *_dense_state(spd, tgt, ids),
        np.searchsorted(ids, os_),
        np.searchsorted(ids, od_),
        np.searchsorted(ids, bs_),
        np.searchsorted(ids, bd_),
    )


def _state_df(spark, tgt, ids, resid, resv) -> DataFrame:
    """Materialize a dense state (zero-zero rows dropped — the
    push-kernel equivalence: downstream consumers treat absent and
    all-zero rows identically)."""
    import numpy as np
    import pandas as pd

    keep = (resid != 0.0) | (resv != 0.0)
    t_idx, n_idx = np.nonzero(keep)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "target": tgt[t_idx],
                "node": ids[n_idx],
                "residue": resid[keep],
                "reserve": resv[keep],
            }
        ),
        "target long, node long, residue double, reserve double",
    )


def repair_on_insert(
    state: DataFrame,
    old_edges: DataFrame,
    new_edges: DataFrame,
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """Apply the (++) residual repair for a batch of INSERTED edges:
    returns the state (target, node, residue, reserve) valid on
    old_edges UNION new_edges, with |residue| possibly above rmax at the
    touched sources — follow with `reverse_push_state(..., state=...)` to
    restore the estimate guarantee.
    ``new_edges`` must be disjoint from ``old_edges`` (true insertions);
    both are (src, dst) frames."""
    local = _repair_local_arrays(state, old_edges, new_edges)
    if local is not None:
        # Driver-local twin (round-12 optimization): the two repair terms
        # are per-source reserve sums over the batch / old adjacency —
        # one bincount each per target, the same scalar tail expressions
        # ((pw/dp), (1/dp - 1/d)*px, k*(t1 + t2), state + delta — the
        # last two are two-term adds, commutative-exact); only the
        # grouped-sum ORDER differs, the drift class the ROUND(_, 9)
        # oracles already tolerate for the push kernel.
        import numpy as np

        tgt, ids, resid, resv, osr, odst, bsr, bdst = local
        n = len(ids)
        c = np.bincount(bsr, minlength=n).astype(np.int64)
        d = np.bincount(osr, minlength=n).astype(np.int64)
        tsrc = np.nonzero(c > 0)[0]
        d_t = d[tsrc]
        dp_t = (d_t + c[tsrc]).astype(np.float64)
        has_old = d_t > 0
        m2 = (c[osr] > 0) & (d[osr] > 0)
        osr2, odst2 = osr[m2], odst[m2]
        k = (1.0 - alpha) / alpha
        f_old = np.where(has_old, 1.0 / dp_t - 1.0 / np.maximum(d_t, 1), 0.0)
        for t in range(len(tgt)):
            t1 = (
                np.bincount(bsr, weights=resv[t, bdst], minlength=n)[tsrc]
                / dp_t
            )
            px = np.bincount(osr2, weights=resv[t, odst2], minlength=n)[tsrc]
            resid[t, tsrc] += k * (t1 + f_old * px)
        return _state_df(state.sparkSession, tgt, ids, resid, resv)
    ne = new_edges.select("src", "dst").distinct()
    d_new = ne.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
    d_old = old_edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    touched = d_new.join(d_old, "src", "left").select(
        "src",
        F.coalesce("d", F.lit(0)).alias("d"),
        (F.coalesce("d", F.lit(0)) + F.col("c")).alias("dp"),
    )
    reserves = state.select("target", "node", "reserve")
    # term 1: sum of reserves at the NEW out-neighbors, / d'
    t1 = (
        ne.join(touched, "src")
        .join(reserves, ne.dst == reserves.node)
        .groupBy("target", "src", "dp")
        .agg(F.sum("reserve").alias("pw"))
        .select(
            "target",
            F.col("src").alias("node"),
            (F.col("pw") / F.col("dp")).alias("delta"),
        )
    )
    # term 2: (1/d' - 1/d) * sum of reserves at the OLD out-neighbors
    # (vanishes for previously dangling sources — zero P row)
    old_touched = old_edges.join(
        F.broadcast(touched.where(F.col("d") > 0)), "src"
    )
    t2 = (
        old_touched.join(reserves, old_touched.dst == reserves.node)
        .groupBy("target", "src", "d", "dp")
        .agg(F.sum("reserve").alias("px"))
        .select(
            "target",
            F.col("src").alias("node"),
            (
                (F.lit(1.0) / F.col("dp") - F.lit(1.0) / F.col("d"))
                * F.col("px")
            ).alias("delta"),
        )
    )
    delta = (
        t1.unionAll(t2)
        .groupBy("target", "node")
        .agg(
            (F.lit((1.0 - alpha) / alpha) * F.sum("delta")).alias("residue")
        )
        .select("target", "node", "residue", F.lit(0.0).alias("reserve"))
    )
    return (
        state.unionAll(delta)
        .groupBy("target", "node")
        .agg(
            F.sum("residue").alias("residue"),
            F.sum("reserve").alias("reserve"),
        )
    )


def repair_on_delete(
    state: DataFrame,
    old_edges: DataFrame,
    del_edges: DataFrame,
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """The (++) repair for a batch of DELETED edges — the same identity
    with the row-u perturbation reversed:

        r(u) += (1-alpha)/alpha * [ (1/d'_u - 1/d_u) * sum_{x in N_new(u)} p(x)
                                    - sum_{w in W_u} p(w) / d_u ]

    where W_u are u's removed out-edges, d_u / d'_u = d_u - |W_u| the
    old / new out-degree (the first term vanishes when u loses its LAST
    edge — its new P row is zero).  ``del_edges`` must be a subset of
    ``old_edges``.  Follow with the |r|-qualified resume, exactly as for
    inserts."""
    local = _repair_local_arrays(state, old_edges, del_edges)
    if local is not None:
        # Driver-local twin — the insert repair's mirror (see there for
        # the float-order note): keep-term over the surviving adjacency
        # of each touched source (dp > 0 only), removed-term over the
        # deleted batch, same scalar tails, k * (t_keep + t_del) a
        # two-term add.
        import numpy as np

        tgt, ids, resid, resv, osr, odst, dsr, ddst = local
        n = len(ids)
        c = np.bincount(dsr, minlength=n).astype(np.int64)
        d = np.bincount(osr, minlength=n).astype(np.int64)
        touched = (c > 0) & (d > 0)  # the inner degree join's row set
        tsrc = np.nonzero(touched)[0]
        d_t = d[tsrc].astype(np.float64)
        dp_t = (d[tsrc] - c[tsrc]).astype(np.float64)
        # remaining = old rows at touched sources with dp > 0, minus the
        # deleted pairs (per raw old row, like the left-join null check)
        dkey = np.sort(dsr.astype(np.int64) * n + ddst, kind="stable")
        okey = osr.astype(np.int64) * n + odst
        pos = np.searchsorted(dkey, okey)
        in_del = (pos < len(dkey)) & (
            dkey[np.minimum(pos, len(dkey) - 1)] == okey
        )
        mk = touched[osr] & ((d[osr] - c[osr]) > 0) & ~in_del
        osr2, odst2 = osr[mk], odst[mk]
        k = (1.0 - alpha) / alpha
        f_keep = np.where(dp_t > 0, 1.0 / np.maximum(dp_t, 1.0) - 1.0 / d_t, 0.0)
        for t in range(len(tgt)):
            px = np.bincount(osr2, weights=resv[t, odst2], minlength=n)[tsrc]
            pw = np.bincount(dsr, weights=resv[t, ddst], minlength=n)[tsrc]
            resid[t, tsrc] += k * (f_keep * px + (-pw / d_t))
        return _state_df(state.sparkSession, tgt, ids, resid, resv)
    de = del_edges.select("src", "dst").distinct()
    d_del = de.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
    d_old = old_edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    touched = d_del.join(d_old, "src").select(
        "src", "d", (F.col("d") - F.col("c")).alias("dp")
    )
    reserves = state.select("target", "node", "reserve")
    remaining = (
        old_edges.join(F.broadcast(touched.where(F.col("dp") > 0)), "src")
        .join(de.withColumn("_del", F.lit(True)), ["src", "dst"], "left")
        .where(F.col("_del").isNull())
    )
    t_keep = (
        remaining.join(reserves, remaining.dst == reserves.node)
        .groupBy("target", "src", "d", "dp")
        .agg(F.sum("reserve").alias("px"))
        .select(
            "target",
            F.col("src").alias("node"),
            (
                (F.lit(1.0) / F.col("dp") - F.lit(1.0) / F.col("d"))
                * F.col("px")
            ).alias("delta"),
        )
    )
    t_del = (
        de.join(touched, "src")
        .join(reserves, de.dst == reserves.node)
        .groupBy("target", "src", "d")
        .agg(F.sum("reserve").alias("pw"))
        .select(
            "target",
            F.col("src").alias("node"),
            (-F.col("pw") / F.col("d")).alias("delta"),
        )
    )
    delta = (
        t_keep.unionAll(t_del)
        .groupBy("target", "node")
        .agg(
            (F.lit((1.0 - alpha) / alpha) * F.sum("delta")).alias("residue")
        )
        .select("target", "node", "residue", F.lit(0.0).alias("reserve"))
    )
    return (
        state.unionAll(delta)
        .groupBy("target", "node")
        .agg(
            F.sum("residue").alias("residue"),
            F.sum("reserve").alias("reserve"),
        )
    )


def invariant_residual(
    state: DataFrame, edges: DataFrame, alpha: float = DEFAULT_ALPHA
) -> DataFrame:
    """(target, node, res): the defect of the validity identity (++) at
    every node with state — alpha*r(v) + p(v)
    - (1-alpha)/d(v) * sum_{v->x} p(x) - alpha*[v = target].  All-zero
    (to float precision) iff the state is a valid push state on
    ``edges`` — THE correctness oracle for the repair algebra."""
    e = _edges_with_outdeg(edges)
    p = state.select("target", "node", "reserve")
    inflow = (
        e.join(p, e.dst == p.node)
        .groupBy("target", F.col("src").alias("node"), "src_out_degree")
        .agg(F.sum("reserve").alias("pout"))
        .select(
            "target",
            "node",
            (
                F.lit(1.0 - alpha) * F.col("pout") / F.col("src_out_degree")
            ).alias("flow"),
        )
    )
    return (
        state.join(inflow, ["target", "node"], "left")
        .select(
            "target",
            "node",
            (
                F.lit(alpha) * F.col("residue")
                + F.col("reserve")
                - F.coalesce("flow", F.lit(0.0))
                - F.when(F.col("node") == F.col("target"), alpha).otherwise(
                    0.0
                )
            ).alias("res"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the full pipeline replayed as unrolled CTEs
# ---------------------------------------------------------------------------


def _push_chain_sql(
    prefix: str,
    state_cte: str,
    edges_cte: str,
    steps: int,
    rmax: float,
    alpha: float,
    first_unconditional: bool,
) -> str:
    """Unrolled |residue|-qualified reverse-push rounds from ``state_cte``
    (target, node, residue, reserve) over ``edges_cte`` (src, dst, od).
    Any step count >= the Spark side's stopping round is a no-op tail
    (fixed point: once every |r| <= rmax nothing qualifies)."""
    ctes = [f"{prefix}0 AS MATERIALIZED (SELECT * FROM {state_cte})"]
    for i in range(steps):
        p = f"{prefix}{i}"
        thr = "0.0" if (i == 0 and first_unconditional) else str(rmax)
        ctes.append(
            f"""{prefix}{i + 1} AS MATERIALIZED (
  SELECT target, node, SUM(residue) AS residue, SUM(reserve) AS reserve FROM (
    SELECT target, node, residue, reserve FROM {p}
    WHERE NOT (ABS(residue) > {thr})
    UNION ALL
    SELECT target, node, CAST(0.0 AS DOUBLE),
           reserve + {alpha} * residue
    FROM {p} WHERE ABS(residue) > {thr}
    UNION ALL
    SELECT t.target, e.src AS node,
           (1.0 - {alpha}) * t.residue / e.od, CAST(0.0 AS DOUBLE)
    FROM {p} t JOIN {edges_cte} e ON t.node = e.dst
    WHERE ABS(t.residue) > {thr}
  ) u GROUP BY target, node)"""
        )
    return ",\n".join(ctes)


def incremental_ppr_oracle_sql(
    old_edges_sql: str,
    new_edges_sql: str,
    targets_sql: str,
    rmax: float,
    alpha: float,
    init_steps: int,
    resume_steps: int,
) -> str:
    """DuckDB twin of the full incremental pipeline: fresh reverse push
    on the OLD graph, the (++) repair for the inserted batch, resume
    pushes on the NEW graph.  ``old_edges_sql`` / ``new_edges_sql``
    yield (src, dst) (disjoint), ``targets_sql`` yields ``target``.
    Output: (target, node, ppr, residue) rounded to 9 — matching the
    driver query's rounding gate."""
    init = _push_chain_sql(
        "dyn_i", "dyn_s0", "dyn_eo", init_steps, rmax, alpha, True
    )
    resume = _push_chain_sql(
        f"dyn_r",
        "dyn_repaired",
        "dyn_en",
        resume_steps,
        rmax,
        alpha,
        False,
    )
    return f"""
WITH dyn_old AS MATERIALIZED ({old_edges_sql}),
dyn_new AS MATERIALIZED ({new_edges_sql}),
dyn_eo AS MATERIALIZED (
  SELECT src, dst, od FROM dyn_old
  JOIN (SELECT src, COUNT(*) AS od FROM dyn_old GROUP BY src) USING (src)),
dyn_all AS (SELECT src, dst FROM dyn_old UNION ALL SELECT src, dst FROM dyn_new),
dyn_en AS MATERIALIZED (
  SELECT src, dst, od FROM dyn_all
  JOIN (SELECT src, COUNT(*) AS od FROM dyn_all GROUP BY src) USING (src)),
dyn_t AS ({targets_sql}),
dyn_s0 AS (
  SELECT CAST(target AS BIGINT) AS target, CAST(target AS BIGINT) AS node,
         CAST(1.0 AS DOUBLE) AS residue, CAST(0.0 AS DOUBLE) AS reserve
  FROM dyn_t),
{init},
dyn_state AS (SELECT * FROM dyn_i{init_steps}),
dyn_touch AS (
  SELECT n.src, COALESCE(o.d, 0) AS d, COALESCE(o.d, 0) + n.c AS dp
  FROM (SELECT src, COUNT(*) AS c FROM dyn_new GROUP BY src) n
  LEFT JOIN (SELECT src, COUNT(*) AS d FROM dyn_old GROUP BY src) o
    USING (src)),
dyn_d1 AS (
  SELECT s.target, e.src AS node, SUM(s.reserve) / ANY_VALUE(t.dp) AS delta
  FROM dyn_new e JOIN dyn_touch t USING (src)
  JOIN dyn_state s ON e.dst = s.node
  GROUP BY s.target, e.src),
dyn_d2 AS (
  SELECT s.target, e.src AS node,
         (1.0 / ANY_VALUE(t.dp) - 1.0 / ANY_VALUE(t.d)) * SUM(s.reserve)
           AS delta
  FROM dyn_old e JOIN dyn_touch t USING (src)
  JOIN dyn_state s ON e.dst = s.node
  WHERE t.d > 0
  GROUP BY s.target, e.src),
dyn_delta AS (
  SELECT target, node,
         (1.0 - {alpha}) / {alpha} * SUM(delta) AS residue,
         CAST(0.0 AS DOUBLE) AS reserve
  FROM (SELECT * FROM dyn_d1 UNION ALL SELECT * FROM dyn_d2) u
  GROUP BY target, node),
dyn_repaired AS (
  SELECT target, node, SUM(residue) AS residue, SUM(reserve) AS reserve
  FROM (SELECT * FROM dyn_state UNION ALL SELECT * FROM dyn_delta) u
  GROUP BY target, node),
{resume}
SELECT target, node, ROUND(reserve, 9) AS ppr, ROUND(residue, 9) AS residue
FROM dyn_r{resume_steps}
WHERE ROUND(reserve, 9) > 0 OR ROUND(residue, 9) <> 0
"""


def incremental_ppr_delete_oracle_sql(
    all_edges_sql: str,
    del_edges_sql: str,
    keep_edges_sql: str,
    targets_sql: str,
    rmax: float,
    alpha: float,
    init_steps: int,
    resume_steps: int,
) -> str:
    """DuckDB twin of the DELETE maintenance pipeline: fresh reverse push
    on the FULL graph, the (++) repair for the removed batch
    (`repair_on_delete`'s algebra verbatim — keep-term + removed-term,
    with the d'=0 last-edge branch dropping the keep term), resume pushes
    on the remaining graph.  ``keep_edges_sql`` must be the exact
    complement of ``del_edges_sql`` within ``all_edges_sql`` (pass both
    sides of the same predicate — multi-edges make EXCEPT unsafe).
    Output: (target, node, ppr, residue) rounded to 9, matching the
    driver query's gate."""
    init = _push_chain_sql(
        "dynd_i", "dynd_s0", "dynd_ef", init_steps, rmax, alpha, True
    )
    resume = _push_chain_sql(
        "dynd_r",
        "dynd_repaired",
        "dynd_ek",
        resume_steps,
        rmax,
        alpha,
        False,
    )
    return f"""
WITH dynd_all AS MATERIALIZED ({all_edges_sql}),
dynd_del AS MATERIALIZED ({del_edges_sql}),
dynd_keep AS MATERIALIZED ({keep_edges_sql}),
dynd_ef AS MATERIALIZED (
  SELECT src, dst, od FROM dynd_all
  JOIN (SELECT src, COUNT(*) AS od FROM dynd_all GROUP BY src) USING (src)),
dynd_ek AS MATERIALIZED (
  SELECT src, dst, od FROM dynd_keep
  JOIN (SELECT src, COUNT(*) AS od FROM dynd_keep GROUP BY src) USING (src)),
dynd_t AS ({targets_sql}),
dynd_s0 AS (
  SELECT CAST(target AS BIGINT) AS target, CAST(target AS BIGINT) AS node,
         CAST(1.0 AS DOUBLE) AS residue, CAST(0.0 AS DOUBLE) AS reserve
  FROM dynd_t),
{init},
dynd_state AS (SELECT * FROM dynd_i{init_steps}),
dynd_touch AS (
  SELECT d.src, o.d, o.d - d.c AS dp
  FROM (SELECT src, COUNT(*) AS c FROM dynd_del GROUP BY src) d
  JOIN (SELECT src, COUNT(*) AS d FROM dynd_all GROUP BY src) o
    USING (src)),
dynd_k1 AS (
  SELECT s.target, e.src AS node,
         (1.0 / ANY_VALUE(t.dp) - 1.0 / ANY_VALUE(t.d)) * SUM(s.reserve)
           AS delta
  FROM dynd_keep e JOIN dynd_touch t USING (src)
  JOIN dynd_state s ON e.dst = s.node
  WHERE t.dp > 0
  GROUP BY s.target, e.src),
dynd_k2 AS (
  SELECT s.target, e.src AS node,
         -SUM(s.reserve) / ANY_VALUE(t.d) AS delta
  FROM dynd_del e JOIN dynd_touch t USING (src)
  JOIN dynd_state s ON e.dst = s.node
  GROUP BY s.target, e.src),
dynd_delta AS (
  SELECT target, node,
         (1.0 - {alpha}) / {alpha} * SUM(delta) AS residue,
         CAST(0.0 AS DOUBLE) AS reserve
  FROM (SELECT * FROM dynd_k1 UNION ALL SELECT * FROM dynd_k2) u
  GROUP BY target, node),
dynd_repaired AS (
  SELECT target, node, SUM(residue) AS residue, SUM(reserve) AS reserve
  FROM (SELECT * FROM dynd_state UNION ALL SELECT * FROM dynd_delta) u
  GROUP BY target, node),
{resume}
SELECT target, node, ROUND(reserve, 9) AS ppr, ROUND(residue, 9) AS residue
FROM dynd_r{resume_steps}
WHERE ROUND(reserve, 9) > 0 OR ROUND(residue, 9) <> 0
"""


def incremental_ppr_mixed_oracle_sql(
    old_edges_sql: str,
    ins_edges_sql: str,
    del_edges_sql: str,
    final_edges_sql: str,
    targets_sql: str,
    rmax: float,
    alpha: float,
    init_steps: int,
    resume_steps: int,
) -> str:
    """DuckDB twin of the MIXED maintenance pipeline: fresh reverse push on
    the old graph, the insert repair for the arriving batch, then the
    delete repair for the removed batch AGAINST THE POST-INSERT graph
    (repairs compose sequentially: each takes a state valid on graph G and
    yields one valid on the perturbed G), resume pushes on the final graph.

    Contracts mirror the single-flavor builders: ``ins_edges_sql`` is
    disjoint from ``old_edges_sql``; ``del_edges_sql`` is a subset of
    ``old_edges_sql`` (and disjoint from the inserts); ``final_edges_sql``
    must be the exact complement of the deletes within old UNION ins (pass
    the predicate's other side — multi-edges make EXCEPT unsafe).  Output:
    (target, node, ppr, residue) rounded to 9, matching the driver gate."""
    init = _push_chain_sql(
        "dynm_i", "dynm_s0", "dynm_eo", init_steps, rmax, alpha, True
    )
    resume = _push_chain_sql(
        "dynm_r", "dynm_repaired", "dynm_ek", resume_steps, rmax, alpha, False
    )
    return f"""
WITH dynm_old AS MATERIALIZED ({old_edges_sql}),
dynm_ins AS MATERIALIZED ({ins_edges_sql}),
dynm_del AS MATERIALIZED ({del_edges_sql}),
dynm_final AS MATERIALIZED ({final_edges_sql}),
dynm_mid AS MATERIALIZED (
  SELECT src, dst FROM dynm_old UNION ALL SELECT src, dst FROM dynm_ins),
dynm_eo AS MATERIALIZED (
  SELECT src, dst, od FROM dynm_old
  JOIN (SELECT src, COUNT(*) AS od FROM dynm_old GROUP BY src) USING (src)),
dynm_ek AS MATERIALIZED (
  SELECT src, dst, od FROM dynm_final
  JOIN (SELECT src, COUNT(*) AS od FROM dynm_final GROUP BY src) USING (src)),
dynm_t AS ({targets_sql}),
dynm_s0 AS (
  SELECT CAST(target AS BIGINT) AS target, CAST(target AS BIGINT) AS node,
         CAST(1.0 AS DOUBLE) AS residue, CAST(0.0 AS DOUBLE) AS reserve
  FROM dynm_t),
{init},
dynm_state AS (SELECT * FROM dynm_i{init_steps}),
dynm_touch_i AS (
  SELECT n.src, COALESCE(o.d, 0) AS d, COALESCE(o.d, 0) + n.c AS dp
  FROM (SELECT src, COUNT(*) AS c FROM dynm_ins GROUP BY src) n
  LEFT JOIN (SELECT src, COUNT(*) AS d FROM dynm_old GROUP BY src) o
    USING (src)),
dynm_d1 AS (
  SELECT s.target, e.src AS node, SUM(s.reserve) / ANY_VALUE(t.dp) AS delta
  FROM dynm_ins e JOIN dynm_touch_i t USING (src)
  JOIN dynm_state s ON e.dst = s.node
  GROUP BY s.target, e.src),
dynm_d2 AS (
  SELECT s.target, e.src AS node,
         (1.0 / ANY_VALUE(t.dp) - 1.0 / ANY_VALUE(t.d)) * SUM(s.reserve)
           AS delta
  FROM dynm_old e JOIN dynm_touch_i t USING (src)
  JOIN dynm_state s ON e.dst = s.node
  WHERE t.d > 0
  GROUP BY s.target, e.src),
dynm_delta_i AS (
  SELECT target, node,
         (1.0 - {alpha}) / {alpha} * SUM(delta) AS residue,
         CAST(0.0 AS DOUBLE) AS reserve
  FROM (SELECT * FROM dynm_d1 UNION ALL SELECT * FROM dynm_d2) u
  GROUP BY target, node),
dynm_rep_i AS MATERIALIZED (
  SELECT target, node, SUM(residue) AS residue, SUM(reserve) AS reserve
  FROM (SELECT * FROM dynm_state UNION ALL SELECT * FROM dynm_delta_i) u
  GROUP BY target, node),
dynm_touch_d AS (
  SELECT d.src, o.d, o.d - d.c AS dp
  FROM (SELECT src, COUNT(*) AS c FROM dynm_del GROUP BY src) d
  JOIN (SELECT src, COUNT(*) AS d FROM dynm_mid GROUP BY src) o
    USING (src)),
dynm_k1 AS (
  SELECT s.target, e.src AS node,
         (1.0 / ANY_VALUE(t.dp) - 1.0 / ANY_VALUE(t.d)) * SUM(s.reserve)
           AS delta
  FROM dynm_final e JOIN dynm_touch_d t USING (src)
  JOIN dynm_rep_i s ON e.dst = s.node
  WHERE t.dp > 0
  GROUP BY s.target, e.src),
dynm_k2 AS (
  SELECT s.target, e.src AS node,
         -SUM(s.reserve) / ANY_VALUE(t.d) AS delta
  FROM dynm_del e JOIN dynm_touch_d t USING (src)
  JOIN dynm_rep_i s ON e.dst = s.node
  GROUP BY s.target, e.src),
dynm_delta_d AS (
  SELECT target, node,
         (1.0 - {alpha}) / {alpha} * SUM(delta) AS residue,
         CAST(0.0 AS DOUBLE) AS reserve
  FROM (SELECT * FROM dynm_k1 UNION ALL SELECT * FROM dynm_k2) u
  GROUP BY target, node),
dynm_repaired AS (
  SELECT target, node, SUM(residue) AS residue, SUM(reserve) AS reserve
  FROM (SELECT * FROM dynm_rep_i UNION ALL SELECT * FROM dynm_delta_d) u
  GROUP BY target, node),
{resume}
SELECT target, node, ROUND(reserve, 9) AS ppr, ROUND(residue, 9) AS residue
FROM dynm_r{resume_steps}
WHERE ROUND(reserve, 9) > 0 OR ROUND(residue, 9) <> 0
"""
