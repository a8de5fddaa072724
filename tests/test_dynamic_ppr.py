"""Incremental PPR maintenance (operators/dynamic_ppr): the validity-
identity invariant through fresh push / repair / resume, parity with
from-scratch recompute, gate-scale maintenance on the derived graph,
and a Hypothesis fuzz of the oracle builder against a pure-Python
replay of the whole pipeline."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
    incremental_ppr_oracle_sql,
    invariant_residual,
    repair_on_insert,
    reverse_push_state,
)

ALPHA = 1.0 / 7.0

OLD = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3), (4, 2)]
NEW = [(0, 3), (4, 0), (5, 2)]  # includes a previously-absent source (5)


def _frames(spark):
    oe = spark.createDataFrame(OLD, "src long, dst long")
    ne = spark.createDataFrame(NEW, "src long, dst long")
    tg = spark.createDataFrame([(0,), (3,)], "target long")
    return oe, ne, tg


def _max_defect(state, edges):
    return (
        invariant_residual(state, edges, ALPHA)
        .agg(F.max(F.abs("res")))
        .collect()[0][0]
    )


def test_invariant_through_repair_and_resume(spark):
    """The (++) identity holds to float precision after the fresh push,
    after the batch repair (BEFORE any resume push — the repair alone
    restores validity on the new graph), and after the resume; the
    resume restores |r| <= rmax; and the repair produces a NEGATIVE
    residue (an inserted edge dilutes old neighbors' share) so the
    |r|-qualified push path is genuinely exercised."""
    oe, ne, tg = _frames(spark)
    st0 = reverse_push_state(spark, oe, tg, 1e-3, ALPHA)
    assert _max_defect(st0, oe) < 1e-12
    rep = repair_on_insert(st0, oe, ne, ALPHA).localCheckpoint(eager=True)
    all_e = oe.unionAll(ne)
    assert _max_defect(rep, all_e) < 1e-12
    assert rep.where(F.col("residue") < -1e-12).count() > 0
    st1 = reverse_push_state(
        spark, all_e, tg, 1e-3, ALPHA, state=rep
    )
    assert _max_defect(st1, all_e) < 1e-12
    assert (
        st1.agg(F.max(F.abs("residue"))).collect()[0][0] <= 1e-3
    )


def test_incremental_matches_recompute(spark):
    """Parity with from-scratch recompute: at rmax -> 0 both converge to
    the exact PPR vector, so the maintained state and the recomputed
    state agree to push-truncation precision."""
    oe, ne, tg = _frames(spark)
    all_e = oe.unionAll(ne)
    st0 = reverse_push_state(spark, oe, tg, 1e-3, ALPHA)
    rep = repair_on_insert(st0, oe, ne, ALPHA).localCheckpoint(eager=True)
    inc = reverse_push_state(
        spark, all_e, tg, 1e-9, ALPHA, state=rep,
        max_supersteps=500,
    )
    scr = reverse_push_state(
        spark, all_e, tg, 1e-9, ALPHA, max_supersteps=500
    )
    a = {(r.target, r.node): r.reserve for r in scr.collect()}
    b = {(r.target, r.node): r.reserve for r in inc.collect()}
    assert a and b
    diff = max(abs(a.get(k, 0.0) - b.get(k, 0.0)) for k in set(a) | set(b))
    assert diff < 1e-8, diff


def test_gate_scale_maintenance(spark, tpch_graph):
    """Derived-graph maintenance at gate scale: hold back a deterministic
    ~2% edge batch, push on the remainder, repair + resume on arrival.
    Invariant exact, guarantee restored, and the repair touches only the
    batch's source rows (the locality that makes it beat recompute)."""
    g = tpch_graph
    edges = g.edges.select("src", "dst")
    is_new = (F.hash("src", "dst") % 50) == 0
    oe = edges.where(~is_new).localCheckpoint(eager=True)
    ne = edges.where(is_new).localCheckpoint(eager=True)
    assert ne.count() > 0
    tg = spark.createDataFrame([(2_000_000,), (2_000_001,)], "target long")
    st0 = reverse_push_state(spark, oe, tg, 1e-4, ALPHA, max_supersteps=60)
    rep = repair_on_insert(st0, oe, ne, ALPHA).localCheckpoint(eager=True)
    # locality: every repair delta sits at a batch source node
    batch_srcs = {r.src for r in ne.select("src").distinct().collect()}
    delta_nodes = {
        r.node
        for r in rep.join(
            st0.select("target", "node", F.col("residue").alias("r0")),
            ["target", "node"],
            "left",
        )
        .where(
            F.abs(F.col("residue") - F.coalesce("r0", F.lit(0.0))) > 1e-15
        )
        .select("node")
        .distinct()
        .collect()
    }
    assert delta_nodes and delta_nodes <= batch_srcs
    st1 = reverse_push_state(
        spark, edges, tg, 1e-4, ALPHA, state=rep,
        max_supersteps=60,
    )
    assert _max_defect(st1, edges) < 1e-12
    assert st1.agg(F.max(F.abs("residue"))).collect()[0][0] <= 1e-4


# --- oracle fuzz: DuckDB pipeline replay vs pure Python ---------------------

N = 6
RMAX_FUZZ = 1e-2

dedges = st.lists(
    st.tuples(st.integers(0, N - 1), st.integers(0, N - 1)),
    min_size=0,
    max_size=18,
).map(lambda es: sorted({(u, v) for u, v in es if u != v}))


def _py_pipeline(old, new, targets, rmax, alpha, init_steps, resume_steps):
    def od_map(edges):
        od = {}
        for u, _ in edges:
            od[u] = od.get(u, 0) + 1
        return od

    def push(state, edges, first, steps):
        od = od_map(edges)
        in_adj = {}
        for u, v in edges:
            in_adj.setdefault(v, []).append(u)
        for i in range(steps):
            thr = 0.0 if (i == 0 and first) else rmax
            nxt = {}

            def add(key, dr, dp):
                r, p = nxt.get(key, (0.0, 0.0))
                nxt[key] = (r + dr, p + dp)

            moved = False
            for (t, v), (r, p) in state.items():
                if abs(r) > thr:
                    moved = True
                    add((t, v), 0.0, p + alpha * r)
                    for u in in_adj.get(v, ()):
                        add((t, u), (1 - alpha) * r / od[u], 0.0)
                else:
                    add((t, v), r, p)
            if not moved:
                return state
            state = nxt
        return state

    state = {(t, t): (1.0, 0.0) for t in targets}
    state = push(state, old, True, init_steps)
    # repair
    d_old = od_map(old)
    d_new = od_map(new)
    all_edges = old + new
    deltas = {}
    for t in targets:
        p = {v: pv for (tt, v), (_, pv) in state.items() if tt == t}
        by_src = {}
        for u, w in new:
            by_src.setdefault(u, []).append(w)
        for u, ws in by_src.items():
            d = d_old.get(u, 0)
            dp = d + d_new[u]
            term = sum(p.get(w, 0.0) for w in ws) / dp
            if d > 0:
                px = sum(p.get(x, 0.0) for (uu, x) in old if uu == u)
                term += (1.0 / dp - 1.0 / d) * px
            if term:
                deltas[(t, u)] = (
                    deltas.get((t, u), 0.0) + (1 - alpha) / alpha * term
                )
    for key, dr in deltas.items():
        r, p = state.get(key, (0.0, 0.0))
        state[key] = (r + dr, p)
    state = push(state, all_edges, False, resume_steps)
    return {
        (t, v): (round(p, 9), round(r, 9))
        for (t, v), (r, p) in state.items()
        if round(p, 9) > 0 or round(r, 9) != 0
    }


@settings(max_examples=40, deadline=None)
@given(old=dedges, extra=dedges)
def test_oracle_matches_python_replay(old, extra):
    new = sorted(set(extra) - set(old))
    targets = [0, N - 1]
    con = duckdb.connect()
    con.execute("CREATE TABLE oe(src BIGINT, dst BIGINT)")
    con.execute("CREATE TABLE ne(src BIGINT, dst BIGINT)")
    if old:
        con.executemany("INSERT INTO oe VALUES (?,?)", old)
    if new:
        con.executemany("INSERT INTO ne VALUES (?,?)", new)
    sql = incremental_ppr_oracle_sql(
        "SELECT src, dst FROM oe",
        "SELECT src, dst FROM ne",
        f"SELECT * FROM (VALUES (0),({N - 1})) t(target)",
        RMAX_FUZZ,
        ALPHA,
        init_steps=60,
        resume_steps=30,
    )
    got = {
        (t, v): (ppr, res) for t, v, ppr, res in con.execute(sql).fetchall()
    }
    want = _py_pipeline(old, new, targets, RMAX_FUZZ, ALPHA, 60, 30)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k][0]) <= 2e-9, (k, got[k], want[k])
        assert abs(got[k][1] - want[k][1]) <= 2e-9, (k, got[k], want[k])
    con.close()


def test_delete_repair_invariant_and_parity(spark):
    """Edge DELETION repair: the (++) identity holds exactly on the
    shrunk graph (including a source losing its last edge), the resume
    restores |r| <= rmax, and the maintained state matches a
    from-scratch recompute at tight rmax."""
    oe, _, tg = _frames(spark)
    # delete (2,3) and BOTH of node 4's edges... node 4 has only (4,2):
    # deleting it zeroes node 4's P row (the d'=0 branch)
    de = spark.createDataFrame([(2, 3), (4, 2)], "src long, dst long")
    kept = oe.join(de.withColumn("_d", F.lit(True)), ["src", "dst"], "left")
    new_e = kept.where(F.col("_d").isNull()).select("src", "dst")
    st0 = reverse_push_state(spark, oe, tg, 1e-3, ALPHA)
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
        repair_on_delete,
    )

    rep = repair_on_delete(st0, oe, de, ALPHA).localCheckpoint(eager=True)
    assert _max_defect(rep, new_e) < 1e-12
    st1 = reverse_push_state(
        spark, new_e, tg, 1e-3, ALPHA, state=rep
    )
    assert _max_defect(st1, new_e) < 1e-12
    assert st1.agg(F.max(F.abs("residue"))).collect()[0][0] <= 1e-3
    inc = reverse_push_state(
        spark, new_e, tg, 1e-9, ALPHA, state=rep,
        max_supersteps=500,
    )
    scr = reverse_push_state(
        spark, new_e, tg, 1e-9, ALPHA, max_supersteps=500
    )
    a = {(r.target, r.node): r.reserve for r in scr.collect()}
    b = {(r.target, r.node): r.reserve for r in inc.collect()}
    diff = max(abs(a.get(k, 0.0) - b.get(k, 0.0)) for k in set(a) | set(b))
    assert diff < 1e-8, diff


def test_budget_exact_convergence_not_spurious(spark):
    """A push sequence that drains the frontier on the FINAL allowed
    superstep is converged, not over budget (review finding r10: the
    loop detects emptiness at the next round's top, so the else branch
    must re-probe before raising)."""
    oe, _, tg = _frames(spark)
    rmax = 0.2  # coarse threshold -> convergence in a handful of rounds
    st = reverse_push_state(spark, oe, tg, rmax, ALPHA, max_supersteps=50)
    # probe upward for the smallest budget that succeeds: it must yield
    # the identical state (one greater would previously be needed)
    lo, st2 = 1, None
    while st2 is None:
        try:
            st2 = reverse_push_state(
                spark, oe, tg, rmax, ALPHA, max_supersteps=lo
            )
        except RuntimeError:
            lo += 1
            assert lo < 20
    a = sorted(map(tuple, st.collect()))
    b = sorted(map(tuple, st2.collect()))
    assert a == b
    # and one BELOW the exact budget still raises
    if lo > 1:
        with pytest.raises(RuntimeError, match="supersteps"):
            reverse_push_state(
                spark, oe, tg, rmax, ALPHA, max_supersteps=lo - 1
            )
