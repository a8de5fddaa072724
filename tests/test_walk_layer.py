"""The distributed walk layer on the sf0.001 TPC-H graph (185 nodes, 1,604
edges): FORA whole-graph's push + compensating-walk phase against the power
method, and the counted-walk superstep loop ``monte_carlo.run_walks_counted``
(partition-layout independence, per-start mass, force-stop at the superstep
budget).

Walk runs keep small superstep budgets (0 .. 4): every superstep is a Spark
job, and a full drain of the geometric walk tail takes ~60 of them.
"""

from __future__ import annotations

import numpy as np

from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
    _kernels,
    fora,
    monte_carlo,
)

ALPHA = 0.15


def _pushing_sources(lg, count: int) -> list[int]:
    """Original ids of the first ``count`` nodes with out-degree > 0."""
    return [int(lg.ids[i]) for i in np.flatnonzero(lg.out_deg > 0)[:count]]


def _walks(g, rows):
    return g.spark.createDataFrame(rows, "start long, cur long, cnt long")


def _counts(g, walks, **kw):
    """{(start, cur): cnt} of the counted endpoints."""
    ends = monte_carlo.run_walks_counted(g, walks, ALPHA, **kw).collect()
    return {(r["start"], r["cur"]): r["cnt"] for r in ends}


def test_fora_whole_graph_distributed_within_bound(tpch_graph):
    """Push + walk phase: the walks carry exactly the residue mass the push
    left, so the total is 1; every node is within FORA's eps-relative bound
    (absolute eps*delta below delta = 1/n) of the power method."""
    lg = tpch_graph.local
    (s,) = _pushing_sources(lg, 1)
    eps = 1.0  # ~20 s; the default 0.5 launches 3x the walks and takes ~40 s
    rows = fora.fora_whole_graph(
        tpch_graph, s, epsilon=eps, alpha=ALPHA, mode="distributed", seed=11
    ).collect()
    assert abs(sum(r["ppr"] for r in rows) - 1.0) < 1e-9
    est = np.zeros(lg.n)
    for r in rows:
        est[lg.dense(r["node"])] = r["ppr"]
    oracle = _kernels.power_method(lg, lg.dense(s), ALPHA, 300)
    assert (np.abs(est - oracle) <= eps * np.maximum(oracle, 1.0 / lg.n)).all()


def test_counted_walks_layout_and_per_start_mass(tpch_graph):
    """Draws hash (step, start, cur), so a repartitioned walk frame gives
    identical counts; with two starts and ``zero_hop=False`` (FORA's
    whole-graph walks) each start's endpoint counts sum to its walk count."""
    s1, s2 = _pushing_sources(tpch_graph.local, 2)
    w = _walks(tpch_graph, [(s1, s1, 700), (s2, s2, 300)])
    e1 = _counts(tpch_graph, w, zero_hop=False, seed=5, max_supersteps=4)
    e2 = _counts(tpch_graph, w.repartition(7), zero_hop=False, seed=5, max_supersteps=4)
    assert e1 == e2
    per_start = {}
    for (start, _), cnt in e1.items():
        per_start[start] = per_start.get(start, 0) + cnt
    assert per_start == {s1: 700, s2: 300}


def test_counted_walks_force_stop_at_budget(tpch_graph):
    """Walks still live at ``max_supersteps`` stop at their current node:
    the endpoint counts always sum to the walk count, and a budget of 0
    returns every walk at its start."""
    (s,) = _pushing_sources(tpch_graph.local, 1)
    w = _walks(tpch_graph, [(s, s, 1_000)])
    for budget in (0, 1, 2):
        ends = _counts(tpch_graph, w, seed=9, max_supersteps=budget)
        assert sum(ends.values()) == 1_000, f"budget {budget}"
        if budget == 0:
            assert ends == {(s, s): 1_000}
        else:
            assert len(ends) > 1
