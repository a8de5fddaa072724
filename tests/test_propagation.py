"""The synchronous-propagation loop vs the local kernels.

Power, multi-source power and the personalized and whole-graph PageRanks run
``power_method.propagate`` on the distributed path and ``_kernels.power_method``
or ``_kernels.pagerank`` on the local one. These tests pin the two to each
other on the sf0.001 TPC-H graph (185 nodes, 1,604 edges, a DAG with
out-degree-0 nation nodes) and on its symmetrized copy (3,208 edges, cyclic),
at a few iterations each.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import personalized_pagerank_algorithms_on_neo4j_spark as P
from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
    _kernels,
    forward_push,
    pagerank,
    power_method,
)

from . import reference_impl as ref

ALPHA = 0.15
ITERS = 6
TOL = 1e-12
UNKNOWN = 987654321


@pytest.fixture(scope="module")
def sym_graph(spark, tpch_graph):
    e = tpch_graph.edges
    both = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return P.PropertyGraph(spark, tpch_graph.nodes, both.distinct(), nodes_cover_edges=True)


def _live(lg, count=3):
    """Dense ids of the first ``count`` nodes with out-degree > 0."""
    return [int(i) for i in np.flatnonzero(lg.out_deg > 0)[:count]]


def _dangling(lg):
    return int(np.flatnonzero(lg.out_deg == 0)[0])


def _dense(lg, rows, col="ppr"):
    """Dense vector of a result frame; each node appears once."""
    v = np.zeros(lg.n)
    seen = set()
    for r in rows:
        i = lg.dense(r["node"])
        assert i not in seen
        seen.add(i)
        v[i] = r[col]
    return v


def _assert_matches(lg, rows, gold, col="ppr"):
    """Same row set as the kernel's nonzero entries, values to TOL."""
    est = _dense(lg, rows, col)
    assert np.array_equal(est > 0, gold > 0)
    assert np.max(np.abs(est - gold)) < TOL


def test_kernel_matches_reference_and_mass(tpch_graph):
    lg = tpch_graph.local
    out_adj = {v: [int(u) for u in lg.indices[lg.indptr[v] : lg.indptr[v + 1]]] for v in range(lg.n)}
    for s in _live(lg, 2) + [_dangling(lg)]:
        pi = _kernels.power_method(lg, s, ALPHA, ITERS)
        gold = np.zeros(lg.n)
        for v, x in ref.power_method_dict(out_adj, s, ALPHA, ITERS).items():
            gold[v] = x
        assert np.max(np.abs(pi - gold)) < 1e-9
        # an out-degree-0 source pushes too: the mass is 1 - (1-alpha)^T
        assert abs(pi.sum() - (1.0 - (1.0 - ALPHA) ** ITERS)) < 1e-12


@pytest.mark.parametrize("which", ["dag", "sym"])
def test_distributed_power_family_matches_kernel(tpch_graph, sym_graph, which):
    g = tpch_graph if which == "dag" else sym_graph
    lg = g.local
    live = _live(lg)
    singles = live[:1] + ([_dangling(lg)] if which == "dag" else [])
    for s in singles:
        rows = power_method.power_method(
            g, int(lg.ids[s]), ALPHA, ITERS, mode="distributed"
        ).collect()
        _assert_matches(lg, rows, _kernels.power_method(lg, s, ALPHA, ITERS))
    srcs = live[:2] + [_dangling(lg)] if which == "dag" else live
    rows = power_method.power_method_multi(
        g, [int(lg.ids[s]) for s in srcs], ALPHA, ITERS, mode="distributed"
    ).collect()
    _assert_matches(lg, rows, _kernels.power_method(lg, sorted(srcs), ALPHA, ITERS))


@pytest.mark.parametrize("which", ["dag", "sym"])
def test_distributed_pageranks_match_kernel(tpch_graph, sym_graph, which):
    g = tpch_graph if which == "dag" else sym_graph
    lg = g.local
    s = _live(lg)[0]
    start = np.zeros(lg.n)
    start[s] = 1.0
    gold = _kernels.pagerank(lg, start, ALPHA * start, ALPHA, ITERS)
    rows = pagerank.personalized_pagerank(
        g, int(lg.ids[s]), ITERS, ALPHA, mode="distributed"
    ).collect()
    _assert_matches(lg, rows, gold / gold.sum())
    uniform = np.full(lg.n, 1.0 / lg.n)
    gold = _kernels.pagerank(lg, uniform, ALPHA * uniform, ALPHA, ITERS)
    rows = pagerank.pagerank_global(g, ITERS, ALPHA, mode="distributed").collect()
    assert len(rows) == lg.n
    _assert_matches(lg, rows, gold, col="score")


def test_single_source_multi_is_power_bit_for_bit(tpch_graph):
    lg = tpch_graph.local
    for s in (int(lg.ids[_live(lg)[0]]), int(lg.ids[_dangling(lg)])):
        one = sorted(map(tuple, power_method.power_method_multi(tpch_graph, [s], ALPHA, ITERS).collect()))
        single = sorted(map(tuple, power_method.power_method(tpch_graph, s, ALPHA, ITERS).collect()))
        assert one == single


def test_unknown_source_raises_on_both_modes(tpch_graph):
    live = int(tpch_graph.local.ids[_live(tpch_graph.local)[0]])
    calls = {
        "power": lambda m: power_method.power_method(tpch_graph, UNKNOWN, ALPHA, 3, mode=m),
        "multi": lambda m: power_method.power_method_multi(
            tpch_graph, [live, UNKNOWN], ALPHA, 3, mode=m
        ),
        "comparator": lambda m: pagerank.personalized_pagerank(tpch_graph, UNKNOWN, 3, ALPHA, mode=m),
        "fwdpush": lambda m: forward_push.forward_push(tpch_graph, UNKNOWN, 1e-2, ALPHA, mode=m),
    }
    for name, call in calls.items():
        for mode in ("local", "distributed"):
            with pytest.raises(KeyError, match=str(UNKNOWN)):
                call(mode).collect()
