"""The distributed reverse-push loop vs the local kernel.

Backward search, BASE preprocessing and dynamic PPR's ``reverse_push_state``
all run ``backward_search.reverse_push`` on the distributed path and
``_kernels.backward_search_batch`` on the local one. These tests pin the
two to each other on the sf0.001 TPC-H graph (185 nodes, 1,604 edges; 150
in-degree-0 nodes, reverse pushes end in 2-3 supersteps) and on its
symmetrized copy (3,208 edges, cyclic; 10-12 supersteps at rmax 1e-3).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import personalized_pagerank_algorithms_on_neo4j_spark as P
from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
    _kernels,
    backward_search,
    base_all_pair,
    dynamic_ppr,
)

ALPHA = 0.15
RMAX = 1e-3
TOL = 1e-12


@pytest.fixture(scope="module")
def sym_graph(spark, tpch_graph):
    e = tpch_graph.edges
    both = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return P.PropertyGraph(spark, tpch_graph.nodes, both.distinct(), nodes_cover_edges=True)


def _live(lg, count=3):
    """Original ids of the first ``count`` nodes with in-degree > 0."""
    return [int(lg.ids[i]) for i in np.flatnonzero(lg.in_deg > 0)[:count]]


def _in_degree_0(lg):
    return int(lg.ids[np.flatnonzero(lg.in_deg == 0)[0]])


def _kernel_pi(lg, t):
    pi, _, _ = _kernels.backward_search_batch(lg, lg.dense(t), ALPHA, RMAX)
    return pi


def _dense(lg, rows):
    pi = np.zeros(lg.n)
    for node, ppr in rows:
        pi[lg.dense(node)] = ppr
    return pi


def test_backward_search_matches_kernel(tpch_graph, sym_graph):
    """Per-target ``backward_search`` on the DAG; one multi-target
    ``backward_search_all`` on the cyclic copy."""
    lg = tpch_graph.local
    for t in _live(lg):
        df = backward_search.backward_search(tpch_graph, t, RMAX, ALPHA, mode="distributed")
        pi = _dense(lg, df.collect())
        assert pi.sum() > 0
        assert np.max(np.abs(pi - _kernel_pi(lg, t))) < TOL
    lg = sym_graph.local
    targets = _live(lg)
    tdf = sym_graph.spark.createDataFrame([(t,) for t in targets], "target long")
    rows = backward_search.backward_search_all(sym_graph, tdf, RMAX, ALPHA).collect()
    for t in targets:
        pi = _dense(lg, [(r["node"], r["ppr"]) for r in rows if r["target"] == t])
        assert np.count_nonzero(pi) == lg.n
        assert np.max(np.abs(pi - _kernel_pi(lg, t))) < TOL


def test_in_degree_0_target_single_row(tpch_graph):
    t = _in_degree_0(tpch_graph.local)
    for mode in ("local", "distributed"):
        rows = backward_search.backward_search(tpch_graph, t, RMAX, ALPHA, mode=mode).collect()
        assert [(r["node"], r["ppr"]) for r in rows] == [(t, 1.0)]


def test_base_distributed_matches_local(tpch_graph):
    """Threshold mode and k mode, live targets plus one in-degree-0 one."""
    lg = tpch_graph.local
    ids = _live(lg) + [_in_degree_0(lg)]
    targets = tpch_graph.spark.createDataFrame([(t,) for t in ids], "target long")
    for k in (None, 3):
        out = {}
        for mode in ("local", "distributed"):
            df = base_all_pair.base_preprocess(
                tpch_graph, RMAX, alpha=ALPHA, k=k, targets=targets, mode=mode
            )
            out[mode] = sorted(map(tuple, df.collect()))
        local, dist = out["local"], out["distributed"]
        assert len(local) == len(dist) > len(ids)
        for a, b in zip(local, dist):
            assert a[:2] == b[:2] and a[3:] == b[3:]
            assert abs(a[2] - b[2]) < TOL


def test_budget_raises_on_both_modes(sym_graph):
    t = _live(sym_graph.local, 1)[0]
    for mode in ("local", "distributed"):
        with pytest.raises(RuntimeError, match="max_supersteps"):
            backward_search.backward_search(
                sym_graph, t, RMAX, ALPHA, mode=mode, max_supersteps=1
            )


def test_reverse_push_state_pure_push_in_degree_0(spark, tpch_graph, monkeypatch):
    """No short-circuit: a fresh in-degree-0 target pushes once, keeping
    reserve alpha and residue 0, on the kernel and the distributed loop."""
    t = _in_degree_0(tpch_graph.local)
    tg = spark.createDataFrame([(t,)], "target long")
    for cutoff in (dynamic_ppr.LOCAL_EDGE_THRESHOLD, -1):
        monkeypatch.setattr(dynamic_ppr, "LOCAL_EDGE_THRESHOLD", cutoff)
        st = dynamic_ppr.reverse_push_state(spark, tpch_graph.edges, tg, RMAX, ALPHA)
        assert [tuple(r) for r in st.collect()] == [(t, t, 0.0, ALPHA)]
