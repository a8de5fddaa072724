"""The distributed forward-push loop vs the local kernel, and the ``mode``
argument check.

Every distributed push (whole-graph push, FORA's rmax halvings, FORA
top-k's delta rounds) runs ``forward_push.push_round``; these tests pin its
fixed point to ``_kernels.forward_push_batch`` resumed on the same schedule,
on the sf0.001 TPC-H graph (185 nodes, 1,604 edges). Thresholds are coarse
(5e-2 .. 1e-2) so each test stays at 11-16 supersteps (~0.4 s each in local
mode); every one still reaches the source's 22 reachable nodes, dangling
ones included.
"""

from __future__ import annotations

import numpy as np
import pytest

import personalized_pagerank_algorithms_on_neo4j_spark as P
from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
    _kernels,
    fora,
    forward_push,
)

ALPHA = 0.15
TOL = 1e-12


def _pushing_source(lg) -> int:
    """Dense id of the first node with out-degree > 0."""
    return int(np.flatnonzero(lg.out_deg > 0)[0])


def _state_arrays(lg, state):
    reserve, residue = np.zeros(lg.n), np.zeros(lg.n)
    for row in state.collect():
        i = lg.dense(row["node"])
        reserve[i], residue[i] = row["reserve"], row["residue"]
    return reserve, residue


def _run_schedule(g, s, rmaxes):
    """Push rounds at ``rmaxes``, floor = the last one, on both paths."""
    lg = g.local
    state = cand = None
    pi = r = None
    for rmax in rmaxes:
        state, cand = forward_push.push_round(
            g, int(lg.ids[s]), rmax, rmaxes[-1], ALPHA, 10_000, state=state, cand=cand
        )
        pi, r, _ = _kernels.forward_push_batch(lg, s, ALPHA, rmax, reserve=pi, residue=r)
    return state, pi, r


def test_fresh_push_matches_kernel(tpch_graph):
    lg = tpch_graph.local
    s = _pushing_source(lg)
    df = forward_push.forward_push(
        tpch_graph, int(lg.ids[s]), rmax=2e-2, alpha=ALPHA, mode="distributed"
    )
    pi_d = np.zeros(lg.n)
    for row in df.collect():
        pi_d[lg.dense(row["node"])] = row["ppr"]
    pi_k, _, _ = _kernels.forward_push_batch(lg, s, ALPHA, 2e-2)
    assert pi_k.sum() > 0
    assert np.max(np.abs(pi_d - pi_k)) < TOL


def test_fora_halving_schedule_matches_kernel(tpch_graph):
    """FORA whole-graph's rmax -> rmax/2 -> rmax/4 rounds, each resuming the
    previous round's state and candidate frontier."""
    lg = tpch_graph.local
    rmaxes = [5e-2, 2.5e-2, 1.25e-2]
    state, pi, r = _run_schedule(tpch_graph, _pushing_source(lg), rmaxes)
    reserve, residue = _state_arrays(lg, state)
    assert np.max(np.abs(reserve - pi)) < TOL
    assert np.max(np.abs(residue - r)) < TOL


def test_two_threshold_resume_matches_kernel(tpch_graph):
    """A round at rmax 5e-2 carrying candidates down to 1e-2, resumed at
    1e-2: the carried frontier is a strict, non-empty subset of the state,
    and the resumed fixed point is the kernel's."""
    lg = tpch_graph.local
    s = _pushing_source(lg)
    st1, cand1 = forward_push.push_round(
        tpch_graph, int(lg.ids[s]), 5e-2, 1e-2, ALPHA, 10_000
    )
    assert 0 < cand1.count() < st1.count()
    st2, _ = forward_push.push_round(
        tpch_graph, int(lg.ids[s]), 1e-2, 1e-2, ALPHA, 10_000, state=st1, cand=cand1
    )
    pi, r, _ = _kernels.forward_push_batch(lg, s, ALPHA, 5e-2)
    pi, r, _ = _kernels.forward_push_batch(lg, s, ALPHA, 1e-2, reserve=pi, residue=r)
    reserve, residue = _state_arrays(lg, st2)
    assert np.max(np.abs(reserve - pi)) < TOL
    assert np.max(np.abs(residue - r)) < TOL


def test_dangling_source_single_row(tpch_graph):
    """An out-degree-0 source returns (s, 1.0) from every distributed push
    caller without running a round."""
    lg = tpch_graph.local
    s = int(lg.ids[np.flatnonzero(lg.out_deg == 0)[0]])
    for df in (
        forward_push.forward_push(tpch_graph, s, rmax=1e-3, mode="distributed"),
        fora.fora_whole_graph(tpch_graph, s, mode="distributed"),
        fora.fora_topk(tpch_graph, s, 5, mode="distributed"),
    ):
        rows = df.collect()
        assert [(r["node"], r["ppr"]) for r in rows] == [(s, 1.0)]


def test_bad_mode_raises(tpch_graph):
    s = int(tpch_graph.local.ids[0])
    with pytest.raises(ValueError, match="bogus"):
        forward_push.forward_push(tpch_graph, s, rmax=1e-2, mode="bogus")
    eng = P.PPREngine(tpch_graph)
    with pytest.raises(ValueError, match="bogus"):
        eng.ppr(s, mode="bogus")
    with pytest.raises(ValueError, match="bogus"):
        eng.topk(s, 5, mode="bogus")
    # a parameter the chosen algorithm does not take is an error, not ignored
    with pytest.raises(TypeError, match="rmax"):
        eng.ppr(s, algo="power", rmax=1e-3)
    with pytest.raises(TypeError, match="push_halvings"):
        eng.ppr(s, algo="montecarlo", push_halvings=1)
    with pytest.raises(TypeError, match="iterations"):
        eng.topk(s, 5, algo="fora_topk", iterations=3)
    with pytest.raises(TypeError, match="seed"):
        eng.topk(s, 5, algo="base", prep_path="unused", seed=1)
    # each verb lists only the algorithms it accepts
    with pytest.raises(ValueError, match="fora_topk") as err:
        eng.ppr(s, algo="fora_topk")
    assert "fora_topk" not in str(err.value).split("one of")[1]
    with pytest.raises(ValueError, match="'fora_topk'\\)"):
        eng.topk(s, 5, algo="bogus")
    # BASE needs its store
    with pytest.raises(TypeError, match="prep_path"):
        eng.ppr(s, algo="base")
    with pytest.raises(TypeError, match="prep_path"):
        eng.topk(s, 5, algo="base")
    assert tpch_graph.resolve_mode("auto") == "local"
