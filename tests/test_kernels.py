"""Golden tests: numpy kernels vs the independent dict-based reference
(SURVEY section 5 item 2), plus conservation/dangling invariants (item 4)."""

from __future__ import annotations

import numpy as np
import pytest

from personalized_pagerank_algorithms_on_neo4j_spark.operators import _kernels

from .conftest import dense_of
from . import reference_impl as ref

ALPHA = 0.15


def test_power_method_matches_reference(got, got_adj):
    lg = got.local
    out_adj, _ = got_adj
    s = lg.dense(got.id_of("Eddard"))
    pi = _kernels.power_method(lg, s, ALPHA, 100)
    gold = dense_of(lg, ref.power_method_dict(out_adj, s, ALPHA, 100))
    assert np.max(np.abs(pi - gold)) < 1e-9


def test_power_method_mass_conservation(got):
    lg = got.local
    s = lg.dense(got.id_of("Tyrion"))
    pi = _kernels.power_method(lg, s, ALPHA, 100)
    # after t iterations, reserve sums to 1 - (1-alpha)^t (residue keeps the rest)
    assert pi.sum() == pytest.approx(1.0 - (1 - ALPHA) ** 100, abs=1e-9)
    assert (pi >= 0).all()


def test_power_method_dangling_source(got):
    """A node with out-degree 0: all mass returns to it -> pi(s,s) -> 1."""
    lg = got.local
    dang = int(np.where(lg.out_deg == 0)[0][0])
    pi = _kernels.power_method(lg, dang, ALPHA, 100)
    assert pi[dang] == pytest.approx(1.0 - (1 - ALPHA) ** 100, abs=1e-12)
    assert pi.sum() == pytest.approx(pi[dang], abs=1e-15)


@pytest.mark.parametrize("rmax", [1e-2, 1e-4, 1e-6])
def test_forward_push_queue_matches_reference(got, got_adj, rmax):
    lg = got.local
    out_adj, _ = got_adj
    s = lg.dense(got.id_of("Eddard"))
    pi, r, rsum = _kernels.forward_push(lg, s, ALPHA, rmax)
    gold_pi, gold_r = ref.forward_push_dict(out_adj, s, ALPHA, rmax)
    assert np.max(np.abs(pi - dense_of(lg, gold_pi))) < 1e-12
    assert np.max(np.abs(r - dense_of(lg, gold_r))) < 1e-12
    # conservation: reserve + residue == 1
    assert pi.sum() + r.sum() == pytest.approx(1.0, abs=1e-9)
    assert rsum == pytest.approx(r.sum(), abs=1e-9)


@pytest.mark.parametrize("rmax", [1e-2, 1e-4])
def test_forward_push_batch_same_fixed_point(got, rmax):
    """Batch (frontier-synchronous) schedule reaches the same fixed point
    class as the sequential queue: identical termination condition, and the
    two reserves differ at most by the outstanding residue bound."""
    lg = got.local
    s = lg.dense(got.id_of("Eddard"))
    pi_q, r_q, _ = _kernels.forward_push(lg, s, ALPHA, rmax)
    pi_b, r_b, steps = _kernels.forward_push_batch(lg, s, ALPHA, rmax)
    assert steps > 0
    # both terminate with no qualifying node
    for r in (r_q, r_b):
        qual = (r > 0) & ((lg.out_deg == 0) | (r >= rmax * lg.out_deg))
        assert not qual.any()
    assert pi_b.sum() + r_b.sum() == pytest.approx(1.0, abs=1e-9)
    # same oracle up to the push error bound (max residue mass unprocessed)
    oracle = _kernels.power_method(lg, s, ALPHA, 200)
    for pi, r in ((pi_q, r_q), (pi_b, r_b)):
        assert np.max(np.abs(pi - oracle)) <= r.sum() + 1e-9


def test_forward_push_dangling_source_shortcircuit(got):
    lg = got.local
    dang = int(np.where(lg.out_deg == 0)[0][0])
    pi, r, rsum = _kernels.forward_push(lg, dang, ALPHA, 1e-4)
    assert pi[dang] == 1.0 and pi.sum() == 1.0 and rsum == 0.0


@pytest.mark.parametrize("rmax", [1e-2, 1e-4])
def test_backward_search_matches_reference(got, got_adj, rmax):
    lg = got.local
    out_adj, in_adj = got_adj
    t = lg.dense(got.id_of("Eddard"))
    pi, _ = _kernels.backward_search(lg, t, ALPHA, rmax)
    gold = dense_of(lg, ref.backward_search_dict(out_adj, in_adj, t, ALPHA, rmax))
    assert np.max(np.abs(pi - gold)) < 1e-12


def test_backward_search_batch_close_to_queue(got):
    lg = got.local
    rmax = 1e-4
    t = lg.dense(got.id_of("Eddard"))
    pi_q, _ = _kernels.backward_search(lg, t, ALPHA, rmax)
    pi_b, r_b, _ = _kernels.backward_search_batch(lg, t, ALPHA, rmax)
    # per-entry error of reverse push is bounded by rmax (residue left < rmax
    # per node); the two schedules agree within that bound
    assert np.max(np.abs(pi_q - pi_b)) <= rmax * lg.n


def test_backward_search_in_degree_zero_target(got):
    lg = got.local
    t = int(np.where(lg.in_deg == 0)[0][0])
    pi, _ = _kernels.backward_search(lg, t, ALPHA, 1e-4)
    assert pi[t] == 1.0 and pi.sum() == 1.0


def test_backward_vs_power_on_target_column(got):
    """pi(s -> t) estimated backward should match the oracle's value at t for
    every source s, within the rmax-based bound (sound on this fixture's
    strongly-reachable pairs)."""
    lg = got.local
    rmax = 1e-6
    t = lg.dense(got.id_of("Eddard"))
    pi_b, _ = _kernels.backward_search(lg, t, ALPHA, rmax)
    s = lg.dense(got.id_of("Robert"))
    oracle = _kernels.power_method(lg, s, ALPHA, 300)
    # backward leaks residue at in-degree-0 nodes (directed graph) so the
    # estimate is a lower bound here; check direction + rough closeness
    assert pi_b[s] <= oracle[t] + 1e-9


def test_monte_carlo_statistical(got):
    lg = got.local
    s = lg.dense(got.id_of("Eddard"))
    rng = np.random.default_rng(7)
    omega = 200_000
    pi = _kernels.monte_carlo(lg, s, ALPHA, omega, rng)
    assert pi.sum() == pytest.approx(1.0, abs=1e-12)
    oracle = _kernels.power_method(lg, s, ALPHA, 300)
    # ~5-sigma bound on the max deviation for binomial counts
    bound = 5 * np.sqrt(np.maximum(oracle * (1 - oracle), 1e-6) / omega)
    assert (np.abs(pi - oracle) <= bound + 1e-3).all()


def test_fora_whole_graph_error_bound(got):
    lg = got.local
    s = lg.dense(got.id_of("Eddard"))
    m = lg.m
    rng = np.random.default_rng(11)
    eps = 0.5
    pi = _kernels.fora_whole_graph(lg, s, ALPHA, eps, m, rng)
    oracle = _kernels.power_method(lg, s, ALPHA, 300)
    # FORA guarantee: relative error eps for pi >= delta, w.h.p.; use a loose
    # absolute cap for the tiny fixture
    assert np.max(np.abs(pi - oracle)) < eps * 0.1
    assert pi.sum() == pytest.approx(1.0, abs=0.05)


def test_fora_topk_ranking(got):
    lg = got.local
    s = lg.dense(got.id_of("Eddard"))
    rng = np.random.default_rng(13)
    k = 10
    pi = _kernels.fora_topk(lg, s, ALPHA, 0.5, k, lg.m, rng)
    oracle = _kernels.power_method(lg, s, ALPHA, 300)
    est_top = set(np.argsort(-pi)[:k])
    gnd_top = set(np.argsort(-oracle)[:k])
    # published floor: precision >= 0.65 (dissertation section 5.4); demand 0.7
    assert len(est_top & gnd_top) >= 7


def test_pagerank_comparator_direction(got):
    lg = got.local
    s = lg.dense(got.id_of("Eddard"))
    e_s = np.zeros(lg.n)
    e_s[s] = 1.0
    pr = _kernels.pagerank(lg, e_s, ALPHA * e_s, ALPHA, 100)
    pr = pr / pr.sum()
    assert pr.sum() == pytest.approx(1.0, abs=1e-9)
    assert pr[s] == pr.max()  # source dominates its own PPR on this fixture


def test_kth_largest_matches_numpy(got):
    rng = np.random.default_rng(3)
    vals = rng.random(57)
    for k in (1, 10, 57):
        assert _kernels.kth_largest(vals, k) == sorted(vals, reverse=True)[k - 1]
    assert _kernels.kth_largest(vals, 58) is None
