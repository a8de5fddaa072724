"""Driver-local vectorized kernels (numpy) for the PPR algorithms.

These implement the reference's recurrences bit-for-bit on a ``LocalGraph``
CSR snapshot. They are the physical strategy the engine picks when the graph
fits on the driver (config.LOCAL_EDGE_THRESHOLD), and they double as the
golden implementations the distributed DataFrame loops are tested against.

Semantics ported (behavior, not code) from the reference:
- power_method:      Power_Method.java:43-101 (100 synchronous pushes,
                     dangling residue -> source); the batch push at rmax 0
- pagerank:          Neo4j_Method.java:66-98 (damping 1-alpha, dangling mass
                     dropped) in rank form, start and restart vectors given
- forward_push_*:    Forward_Push.java:63-142 (queue schedule) and the batch
                     (frontier-synchronous) schedule used by the distributed
                     path — same fixed point, different visit order
- backward_search:   Backward_Search.java:38-100 (reverse push, r > rmax
                     enqueue test, residue leaks at in-degree-0 nodes)
- random walks:      Monte_Carlo.java:60-133 (alpha-stop, dangling resets the
                     walk to the start node; no_zero_hop forces one first step)
- fora_*:            Fora_Whole_Graph.java:82-146, Fora_Topk.java:102-184
"""

from __future__ import annotations

from collections import deque

import numpy as np

from ..config import TopkConf, WholeGraphConf
from ..graph import LocalGraph

# ---------------------------------------------------------------------------
# Power Method (oracle) — I3
# ---------------------------------------------------------------------------


def power_method(
    lg: LocalGraph, s: int | list[int], alpha: float = 0.15, iterations: int = 100
) -> np.ndarray:
    """Exact PPR estimate: `iterations` synchronous full-graph pushes from
    the source ``s``, or from a source set (a list of distinct dense ids:
    start and dangling mass spread uniformly over the set).

    The batch push at rmax 0: every node with residue pushes on every
    superstep. The residue is passed in, so an out-degree-0 source pushes
    too and the reserve mass is 1 - (1-alpha)^iterations."""
    r = np.zeros(lg.n)
    r[s] = 1.0 / np.size(s)
    pi, _, _ = forward_push_batch(lg, s, alpha, 0.0, residue=r, max_supersteps=iterations)
    return pi


# ---------------------------------------------------------------------------
# Forward Push — I1 (queue schedule, faithful to the reference)
# ---------------------------------------------------------------------------


def forward_push(
    lg: LocalGraph, s: int, alpha: float, rmax: float
) -> tuple[np.ndarray, np.ndarray, float]:
    """Queue-driven local push. Returns (reserve, residue, rsum)."""
    n = lg.n
    r = np.zeros(n)
    pi = np.zeros(n)
    out = lg.out_deg
    if out[s] == 0:  # out-degree-0 source short-circuits (Forward_Push.java:72-76)
        pi[s] = 1.0
        return pi, r, 0.0

    r[s] = 1.0
    rsum = 1.0
    in_q = np.zeros(n, dtype=bool)
    q: deque[int] = deque([s])
    in_q[s] = True
    indptr, indices = lg.indptr, lg.indices
    while q:
        v = q.popleft()
        in_q[v] = False
        rv = r[v]
        r[v] = 0.0
        pi[v] += rv * alpha
        rsum -= rv * alpha
        if out[v] == 0:
            # dangling: pass (1-alpha)*r to the source (Forward_Push.java:101-115)
            r[s] += rv * (1.0 - alpha)
            if out[s] > 0 and r[s] / out[s] >= rmax and not in_q[s]:
                q.append(s)
                in_q[s] = True
            continue
        inc = (1.0 - alpha) * rv / out[v]
        for u in indices[indptr[v] : indptr[v + 1]]:
            r[u] += inc
            # out-degree-0 neighbors always qualify (x/0 = inf in the reference)
            if (out[u] == 0 or r[u] / out[u] >= rmax) and not in_q[u]:
                q.append(int(u))
                in_q[u] = True
    return pi, r, rsum


def forward_push_batch(
    lg: LocalGraph,
    s: int,
    alpha: float,
    rmax: float,
    reserve: np.ndarray | None = None,
    residue: np.ndarray | None = None,
    max_supersteps: int = 10_000,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Frontier-synchronous push: per superstep, *every* node with
    r > 0 and (out == 0 or r/out >= rmax) pushes simultaneously.
    Dangling mass returns to ``s``; with a passed ``residue``, ``s`` may
    be a source set (dense ids) that shares the dangling mass evenly.

    Same fixed point as the queue schedule (push is linear and
    order-independent over the residue vector); this schedule is what the
    distributed DataFrame loop executes, and what the unrolled SQL oracle
    replays. Returns (reserve, residue, supersteps_used).
    """
    n = lg.n
    out = lg.out_deg
    pi = np.zeros(n) if reserve is None else reserve.copy()
    r = np.zeros(n) if residue is None else residue.copy()
    if residue is None:
        if out[s] == 0:
            pi[s] = 1.0
            return pi, r, 0
        r[s] = 1.0
    src, dst = lg.edge_src, lg.edge_dst
    # per-edge 1/out(src) and the per-node push threshold, once per call
    edge_inv_out = np.where(out > 0, 1.0 / np.maximum(out, 1), 0.0)[src]
    threshold = rmax * out
    dangling = out == 0
    k = np.size(s)
    steps = 0
    for _ in range(max_supersteps):
        qual = (r > 0) & (dangling | (r >= threshold))
        if not qual.any():
            break
        steps += 1
        rq = np.where(qual, r, 0.0)
        pi = pi + alpha * rq
        r = np.where(qual, 0.0, r)
        push = (1.0 - alpha) * rq
        r = r + np.bincount(dst, weights=push[src] * edge_inv_out, minlength=n)
        r[s] += push[dangling].sum() / k
    return pi, r, steps


# ---------------------------------------------------------------------------
# Backward Search — I4
# ---------------------------------------------------------------------------


def backward_search(
    lg: LocalGraph, t: int, alpha: float, rmax: float
) -> tuple[np.ndarray, np.ndarray]:
    """Reverse push from target t. Returns (reserve, residue) over sources."""
    n = lg.n
    r = np.zeros(n)
    pi = np.zeros(n)
    if lg.in_deg[t] == 0:  # Backward_Search.java:44-49
        pi[t] = 1.0
        return pi, r
    r[t] = 1.0
    in_q = np.zeros(n, dtype=bool)
    q: deque[int] = deque([t])
    in_q[t] = True
    rindptr, rindices = lg.rindptr, lg.rindices
    out = lg.out_deg
    while q:
        v = q.popleft()
        in_q[v] = False
        rv = r[v]
        r[v] = 0.0
        pi[v] += rv * alpha
        base = (1.0 - alpha) * rv
        for u in rindices[rindptr[v] : rindptr[v + 1]]:
            r[u] += base / out[u]  # out(u) >= 1: the edge u->v exists
            if r[u] > rmax and not in_q[u]:  # strict > (Backward_Search.java:89)
                q.append(int(u))
                in_q[u] = True
    return pi, r


def backward_search_batch(
    lg: LocalGraph,
    t: int,
    alpha: float,
    rmax: float,
    reserve: np.ndarray | None = None,
    residue: np.ndarray | None = None,
    max_supersteps: int = 10_000,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Frontier-synchronous reverse push: per superstep every node with
    |r| > rmax pushes. Returns (reserve, residue, supersteps_used).

    ``residue=None`` is the reference search from target t: an in-degree-0
    target short-circuits to pi(t,t) = 1, and the target pushes
    unconditionally on the first superstep. A passed ``residue`` (with
    ``reserve``) resumes that push state: no short-circuit, and residues of
    either sign qualify on |r| > rmax from the first superstep.
    """
    n = lg.n
    pi = np.zeros(n) if reserve is None else reserve.copy()
    r = np.zeros(n) if residue is None else residue.copy()
    thr = rmax
    if residue is None:
        if lg.in_deg[t] == 0:  # Backward_Search.java:44-49
            pi[t] = 1.0
            return pi, r, 0
        r[t] = 1.0
        thr = 0.0
    src, dst = lg.edge_src, lg.edge_dst
    out = lg.out_deg
    inv_out = np.where(out > 0, 1.0 / np.maximum(out, 1), 0.0)
    steps = 0
    for _ in range(max_supersteps):
        qual = np.abs(r) > thr
        if not qual.any():
            break
        thr = rmax
        steps += 1
        rq = np.where(qual, r, 0.0)
        pi = pi + alpha * rq
        r = np.where(qual, 0.0, r)
        base = (1.0 - alpha) * rq
        # reverse edge u->v contributes base[v]/out[u] to r[u]
        r = r + np.bincount(src, weights=base[dst] * inv_out[src], minlength=n).astype(np.float64)
    return pi, r, steps


# ---------------------------------------------------------------------------
# Random walks — R2/R3 (vectorized over a batch of walks)
# ---------------------------------------------------------------------------


def random_walks(
    lg: LocalGraph,
    starts: np.ndarray,
    alpha: float,
    rng: np.random.Generator,
    zero_hop: bool = True,
) -> np.ndarray:
    """Vectorized alpha-stop walks; returns the stop node of each walk.

    Walks whose *start* has out-degree 0 stop at the start immediately
    (Monte_Carlo.java:68-70). A walk at a dangling node resets to its start
    (consuming that step's move, not stopping). With ``zero_hop=False`` the
    first step is taken unconditionally (Monte_Carlo.java:96-133).
    """
    starts = np.asarray(starts, dtype=np.int64)
    cur = starts.copy()
    out = lg.out_deg
    indptr, indices = lg.indptr, lg.indices
    active = out[starts] > 0  # degree-0 starts are done immediately
    if not zero_hop:
        idx = np.where(active)[0]
        if len(idx):
            c = cur[idx]
            step = np.floor(rng.random(len(idx)) * out[c]).astype(np.int64)
            cur[idx] = indices[indptr[c] + step]
    while active.any():
        idx = np.where(active)[0]
        stop = rng.random(len(idx)) < alpha
        active[idx[stop]] = False
        go = idx[~stop]
        if len(go) == 0:
            continue
        c = cur[go]
        deg = out[c]
        has_out = deg > 0
        move = go[has_out]
        if len(move):
            cm = cur[move]
            step = np.floor(rng.random(len(move)) * out[cm]).astype(np.int64)
            cur[move] = indices[indptr[cm] + step]
        reset = go[~has_out]
        cur[reset] = starts[reset]  # dangling: reset to this walk's start
    return cur


def monte_carlo(
    lg: LocalGraph,
    s: int,
    alpha: float,
    omega: int,
    rng: np.random.Generator,
) -> np.ndarray:
    """MC whole-graph PPR: pi(t) = (#walks stopping at t) / omega."""
    ends = random_walks(lg, np.full(omega, s, dtype=np.int64), alpha, rng)
    return np.bincount(ends, minlength=lg.n) / float(omega)


# ---------------------------------------------------------------------------
# FORA — I5/I6
# ---------------------------------------------------------------------------


def _fora_walk_phase(
    lg: LocalGraph,
    pi: np.ndarray,
    r: np.ndarray,
    num_walks: float,
    rsum_scale: float,
    alpha: float,
    rng: np.random.Generator,
    zero_hop: bool,
    extract_alpha: bool,
) -> np.ndarray:
    """Shared walk phase: fan out ceil-weighted walks from every residue node.

    With ``extract_alpha`` (whole-graph variant, Fora_Whole_Graph.java:119-140)
    each residue node first banks alpha*r into reserve and walks the remaining
    (1-alpha)*r; the top-k variant (Fora_Topk.java:151-168) walks r as-is.
    """
    nodes = np.where(r > 0)[0]
    if len(nodes) == 0:
        return pi
    rv = r[nodes].astype(np.float64)
    if extract_alpha:
        pi[nodes] += alpha * rv
        rv = rv * (1.0 - alpha)
    if num_walks <= 0:
        return pi
    weight = rv / rsum_scale * num_walks if rsum_scale > 0 else np.zeros_like(rv)
    omega_i = np.ceil(weight).astype(np.int64)
    keep = omega_i > 0
    nodes, weight, omega_i = nodes[keep], weight[keep], omega_i[keep]
    a_i = weight / omega_i
    incr = a_i / num_walks * rsum_scale
    starts = np.repeat(nodes, omega_i)
    per_walk_incr = np.repeat(incr, omega_i)
    ends = random_walks(lg, starts, alpha, rng, zero_hop=zero_hop)
    pi += np.bincount(ends, weights=per_walk_incr, minlength=lg.n).astype(np.float64)
    return pi


def fora_whole_graph(
    lg: LocalGraph,
    s: int,
    alpha: float,
    epsilon: float,
    m: int,
    rng: np.random.Generator,
    push_halvings: int = 2,
) -> np.ndarray:
    """FORA: forward push at rmax (halved ``push_halvings`` times — a
    deterministic budget replacing the reference's 400 ns wall-clock cost
    model, Fora_Whole_Graph.java:75-79), then compensating random walks."""
    conf = WholeGraphConf(alpha=alpha, n=lg.n, m=m)
    rmax = conf.fora_rmax(epsilon)
    omega = conf.fora_omega(epsilon)
    pi, r, _ = forward_push_batch(lg, s, alpha, rmax)
    for _ in range(push_halvings):
        rmax /= 2.0
        pi, r, _ = forward_push_batch(lg, s, alpha, rmax, reserve=pi, residue=r)
    rsum_local = r.sum() * (1.0 - alpha)
    num_walks = float(int(omega * rsum_local))  # (long) cast, Fora_Whole_Graph.java:114
    return _fora_walk_phase(
        lg, pi, r, num_walks, rsum_local, alpha, rng, zero_hop=False, extract_alpha=True
    )


def kth_largest(values: np.ndarray, k: int) -> float | None:
    """k-th largest (reference quickselect, Algo_Util.java:32-79); None if fewer."""
    if len(values) < k:
        return None
    return float(np.partition(values, -k)[-k])


def fora_topk(
    lg: LocalGraph,
    s: int,
    alpha: float,
    epsilon: float,
    k: int,
    m: int,
    rng: np.random.Generator,
) -> np.ndarray:
    """FORA top-k: iterative delta refinement 1/k -> 1/n with resumable push
    (two thresholds) + walks, early exit when the k-th score clears
    (1+eps')*delta (Fora_Topk.java:102-184)."""
    conf = TopkConf(alpha=alpha, n=lg.n, m=m, k=k)  # clamps k into [1, n-1]
    k = conf.k
    eps = epsilon * 0.5  # Fora_Topk.java:110
    delta = conf.delta
    if lg.out_deg[s] == 0:
        pi = np.zeros(lg.n)
        pi[s] = 1.0
        return pi
    push_pi = None  # push-only reserve carried across rounds; walk increments
    r = None  # are recomputed per round (Fora_Topk.java:118-146 copies the
    # push state each round, discarding the previous round's walk additions)
    while True:
        rmax = conf.round_rmax(eps, delta)
        omega = conf.round_omega(eps, delta)
        push_pi, r, _ = forward_push_batch(lg, s, alpha, rmax, reserve=push_pi, residue=r)
        rsum_rw = r.sum() * (1.0 - alpha)
        num_walks = float(int(omega * rsum_rw))  # (long) cast, Fora_Topk.java:154
        # top-k walk phase: weights = r * num_walks, zero-hop walks allowed,
        # increment a_i / num_walks (Fora_Topk.java:151-168)
        pi = _fora_walk_phase(
            lg, push_pi.copy(), r, num_walks, 1.0, alpha, rng, zero_hop=True, extract_alpha=False
        )
        kth = kth_largest(pi[pi > 0], k)
        kth = 0.0 if kth is None else kth
        if kth >= (1.0 + eps) * delta or delta <= conf.min_delta:
            return pi
        delta = max(conf.min_delta, delta / 4.0)


# ---------------------------------------------------------------------------
# Classic personalized PageRank comparator — I8
# ---------------------------------------------------------------------------


def pagerank(
    lg: LocalGraph, start: np.ndarray, restart: np.ndarray, alpha: float, iterations: int
) -> np.ndarray:
    """Neo4j's PageRank convention (damping d = 1-alpha, dangling mass
    dropped) in rank form: x <- sum_{u->v} d * x(u) / out(u) + restart(v),
    `iterations` times from ``start``. The personalized comparator starts at
    e_s with restart (1-d) e_s and sum-normalizes (Neo4j_Method.java:66-98);
    whole-graph PageRank starts at 1/n with restart (1-d)/n and keeps raw
    scores (gds.pageRank without sourceNodes)."""
    d = 1.0 - alpha
    src, dst = lg.edge_src, lg.edge_dst
    out = lg.out_deg
    edge_inv_out = np.where(out > 0, 1.0 / np.maximum(out, 1), 0.0)[src]
    rank = start
    for _ in range(iterations):
        rank = np.bincount(dst, weights=rank[src] * edge_inv_out * d, minlength=lg.n) + restart
    return rank
