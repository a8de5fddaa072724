"""Driver-local vectorized kernels (numpy) for the PPR algorithms.

These implement the reference's recurrences bit-for-bit on a ``LocalGraph``
CSR snapshot. They are the physical strategy the engine picks when the graph
fits on the driver (config.LOCAL_EDGE_THRESHOLD), and they double as the
golden implementations the distributed DataFrame loops are tested against.

Semantics ported (behavior, not code) from the reference:
- power_method:      Power_Method.java:43-101 (100 synchronous pushes,
                     dangling residue -> source)
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
    lg: LocalGraph, s: int, alpha: float = 0.15, iterations: int = 100
) -> np.ndarray:
    """Exact PPR estimate: `iterations` synchronous full-graph pushes."""
    n = lg.n
    r = np.zeros(n)
    r[s] = 1.0
    pi = np.zeros(n)
    src, dst = lg.edge_src, lg.edge_dst
    out = lg.out_deg
    inv_out = np.where(out > 0, 1.0 / np.maximum(out, 1), 0.0)
    dangling = out == 0
    for _ in range(iterations):
        pi = pi + alpha * r
        push = (1.0 - alpha) * r
        nr = np.bincount(dst, weights=push[src] * inv_out[src], minlength=n).astype(np.float64)
        nr[s] += push[dangling].sum()
        r = nr
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
    inv_out = np.where(out > 0, 1.0 / np.maximum(out, 1), 0.0)
    dangling = out == 0
    steps = 0
    for _ in range(max_supersteps):
        qual = (r > 0) & (dangling | (r >= rmax * out))
        if not qual.any():
            break
        steps += 1
        rq = np.where(qual, r, 0.0)
        pi = pi + alpha * rq
        r = np.where(qual, 0.0, r)
        push = (1.0 - alpha) * rq
        r = r + np.bincount(dst, weights=push[src] * inv_out[src], minlength=n).astype(np.float64)
        r[s] += push[dangling].sum()
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
    lg: LocalGraph, t: int, alpha: float, rmax: float, max_supersteps: int = 10_000
) -> tuple[np.ndarray, np.ndarray, int]:
    """Frontier-synchronous reverse push: per superstep every node with
    r > rmax pushes (plus an unconditional first step from the target)."""
    n = lg.n
    r = np.zeros(n)
    pi = np.zeros(n)
    if lg.in_deg[t] == 0:
        pi[t] = 1.0
        return pi, r, 0
    r[t] = 1.0
    src, dst = lg.edge_src, lg.edge_dst
    out = lg.out_deg
    inv_out = np.where(out > 0, 1.0 / np.maximum(out, 1), 0.0)
    steps = 0
    for step in range(max_supersteps):
        qual = r > rmax if step > 0 else r > 0.0
        if not qual.any():
            break
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


def personalized_pagerank(
    lg: LocalGraph, s: int, alpha: float, iterations: int
) -> np.ndarray:
    """Comparator with Neo4j's convention (damping = 1-alpha, restart mass to
    the source each iteration, dangling mass dropped), then sum-normalized
    (Neo4j_Method.java:66-98). Intentionally not oracle-exact — the reference
    observes the same mismatch (dissertation section 5.3)."""
    n = lg.n
    d = 1.0 - alpha
    rank = np.zeros(n)
    rank[s] = 1.0
    src, dst = lg.edge_src, lg.edge_dst
    out = lg.out_deg
    inv_out = np.where(out > 0, 1.0 / np.maximum(out, 1), 0.0)
    for _ in range(iterations):
        contrib = np.bincount(dst, weights=rank[src] * inv_out[src] * d, minlength=n).astype(np.float64)
        rank = contrib
        rank[s] += 1.0 - d
    total = rank.sum()
    return rank / total if total > 0 else rank

def pagerank_global(lg: LocalGraph, alpha: float, iterations: int) -> np.ndarray:
    """Whole-graph PageRank in the same Neo4j-damping convention as the
    personalized comparator (damping d = 1-alpha, dangling mass dropped),
    but with the UNIFORM 1/n start and restart vector — the first verb a
    Neo4j GDS user runs (gds.pageRank ~ Neo4j_Method.java:66-98 without
    the sourceNodes personalization). Fixed iterations, raw scores (GDS
    does not normalize by default)."""
    n = lg.n
    d = 1.0 - alpha
    rank = np.full(n, 1.0 / n, dtype=np.float64)
    src, dst = lg.edge_src, lg.edge_dst
    out = lg.out_deg
    inv_out = np.where(out > 0, 1.0 / np.maximum(out, 1), 0.0)
    restart = (1.0 - d) / n
    for _ in range(iterations):
        rank = (
            np.bincount(
                dst, weights=rank[src] * inv_out[src] * d, minlength=n
            ).astype(np.float64)
            + restart
        )
    return rank

def power_method_multi(
    lg: LocalGraph, sources: list[int], alpha: float, iterations: int
) -> np.ndarray:
    """Multi-source PPR (the gds.pageRank sourceNodes-list shape in this
    engine's dangling convention): restart/start mass uniform over the
    source SET, and dangling mass returns uniformly to the set — the
    single-source recurrence is the k=1 special case."""
    n = lg.n
    k = len(sources)
    srcs = np.asarray(sorted(set(sources)), dtype=np.int64)
    assert len(srcs) == k, "duplicate source ids"
    r = np.zeros(n)
    r[srcs] = 1.0 / k
    pi = np.zeros(n)
    src, dst = lg.edge_src, lg.edge_dst
    out = lg.out_deg
    inv_out = np.where(out > 0, 1.0 / np.maximum(out, 1), 0.0)
    dangling = out == 0
    for _ in range(iterations):
        pi = pi + alpha * r
        push = (1.0 - alpha) * r
        nr = np.bincount(
            dst, weights=push[src] * inv_out[src], minlength=n
        ).astype(np.float64)
        nr[srcs] += push[dangling].sum() / k
        r = nr
    return pi

