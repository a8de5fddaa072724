"""The benchmark's own PPR reference and answer checks.

Nothing here calls the engine.  The reference is a numpy power iteration
over the edge list the engine loaded, restricted to the nodes reachable from
the source (every out-edge of a reachable node stays inside that set, so the
restriction is exact).  Two dangling rules are supported:

- ``source``: an out-degree-0 node returns (1-alpha) of its residue to the
  source.  This is the PPR definition every engine verb uses.
- ``absorb``: the residue at an out-degree-0 node is dropped.  This is what
  the BASE store holds: its backward search ignores the dangling rule, as
  the reference implementation's all-pair preprocessing does.

Each check returns ``(passed, precision)``; precision is None for
whole-graph checks.  Tolerances come from each algorithm's guarantee:

- fixed-iteration power method (whole graph or top-k): the same
  recurrence, so 1e-9 absolute;
- FORA and Monte-Carlo with (epsilon, delta=1/n): relative error epsilon
  where pi > delta, absolute epsilon*delta elsewhere;
- forward push top-k: pushes never overshoot and the total deficit equals
  the residue left, at most rmax times the out-degree sum of the reachable
  set, so a node's score is within that bound of the truth;
- whole-graph forward push: every score is a lower bound of the truth, and
  the mass left unassigned (1 minus the scores' sum, i.e. the residue left)
  is within that same bound;
- backward search at rmax: a lower bound within rmax of the truth;
- top-k answers: precision@k, where a returned node counts as a hit when
  its reference score is within the verb's error margin of the true k-th
  score.  Every check requires precision@k == 1.
"""

from __future__ import annotations

import numpy as np

ALPHA = 0.15
ITERATIONS = 100
# the 100-iteration reference leaves at most (1-alpha)^100 ~ 9e-8 of the
# mass unassigned, so bounds against the exact PPR get this much slack
TRUNCATION = 1e-6
EXACT = 1e-9


class Reference:
    """CSR view of the engine's edge list plus memoised per-source PPR."""

    def __init__(self, node_ids: np.ndarray, src: np.ndarray, dst: np.ndarray):
        self.ids = np.sort(np.asarray(node_ids, dtype=np.int64))
        s = np.searchsorted(self.ids, src)
        d = np.searchsorted(self.ids, dst)
        if (s >= len(self.ids)).any() or (self.ids[np.minimum(s, len(self.ids) - 1)] != src).any():
            raise ValueError("edge source missing from the node table")
        if (d >= len(self.ids)).any() or (self.ids[np.minimum(d, len(self.ids) - 1)] != dst).any():
            raise ValueError("edge destination missing from the node table")
        self.out_deg = np.bincount(s, minlength=len(self.ids)).astype(np.int64)
        order = np.argsort(s, kind="stable")
        self.indices = d[order]
        self.indptr = np.concatenate(([0], np.cumsum(self.out_deg)))
        self._memo: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}

    @property
    def n(self) -> int:
        return len(self.ids)

    @property
    def m(self) -> int:
        return len(self.indices)

    def dense(self, node: int) -> int:
        pos = int(np.searchsorted(self.ids, node))
        if pos >= self.n or self.ids[pos] != node:
            raise KeyError(node)
        return pos

    def _out_edges(self, nodes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(edge source, edge destination) of every out-edge of ``nodes``."""
        lens = self.out_deg[nodes]
        starts = self.indptr[nodes]
        offs = np.repeat(starts - np.cumsum(np.concatenate(([0], lens[:-1]))), lens)
        offs += np.arange(int(lens.sum()))
        return np.repeat(nodes, lens), self.indices[offs]

    def reachable(self, s: int) -> np.ndarray:
        seen = np.zeros(self.n, dtype=bool)
        seen[s] = True
        frontier = np.array([s], dtype=np.int64)
        while len(frontier):
            _, nbr = self._out_edges(frontier)
            nbr = np.unique(nbr)
            frontier = nbr[~seen[nbr]]
            seen[frontier] = True
        return np.flatnonzero(seen)

    def ppr(
        self, source: int, iterations: int = ITERATIONS, dangling: str = "source"
    ) -> tuple[np.ndarray, np.ndarray]:
        """(node ids, scores) over the reachable set, ids ascending."""
        key = (source, iterations, dangling)
        if key not in self._memo:
            self._memo[key] = self._power(source, iterations, dangling)
        return self._memo[key]

    def _power(self, source: int, iterations: int, dangling: str):
        reach = self.reachable(self.dense(source))
        k = len(reach)
        es, ed = self._out_edges(reach)
        ls, ld = np.searchsorted(reach, es), np.searchsorted(reach, ed)
        out = self.out_deg[reach]
        w = (1.0 - ALPHA) / out[ls]
        sink = out == 0
        s = int(np.searchsorted(reach, self.dense(source)))
        r = np.zeros(k)
        r[s] = 1.0
        pi = np.zeros(k)
        for _ in range(iterations):
            pi += ALPHA * r
            nr = np.bincount(ld, weights=r[ls] * w, minlength=k)
            if dangling == "source":
                nr[s] += (1.0 - ALPHA) * r[sink].sum()
            r = nr
        return self.ids[reach], pi

    def residue_bound(self, source: int, rmax: float) -> float:
        """Upper bound on the residue a forward push at ``rmax`` leaves."""
        reach = self.reachable(self.dense(source))
        return rmax * float(self.out_deg[reach].sum())


def _lookup(ids: np.ndarray, vals: np.ndarray, nodes: np.ndarray) -> np.ndarray:
    """Reference score of each of ``nodes`` (0 where unreachable)."""
    pos = np.minimum(np.searchsorted(ids, nodes), len(ids) - 1)
    hit = ids[pos] == nodes
    return np.where(hit, vals[pos], 0.0)


def _union(ref_ids, ref_vals, nodes, vals):
    """Reference and estimate aligned over the union of their supports."""
    allnodes = np.union1d(ref_ids[ref_vals > 0], nodes)
    est = np.zeros(len(allnodes))
    est[np.searchsorted(allnodes, nodes)] = vals
    return _lookup(ref_ids, ref_vals, allnodes), est


def check_exact(ref, nodes, vals) -> tuple[bool, None]:
    r, e = _union(*ref, nodes, vals)
    return bool(np.all(np.abs(r - e) <= EXACT)), None


def check_eps(ref, nodes, vals, epsilon: float, delta: float) -> tuple[bool, None]:
    r, e = _union(*ref, nodes, vals)
    tol = np.where(r > delta, epsilon * r, epsilon * delta) + TRUNCATION
    return bool(np.all(np.abs(r - e) <= tol)), None


def check_push(ref, nodes, vals, residue_bound: float) -> tuple[bool, None]:
    """Whole-graph forward push: scores never exceed the truth, and the
    residue left, ``1 - sum(scores)``, is within ``residue_bound``."""
    r, e = _union(*ref, nodes, vals)
    lower = bool(np.all(e <= r + TRUNCATION) and np.all(e >= 0))
    return lower and 1.0 - float(e.sum()) <= residue_bound + TRUNCATION, None


def check_topk(
    ref, nodes, vals, k: int, margin: float = 0.0, rel: float = 0.0
) -> tuple[bool, float]:
    """precision@k of a tie-aware top-k answer; hits are nodes whose
    reference score is at least ``(1 - rel) * kth - margin``, kth being the
    true k-th score."""
    ref_ids, ref_vals = ref
    pos = np.sort(ref_vals[ref_vals > 0])[::-1]
    if len(pos) == 0:
        return len(nodes) == 0, 1.0
    kth = pos[min(k, len(pos)) - 1]
    want = min(k, len(pos))
    if len(nodes) < want:
        return False, len(nodes) / want
    top = np.asarray(nodes)[np.argsort(-np.asarray(vals), kind="stable")[:want]]
    hits = _lookup(ref_ids, ref_vals, top) >= (1.0 - rel) * kth - margin
    precision = float(hits.mean())
    return precision == 1.0, precision


def check_topk_exact(ref, nodes, vals, k: int) -> tuple[bool, float]:
    """Top-k of the same fixed-iteration recurrence: every returned score
    matches the reference to ``EXACT`` and precision@k is 1."""
    ok, precision = check_topk(ref, nodes, vals, k, margin=EXACT)
    exact = bool(np.all(np.abs(_lookup(*ref, np.asarray(nodes)) - np.asarray(vals)) <= EXACT))
    return ok and exact, precision


def check_base(ref_abs, targets, nodes, vals, threshold: float) -> tuple[bool, None]:
    """BASE lookup: every stored (target, score) is a backward-search lower
    bound within ``threshold`` (= its rmax) of the absorbing PPR, and every
    target whose absorbing PPR is at least twice the threshold is stored."""
    nodes = np.asarray(nodes, dtype=np.int64)
    r = _lookup(*ref_abs, nodes)
    diff = r - np.asarray(vals)
    bounded = bool(np.all((diff >= -TRUNCATION) & (diff <= threshold + TRUNCATION)))
    known = bool(np.isin(nodes, targets).all())
    tr = _lookup(*ref_abs, np.asarray(targets, dtype=np.int64))
    must = np.asarray(targets)[tr >= 2 * threshold + TRUNCATION]
    return bounded and known and bool(np.isin(must, nodes).all()), None


def check_base_topk(ref_abs, targets, nodes, vals, k: int, threshold: float):
    """Tie-aware top-k over the stored targets: the rows pass
    ``check_base``, and precision@k counts a node as a hit when its
    absorbing PPR is within the threshold of the k-th score among the
    targets the store must hold."""
    stored, _ = check_base(ref_abs, targets, nodes, vals, threshold)
    tr = _lookup(*ref_abs, np.asarray(targets, dtype=np.int64))
    scores = np.sort(tr[tr >= 2 * threshold + TRUNCATION])[::-1]
    if len(scores) == 0:
        return stored, 1.0
    want = min(k, len(scores))
    if len(nodes) < want:
        return False, len(nodes) / want
    top = np.asarray(nodes)[np.argsort(-np.asarray(vals), kind="stable")[:want]]
    precision = float((_lookup(*ref_abs, top) >= scores[want - 1] - threshold).mean())
    return stored and precision == 1.0, precision
