"""Hypothesis property tests: push/walk invariants on random small graphs
(SURVEY section 5 item 4)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from personalized_pagerank_algorithms_on_neo4j_spark.graph import LocalGraph
from personalized_pagerank_algorithms_on_neo4j_spark.operators import _kernels

ALPHA = 0.15


def _mk_graph(n: int, edges: list[tuple[int, int]]) -> LocalGraph:
    edges = sorted(set((a % n, b % n) for a, b in edges if a % n != b % n))
    src = np.array([e[0] for e in edges], dtype=np.int64)
    dst = np.array([e[1] for e in edges], dtype=np.int64)
    out_deg = np.bincount(src, minlength=n).astype(np.int64)
    in_deg = np.bincount(dst, minlength=n).astype(np.int64)
    order = np.argsort(src, kind="stable")
    rorder = np.argsort(dst, kind="stable")
    return LocalGraph(
        ids=np.arange(n, dtype=np.int64),
        indptr=np.concatenate(([0], np.cumsum(out_deg))),
        indices=dst[order],
        rindptr=np.concatenate(([0], np.cumsum(in_deg))),
        rindices=src[rorder],
        out_deg=out_deg,
        in_deg=in_deg,
        edge_src=src,
        edge_dst=dst,
    )


graphs = st.builds(
    _mk_graph,
    st.integers(min_value=2, max_value=12),
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=0, max_size=40
    ),
)


@settings(max_examples=60, deadline=None)
@given(lg=graphs, s=st.integers(0, 11), iters=st.integers(1, 60))
def test_power_method_invariants(lg, s, iters):
    s = s % lg.n
    pi = _kernels.power_method(lg, s, ALPHA, iters)
    assert (pi >= 0).all()
    # reserve mass after t iterations is exactly 1 - (1-alpha)^t
    assert abs(pi.sum() - (1.0 - (1.0 - ALPHA) ** iters)) < 1e-9


@settings(max_examples=60, deadline=None)
@given(lg=graphs, s=st.integers(0, 11), rmax=st.floats(1e-6, 1e-1))
def test_forward_push_invariants(lg, s, rmax):
    s = s % lg.n
    pi, r, rsum = _kernels.forward_push(lg, s, ALPHA, rmax)
    assert (pi >= 0).all() and (r >= -1e-15).all()
    # conservation: reserve + residue == 1 (no leak in forward push)
    assert abs(pi.sum() + r.sum() - 1.0) < 1e-9
    # fixed point: no node still qualifies
    qual = (r > 0) & ((lg.out_deg == 0) | (r >= rmax * lg.out_deg))
    assert not qual.any()
    # batch schedule: same invariants + oracle distance within residual mass
    pi_b, r_b, _ = _kernels.forward_push_batch(lg, s, ALPHA, rmax)
    assert abs(pi_b.sum() + r_b.sum() - 1.0) < 1e-9
    oracle = _kernels.power_method(lg, s, ALPHA, 400)
    assert np.max(np.abs(pi_b - oracle)) <= r_b.sum() + 1e-9
    assert np.max(np.abs(pi - oracle)) <= r.sum() + 1e-9


@settings(max_examples=40, deadline=None)
@given(lg=graphs, t=st.integers(0, 11), rmax=st.floats(1e-5, 1e-1))
def test_backward_search_invariants(lg, t, rmax):
    t = t % lg.n
    pi, r = _kernels.backward_search(lg, t, ALPHA, rmax)
    assert (pi >= 0).all()
    # no node with residue above threshold remains
    assert (r <= rmax + 1e-12).all()
    # pi(t,t) >= alpha whenever the target was processed at all
    assert pi[t] >= ALPHA - 1e-12


@settings(max_examples=30, deadline=None)
@given(lg=graphs, s=st.integers(0, 11), seed=st.integers(0, 2**31 - 1))
def test_walks_land_on_nodes(lg, s, seed):
    s = s % lg.n
    rng = np.random.default_rng(seed)
    ends = _kernels.random_walks(lg, np.full(50, s, dtype=np.int64), ALPHA, rng)
    assert ((ends >= 0) & (ends < lg.n)).all()
    # a dangling start must end at itself
    if lg.out_deg[s] == 0:
        assert (ends == s).all()


@settings(max_examples=40, deadline=None)
@given(
    vals=st.lists(st.floats(0, 1, allow_nan=False), min_size=1, max_size=50),
    k=st.integers(1, 60),
)
def test_kth_largest_property(vals, k):
    arr = np.array(vals)
    got = _kernels.kth_largest(arr, k)
    if k > len(arr):
        assert got is None
    else:
        assert got == sorted(vals, reverse=True)[k - 1]


# ---------------------------------------------------------------------------
# Counted-walk Arrow kernel (round 4): direct pandas-level invariants —
# no Spark needed, the batch function is pure
# ---------------------------------------------------------------------------

import pandas as pd  # noqa: E402

from personalized_pagerank_algorithms_on_neo4j_spark.operators.monte_carlo import (  # noqa: E402
    _counted_step_batch,
)

_walk_rows = st.lists(
    st.tuples(
        st.integers(0, 20),  # cur node
        st.integers(1, 500),  # walk count (spans both sampling tiers)
        st.one_of(
            st.none(),
            st.lists(st.integers(0, 20), min_size=0, max_size=6),
        ),  # out-neighbors (None/[] = dangling)
    ),
    min_size=1,
    max_size=12,
)


def _mk_batch(rows):
    # one row per start: per-start mass conservation is then checkable
    return pd.DataFrame(
        {
            "start": np.arange(100, 100 + len(rows), dtype=np.int64),
            "cur": np.array([r[0] for r in rows], dtype=np.int64),
            "cnt": np.array([r[1] for r in rows], dtype=np.int64),
            "neighbors": [r[2] for r in rows],
        }
    )


@settings(max_examples=60, deadline=None)
@given(rows=_walk_rows, seed=st.integers(0, 2**31 - 1), step=st.integers(-1, 50))
def test_counted_step_batch_conserves_and_routes(rows, seed, step):
    pdf = _mk_batch(rows)
    out = _counted_step_batch(pdf, seed, step, 0.2, np, pd)
    assert (out["cnt"] > 0).all()
    by_start_in = dict(zip(pdf["start"], pdf["cnt"]))
    by_start_out = out.groupby("start")["cnt"].sum().to_dict()
    assert by_start_out == by_start_in  # mass conservation, per start
    for _, r in out.iterrows():
        i = int(r["start"]) - 100
        cur, _, nbrs = rows[i]
        if r["stopped"]:
            assert r["cur"] == cur  # stops happen in place
        else:
            legal = {int(r2) for r2 in (nbrs or [])} or {100 + i}
            # movers go to an out-neighbor, or reset to the START when
            # the current node is dangling
            if nbrs:
                assert int(r["cur"]) in legal
            else:
                assert int(r["cur"]) == 100 + i


@settings(max_examples=40, deadline=None)
@given(rows=_walk_rows, seed=st.integers(0, 2**31 - 1))
def test_counted_step_batch_layout_independent(rows, seed):
    pdf = _mk_batch(rows)
    out1 = _counted_step_batch(pdf, seed, 3, 0.2, np, pd)
    # reversed row order and a two-way batch split must give identical draws
    out2 = _counted_step_batch(pdf.iloc[::-1].reset_index(drop=True), seed, 3, 0.2, np, pd)
    cut = len(pdf) // 2
    parts = [pdf.iloc[:cut], pdf.iloc[cut:]]
    out3 = pd.concat(
        [_counted_step_batch(p.reset_index(drop=True), seed, 3, 0.2, np, pd)
         for p in parts if len(p)]
    )
    key = ["start", "cur", "stopped"]

    def norm(df):
        return df.sort_values(key).reset_index(drop=True)

    pd.testing.assert_frame_equal(norm(out1), norm(out2))
    pd.testing.assert_frame_equal(norm(out1), norm(out3))


@settings(max_examples=50, deadline=None)
@given(rows=_walk_rows, seed=st.integers(0, 2**31 - 1))
def test_counted_step_batch_zero_stop_moves_everything(rows, seed):
    pdf = _mk_batch(rows)
    out = _counted_step_batch(pdf, seed, -1, 0.0, np, pd)
    assert not out["stopped"].any()
    assert out["cnt"].sum() == pdf["cnt"].sum()


# ---------------------------------------------------------------------------
# Graph-analytics oracle SQL vs brute force (round 4): the DuckDB twins
# encode the same algorithm the Spark operators run — property-checking
# them against a naive implementation pins the shared semantics, and the
# Spark-vs-oracle hash gate (tests/test_entry.py) transfers the result.
# ---------------------------------------------------------------------------

import itertools  # noqa: E402

import duckdb  # noqa: E402

from personalized_pagerank_algorithms_on_neo4j_spark.functions.graphstats import (  # noqa: E402
    k_core_oracle_sql,
    node_similarity_oracle_sql,
    triangle_oracle_sql,
)

_edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=30
)


def _duck_edges(edges):
    con = duckdb.connect()
    con.execute("CREATE TABLE raw_edges (src BIGINT, dst BIGINT)")
    if edges:
        con.executemany("INSERT INTO raw_edges VALUES (?, ?)", edges)
    return con


@settings(max_examples=60, deadline=None)
@given(edges=_edge_lists)
def test_triangle_oracle_matches_bruteforce(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {u for e in und for u in e}
    counts: dict[int, int] = {}
    for a, b, c in itertools.combinations(sorted(nodes), 3):
        if {(a, b), (a, c), (b, c)} <= und:
            for x in (a, b, c):
                counts[x] = counts.get(x, 0) + 1
    con = _duck_edges(edges)
    got = dict(
        con.execute(
            triangle_oracle_sql("SELECT src, dst FROM raw_edges")
        ).fetchall()
    )
    assert got == counts


@settings(max_examples=60, deadline=None)
@given(edges=_edge_lists, k=st.integers(1, 5))
def test_k_core_oracle_matches_bruteforce(edges, k):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg: dict[int, int] = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        pruned = {e for e in und if e[0] in keep and e[1] in keep}
        if pruned == und:
            break
        und = pruned
    expect: dict[int, int] = {}
    for a, b in und:
        expect[a] = expect.get(a, 0) + 1
        expect[b] = expect.get(b, 0) + 1
    con = _duck_edges(edges)
    got = dict(
        con.execute(
            k_core_oracle_sql("SELECT src, dst FROM raw_edges", k=k, rounds=12)
        ).fetchall()
    )
    assert got == expect


@settings(max_examples=60, deadline=None)
@given(edges=_edge_lists)
def test_node_similarity_oracle_matches_bruteforce(edges):
    out: dict[int, set[int]] = {}
    for s, d in edges:
        if s != d:
            out.setdefault(s, set()).add(d)
    expect = {}
    for a, b in itertools.combinations(sorted(out), 2):
        common = len(out[a] & out[b])
        if common:
            j = round(common / len(out[a] | out[b]), 6)
            expect[(a, b)] = (common, j)
    con = _duck_edges(edges)
    got = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(
            node_similarity_oracle_sql(
                "SELECT src, dst FROM raw_edges", threshold=0.0, hub_cap=None
            )
        ).fetchall()
    }
    assert got == expect


def test_hits_oracle_zero_iterations_boundary():
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.hits import (
        hits_oracle_sql,
    )

    con = _duck_edges([(1, 2), (2, 3)])
    got = sorted(
        con.execute(
            hits_oracle_sql("SELECT src, dst FROM raw_edges", iterations=0)
        ).fetchall()
    )
    assert got == [(1, 1.0, 0.0), (2, 1.0, 0.0), (3, 1.0, 0.0)]


@settings(max_examples=60, deadline=None)
@given(lg=graphs, iters=st.integers(1, 30))
def test_pagerank_global_kernel_invariants(lg, iters):
    import numpy as np

    n = lg.n
    r = _kernels.pagerank(lg, np.full(n, 1.0 / n), np.full(n, ALPHA / n), ALPHA, iters)
    # every node holds at least the restart mass
    assert (r >= ALPHA / n - 1e-15).all()
    # total mass is 1 minus whatever leaked through dangling nodes
    assert r.sum() <= 1.0 + 1e-9
    if (lg.out_deg > 0).all():
        # no dangling nodes -> the recurrence is mass-preserving
        assert abs(r.sum() - 1.0) < 1e-9
    # one more iteration changes nothing once converged... not asserted;
    # instead: iterating is a contraction toward the uniform-restart
    # fixed point, so later iterates never fall below the restart floor
    r2 = _kernels.pagerank(lg, np.full(n, 1.0 / n), np.full(n, ALPHA / n), ALPHA, iters + 1)
    assert (r2 >= ALPHA / n - 1e-15).all()


from personalized_pagerank_algorithms_on_neo4j_spark.operators.lpa import (  # noqa: E402
    lpa_oracle_sql,
)
from personalized_pagerank_algorithms_on_neo4j_spark.operators.sssp import (  # noqa: E402
    sssp_oracle_sql,
)


@settings(max_examples=60, deadline=None)
@given(edges=_edge_lists, rounds=st.integers(0, 4))
def test_lpa_oracle_matches_bruteforce(edges, rounds):
    """The unrolled plurality-rounds oracle vs a dict replay over a fixed
    10-node universe (isolated nodes must keep their own label)."""
    nodes = list(range(10))
    und: dict[int, set[int]] = {n: set() for n in nodes}
    for u, v in edges:
        if u != v:
            und[u].add(v)
            und[v].add(u)
    labels = {n: n for n in nodes}
    for _ in range(rounds):
        new = {}
        for v in nodes:
            if not und[v]:
                new[v] = labels[v]
                continue
            counts: dict[int, int] = {}
            for u in und[v]:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            new[v] = min(counts, key=lambda lb: (-counts[lb], lb))
        labels = new
    con = _duck_edges(edges)
    got = dict(
        con.execute(
            lpa_oracle_sql(
                "SELECT src, dst FROM raw_edges",
                "SELECT range AS id FROM range(0, 10)",
                rounds=rounds,
            )
        ).fetchall()
    )
    assert got == labels


_weighted_edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9), st.integers(1, 5)),
    min_size=0,
    max_size=30,
)


@settings(max_examples=60, deadline=None)
@given(edges=_weighted_edge_lists)
def test_sssp_oracle_matches_dijkstra(edges):
    """The unrolled-relaxation oracle (rounds=15 > any min-path hop count
    on 10 nodes) vs a plain-Python Dijkstra over the same directed
    weighted edges (parallel edges allowed — both sides take the min)."""
    import heapq

    adj: dict[int, list[tuple[int, int]]] = {}
    for u, v, w in edges:
        if u != v:
            adj.setdefault(u, []).append((v, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    con = duckdb.connect()
    con.execute("CREATE TABLE raw_edges (src BIGINT, dst BIGINT, w BIGINT)")
    if edges:
        con.executemany("INSERT INTO raw_edges VALUES (?, ?, ?)", edges)
    got = dict(
        con.execute(
            sssp_oracle_sql(
                "SELECT src, dst, w FROM raw_edges WHERE src <> dst",
                "SELECT 0 AS s",
                rounds=15,
            )
        ).fetchall()
    )
    assert got == dist


# ---------------------------------------------------------------------------
# Winnowing oracle builder vs pure-Python reference
# ---------------------------------------------------------------------------

_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "rep"])
_doc_texts = st.lists(_words, min_size=0, max_size=30).map(" ".join)


def _ref_winnow(text: str, k: int, w: int) -> set[tuple[int, int]]:
    import hashlib
    import re

    A, P, HL = 521, 9007199254740881, 1 << 40

    def th(tok: str) -> int:
        return int(hashlib.md5((tok + "#0").encode()).hexdigest()[:7], 16)

    toks = re.split(" +", text.strip().lower())
    hs = [th(t) for t in toks]
    he = th("")

    def horner(vals):
        acc = vals[0]
        for v in vals[1:]:
            acc = (acc * A + v) % P
        return acc % HL

    if len(hs) >= k:
        grams = [horner(hs[i : i + k]) for i in range(len(hs) - k + 1)]
    else:
        grams = [horner((hs + [he] * k)[:k])]
    packed = [g * 1048576 + (1048575 - p) for p, g in enumerate(grams)]
    out = set()
    for p in range(0, max(len(packed) - w, 0) + 1):
        m = min(packed[p : p + w])
        out.add((1048575 - (m % 1048576), m // 1048576))
    return out


@settings(max_examples=40, deadline=None)
@given(
    texts=st.lists(_doc_texts, min_size=1, max_size=6),
    k=st.integers(2, 5),
    w=st.integers(2, 5),
)
def test_winnow_oracle_matches_reference(texts, k, w):
    import duckdb

    from personalized_pagerank_algorithms_on_neo4j_spark.functions.text import (
        winnow_oracle_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    for i, t in enumerate(texts):
        con.execute("INSERT INTO docs VALUES (?, ?)", [i, t])
    sql = winnow_oracle_sql("SELECT doc_id, text FROM docs", k=k, w=w)
    got: dict[int, set] = {}
    for doc_id, fp_pos, fp_hash in con.execute(sql).fetchall():
        got.setdefault(doc_id, set()).add((fp_pos, fp_hash))
    want = {i: _ref_winnow(t, k, w) for i, t in enumerate(texts)}
    assert got == {i: s for i, s in want.items() if s}


# ---------------------------------------------------------------------------
# Token-budget oracle builder vs pure-Python greedy reference
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s1", "s2"]), st.integers(1, 8)),
        min_size=1,
        max_size=12,
    ),
    budget=st.integers(1, 40),
)
def test_token_budget_oracle_matches_greedy_reference(rows, budget):
    import duckdb

    from personalized_pagerank_algorithms_on_neo4j_spark.functions.packing import (
        token_budget_oracle_sql,
    )

    docs = [(i, src, " ".join(["tok"] * n)) for i, (src, n) in enumerate(rows)]
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, source VARCHAR, text VARCHAR)")
    for d in docs:
        con.execute("INSERT INTO docs VALUES (?, ?, ?)", list(d))
    # quality = text length (ties abound since texts repeat one token)
    sql = token_budget_oracle_sql(
        "SELECT doc_id, source, text FROM docs",
        budget,
        "CAST(length(text) AS DOUBLE)",
    )
    got = {r[0]: r[4] for r in con.execute(sql).fetchall()}
    # greedy reference: per source, (quality desc, doc_id asc) prefix
    want = {}
    for src in {s for _, s, _ in docs}:
        cum = 0
        members = sorted(
            (d for d in docs if d[1] == src),
            key=lambda d: (-len(d[2]), d[0]),
        )
        for doc_id, _, text in members:
            cum += len(text.split(" "))
            if cum > budget:
                break
            want[doc_id] = cum
    assert got == want


# ---------------------------------------------------------------------------
# Betweenness oracle builder vs pure-Python Brandes reference
# ---------------------------------------------------------------------------


def _ref_betweenness(edges, n_landmarks, max_hops):
    """Quantized Brandes (integer micro-units), mirroring the operator
    contract: forward BFS sigma, backward per-edge terms rounded to int
    BEFORE the sum, landmarks = top out-degree (ties by id)."""
    from collections import defaultdict

    adj = defaultdict(list)
    od = defaultdict(int)
    for s, t in edges:
        adj[s].append(t)
        od[s] += 1
    landmarks = sorted(od, key=lambda v: (-od[v], v))[:n_landmarks]
    bc = defaultdict(int)
    for s in landmarks:
        dist, sigma = {s: 0}, {s: 1}
        frontier = [s]
        for h in range(1, max_hops + 1):
            nxt = defaultdict(int)
            for v in frontier:
                for w in adj[v]:
                    if w not in dist or dist[w] == h:
                        nxt[w] += sigma[v]
            frontier = []
            for w, sg in nxt.items():
                if w not in dist:
                    dist[w] = h
                    sigma[w] = sg
                    frontier.append(w)
            if not frontier:
                break
        lmax = max(dist.values())
        delta = {v: 0 for v in dist if dist[v] == lmax}
        out = dict(delta)
        for lvl in range(lmax - 1, 0, -1):
            nd = {}
            for v in dist:
                if dist[v] != lvl:
                    continue
                tot = 0
                for w in adj[v]:
                    if dist.get(w) == lvl + 1:
                        # half-away-from-zero (Spark HALF_UP / DuckDB ROUND),
                        # NOT Python's banker's round: a sigma ratio of n/2
                        # lands exactly on .5 and the two conventions differ
                        import math

                        tot += math.floor(
                            sigma[v] / sigma[w] * float(1_000_000 + delta[w])
                            + 0.5
                        )
                nd[v] = tot
            delta = nd
            out.update(nd)
        for v, dv in out.items():
            if dist[v] > 0:
                bc[v] += dv
    # nodes reached at dist>0 from ANY landmark appear (zeros included)
    return dict(bc)


@settings(max_examples=25, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    nl=st.integers(1, 4),
)
def test_betweenness_oracle_matches_reference(edges, nl):
    import duckdb

    from personalized_pagerank_algorithms_on_neo4j_spark.operators.betweenness import (
        betweenness_oracle_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE ed (src BIGINT, dst BIGINT)")
    for s, t in edges:
        con.execute("INSERT INTO ed VALUES (?, ?)", [s, t])
    sql = betweenness_oracle_sql("SELECT src, dst FROM ed", n_landmarks=nl,
                                 max_hops=6)
    got = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    want = _ref_betweenness(edges, nl, 6)
    assert got == want


# ---------------------------------------------------------------------------
# round-6 second-wave oracles vs pure-Python brute force
# ---------------------------------------------------------------------------

from personalized_pagerank_algorithms_on_neo4j_spark.functions.graphstats import (  # noqa: E402
    k_truss_oracle_sql,
)
from personalized_pagerank_algorithms_on_neo4j_spark.operators.louvain import (  # noqa: E402
    louvain_oracle_sql,
)


@settings(max_examples=60, deadline=None)
@given(edges=_edge_lists, k=st.integers(3, 5))
def test_k_truss_oracle_matches_bruteforce(edges, k):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        support: dict[tuple[int, int], int] = {}
        for a, b, c in itertools.combinations(sorted({u for e in und for u in e}), 3):
            if {(a, b), (a, c), (b, c)} <= und:
                for e in ((a, b), (a, c), (b, c)):
                    support[e] = support.get(e, 0) + 1
        keep = {e for e in und if support.get(e, 0) >= k - 2}
        if keep == und:
            break
        und = keep
    expect = {e: support.get(e, 0) for e in und}
    con = _duck_edges(edges)
    got = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            k_truss_oracle_sql("SELECT src, dst FROM raw_edges", k=k, rounds=12)
        ).fetchall()
    }
    assert got == expect


def _louvain_replay(edges, nodes, m2, r1=4, r2=2):
    """Pure-Python replay of the deterministic two-level Louvain
    recurrence (operators/louvain.py): parity-scheduled synchronous
    integer gain moves, contraction, second pass."""

    def local_moving(edge_w, strength, labels, rounds):
        for t in range(rounds):
            par = t % 2
            cand: dict[int, dict[int, int]] = {}
            for (a, b), w in edge_w.items():
                if a % 2 == par:
                    cand.setdefault(a, {})
                    c = labels[b]
                    cand[a][c] = cand[a].get(c, 0) + w
            for v, l in labels.items():
                if v % 2 == par:
                    cand.setdefault(v, {}).setdefault(l, 0)
            dc: dict[int, int] = {}
            for v, l in labels.items():
                dc[l] = dc.get(l, 0) + strength.get(v, 0)
            new = dict(labels)
            for v, cmap in cand.items():
                own, dv = labels[v], strength.get(v, 0)
                new[v] = max(
                    cmap.items(),
                    key=lambda kv: (
                        m2 * kv[1]
                        - dv * (dc[kv[0]] - (dv if kv[0] == own else 0)),
                        -kv[0],
                    ),
                )[0]
            labels = new
        return labels

    und = {
        (a, b)
        for a, b in set(edges) | {(b, a) for a, b in edges}
        if a != b
    }
    deg: dict[int, int] = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    l1 = local_moving(
        {e: 1 for e in und}, deg, {v: v for v in nodes}, r1
    )
    e2: dict[tuple[int, int], int] = {}
    for a, b in und:
        key = (l1[a], l1[b])
        e2[key] = e2.get(key, 0) + 1
    s2: dict[int, int] = {}
    for (a, _), w in e2.items():
        s2[a] = s2.get(a, 0) + w
    comms = set(l1.values())
    for c in comms:
        s2.setdefault(c, 0)
    e2x = {k: w for k, w in e2.items() if k[0] != k[1]}
    l2 = local_moving(e2x, s2, {c: c for c in comms}, r2)
    return {v: l2[l1[v]] for v in nodes}


@settings(max_examples=40, deadline=None)
@given(edges=_edge_lists)
def test_louvain_oracle_matches_python_replay(edges):
    # node set: all endpoints plus one guaranteed-isolated node (the
    # deg-0 ride-through path)
    nodes = sorted({u for e in edges for u in e} | {10})
    und = {
        (a, b)
        for a, b in set(edges) | {(b, a) for a, b in edges}
        if a != b
    }
    expect = _louvain_replay(edges, nodes, m2=len(und))
    con = _duck_edges(edges)
    nodes_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"({n})" for n in nodes
    ) + ") t(id)"
    got = dict(
        con.execute(
            louvain_oracle_sql("SELECT src, dst FROM raw_edges", nodes_sql)
        ).fetchall()
    )
    assert got == expect
