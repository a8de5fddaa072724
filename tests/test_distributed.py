"""Distributed DataFrame loops vs the golden local kernels.

These exercise the scale path (joins/groupBy supersteps, multi-target batch
reverse push, walk fan-out) on the GOT fixture with parameters chosen to keep
superstep counts low — semantics, not throughput, is under test here (bench.py
covers throughput)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
    _kernels,
    backward_search,
    fora,
    forward_push,
    monte_carlo,
    pagerank,
)

ALPHA = 0.15


def _as_dense(lg, rows):
    pi = np.zeros(lg.n)
    for r in rows:
        pi[lg.dense(r["node"])] = r["ppr"]
    return pi


def test_forward_push_distributed_matches_kernel(got):
    lg = got.local
    s = got.id_of("Eddard")
    rmax = 5e-3
    df = forward_push.forward_push(got, s, rmax=rmax, alpha=ALPHA, mode="distributed")
    pi_d = _as_dense(lg, df.collect())
    pi_k, _, _ = _kernels.forward_push_batch(lg, lg.dense(s), ALPHA, rmax)
    assert np.max(np.abs(pi_d - pi_k)) < 1e-12


def test_forward_push_distributed_dangling_source(got):
    lg = got.local
    dang = int(lg.ids[int(np.where(lg.out_deg == 0)[0][0])])
    df = forward_push.forward_push(got, dang, rmax=1e-3, mode="distributed")
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["node"] == dang and rows[0]["ppr"] == 1.0


def test_backward_search_distributed_matches_kernel(got):
    lg = got.local
    t = got.id_of("Robert")
    rmax = 1e-3
    df = backward_search.backward_search(got, t, rmax=rmax, mode="distributed")
    pi_d = _as_dense(lg, df.collect())
    pi_k, _, _ = _kernels.backward_search_batch(lg, lg.dense(t), ALPHA, rmax)
    assert np.max(np.abs(pi_d - pi_k)) < 1e-12


def test_backward_search_all_multi_target(got):
    """One batch job over 3 targets == 3 single-target kernel runs."""
    lg = got.local
    names = ["Robert", "Tyrion", "Eddard"]  # Eddard: in-degree 0 short-circuit
    ids = [got.id_of(n) for n in names]
    targets = got.spark.createDataFrame([(i,) for i in ids], "target long")
    rmax = 1e-3
    out = backward_search.backward_search_all(got, targets, rmax, ALPHA).collect()
    by_target: dict[int, list] = {}
    for r in out:
        by_target.setdefault(r["target"], []).append(r)
    assert set(by_target) == set(ids)
    for tid in ids:
        pi_d = _as_dense(lg, by_target[tid])
        pi_k, _, _ = _kernels.backward_search_batch(lg, lg.dense(tid), ALPHA, rmax)
        assert np.max(np.abs(pi_d - pi_k)) < 1e-12, f"target {tid}"


def test_monte_carlo_distributed_statistical(got):
    lg = got.local
    s = got.id_of("Eddard")
    # small epsilon budget -> omega ~ moderate; checks distributional sanity
    df = monte_carlo._monte_carlo_distributed(got, s, ALPHA, omega=20_000, seed=7)
    rows = df.collect()
    total = sum(r["ppr"] for r in rows)
    assert total == pytest.approx(1.0, abs=1e-9)
    oracle = _kernels.power_method(lg, lg.dense(s), ALPHA, 300)
    est = _as_dense(lg, rows)
    bound = 5 * np.sqrt(np.maximum(oracle * (1 - oracle), 1e-6) / 20_000)
    assert (np.abs(est - oracle) <= bound + 5e-3).all()


def test_monte_carlo_counted_statistical(got):
    """Counted-walk distributed MC: exact mass conservation + the same
    distributional bound as the per-walk path (binomial/multinomial splits
    are sums of the identical iid draws)."""
    lg = got.local
    s = got.id_of("Eddard")
    df = monte_carlo._monte_carlo_distributed(got, s, ALPHA, omega=20_000, seed=7)
    rows = df.collect()
    total = sum(r["ppr"] for r in rows)
    assert total == pytest.approx(1.0, abs=1e-9)
    oracle = _kernels.power_method(lg, lg.dense(s), ALPHA, 300)
    est = _as_dense(lg, rows)
    bound = 5 * np.sqrt(np.maximum(oracle * (1 - oracle), 1e-6) / 20_000)
    assert (np.abs(est - oracle) <= bound + 5e-3).all()


def test_monte_carlo_counted_deterministic_vs_layout(got):
    """Per-(step, start, cur) hash seeding: the counted path must produce
    identical counts regardless of the walk frame's partition layout."""
    s = got.id_of("Eddard")
    w1 = got.spark.createDataFrame(
        [(int(s), int(s), 5_000)], "start long, cur long, cnt long"
    )
    w2 = w1.repartition(7)
    e1 = {
        r["cur"]: r["cnt"]
        for r in monte_carlo.run_walks_counted(got, w1, ALPHA, seed=3).collect()
    }
    e2 = {
        r["cur"]: r["cnt"]
        for r in monte_carlo.run_walks_counted(got, w2, ALPHA, seed=3).collect()
    }
    assert e1 == e2
    assert sum(e1.values()) == 5_000


def test_counted_multi_start_mass_and_zero_hop(got):
    """Multi-start counted fan-out (FORA's walk shape): per-start mass is
    conserved, and zero_hop=False walks leave a non-dangling start (no
    stop on the unconditional first move means the endpoint can only equal
    the start by returning to it, so endpoint mass still sums per start)."""
    s1 = got.id_of("Eddard")
    s2 = got.id_of("Robert")
    walks = got.spark.createDataFrame(
        [(int(s1), int(s1), 700), (int(s2), int(s2), 300)],
        "start long, cur long, cnt long",
    )
    ends = monte_carlo.run_walks_counted(
        got, walks, ALPHA, zero_hop=False, seed=5
    ).collect()
    per_start = {}
    for r in ends:
        per_start[r["start"]] = per_start.get(r["start"], 0) + r["cnt"]
    assert per_start == {int(s1): 700, int(s2): 300}


def test_counted_truncation_force_stops(got):
    """A superstep budget too small to drain the walks must force-stop the
    survivors at their current node: endpoint mass always sums to the walk
    count (no silently dropped mass), and a 0-superstep run returns every
    walk at its start."""
    s = got.id_of("Eddard")
    walks = got.spark.createDataFrame(
        [(int(s), int(s), 1_000)], "start long, cur long, cnt long"
    )
    for budget in (0, 1, 2):
        ends = monte_carlo.run_walks_counted(
            got, walks, ALPHA, seed=9, max_supersteps=budget
        ).collect()
        assert sum(r["cnt"] for r in ends) == 1_000, f"budget {budget}"
    ends0 = monte_carlo.run_walks_counted(
        got, walks, ALPHA, seed=9, max_supersteps=0
    ).collect()
    assert {(r["cur"]): r["cnt"] for r in ends0} == {int(s): 1_000}


def test_bfs_distances_hand_computed(got):
    """BFS on the GOT graph: dist(source)=0, direct out-neighbors are at
    1, a max_hops cutoff truncates the reach, and min-dist wins when a
    node is reachable at several depths."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.bfs import (
        bfs_distances,
    )

    s = got.id_of("Eddard")
    full = {r["node"]: r["dist"] for r in bfs_distances(got, s, max_hops=30).collect()}
    assert full[s] == 0
    nbrs = {
        r["dst"] for r in got.edges.where(F.col("src") == s).select("dst").collect()
    }
    assert nbrs and all(full[n] == 1 for n in nbrs)
    one = {r["node"]: r["dist"] for r in bfs_distances(got, s, max_hops=1).collect()}
    assert one == {s: 0, **{n: 1 for n in nbrs}}
    # monotone growth with the hop budget, consistent labels on overlap
    two = {r["node"]: r["dist"] for r in bfs_distances(got, s, max_hops=2).collect()}
    assert set(one) <= set(two) <= set(full)
    assert all(two[n] == d for n, d in one.items())


def test_multi_source_bfs_matches_single(got):
    """One batched loop over several sources must produce, per source,
    exactly the single-source BFS result; harmonic centrality aggregates
    the same distances."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.bfs import (
        bfs_distances,
        bfs_distances_multi,
        harmonic_centrality,
    )

    srcs = [got.id_of("Eddard"), got.id_of("Robert")]
    sdf = got.spark.createDataFrame([(s,) for s in srcs], "source long")
    multi = bfs_distances_multi(got, sdf, max_hops=10).collect()
    by_src: dict[int, dict[int, int]] = {}
    for r in multi:
        by_src.setdefault(r["source"], {})[r["node"]] = r["dist"]
    for s in srcs:
        single = {
            r["node"]: r["dist"]
            for r in bfs_distances(got, s, max_hops=10).collect()
        }
        assert by_src[s] == single
    hc = {r["node"]: r["harmonic"] for r in harmonic_centrality(got, 4, 5).collect()}
    assert hc and all(v > 0 for v in hc.values())


def test_hits_matches_numpy(got):
    """HITS on the GOT graph vs a dense numpy replay of the identical
    max-normalized recurrence."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.hits import hits

    edges = [
        (r["src"], r["dst"]) for r in got.edges.select("src", "dst").collect()
    ]
    nodes = sorted({u for e in edges for u in e})
    idx = {n: i for i, n in enumerate(nodes)}
    h = np.ones(len(nodes))
    a = np.zeros(len(nodes))
    for _ in range(10):
        a = np.zeros(len(nodes))
        for s, d in edges:
            a[idx[d]] += h[idx[s]]
        a /= a.max()
        h = np.zeros(len(nodes))
        for s, d in edges:
            h[idx[s]] += a[idx[d]]
        h /= h.max()
    out = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(got, iterations=10).collect()
    }
    assert set(out) == set(nodes)
    for n in nodes:
        assert out[n][0] == pytest.approx(h[idx[n]], abs=1e-8)
        assert out[n][1] == pytest.approx(a[idx[n]], abs=1e-8)
    assert max(v[0] for v in out.values()) == pytest.approx(1.0)
    assert max(v[1] for v in out.values()) == pytest.approx(1.0)


def test_fora_distributed_error_bound(got):
    lg = got.local
    s = got.id_of("Eddard")
    df = fora.fora_whole_graph(got, s, epsilon=0.5, mode="distributed", seed=11)
    est = _as_dense(lg, df.collect())
    oracle = _kernels.power_method(lg, lg.dense(s), ALPHA, 300)
    assert np.max(np.abs(est - oracle)) < 0.05
    assert est.sum() == pytest.approx(1.0, abs=0.05)


def test_fora_topk_distributed_ranking(got):
    lg = got.local
    s = got.id_of("Eddard")
    df = fora.fora_topk(got, s, k=10, epsilon=0.5, mode="distributed", seed=13)
    est = _as_dense(lg, df.collect())
    oracle = _kernels.power_method(lg, lg.dense(s), ALPHA, 300)
    est_top = set(np.argsort(-est)[:10])
    gnd_top = set(np.argsort(-oracle)[:10])
    assert len(est_top & gnd_top) >= 7


def test_pagerank_distributed_matches_kernel(got):
    lg = got.local
    s = got.id_of("Eddard")
    df = pagerank.personalized_pagerank(got, s, iterations=20, mode="distributed")
    est = _as_dense(lg, df.collect())
    gold = _as_dense(
        lg, pagerank.personalized_pagerank(got, s, iterations=20, mode="local").collect()
    )
    assert np.max(np.abs(est - gold)) < 1e-12


def test_pagerank_global_distributed_matches_kernel(got):
    lg = got.local
    df = pagerank.pagerank_global(got, iterations=12, mode="distributed")
    rows = df.collect()
    assert len(rows) == lg.n  # every node holds at least the restart mass
    est = np.zeros(lg.n)
    for r in rows:
        est[lg.dense(r["node"])] = r["score"]
    gold = _kernels.pagerank(
        lg, np.full(lg.n, 1.0 / lg.n), np.full(lg.n, ALPHA / lg.n), ALPHA, 12
    )
    assert np.max(np.abs(est - gold)) < 1e-12
    # uniform restart: total mass = 1 minus the dropped dangling mass —
    # strictly < 1 (GOT has many dangling nodes, so the drop is large)
    assert 0.0 < est.sum() < 1.0
    assert est.min() >= (1.0 - (1.0 - ALPHA)) / lg.n - 1e-15  # restart floor


def test_power_multi_source_matches_kernel_and_k1(got):
    """Distributed multi-source == local kernel; k=1 == single-source."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.power_method import (
        power_method,
        power_method_multi,
    )

    lg = got.local
    srcs = [got.id_of("Eddard"), got.id_of("Robert")]
    df = power_method_multi(got, srcs, iterations=15, mode="distributed")
    est = _as_dense(lg, df.collect())
    gold = _kernels.power_method(lg, [lg.dense(s) for s in srcs], ALPHA, 15)
    gold[gold <= 0] = 0.0
    assert np.max(np.abs(est - gold)) < 1e-12
    # the k=1 case degenerates to the single-source operator exactly
    one = _as_dense(
        lg, power_method_multi(got, [srcs[0]], iterations=12, mode="local").collect()
    )
    single = _as_dense(
        lg, power_method(got, srcs[0], iterations=12, mode="local").collect()
    )
    assert np.max(np.abs(one - single)) == 0.0


def test_pagerank_weighted_uniform_equals_unweighted(got, spark):
    """With uniform weights the weighted recurrence degenerates to the
    unweighted one, EXCEPT that isolated nodes (no edges) don't exist in
    an edge-list-derived node set — compare on edge-incident nodes."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    ew = got.edges.select("src", "dst", F.lit(2.5).alias("weight"))
    w = {
        r["node"]: r["score"]
        for r in pagerank.pagerank_weighted(ew, iterations=8).collect()
    }
    u = {
        r["node"]: r["score"]
        for r in pagerank.pagerank_global(
            got, iterations=8, mode="distributed"
        ).collect()
    }
    # n differs if the graph has isolated nodes; GOT's nodes all touch
    # edges, so the two node sets (and restart masses) coincide
    assert set(w) == set(u)
    assert max(abs(w[k] - u[k]) for k in w) < 1e-12
    with _pytest.raises(ValueError):
        pagerank.pagerank_weighted(
            got.edges.select("src", "dst", F.lit(0.0).alias("weight"))
        )
    # NULL weights must be rejected too — a pure `NOT(weight > 0)` filter
    # silently drops the NULL row (NOT(NULL>0) is NULL) and the edge then
    # vanishes from the recurrence
    with _pytest.raises(ValueError):
        pagerank.pagerank_weighted(
            got.edges.select(
                "src",
                "dst",
                F.when(F.col("src") % 2 == 0, F.lit(1.0)).alias("weight"),
            )
        )


def test_article_rank_matches_replay_and_diverges_from_pagerank(got):
    """ArticleRank == a pure-Python replay of the recurrence (same start,
    restart and damping as pagerank_global, denominator out(u) + m/n), and
    actually differs from plain PageRank on the same graph (the avg-degree
    denominator must change the answer, or the verb is a no-op)."""
    edges = [(r["src"], r["dst"]) for r in got.edges.collect()]
    nodes = [r["id"] for r in got.nodes.collect()]
    n, m = len(nodes), len(edges)
    avg = m / n
    out: dict[int, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    d = 1.0 - ALPHA
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(6):
        nxt = {v: (1.0 - d) / n for v in nodes}
        for s, t in edges:
            nxt[t] += d * rank[s] / (out[s] + avg)
        rank = nxt
    got_scores = {
        r["node"]: r["score"]
        for r in pagerank.article_rank(got, iterations=6).collect()
    }
    assert set(got_scores) == set(nodes)
    assert max(abs(got_scores[v] - rank[v]) for v in nodes) < 1e-12
    pr = {
        r["node"]: r["score"]
        for r in pagerank.pagerank_global(
            got, iterations=6, mode="distributed"
        ).collect()
    }
    assert max(abs(got_scores[v] - pr[v]) for v in nodes) > 1e-6


def test_pagerank_snapshots_slice_equals_global(got, spark):
    """Each snapshot's slice of the batched loop must equal
    pagerank_global run on a graph holding just that snapshot's edges
    (same shared node set) — pins the (snap, node)-keyed batching."""
    e = got.edges
    # two synthetic snapshots: even-src edges vs all edges
    e1 = e.where(F.col("src") % 2 == 0)
    edges_t = (
        e1.select(F.lit(1).alias("snap"), "src", "dst")
        .unionByName(e.select(F.lit(2).alias("snap"), "src", "dst"))
    )
    batched = {
        (r["snap"], r["node"]): r["score"]
        for r in pagerank.pagerank_snapshots(
            edges_t, got.nodes, iterations=5
        ).collect()
    }
    from personalized_pagerank_algorithms_on_neo4j_spark.graph import PropertyGraph

    for snap, edges in ((1, e1), (2, e)):
        g = PropertyGraph(spark, got.nodes, edges, nodes_cover_edges=True)
        single = {
            r["node"]: r["score"]
            for r in pagerank.pagerank_global(
                g, iterations=5, mode="distributed"
            ).collect()
        }
        assert set(single) == {k[1] for k in batched if k[0] == snap}
        assert all(
            abs(batched[(snap, v)] - s) < 1e-12 for v, s in single.items()
        )


def test_distributed_plan_shape(got):
    """The per-superstep join must keep the big (edge) side un-reshuffled:
    edges_deg is pre-partitioned on src and cached."""
    plan = got.edges_deg._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    df = forward_push.forward_push(
        got, got.id_of("Eddard"), rmax=0.05, mode="distributed"
    )
    assert df.count() > 0


def test_two_threshold_push_matches_full_rescan(got):
    """I2: the two-threshold resumable push (active-set supersteps, carried
    candidate frontier) must reach the SAME fixed point as the full-state
    re-scan resume at an identical rmax schedule — the local batch kernel,
    which re-qualifies every node each superstep — while re-qualifying far
    fewer nodes between rounds."""
    lg = got.local
    s = got.id_of("Eddard")
    rmax1, rmax2 = 5e-3, 1e-3
    min_rmax = 1e-4

    # reference behavior: full re-scan resume (re-qualifies the whole state)
    pi1, r1, _ = _kernels.forward_push_batch(lg, lg.dense(s), ALPHA, rmax1)
    pi2, r2, _ = _kernels.forward_push_batch(
        lg, lg.dense(s), ALPHA, rmax2, reserve=pi1, residue=r1
    )

    # two-threshold: round 1 hands (state, candidate frontier) to round 2
    st1, cand1 = forward_push.push_round(got, s, rmax1, min_rmax, ALPHA, 10_000)
    st2, cand2 = forward_push.push_round(
        got, s, rmax2, min_rmax, ALPHA, 10_000, state=st1, cand=cand1
    )

    def as_map(df):
        return {
            r["node"]: (r["residue"], r["reserve"])
            for r in df.collect()
            if r["residue"] != 0.0 or r["reserve"] != 0.0
        }

    a = {
        int(lg.ids[i]): (r2[i], pi2[i])
        for i in np.flatnonzero((r2 != 0.0) | (pi2 != 0.0))
    }
    b = as_map(st2)
    assert set(a) == set(b)
    for node, (res, rese) in a.items():
        assert abs(res - b[node][0]) < 1e-12, node
        assert abs(rese - b[node][1]) < 1e-12, node

    # the carried frontier is a strict subset of the state — later rounds
    # join only candidates, not every touched node
    assert 0 < cand1.count() < st1.count()


def test_fora_topk_uses_carried_frontier(got):
    """fora_topk distributed must keep matching the oracle ranking with the
    two-threshold frontier wired in (same assertion as the legacy test, kept
    separate to pin the I2 path)."""
    lg = got.local
    s = got.id_of("Tyrion")
    df = fora.fora_topk(got, s, k=10, epsilon=0.5, mode="distributed", seed=3)
    est = _as_dense(lg, df.collect())
    oracle = _kernels.power_method(lg, lg.dense(s), ALPHA, 300)
    est_top = set(np.argsort(-est)[:10])
    gnd_top = set(np.argsort(-oracle)[:10])
    assert len(est_top & gnd_top) >= 7


def test_graph_analytics_facade(got):
    """PropertyGraph exposes the GDS-style verbs as thin delegations with
    name resolution; each must agree with its direct-function twin."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.graphstats import (
        triangle_counts as tri_fn,
    )

    b = {r["node"]: r["dist"] for r in got.bfs("Eddard", max_hops=3).collect()}
    assert b[got.id_of("Eddard")] == 0 and len(b) > 1
    h = got.hits(iterations=2).collect()
    assert max(r["hub"] for r in h) == pytest.approx(1.0)
    t_facade = {r["node"]: r["n_triangles"] for r in got.triangle_counts().collect()}
    t_direct = {r["node"]: r["n_triangles"] for r in tri_fn(got.edges).collect()}
    assert t_facade == t_direct and t_facade
    cc = got.connected_components().collect()
    assert cc and all(r["component"] <= r["node"] for r in cc)
    kc = got.k_core(k=2).collect()
    assert kc and all(r["core_degree"] >= 2 for r in kc)
    co = got.clustering_coefficient().collect()
    assert co and all(0.0 <= r["cc"] <= 1.0 for r in co)
    aa = got.adamic_adar(threshold=0.0).collect()
    assert aa and all(r["score"] > 0 for r in aa)
    pr = got.pagerank(iterations=3).collect()
    assert len(pr) == got.n and all(r["score"] > 0 for r in pr)
    ns = got.node_similarity(threshold=0.5).collect()
    assert all(r["jaccard"] >= 0.5 for r in ns)
    lp = got.label_propagation(rounds=2).collect()
    assert len(lp) == got.n and all(r["label"] is not None for r in lp)


def test_label_propagation_matches_python_replay(got):
    """Sync plurality LPA on the GOT graph vs a dict replay of the
    identical recurrence (undirected dedup neighbors, max-count label,
    min-label tiebreak, isolated nodes keep their label)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.lpa import (
        label_propagation,
    )

    edges = {
        (r["src"], r["dst"])
        for r in got.edges.select("src", "dst").collect()
        if r["src"] != r["dst"]
    }
    und: dict[int, list[int]] = {}
    for u, v in edges | {(v, u) for u, v in edges}:
        und.setdefault(v, []).append(u)
    nodes = [r["id"] for r in got.nodes.select("id").collect()]
    labels = {n: n for n in nodes}
    rounds = 3
    for _ in range(rounds):
        new = {}
        for v in nodes:
            nbrs = und.get(v)
            if not nbrs:
                new[v] = labels[v]
                continue
            counts: dict[int, int] = {}
            for u in nbrs:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            new[v] = min(
                counts, key=lambda lb: (-counts[lb], lb)
            )
        labels = new
    out = {
        r["node"]: r["label"]
        for r in label_propagation(got, rounds=rounds).collect()
    }
    assert out == labels


def test_sssp_weight_one_equals_bfs(got):
    """Directed SSSP with unit costs must reproduce BFS hop distances."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.bfs import (
        bfs_distances,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.sssp import (
        sssp_weighted,
    )

    s = got.id_of("Eddard")
    e1 = got.edges.select("src", "dst", F.lit(1).cast("long").alias("w"))
    d = {
        r["node"]: r["dist"]
        for r in sssp_weighted(
            got.spark, e1, s, max_rounds=30, n_hint=got.n
        ).collect()
    }
    bfs = {
        r["node"]: r["dist"]
        for r in bfs_distances(got, s, max_hops=30).collect()
    }
    assert d == bfs


def test_sssp_cheap_long_path_beats_heavy_edge(spark):
    """Relaxation must keep improving past the hop-shortest path: the
    3-hop cost-3 route wins over the direct cost-10 edge, and
    undirected_min_cost keeps the per-pair MIN of asymmetric costs."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.sssp import (
        sssp_weighted,
        undirected_min_cost,
    )

    e = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 1), (3, 4, 1), (4, 2, 1)],
        "src long, dst long, w long",
    )
    d = {
        r["node"]: r["dist"]
        for r in sssp_weighted(spark, e, 1, max_rounds=10, n_hint=4).collect()
    }
    assert d == {1: 0, 2: 3, 3: 1, 4: 2}
    ua = spark.createDataFrame(
        [(1, 2, 5), (2, 1, 3)], "src long, dst long, w long"
    )
    und = {
        (r["src"], r["dst"]): r["w"]
        for r in undirected_min_cost(ua).collect()
    }
    assert und == {(1, 2): 3, (2, 1): 3}


def test_sssp_multi_matches_single(got):
    """One batched weighted-SSSP loop over several landmarks must produce,
    per landmark, exactly the single-source result."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.sssp import (
        sssp_weighted,
        sssp_weighted_multi,
        undirected_min_cost,
    )

    e = undirected_min_cost(
        got.edges.select("src", "dst", F.lit(2).alias("w"))
    ).localCheckpoint(eager=True)
    srcs = [got.id_of("Eddard"), got.id_of("Robert")]
    sdf = got.spark.createDataFrame([(s,) for s in srcs], "source long")
    multi = sssp_weighted_multi(
        got.spark, e, sdf, max_rounds=30, n_hint=got.n * 2
    ).collect()
    by_src: dict[int, dict[int, int]] = {}
    for r in multi:
        by_src.setdefault(r["landmark"], {})[r["node"]] = r["dist"]
    for s in srcs:
        single = {
            r["node"]: r["dist"]
            for r in sssp_weighted(
                got.spark, e, s, max_rounds=30, n_hint=got.n
            ).collect()
        }
        assert by_src[s] == single
