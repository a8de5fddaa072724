"""Round-12 optimization regressions: the driver-local fast paths must be
observably IDENTICAL to the distributed loops they shortcut — including
deliberately truncated results and strict-raise behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from personalized_pagerank_algorithms_on_neo4j_spark.functions import dedup


def _run_both(spark, pairs, **kw):
    """Run dedup_clusters through the local kernel and the distributed
    loop (forced by a zero local bound) and return both sorted outputs."""
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    local = sorted(map(tuple, dedup.dedup_clusters(df, **kw).collect()))
    orig = dedup.BROADCAST_EDGE_BOUND
    dedup.BROADCAST_EDGE_BOUND = -1  # force the superstep path
    try:
        dist = sorted(map(tuple, dedup.dedup_clusters(df, **kw).collect()))
    finally:
        dedup.BROADCAST_EDGE_BOUND = orig
    return local, dist


def test_dedup_clusters_local_matches_distributed(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (20, 20), (30, 31), (31, 32), (32, 30)]
    local, dist = _run_both(spark, pairs, max_iters=20)
    assert local == dist
    # jump mode too (the chain-shaped Borůvka merge path)
    chain = [(i, i + 1) for i in range(40)]
    local, dist = _run_both(spark, chain, max_iters=20, jump=True)
    assert local == dist


def test_dedup_clusters_local_truncation_identical(spark):
    """A deliberately truncated run (strict=False, small max_iters) must
    produce the same bounded-depth labels on both paths — oracle keys
    replay the truncated recurrence, so the local path may not 'improve'
    on it."""
    chain = [(i, i + 1) for i in range(30)]
    local, dist = _run_both(spark, chain, max_iters=3, strict=False)
    assert local == dist
    # and the truncation must actually bind (labels not fully converged)
    assert any(c != 0 for _, c in local)


def test_dedup_clusters_local_strict_raises(spark):
    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="fixed point"):
        dedup.dedup_clusters(df, max_iters=2)


def test_dedup_clusters_local_empty(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.dedup_clusters(df, max_iters=5).count() == 0


def test_kpaths_local_matches_distributed(spark):
    """yen_k_shortest through the driver-local replay vs the superstep
    loop (forced via a zero edge cutoff) — identical ranked paths,
    including a (cost, path) tie."""
    import random

    from personalized_pagerank_algorithms_on_neo4j_spark.operators import kpaths

    rng = random.Random(7)
    es = set()
    while len(es) < 40:
        u, v = rng.randrange(14), rng.randrange(14)
        if u != v:
            es.add((u, v))
    edges = [(u, v, rng.randint(1, 9)) for u, v in sorted(es)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")

    def run():
        return sorted(
            map(
                tuple,
                kpaths.yen_k_shortest(
                    spark, df, 0, 13, k=4, max_hops=5
                ).collect(),
            )
        )

    local = run()
    orig = kpaths.LOCAL_EDGE_THRESHOLD
    kpaths.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = run()
    finally:
        kpaths.LOCAL_EDGE_THRESHOLD = orig
    assert local == dist and local


def test_boruvka_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import mst

    import random

    rng = random.Random(11)
    edges = [
        (rng.randrange(30), rng.randrange(30), rng.randint(1, 6))
        for _ in range(70)
    ]
    df = spark.createDataFrame(edges, "src long, dst long, weight long")

    def run(maximize):
        return sorted(
            map(
                tuple,
                mst.boruvka_msf(df, maximize=maximize).collect(),
            )
        )

    for maximize in (False, True):
        local = run(maximize)
        orig = mst.LOCAL_EDGE_THRESHOLD
        mst.LOCAL_EDGE_THRESHOLD = -1
        try:
            dist = run(maximize)
        finally:
            mst.LOCAL_EDGE_THRESHOLD = orig
        assert local == dist and local


def test_astar_local_pairs_matches_superstep_search(spark):
    """astar_local_pairs (driver Dijkstra) vs astar_single_pair with
    heuristic=None (the plain exact SSSP loop) — identical distances,
    identical unreachable handling."""
    import random

    from personalized_pagerank_algorithms_on_neo4j_spark.operators.astar import (
        astar_local_pairs,
        astar_single_pair,
    )

    rng = random.Random(17)
    edges = list(
        {
            (rng.randrange(18), rng.randrange(18))
            for _ in range(45)
        }
    )
    edges = [(u, v, rng.randint(1, 9)) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    pairs = [(0, 17), (3, 9), (17, 0)]
    local = sorted(map(tuple, astar_local_pairs(spark, df, pairs).collect()))
    dist = []
    for s, t in pairs:
        dist.extend(
            map(
                tuple,
                astar_single_pair(
                    spark, df, s, t, None, max_rounds=30, n_hint=18
                ).collect(),
            )
        )
    assert local == sorted(dist)


def test_louvain_local_moving_matches_distributed(spark):
    """The numpy local-moving kernel vs the superstep loop (forced via a
    zero edge cutoff) — the recurrence is all-integer, so the full
    two-level louvain output must be identical, unit and weighted."""
    import random

    from personalized_pagerank_algorithms_on_neo4j_spark.operators import louvain
    from personalized_pagerank_algorithms_on_neo4j_spark.graph import PropertyGraph

    rng = random.Random(23)
    edges = list(
        {
            (rng.randrange(40), rng.randrange(40))
            for _ in range(120)
        }
    )
    nodes = sorted({x for e in edges for x in e})
    gdf = spark.createDataFrame([(n, f"n{n}") for n in nodes], "id long, name string")
    edf = spark.createDataFrame(edges, "src long, dst long")
    g = PropertyGraph(spark, gdf, edf, nodes_cover_edges=True)

    def run():
        return sorted(map(tuple, louvain.louvain(g, rounds1=4, rounds2=2).collect()))

    local = run()
    # the unit path gates on graph.fits_local (cached-CSR derivation);
    # zero BOTH cutoffs so the inner kernel can't re-engage either
    from personalized_pagerank_algorithms_on_neo4j_spark import graph as gmod

    orig = louvain.LOCAL_EDGE_THRESHOLD
    orig_g = gmod.LOCAL_EDGE_THRESHOLD
    louvain.LOCAL_EDGE_THRESHOLD = -1
    gmod.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = run()
    finally:
        louvain.LOCAL_EDGE_THRESHOLD = orig
        gmod.LOCAL_EDGE_THRESHOLD = orig_g
    assert local == dist and local

    wdf = spark.createDataFrame(
        [(u, v, rng.randint(1, 99)) for u, v in edges],
        "src long, dst long, weight long",
    )

    def runw():
        return sorted(
            map(tuple, louvain.louvain_weighted(wdf, rounds1=4, rounds2=2).collect())
        )

    localw = runw()
    louvain.LOCAL_EDGE_THRESHOLD = -1
    try:
        distw = runw()
    finally:
        louvain.LOCAL_EDGE_THRESHOLD = orig
    assert localw == distw and localw


def test_lpa_local_matches_distributed(spark):
    import random

    from personalized_pagerank_algorithms_on_neo4j_spark.operators import lpa
    from personalized_pagerank_algorithms_on_neo4j_spark.graph import PropertyGraph

    rng = random.Random(29)
    edges = list(
        {
            (rng.randrange(35), rng.randrange(35))
            for _ in range(90)
        }
    )
    nodes = sorted({x for e in edges for x in e} | {90, 91})  # isolated too
    gdf = spark.createDataFrame(
        [(nd, f"n{nd}") for nd in nodes], "id long, name string"
    )
    edf = spark.createDataFrame(edges, "src long, dst long")
    g = PropertyGraph(spark, gdf, edf, nodes_cover_edges=True)

    def run():
        return sorted(
            map(tuple, lpa.label_propagation(g, rounds=5).collect())
        )

    local = run()
    # the gate moved to graph.fits_local (the cached-CSR derivation):
    # force the distributed loop through the graph-module cutoff
    from personalized_pagerank_algorithms_on_neo4j_spark import graph as gmod

    orig = gmod.LOCAL_EDGE_THRESHOLD
    gmod.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = run()
    finally:
        gmod.LOCAL_EDGE_THRESHOLD = orig
    assert local == dist and local


def test_reverse_push_local_matches_distributed(spark):
    """The dense numpy replay of reverse_push_state vs the superstep loop
    (forced via a zero edge cutoff), through the FULL maintenance
    lifecycle (init push, insert repair, resume): same rows at the
    oracle's ROUND(..., 9) compare granularity (float sums associate
    differently across the two paths, exactly as distributed-vs-DuckDB
    already does; the driver hash rounds to 1e-9)."""
    import random

    from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
        dynamic_ppr,
    )

    rng = random.Random(31)
    edges = sorted(
        {(rng.randrange(25), rng.randrange(25)) for _ in range(80)}
    )
    edges = [(u, v) for u, v in edges if u != v]
    cut = len(edges) // 10
    old, new = edges[cut:], edges[:cut]
    odf = spark.createDataFrame(old, "src long, dst long")
    ndf = spark.createDataFrame(new, "src long, dst long")
    adf = spark.createDataFrame(edges, "src long, dst long")
    tg = spark.createDataFrame([(3,), (7,)], "target long")

    def lifecycle():
        st0 = dynamic_ppr.reverse_push_state(
            spark, odf, tg, 1e-4, 1.0 / 7.0, max_supersteps=60
        )
        rep = dynamic_ppr.repair_on_insert(st0, odf, ndf, 1.0 / 7.0)
        st1 = dynamic_ppr.reverse_push_state(
            spark,
            adf,
            tg,
            1e-4,
            1.0 / 7.0,
            state=rep,
            max_supersteps=60,
        )
        rows = st1.select(
            "target",
            "node",
            F.round("residue", 9).alias("residue"),
            F.round("reserve", 9).alias("reserve"),
        ).where((F.col("residue") != 0) | (F.col("reserve") != 0))
        return sorted(map(tuple, rows.collect()))

    local = lifecycle()
    orig = dynamic_ppr.LOCAL_EDGE_THRESHOLD
    dynamic_ppr.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = lifecycle()
    finally:
        dynamic_ppr.LOCAL_EDGE_THRESHOLD = orig
    assert local == dist and local


def test_reverse_push_local_strict_raises(spark):
    """The local kernel must reproduce the over-budget raise."""
    import pytest as _pytest

    from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
        dynamic_ppr,
    )

    # a directed cycle keeps residue circulating: 1 superstep cannot reach
    # |r| <= rmax
    edges = [(i, (i + 1) % 6) for i in range(6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    tg = spark.createDataFrame([(0,)], "target long")
    with _pytest.raises(RuntimeError, match="supersteps"):
        dynamic_ppr.reverse_push_state(
            spark, df, tg, 1e-9, 0.15, max_supersteps=1
        )


def test_scc_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import scc as sccmod

    import random

    rng = random.Random(13)
    edges = list(
        {
            (rng.randrange(20), rng.randrange(20))
            for _ in range(50)
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")

    def run():
        return sorted(map(tuple, sccmod.scc(df).collect()))

    local = run()
    orig = sccmod.LOCAL_EDGE_THRESHOLD
    sccmod.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = run()
    finally:
        sccmod.LOCAL_EDGE_THRESHOLD = orig
    assert local == dist and local


# ---------------------------------------------------------------------------
# Spectral / restart-loop family (r12 batch 2)
# ---------------------------------------------------------------------------


def _spectral_fixture(spark):
    """A cyclic directed graph with one isolated node (77) plus weights."""
    import random

    rng = random.Random(7)
    edges = sorted({(rng.randrange(40), rng.randrange(40)) for _ in range(160)})
    edges = [(u, v) for u, v in edges if u != v]
    nodes = sorted({x for e in edges for x in e} | {77})
    ndf = spark.createDataFrame(
        [(i, f"n{i}") for i in nodes], "id long, name string"
    )
    edf = spark.createDataFrame(edges, "src long, dst long")
    return nodes, ndf, edf, edges


def _round_rows(df):
    cols = list(zip(df.columns, [t for _, t in df.dtypes]))
    sel = [
        F.round(c, 9).alias(c) if t == "double" else F.col(c)
        for c, t in cols
    ]
    return sorted(map(tuple, df.select(*sel).collect()))


def test_articlerank_hits_salsa_local_match_distributed(spark):
    """The dense kernels vs the superstep loops (forced via a zero graph
    cutoff), compared at the oracle's ROUND(..., 9) granularity."""
    from personalized_pagerank_algorithms_on_neo4j_spark import (
        PropertyGraph,
        graph as gmod,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
        hits as hmod,
        pagerank as prmod,
        salsa as smod,
    )

    nodes, ndf, edf, edges = _spectral_fixture(spark)
    g_local = PropertyGraph(spark, ndf, edf)
    runs = [
        lambda g: prmod.article_rank(g, iterations=6),
        lambda g: hmod.hits(g, iterations=7),
        lambda g: smod.salsa(g, iterations=5),
    ]
    locals_ = [_round_rows(r(g_local)) for r in runs]
    saved = gmod.LOCAL_EDGE_THRESHOLD
    gmod.LOCAL_EDGE_THRESHOLD = -1
    try:
        g_dist = PropertyGraph(spark, ndf, edf)
        dists = [_round_rows(r(g_dist)) for r in runs]
    finally:
        gmod.LOCAL_EDGE_THRESHOLD = saved
    for lo, di in zip(locals_, dists):
        assert lo == di and lo


def test_eigenvector_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
        eigenvector as evmod,
    )

    _, _, edf, _ = _spectral_fixture(spark)
    local = _round_rows(evmod.eigenvector_centrality(spark, edf, iterations=8))
    saved = evmod.LOCAL_EDGE_THRESHOLD
    evmod.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = _round_rows(
            evmod.eigenvector_centrality(spark, edf, iterations=8)
        )
    finally:
        evmod.LOCAL_EDGE_THRESHOLD = saved
    assert local == dist and local


def test_pagerank_weighted_local_matches_distributed(spark):
    """Uniform AND personalized flavors; the personalized row set must
    stay exactly reachable ∪ {source} (no zero-score rows)."""
    import random

    from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
        pagerank as prmod,
    )

    nodes, _, _, edges = _spectral_fixture(spark)
    rng = random.Random(11)
    wedges = [(u, v, float(rng.randrange(1, 9))) for u, v in edges]
    wdf = spark.createDataFrame(wedges, "src long, dst long, weight double")
    for src in (None, nodes[1]):
        local = _round_rows(
            prmod.pagerank_weighted(wdf, iterations=7, source=src)
        )
        saved = prmod.LOCAL_EDGE_THRESHOLD
        prmod.LOCAL_EDGE_THRESHOLD = -1
        try:
            dist = _round_rows(
                prmod.pagerank_weighted(wdf, iterations=7, source=src)
            )
        finally:
            prmod.LOCAL_EDGE_THRESHOLD = saved
        assert local == dist and local
    # the personalized flavor must emit only mass-holding rows (strictly
    # fewer than the incident-node count on this fixture)
    assert len(local) < len(nodes)


def test_pagerank_snapshots_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
        pagerank as prmod,
    )

    _, ndf, _, edges = _spectral_fixture(spark)
    tedges = [
        (s, u, v)
        for s in (1, 2, 3)
        for (u, v) in edges
        if (u * 7 + v + s) % 3
    ]
    tdf = spark.createDataFrame(tedges, "snap long, src long, dst long")
    local = _round_rows(prmod.pagerank_snapshots(tdf, ndf, iterations=5))
    saved = prmod.LOCAL_EDGE_THRESHOLD
    prmod.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = _round_rows(prmod.pagerank_snapshots(tdf, ndf, iterations=5))
    finally:
        prmod.LOCAL_EDGE_THRESHOLD = saved
    assert local == dist and local


def test_luby_mis_local_matches_distributed(spark):
    """The numpy Luby kernel vs the superstep loop (forced via a zero
    edge cutoff) — bit-exact (all-integer md5 priorities), for the plain
    MIS and the iterated coloring."""
    import random

    from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
        mis as mmod,
    )

    rng = random.Random(23)
    edges = sorted({(rng.randrange(50), rng.randrange(50)) for _ in range(170)})
    edges = [(u, v) for u, v in edges if u != v]
    ndf = spark.createDataFrame(
        [(i,) for i in sorted({x for e in edges for x in e} | {99})],
        "node long",
    )
    edf = spark.createDataFrame(edges, "src long, dst long")

    def run():
        m = sorted(
            map(tuple, mmod.luby_mis(ndf, edf, seed=29, max_rounds=12).collect())
        )
        c = sorted(
            map(
                tuple,
                mmod.jones_plassmann_coloring(
                    ndf, edf, seed=31, max_colors=8, max_rounds=12
                ).collect(),
            )
        )
        return m, c

    local = run()
    saved = mmod.LOCAL_EDGE_THRESHOLD
    mmod.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = run()
    finally:
        mmod.LOCAL_EDGE_THRESHOLD = saved
    assert local == dist
    assert local[0] and local[1]
    # the isolated node 99 must be in the MIS and colored 0
    assert (99, True) in local[0] and (99, 0) in local[1]


def test_luby_mis_local_strict_raises(spark):
    import pytest as _pytest

    from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
        mis as mmod,
    )

    # a triangle cannot finish in 0 rounds
    ndf = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    edf = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="converge"):
        mmod.luby_mis(ndf, edf, seed=29, max_rounds=0)


def test_walk_corpus_single_pass_matches_superstep(spark):
    """The one-aggregate successor-map plan vs the per-step superstep
    loop (forced via the dedicated single-pass bound): identical walks —
    the hash payloads are identical ("v|dst|t"), only the plan differs.
    Checked against both loop variants (broadcast and shuffled)."""
    import random

    from personalized_pagerank_algorithms_on_neo4j_spark.functions import (
        walks as wmod,
    )

    rng = random.Random(13)
    edges = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(260)})
    edges = [(u, v) for u, v in edges if u != v]
    edf = spark.createDataFrame(edges, "src long, dst long")

    def run():
        return sorted(
            map(
                tuple,
                wmod.walk_corpus(spark, edf, length=8, seed=3).collect(),
            )
        )

    fast = run()
    saved_sp, saved_bb = wmod._SINGLE_PASS_BOUND, wmod.BROADCAST_NODE_BOUND
    try:
        wmod._SINGLE_PASS_BOUND = -1
        loop_broadcast = run()
        wmod.BROADCAST_NODE_BOUND = -1
        loop_shuffled = run()
    finally:
        wmod._SINGLE_PASS_BOUND = saved_sp
        wmod.BROADCAST_NODE_BOUND = saved_bb
    assert fast == loop_broadcast == loop_shuffled and fast


# ---------------------------------------------------------------------------
# BPE driver-local corpus kernels (round-12 optimization, batch 5)
# ---------------------------------------------------------------------------

_BPE_DOCS = [
    # chain overlaps (greedy left fuse), repeated-token runs, double
    # spaces, leading/trailing spaces, an empty doc, count ties
    (1, "a a a a b b"),
    (2, "  the cat  sat on the mat "),
    (3, "a b a b a"),
    (4, ""),
    (5, "x y x y x y z"),
    (6, "the the the cat cat"),
    (7, "q"),
]


def _bpe_docs_df(spark):
    return spark.createDataFrame(_BPE_DOCS, "doc_id long, text string")


def _with_distributed_bpe(fn):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import bpe

    saved = bpe.LOCAL_TEXT_BYTES
    bpe.LOCAL_TEXT_BYTES = -1
    try:
        return fn()
    finally:
        bpe.LOCAL_TEXT_BYTES = saved


def test_bpe_merges_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import bpe

    df = _bpe_docs_df(spark)

    def run():
        return sorted(map(tuple, bpe.bpe_merges(df, rounds=6).collect()))

    local = run()
    dist = _with_distributed_bpe(run)
    assert local == dist and local


def test_bpe_compression_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import bpe

    df = _bpe_docs_df(spark)

    def run():
        return sorted(map(tuple, bpe.bpe_compression(df, rounds=6).collect()))

    local = run()
    dist = _with_distributed_bpe(run)
    assert local == dist
    # the empty doc must survive as one empty symbol on both paths
    assert (4, 1, 1) in local


def test_bpe_batched_trainer_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import bpe

    df = _bpe_docs_df(spark)

    def run():
        return bpe.bpe_merges_batched(df, schedule=[4, 2, 2])

    local = run()
    dist = _with_distributed_bpe(run)
    assert local == dist and local


def test_bpe_longest_match_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import bpe

    df = _bpe_docs_df(spark)
    merges = bpe.bpe_merges_batched(df, schedule=[4, 2])
    pieces = [f"{l}_{r}" for _, _, l, r, _ in merges]

    def run():
        return sorted(
            map(tuple, bpe.bpe_longest_match_counts(df, pieces).collect())
        )

    local = run()
    dist = _with_distributed_bpe(run)
    assert local == dist and local
    # empty vocab: every word is its own token, both paths
    def run_empty():
        return sorted(
            map(tuple, bpe.bpe_longest_match_counts(df, []).collect())
        )

    assert run_empty() == _with_distributed_bpe(run_empty)


def test_bpe_longest_match_local_round_bound_raises(spark):
    import pytest as _pytest

    from personalized_pagerank_algorithms_on_neo4j_spark.functions import bpe

    df = spark.createDataFrame(
        [(1, " ".join(["w"] * 40))], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="doubling rounds"):
        bpe.bpe_longest_match_counts(df, ["w_w"], oracle_round_bound=2)


def test_bpe_exact_apply_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import bpe

    df = _bpe_docs_df(spark)
    merges = [(l, r) for _, _, l, r, _ in bpe.bpe_merges_batched(df, schedule=[4, 2, 2])]
    # adversarial extras: a duplicate rule, a rule over a merged piece,
    # and a rule whose pair never occurs
    merges = merges + [("a", "b"), ("a_a", "a_a"), ("never", "matches")]

    def run():
        return sorted(
            map(
                tuple,
                bpe.bpe_exact_apply_counts(df, merges, with_stream=True).collect(),
            )
        )

    local = run()
    dist = _with_distributed_bpe(run)
    assert local == dist and local


def test_bpe_corpus_gate_refuses_nonascii_and_nulls(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import bpe

    non_ascii = spark.createDataFrame(
        [(1, "café au lait"), (2, "plain text")], "doc_id long, text string"
    )
    assert bpe._collect_corpus(non_ascii, "text", id_col="doc_id") is None
    with_null = spark.createDataFrame(
        [(1, "plain"), (2, None)], "doc_id long, text string"
    )
    assert bpe._collect_corpus(with_null, "text", id_col="doc_id") is None
    # ...and the public operator still answers through the distributed path
    assert bpe.bpe_merges(non_ascii, rounds=2).count() == 2


# ---------------------------------------------------------------------------
# Driver-local triangle kernel (round-12 optimization, batch 6)
# ---------------------------------------------------------------------------

def _tri_graph(spark):
    # hub + overlapping triangles + chain + isolated edge + self-loop +
    # both directions of one edge (dedup) — the orientation edge cases
    es = (
        [(0, 1), (1, 2), (2, 0), (0, 2)]      # triangle, one dup edge
        + [(0, 3), (3, 1)]                     # second triangle on (0, 1)
        + [(0, i) for i in range(4, 9)]        # hub fan (no closures)
        + [(4, 5), (5, 6), (6, 4)]             # disjoint triangle
        + [(7, 7), (10, 11)]                   # self-loop, isolated edge
    )
    return spark.createDataFrame(es, "src long, dst long")


def _with_distributed_tri(fn):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import (
        graphstats as gs,
    )

    saved = gs.LOCAL_EDGE_THRESHOLD
    gs.LOCAL_EDGE_THRESHOLD = -1
    try:
        return fn()
    finally:
        gs.LOCAL_EDGE_THRESHOLD = saved


def test_triangle_counts_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import (
        graphstats as gs,
    )

    df = _tri_graph(spark)

    def run():
        return sorted(map(tuple, gs.triangle_counts(df).collect()))

    local = run()
    dist = _with_distributed_tri(run)
    assert local == dist and local


def test_k_truss_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import (
        graphstats as gs,
    )

    df = _tri_graph(spark)
    for k in (2, 3, 4):
        def run():
            return sorted(map(tuple, gs.k_truss(df, k=k).collect()))

        local = run()
        dist = _with_distributed_tri(run)
        assert local == dist, k
    # k=2 keeps support-0 edges; k=4 must actually peel something
    assert len(_with_distributed_tri(lambda: gs.k_truss(df, k=2).collect())) > len(
        gs.k_truss(df, k=4).collect()
    )


def test_k_truss_local_max_rounds_raises(spark):
    import pytest as _pytest

    from personalized_pagerank_algorithms_on_neo4j_spark.functions import (
        graphstats as gs,
    )

    # a 5-clique peels under k=5 over >1 round with max_rounds=1 -> raise
    es = [(u, v) for u in range(5) for v in range(u + 1, 5)] + [(0, 9)]
    df = spark.createDataFrame(es, "src long, dst long")
    with _pytest.raises(RuntimeError, match="converge"):
        gs.k_truss(df, k=5, max_rounds=1)


def test_tri_kernel_wedge_budget_falls_through(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import (
        graphstats as gs,
    )

    df = _tri_graph(spark)
    base = sorted(map(tuple, gs.triangle_counts(df).collect()))
    saved = gs._TRI_WEDGE_BUDGET
    gs._TRI_WEDGE_BUDGET = 0  # every wedge set over budget
    try:
        assert sorted(map(tuple, gs.triangle_counts(df).collect())) == base
        assert sorted(map(tuple, gs.k_truss(df, k=3).collect()))
    finally:
        gs._TRI_WEDGE_BUDGET = saved


# ---------------------------------------------------------------------------
# HyperBall register kernel (round-12 optimization, batch 7)
# ---------------------------------------------------------------------------

def test_hyperball_local_matches_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark import graph as gmod
    from personalized_pagerank_algorithms_on_neo4j_spark.graph import (
        PropertyGraph,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.hyperball import (
        hyperball,
    )

    nodes = spark.createDataFrame(
        [(i, f"n{i}") for i in range(14)], "id long, name string"
    )
    es = (
        [(i, i + 1) for i in range(12)]
        + [(0, 5), (5, 0), (3, 3), (7, 2), (9, 13), (13, 9)]
    )
    edges = spark.createDataFrame(es, "src long, dst long")
    g = PropertyGraph(spark, nodes, edges, nodes_cover_edges=True)

    def run():
        return sorted(map(tuple, hyperball(g, radius=3, p=4).collect()))

    local = run()
    saved = gmod.LOCAL_EDGE_THRESHOLD
    gmod.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = run()
    finally:
        gmod.LOCAL_EDGE_THRESHOLD = saved
    assert local == dist and local
    # every node must carry a row at every radius on both paths
    assert len(local) == 3 * 14


# ---------------------------------------------------------------------------
# Driver-local repair twins (round-12 optimization, batch 8)
# ---------------------------------------------------------------------------

def _repair_fixture(spark):
    from pyspark.sql import functions as F

    # old graph with a dangling source (5), a hub (0), and a source (7)
    # that loses its LAST edge in the delete batch
    old = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 0), (3, 4), (4, 0), (7, 1)]
    ins = [(5, 0), (1, 3), (0, 4)]     # 5 was dangling; 0/1 gain degree
    dele = [(7, 1), (0, 2)]            # 7 loses its last edge
    oe = spark.createDataFrame(old, "src long, dst long")
    ie = spark.createDataFrame(ins, "src long, dst long")
    de = spark.createDataFrame(dele, "src long, dst long")
    tg = spark.createDataFrame([(2,), (4,)], "target long")
    return oe, ie, de, tg


def test_repair_twins_local_match_distributed(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import (
        dynamic_ppr as dp,
    )

    oe, ie, de, tg = _repair_fixture(spark)
    alpha = 1.0 / 7.0

    def lifecycle():
        st0 = dp.reverse_push_state(spark, oe, tg, 1e-4, alpha)
        rep1 = dp.repair_on_insert(st0, oe, ie, alpha)
        rep2 = dp.repair_on_delete(rep1, oe.unionAll(ie), de, alpha)
        return sorted(
            (t, n, round(r, 9), round(p, 9))
            for t, n, r, p in rep2.collect()
        )

    local = lifecycle()
    saved = dp.LOCAL_EDGE_THRESHOLD
    dp.LOCAL_EDGE_THRESHOLD = -1
    try:
        dist = lifecycle()
    finally:
        dp.LOCAL_EDGE_THRESHOLD = saved
    # zero-zero rows are legitimately absent on the local path; compare
    # the nonzero state, which is what every downstream consumer reads
    local_nz = [r for r in local if r[2] != 0 or r[3] != 0]
    dist_nz = [r for r in dist if r[2] != 0 or r[3] != 0]
    assert local_nz == dist_nz and local_nz
    # the repair must actually perturb something at the touched sources
    assert any(r[2] != 0 for r in local_nz)
