"""Round-12 operators: the end-to-end corpus-build composition
(functions/corpus.corpus_pipeline) and the MIXED insert+delete dynamic-PPR
maintenance (the repair composition the `ppr_incremental_mixed` driver key
gates)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as E
import __spark_entry_ext__ as X

from personalized_pagerank_algorithms_on_neo4j_spark.functions.corpus import (
    corpus_pipeline,
)
from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
    invariant_residual,
    repair_on_delete,
    repair_on_insert,
    reverse_push_state,
)

from .conftest import SF_ORACLE

ALPHA = 1.0 / 7.0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# corpus_pipeline: synthetic stage-drop fixture — every gate provably binds
# ---------------------------------------------------------------------------

# ~50 tokens of stopword-rich English: quality ~1.0, lang_pred 'en'
_GOOD = (
    "the cat and the dog is in the house with a tree and the bird "
    "on the roof is that the sun and the rain are here for a day "
    "and the night is long but the morning is near and all of it "
    "is what the world has for the people in the town by the sea"
)
_BENCH = (
    "the benchmark evaluation suite holds these exact questions and "
    "the answers to them are fixed so that the training corpus must "
    "never contain this text or the eval is compromised for good"
)


def _fixture(spark):
    corpus = spark.createDataFrame(
        [
            # 1: the keeper
            (1, "s1", _GOOD),
            # 2: exact duplicate of 1 modulo whitespace -> exact-dedup drop
            (2, "s1", _GOOD.replace(" the ", "  the ")),
            # 3: near-dup of 1 (shared prefix, ~10% shingles differ) and
            #    SHORTER, so survivor election keeps doc 1 -> LSH drop
            (3, "s1", _GOOD[: len(_GOOD) - 60]),
            # 4: non-English -> language-gate drop
            (4, "s1", "der hund und die katze sind in dem haus und der "
                      "baum ist da und die sonne ist hier und das ist gut"),
            # 5: punctuation junk, short -> quality-gate drop
            (5, "s1", "@@@ ### !!! $$$ %%% ^^^ &&& *** ((( )))"),
            # 6: verbatim benchmark text -> decontamination drop
            (6, "s1", _BENCH),
        ],
        "doc_id long, source string, text string",
    )
    bench = spark.createDataFrame(
        [(100, "bench", _BENCH)], "doc_id long, source string, text string"
    )
    return corpus, bench


def test_corpus_pipeline_every_stage_binds(spark):
    """Each of the six stages drops exactly its designated fixture doc:
    only doc 1 reaches packing, as one pack holding its token count."""
    corpus, bench = _fixture(spark)
    out = corpus_pipeline(
        corpus, bench, mix_budget=10_000, pack_budget=512
    ).collect()
    assert len(out) == 1, out
    row = out[0]
    n_tok_1 = len(_GOOD.split())
    assert row.n_docs == 1
    assert row.pack_tokens == n_tok_1
    assert row.first_doc == 1 and row.last_doc == 1
    assert row.pack == 0


def test_corpus_pipeline_mix_budget_binds(spark):
    """With a budget below doc 1's token count the mixture stage drops it
    too — the pipeline returns an empty pack set, not an error."""
    corpus, bench = _fixture(spark)
    out = corpus_pipeline(
        corpus, bench, mix_budget=10, pack_budget=512
    ).collect()
    assert out == []


# ---------------------------------------------------------------------------
# corpus_pipeline: the driver key at compare scale
# ---------------------------------------------------------------------------


def test_corpus_pipeline_gate_scale_invariants(spark):
    """The sf0.01 driver result: every injected exact clone (doc_id >=
    CP_CLONE_OFFSET) is dropped by the exact-dedup stage, pack numbering
    is contiguous per bucket, and the mixture keeps a strict subset of
    the corpus (the 700-token budget binds)."""
    rows = E.queries()["corpus_pipeline"](spark, SF_ORACLE).collect()
    assert rows
    # exact dedup dropped every clone: clone ids never the min of a group
    assert all(r.last_doc < X.CP_CLONE_OFFSET for r in rows)
    # measured stage sizes at sf0.01 (oracle-verified in the entry gate):
    # 488 base -> 300 quality -> 293 exact -> 280 near -> 279 decon -> 162 mix
    assert sum(r.n_docs for r in rows) == 162
    by_bucket: dict[int, list[int]] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r.pack)
    assert set(by_bucket) == set(range(X.CP_PACK_BUCKETS))
    for b, packs in by_bucket.items():
        assert sorted(packs) == list(range(len(packs))), (b, packs)
    # interval packing conserves tokens: a pack holds >= 1 doc and the
    # whole mixture's tokens are partitioned across packs (no doc lost)
    assert all(r.n_docs >= 1 for r in rows)


def test_corpus_pipeline_no_rescan_after_checkpoints(spark):
    """The returned plan reads ONLY checkpointed frames: zero FileScans
    (the parquet corpus is scanned once, before the first checkpoint),
    no Python UDFs, and the mix+pack tail is <= 6 exchanges (band agg,
    offsets window, in-band window, pack bucket, final agg)."""
    plan = _plan(E.queries()["corpus_pipeline"](spark, SF_ORACLE))
    assert "FileScan" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 6, plan[:1500]


# ---------------------------------------------------------------------------
# mixed insert+delete maintenance: the repair composition
# ---------------------------------------------------------------------------

OLD = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3), (4, 2)]
INS = [(0, 3), (4, 0), (5, 2)]   # includes a previously-absent source (5)
DEL = [(2, 3), (4, 2)]           # (4,2) is node 4's last old edge (d'=0 on
                                 # the old graph... but 4 gains (4,0) first)


def _mixed_frames(spark):
    oe = spark.createDataFrame(OLD, "src long, dst long")
    ie = spark.createDataFrame(INS, "src long, dst long")
    de = spark.createDataFrame(DEL, "src long, dst long")
    tg = spark.createDataFrame([(0,), (3,)], "target long")
    mid = oe.unionAll(ie)
    fin = (
        mid.join(de.withColumn("_d", F.lit(True)), ["src", "dst"], "left")
        .where(F.col("_d").isNull())
        .select("src", "dst")
    )
    return oe, ie, de, mid, fin, tg


def _max_defect(state, edges):
    return (
        invariant_residual(state, edges, ALPHA)
        .agg(F.max(F.abs("res")))
        .collect()[0][0]
    )


def test_mixed_repair_composes(spark):
    """Sequential composition maintains the validity identity at every
    boundary: st0 valid on OLD, insert repair valid on OLD+INS, delete
    repair (against the post-insert graph) valid on the FINAL graph, and
    the resume restores |r| <= rmax there."""
    oe, ie, de, mid, fin, tg = _mixed_frames(spark)
    st0 = reverse_push_state(spark, oe, tg, 1e-3, ALPHA)
    assert _max_defect(st0, oe) < 1e-12
    rep1 = repair_on_insert(st0, oe, ie, ALPHA).localCheckpoint(eager=True)
    assert _max_defect(rep1, mid) < 1e-12
    rep2 = repair_on_delete(rep1, mid, de, ALPHA).localCheckpoint(eager=True)
    assert _max_defect(rep2, fin) < 1e-12
    st1 = reverse_push_state(
        spark, fin, tg, 1e-3, ALPHA, state=rep2
    )
    assert _max_defect(st1, fin) < 1e-12
    assert st1.agg(F.max(F.abs("residue"))).collect()[0][0] <= 1e-3


def test_mixed_matches_recompute(spark):
    """At rmax -> 0 the maintained state converges to the same PPR vector
    as a from-scratch push on the final graph."""
    oe, ie, de, mid, fin, tg = _mixed_frames(spark)
    st0 = reverse_push_state(spark, oe, tg, 1e-3, ALPHA)
    rep1 = repair_on_insert(st0, oe, ie, ALPHA)
    rep2 = repair_on_delete(rep1, mid, de, ALPHA).localCheckpoint(eager=True)
    inc = reverse_push_state(
        spark, fin, tg, 1e-9, ALPHA, state=rep2,
        max_supersteps=500,
    )
    scr = reverse_push_state(spark, fin, tg, 1e-9, ALPHA, max_supersteps=500)
    a = {(r.target, r.node): r.reserve for r in scr.collect()}
    b = {(r.target, r.node): r.reserve for r in inc.collect()}
    assert a and b
    diff = max(abs(a.get(k, 0.0) - b.get(k, 0.0)) for k in set(a) | set(b))
    assert diff < 1e-8, diff


# ---------------------------------------------------------------------------
# PPR-Nibble: planted-community fixture + oracle depth guard
# ---------------------------------------------------------------------------


def test_ppr_nibble_finds_planted_cut(spark):
    """Two 4-cliques joined by ONE bridge edge: seeded in clique A, the
    minimum-conductance sweep prefix is exactly clique A (cut 1,
    vol 13 = 4*3 + bridge, phi = 1/13)."""
    import personalized_pagerank_algorithms_on_neo4j_spark as P
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.nibble import (
        ppr_nibble,
    )

    a = [(i, j) for i in range(4) for j in range(4) if i < j]
    b = [(i + 4, j + 4) for i, j in a]
    edges = spark.createDataFrame(
        a + b + [(0, 4)], "src long, dst long"
    )
    nodes = spark.createDataFrame(
        [(i, f"n{i}") for i in range(8)], "id long, name string"
    )
    g = P.PropertyGraph(spark, nodes, edges)
    rows = ppr_nibble(g, seed=1, rmax=1e-6, alpha=0.15).collect()
    best = sorted(r.node for r in rows if r.in_best)
    assert best == [0, 1, 2, 3], rows
    by_rank = {r.rank: r for r in rows}
    cut_row = by_rank[max(r.rank for r in rows if r.in_best)]
    assert cut_row.cut == 1 and cut_row.vol == 13
    assert abs(cut_row.phi - 1.0 / 13.0) < 1e-9


def test_ppr_nibble_oracle_depth_covers_convergence(spark):
    """NIBBLE_STEPS must dominate the kernel's actual superstep count on
    the symmetrized compare-scale graph (the FWD_STEPS guard discipline)."""
    from personalized_pagerank_algorithms_on_neo4j_spark import PropertyGraph
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import _kernels
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.nibble import (
        symmetrize,
    )
    from .conftest import SF_ORACLE

    g = E._graph(spark, SF_ORACLE)
    ug = PropertyGraph(spark, g.nodes, symmetrize(g.edges))
    lg = ug.local
    seed = E._source(g)
    assert lg.out_deg[lg.dense(seed)] > 0  # the oracle's non-isolated
    # precondition (an isolated seed short-circuits before the chain)
    _, _, steps = _kernels.forward_push_batch(
        lg, lg.dense(seed), 0.15, X.NIBBLE_RMAX
    )
    assert steps <= X.NIBBLE_STEPS, f"nibble needs {steps} > {X.NIBBLE_STEPS}"


# ---------------------------------------------------------------------------
# Contrastive pair mining
# ---------------------------------------------------------------------------


def test_contrastive_pairs_labels(spark):
    """Within one cell: near-parallel pair -> 'pos', low-cosine pair ->
    'neg', the ambiguous band emitted under neither; cross-cluster pairs
    never appear."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.dedup import (
        contrastive_pairs,
    )

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (8 - len(xs))

    rows = [
        # kmeans_fit seeds centroids from the k LOWEST ids — ids 0 and 1
        # anchor the two groups so the cells separate cleanly
        (0, v(1.0, 0.02)),       # group A anchor
        (1, v(0, 0, 0, 1.0)),    # group B anchor
        (2, v(1.0, 0.03)),       # cos(0,2) ~ 0.999 -> pos
        (3, v(1.0, 0.9)),        # cos(0,3) ~ 0.76 -> ambiguous at 0.9/0.4
        (4, v(1.0, 2.5)),        # cos(0,4) ~ 0.39 -> neg
        (10, v(0, 0, 0, 1.0, 0.05)),  # cos(1,10) ~ 0.999 -> pos
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.label
        for r in contrastive_pairs(
            df, k=2, iterations=2, pos_threshold=0.9, neg_threshold=0.4
        ).collect()
    }
    assert got.get((0, 2)) == "pos"
    assert got.get((1, 10)) == "pos"
    assert got.get((0, 4)) == "neg"
    assert (0, 3) not in got  # ambiguous band: neither label
    assert all(
        not ({a, b} & {0, 2, 3, 4} and {a, b} & {1, 10}) for a, b in got
    )


def test_contrastive_pairs_threshold_contract(spark):
    import pytest as _pytest

    from personalized_pagerank_algorithms_on_neo4j_spark.functions.dedup import (
        contrastive_pairs,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="exceed"):
        contrastive_pairs(df, pos_threshold=0.3, neg_threshold=0.5)


# ---------------------------------------------------------------------------
# corpus_funnel: the data-card row set
# ---------------------------------------------------------------------------


def test_corpus_funnel_matches_pipeline_stages(spark):
    """The funnel's stage counts at compare scale equal the measured
    chain (488 base -> 300 quality -> 293 exact -> 280 near -> 279 decon
    -> 162 mixture), counts decrease monotonically, and the mixture row
    agrees with the flagship key's pack summary doc-for-doc and
    token-for-token."""
    rows = {r.stage: r for r in E.queries()["corpus_funnel"](
        spark, SF_ORACLE
    ).collect()}
    assert [rows[s].n_docs for s in (
        "base", "quality", "exact", "near_dup", "decontaminated", "mixture"
    )] == [488, 300, 293, 280, 279, 162]
    order = ["base", "quality", "exact", "near_dup", "decontaminated",
             "mixture"]
    assert [rows[s].stage_no for s in order] == list(range(6))
    toks = [rows[s].n_tokens for s in order]
    assert all(a >= b for a, b in zip(toks, toks[1:]))
    packs = E.queries()["corpus_pipeline"](spark, SF_ORACLE).collect()
    assert sum(p.n_docs for p in packs) == rows["mixture"].n_docs
    assert sum(p.pack_tokens for p in packs) == rows["mixture"].n_tokens


# ---------------------------------------------------------------------------
# DOULION sampled triangles
# ---------------------------------------------------------------------------


def test_doulion_denom1_equals_exact(spark):
    """At p = 1 (denom=1) the estimate IS the exact global triangle
    count — cross-checked against triangle_counts' per-node sum / 3."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.graphstats import (
        triangle_count_sampled, triangle_counts,
    )

    g = E._graph(spark, SF_ORACLE)
    row = triangle_count_sampled(g.edges, seed=3, denom=1).collect()[0]
    assert row.n_edges_sampled == row.n_edges_und
    exact = (
        triangle_counts(g.edges)
        .agg(F.sum("n_triangles").alias("s"))
        .collect()[0]["s"]
    )
    assert row.triangles_est == row.triangles_sampled == exact // 3
    assert exact % 3 == 0


def test_doulion_sampled_subgraph_properties(spark):
    """At denom=2 the sample is a strict subset, the sampled triangle
    count is bounded by the exact count, and the estimate is the exact
    integer 8x scale of the sampled count."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.graphstats import (
        triangle_count_sampled,
    )

    g = E._graph(spark, SF_ORACLE)
    row = triangle_count_sampled(g.edges, seed=3, denom=2).collect()[0]
    assert 0 < row.n_edges_sampled < row.n_edges_und
    assert row.triangles_est == row.triangles_sampled * 8
