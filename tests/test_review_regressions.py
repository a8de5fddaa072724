"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import personalized_pagerank_algorithms_on_neo4j_spark as P
from personalized_pagerank_algorithms_on_neo4j_spark.config import TopkConf
from personalized_pagerank_algorithms_on_neo4j_spark.operators import _kernels
from personalized_pagerank_algorithms_on_neo4j_spark.operators.asof import asof_join


def test_topk_conf_k_equals_n():
    """k == n used to divide by log(1) == 0."""
    c = TopkConf(alpha=0.15, n=10, m=30, k=10)
    assert np.isfinite(c.pfail) and c.pfail > 0
    c2 = TopkConf(alpha=0.15, n=10, m=30, k=50)  # k > n clamps
    assert c2.k <= 10 and np.isfinite(c2.pfail)


def test_fora_topk_kernel_k_equals_n(got):
    lg = got.local
    s = lg.dense(got.id_of("Eddard"))
    rng = np.random.default_rng(5)
    pi = _kernels.fora_topk(lg, s, 0.15, 0.5, lg.n, lg.m, rng)  # k == n
    assert np.isfinite(pi).all() and pi.sum() > 0


def test_asof_join_preserves_duplicate_left_rows(spark):
    left = spark.createDataFrame(
        [(1, 100), (1, 100), (2, 100)], "k long, ts long"  # two identical rows
    )
    right = spark.createDataFrame(
        [(1, 50, 7), (1, 90, 8), (2, 200, 9)], "k long, ts long, rid long"
    )
    inner = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                      right_tiebreak="rid", how="inner")
    rows = inner.collect()
    assert len(rows) == 2  # both duplicate left rows survive
    assert all(r["r_rid"] == 8 for r in rows)  # latest right at ts<=100
    outer = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                      right_tiebreak="rid", how="left")
    assert outer.count() == 3
    unmatched = [r for r in outer.collect() if r["k"] == 2]
    assert unmatched[0]["r_rid"] is None  # right ts 200 > left 100


def test_local_graph_rejects_unknown_edge_endpoints(spark):
    nodes = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    edges = spark.createDataFrame([(1, 2), (1, 99)], "src long, dst long")
    g = P.PropertyGraph(spark, nodes, edges)
    with pytest.raises(ValueError, match="absent from nodes table"):
        _ = g.local


def test_empty_docs_do_not_dedup_together(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import dedup

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real text here")], "doc_id long, text string"
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.1, n=3)
    assert pairs.count() == 0  # empty docs share no shingles anymore


def test_asof_strategies_agree(spark):
    """ranked vs pandas as-of strategies must return identical matches,
    including right_ts ties (max-tiebreak wins) and strict mode."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 1, 105), (3, 1, 110), (4, 2, 100), (5, 3, 50)],
        "lid long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(1, 100, 7), (1, 100, 9), (1, 105, 3), (2, 90, 1), (3, 60, 2)],
        "k long, ts long, v long",
    )
    for strict in (False, True):
        ranked = asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_tiebreak="v", strict=strict, how="left", strategy="ranked",
        )
        pandas_ = asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_tiebreak="v", strict=strict, how="left", strategy="pandas",
        )
        def key(rows):
            return sorted(
                (r["lid"], r["r_ts"], r["r_v"]) for r in rows
            )
        assert key(ranked.collect()) == key(pandas_.collect()), f"strict={strict}"

    auto = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_tiebreak="v", how="left", strategy="auto",
    )
    assert auto.count() == 5


# ---------------------------------------------------------------------------
# Round-2 review findings
# ---------------------------------------------------------------------------


def test_minhash_lsh_rejects_nondivisible_bands(spark):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import dedup

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_lsh_candidates(df, num_hashes=16, bands=3)


def test_asof_pandas_rejects_missing_tiebreak(spark):
    left = spark.createDataFrame([(1, 100)], "k long, ts long")
    right = spark.createDataFrame([(1, 50, 7)], "k long, ts long, v long")
    with pytest.raises(ValueError, match="not in right columns"):
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_tiebreak="vv", strategy="pandas",
        )


def test_dedup_clusters_strict_raises_on_truncation(spark):
    """A chain deeper than max_iters must fail loudly, not return a split
    component; with enough iterations the same chain converges to one
    cluster."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not reach"):
        dedup.dedup_clusters(chain, max_iters=2).collect()
    truncated = dedup.dedup_clusters(chain, max_iters=2, strict=False)
    assert truncated.count() == 10  # bounded-depth labels still returned
    full = dedup.dedup_clusters(chain, max_iters=20)
    labels = {r["cluster_id"] for r in full.collect()}
    assert labels == {0}  # one component, min-id canonical label


def test_ngram_jaccard_tolerates_duplicate_doc_rows(spark):
    """A re-appended duplicate row of the same document must not inflate
    common counts / n_sh (jaccard stays identical to the unique input)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
    ]
    uniq = spark.createDataFrame(rows, "doc_id long, text string")
    dup = spark.createDataFrame(rows + [rows[0]], "doc_id long, text string")
    key = lambda df: sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.1, n=3).collect()
    )
    assert key(dup) == key(uniq) and len(key(uniq)) == 1


def test_dangling_nodes_cover_edge_only_endpoints(spark):
    """A dst id absent from the nodes table still gets a virtual dangling
    edge, so distributed push supersteps conserve probability mass."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import power_method

    nodes = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    edges = spark.createDataFrame([(1, 2), (1, 99)], "src long, dst long")
    g = P.PropertyGraph(spark, nodes, edges)
    dang = {r["node"] for r in g.dangling_nodes.collect()}
    assert dang == {2, 99}
    # conservation: alpha of the live residue banks into reserve each
    # superstep, so after k steps sum(reserve) == 1 - (1-alpha)^k exactly —
    # a leaked virtual edge (pre-fix: node 99) would fall visibly short
    df = power_method.power_method(g, 1, 0.15, 8, mode="distributed")
    mass = df.agg(F.sum("ppr").alias("m")).collect()[0]["m"]
    assert abs(mass - (1.0 - 0.85**8)) < 1e-12


def test_sample_query_nodes_partition_invariant(spark):
    """The benchmark source pool must be a pure function of (ids, seed) —
    identical across partition layouts, uniform over the whole id range."""
    from personalized_pagerank_algorithms_on_neo4j_spark.bench_driver import (
        sample_query_nodes,
    )

    ids = [(i, f"n{i}") for i in range(1000)]
    edges_rows = [(i, (i + 1) % 1000) for i in range(1000)]
    picks = []
    for nparts in (1, 8):
        nodes = spark.createDataFrame(ids, "id long, name string").repartition(nparts)
        edges = spark.createDataFrame(edges_rows, "src long, dst long")
        g = P.PropertyGraph(spark, nodes, edges)
        picks.append(sample_query_nodes(g, 50, seed=7))
    assert picks[0] == picks[1]
    # not clustered in the low-id prefix: hash order reaches the upper range
    assert max(picks[0]) > 500
