"""Overflow registration surface for `__spark_entry__.py`.

The entry file carries a 6,000-line budget (it breached 5,994/6,000 at
round 8); registration blocks past that budget live here.  The entry
module imports this file at its merge point and calls
``register(ctx)`` with its module globals — registrations land in the
SAME ``_REGISTRY_Q`` / ``_REGISTRY_SQL`` dicts the driver reads, so
``queries()`` / ``oracle_sql()`` in ``__spark_entry__`` remain the single
driver surface.  This module never imports ``__spark_entry__`` (the ctx
hand-off keeps the import graph acyclic); shared entry-level fixtures
(`_t`, `_graph`, `ALPHA`, the URL/shingle SQL fragments) are injected
into this module's globals by ``register`` BEFORE any query callable can
run, so the relocated bodies below resolve them exactly as they did
in-place.

Relocated here at round 9: entry blocks 42-45 and 49 (snapshot
PageRank, ANN recall, dedup-candidate evaluation, URL crawl policy,
cross-snapshot edge diff — all r6-era, driver-observed green in r6).
Round-9+ registrations are appended below and listed in ``R9_NEW``,
which the entry's window-priority block (Block 27) imports.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from personalized_pagerank_algorithms_on_neo4j_spark.functions import (
    dedup as _dedup,
)
from personalized_pagerank_algorithms_on_neo4j_spark.functions import (
    urlnorm as _urlnorm,
)
from personalized_pagerank_algorithms_on_neo4j_spark.sources.tpch_graph import (
    GRAPH_EDGES_SQL,
    GRAPH_NODES_SQL,
    NATION_BASE,
    SUPP_BASE,
)

# Shared entry fixtures injected by register(); named here so linters and
# readers know exactly which names cross the boundary.
_SHARED_FROM_ENTRY = (
    "_t",
    "_graph",
    "ALPHA",
    "_SQL_NGRAM_PAIRS_05",
    "_URL_FIXTURE_EXPR",
    "_source",
    "_cents",
    "_und_weighted_edges",
    "_und_weighted_int_sql",
    "_cluster_chain",
)

# Round-9 registrations, window-priority head for Block 27 (same contract
# as _R8_NEW: each key displaces the rotation-debt tail past position 50;
# COVERAGE.md r9 row + tests/test_entry.py ledger test updated in the same
# commit as any append).
R9_NEW: list[str] = [
    "bpe_encode",      # r9: batched-BPE vocab (256 merges) + longest-match apply
    "graph_kpaths",    # r9: Yen's K shortest paths (gds.shortestPath.yens)
    "temporal_motifs", # r9: delta-bounded temporal 2-path/triangle counts
    "betweenness_sampled",  # r9: Brandes-Pich pivot-sampled betweenness
    "graph_hyperball", # r9: HyperBall neighborhood-function estimates
    "graph_mis",       # r9: Luby's maximal independent set
    "graph_anf",       # r9: ANF / neighborhood-function summary (HyperBall)
    "graph_coloring",  # r9: Jones-Plassmann greedy coloring (iterated MIS)
    "graph_matching",  # r9: greedy maximal matching (Israeli-Itai style)
    "dedup_matching",  # r9: one-to-one near-dup doc pairing (LSH -> matching)
]

# Round-10 registrations (same window contract; closed at 7 with 29 debt
# keys draining this round — VERDICT r9 ask #1 wanted >= 25).
R10_NEW: list[str] = [
    "substring_dedup_spans",  # r10: ExactSubstr removal spans (Lee et al. 2022)
    "quantile_sketch",   # r10: mergeable level-sampling quantile sketch
    "graph_astar",       # r10: A* single-pair shortest path (ALT heuristic)
    "ppr_incremental",   # r10: dynamic BASE maintenance (residual repair)
    "contamination_spans",  # r10: substring-granularity decontamination
    "graph_louvain_refined",  # r10: connected-community refinement (Leiden)
    "hybrid_retrieval",  # r10: BM25 + embedding reciprocal-rank fusion
]

# Round-11 registrations (same window contract; closed at 3 so 32 of the
# 34-key r6-band debt remainder drains — VERDICT r10 ask #1 wanted >= 29;
# `semantic_dedup` additionally rides the r11 anchor slot per ask #4).
R11_NEW: list[str] = [
    "ppr_incremental_delete",  # r11: dynamic BASE maintenance, DELETE flavor
    "bpe_exact_apply",   # r11: exact merge-order BPE apply, vocab-independent
    "graph_astar_multi",  # r11: K-pair A* off ONE amortized landmark build
]

# Round-12 registrations (same window contract; VERDICT r11 ask #1 wants
# >= 28 debt keys re-observing, so with the 2 never-observed r11
# post-window keys + 14 family reps in-window this list holds at most 6;
# closed at 2 with 32 debt keys draining).
R12_NEW: list[str] = [
    "corpus_pipeline",  # r12: end-to-end corpus-build stage composition
    "ppr_incremental_mixed",  # r12: dynamic BASE repair, MIXED ins+del batch
]


# ---------------------------------------------------------------------------
# Block 42 (relocated): snapshot (time-sliced) PageRank
# ---------------------------------------------------------------------------
# operators/pagerank.pagerank_snapshots: per-order-year customer->supplier
# graphs (static nation edges in every snapshot), ALL years batched
# through one superstep loop with (year, node)-keyed state — the
# sssp_landmarks batching pattern applied to graphs-over-time.

PAGERANK_SNAP_ITERS = 6

SNAP_EDGES_SQL = f"""
SELECT snap, src, dst FROM (
  SELECT DISTINCT CAST(year(o.o_orderdate) AS BIGINT) AS snap,
         CAST(o.o_custkey AS BIGINT) AS src,
         CAST(l.l_suppkey + {SUPP_BASE} AS BIGINT) AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  UNION ALL
  SELECT y.snap, e.src, e.dst FROM (
    SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS snap FROM orders
  ) y CROSS JOIN (
    SELECT CAST(s_suppkey + {SUPP_BASE} AS BIGINT) AS src,
           CAST(s_nationkey + {NATION_BASE} AS BIGINT) AS dst
    FROM supplier
    UNION ALL
    SELECT CAST(c_custkey AS BIGINT), CAST(c_nationkey + {NATION_BASE} AS BIGINT)
    FROM customer
  ) e
)
"""


def _snap_edges(spark, sf_dir):
    """(snap, src, dst): the per-order-year snapshot edge table shared by
    `pagerank_snapshots` and `graph_snapshot_diff` (SQL twin:
    SNAP_EDGES_SQL)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    cs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.year("o_orderdate").cast("long").alias("snap"),
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + SUPP_BASE).cast("long").alias("dst"),
        )
        .distinct()
    )
    years = orders.select(
        F.year("o_orderdate").cast("long").alias("snap")
    ).distinct()
    static = supplier.select(
        (F.col("s_suppkey") + SUPP_BASE).cast("long").alias("src"),
        (F.col("s_nationkey") + NATION_BASE).cast("long").alias("dst"),
    ).unionAll(
        customer.select(
            F.col("c_custkey").cast("long").alias("src"),
            (F.col("c_nationkey") + NATION_BASE).cast("long").alias("dst"),
        )
    )
    return cs.unionByName(years.crossJoin(static).select("snap", "src", "dst"))


def q_pagerank_snapshots(spark, sf_dir):
    """Per-order-year PageRank trend over the customer->supplier->nation
    graph, every yearly snapshot batched through ONE superstep loop with
    (year, node)-keyed state (operators/pagerank.pagerank_snapshots)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.pagerank import (
        pagerank_snapshots,
    )

    g = _graph(spark, sf_dir)
    df = pagerank_snapshots(
        _snap_edges(spark, sf_dir), g.nodes, iterations=PAGERANK_SNAP_ITERS,
        alpha=ALPHA,
    )
    return df.select("snap", "node", F.round("score", 9).alias("score"))


# ---------------------------------------------------------------------------
# Block 43 (relocated): ANN recall evaluation (LSH index vs brute-force
# cosine)
# ---------------------------------------------------------------------------
# functions/simsearch.ann_recall: recall@k of the banded-LSH index against
# exact cosine over a probe set — the index-quality measurement loop.

ANN_RECALL_QUERIES = [0, 1, 2, 3, 4, 5, 6, 7]
ANN_RECALL_K = 10


def q_ann_recall(spark, sf_dir):
    """Recall@10 of the 16-dim/4-band LSH index vs brute-force cosine for
    eight probe vectors (functions/simsearch.ann_recall — index built
    once, probes equi-join it)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.simsearch import (
        ann_recall,
    )

    e = _t(spark, sf_dir, "embeddings")
    return ann_recall(
        e, query_ids=ANN_RECALL_QUERIES, k=ANN_RECALL_K, sketch_dims=16, bands=4
    )


def _ann_recall_oracle_sql(query_ids, k=10):
    """Replays ann_recall: the same sign-sketch bands and ROUND(cos, 6)
    scores as the simsearch_lsh / cosine_topk oracles, per probe."""
    cos = lambda a, b: (  # noqa: E731
        f"list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        f" / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
        f" * SQRT(list_sum(list_transform(range(1, 65), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))"
    )
    band = lambda col, b: f"CAST(FLOOR({col} / POW(2.0, {b * 4})) AS BIGINT) % 16"  # noqa: E731
    sketch16 = """(SELECT e2.vec_id, e2.embedding,
      CAST(list_sum(list_transform(range(0, 16),
           i -> CASE WHEN CAST(e2.embedding[i+1] AS DOUBLE) > 0
                     THEN CAST(POW(2.0, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sk16
    FROM embeddings e2)"""
    ctes = [
        f"""ar_sk AS MATERIALIZED (
  SELECT vec_id, embedding,
         {band('sk16', 0)} AS band0, {band('sk16', 1)} AS band1,
         {band('sk16', 2)} AS band2, {band('sk16', 3)} AS band3
  FROM {sketch16} t)"""
    ]
    ex_parts, ap_parts = [], []
    for qid in query_ids:
        ctes.append(
            f"""ar_q{qid} AS (
  SELECT embedding AS qe, band0 AS q0, band1 AS q1, band2 AS q2, band3 AS q3
  FROM ar_sk WHERE vec_id = {qid})"""
        )
        ctes.append(
            f"""ar_ex{qid} AS (
  SELECT CAST({qid} AS BIGINT) AS query_id, vec_id AS id FROM (
    SELECT s.vec_id, ROUND({cos('s.embedding', 'q.qe')}, 6) AS cosine
    FROM ar_sk s CROSS JOIN ar_q{qid} q)
  QUALIFY RANK() OVER (ORDER BY cosine DESC) <= {k})"""
        )
        ctes.append(
            f"""ar_ap{qid} AS (
  SELECT CAST({qid} AS BIGINT) AS query_id, vec_id AS id FROM (
    SELECT s.vec_id, ROUND({cos('s.embedding', 'q.qe')}, 6) AS cosine
    FROM ar_sk s CROSS JOIN ar_q{qid} q
    WHERE s.band0 = q.q0 OR s.band1 = q.q1 OR s.band2 = q.q2 OR s.band3 = q.q3)
  QUALIFY RANK() OVER (ORDER BY cosine DESC) <= {k})"""
        )
        ex_parts.append(f"SELECT * FROM ar_ex{qid}")
        ap_parts.append(f"SELECT * FROM ar_ap{qid}")
    ctes.append("ar_exact AS (" + "\nUNION ALL ".join(ex_parts) + ")")
    ctes.append("ar_approx AS (" + "\nUNION ALL ".join(ap_parts) + ")")
    ctes.append(
        """ar_ne AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM ar_exact GROUP BY 1)"""
    )
    ctes.append(
        """ar_nh AS (
  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM ar_exact e JOIN ar_approx a ON e.query_id = a.query_id AND e.id = a.id
  GROUP BY 1)"""
    )
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT ne.query_id, ne.n_exact,
       COALESCE(nh.n_hit, 0) AS n_hit,
       ROUND(CAST(COALESCE(nh.n_hit, 0) AS DOUBLE)
             / CAST(ne.n_exact AS DOUBLE), 6) AS recall
FROM ar_ne ne LEFT JOIN ar_nh nh ON ne.query_id = nh.query_id
"""


# ---------------------------------------------------------------------------
# Block 44 (relocated): dedup-candidate evaluation (LSH precision/recall vs
# exact Jaccard)
# ---------------------------------------------------------------------------
# The measurement loop for the dedup family, mirroring ann_recall for the
# ANN family: how many true near-dup pairs (exact shingle Jaccard >= 0.5)
# does the banded MinHash-LSH candidate generator find, and how much junk
# does it emit. Tuning bands/rows at corpus scale is exactly this tradeoff.


def q_dedup_eval(spark, sf_dir):
    """One metrics row (n_true, n_cand, n_hit, precision, recall): the
    MinHash-LSH candidate set (8 hashes x 4 bands) scored against exact
    3-shingle Jaccard >= 0.5 pairs."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    true_pairs = (
        _dedup.ngram_jaccard_pairs(d, threshold=0.5, n=3, max_shingle_df=1000)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)  # feeds the hit join AND its count
    )
    cands = (
        _dedup.minhash_lsh_candidates(d, num_hashes=8, bands=4, n=3)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    hits = true_pairs.join(cands, ["doc_a", "doc_b"], "left_semi")
    nt = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    nc = cands.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    nh = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.when(
                F.col("n_cand") > 0,
                F.round(
                    F.col("n_hit").cast("double") / F.col("n_cand").cast("double"),
                    6,
                ),
            ).alias("precision"),
            F.when(
                F.col("n_true") > 0,
                F.round(
                    F.col("n_hit").cast("double") / F.col("n_true").cast("double"),
                    6,
                ),
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Block 45 (relocated): URL crawl-policy filtering (robots-style
# longest-prefix rules)
# ---------------------------------------------------------------------------
# functions/urlnorm.url_policy_decisions over the shared URL fixture:
# every even-numbered site denies its /p/ content pages but re-allows the
# /p/1* subset — longest-match precedence, the robots.txt semantics.


def _url_policy_rules() -> list[tuple[str, bool]]:
    # the fixture's TLD comes from user_id % 3 INDEPENDENTLY of the site
    # number (user_id % 50), so each site appears under all three TLD
    # hosts — rules must cover every variant or 2/3 of an even site's
    # mentions silently default-allow
    rules = []
    for k in range(0, 50, 2):
        for tld in ("co.uk", "com", "org"):
            base = f"https://site{k}.example.{tld}/p/"
            rules.append((base, False))
            rules.append((base + "1", True))
    return rules


def q_url_policy(spark, sf_dir):
    """Crawl-policy report over canonicalized event urls: mentions and
    distinct pages per (host, allowed) under the longest-prefix-match
    rule set (functions/urlnorm.url_policy_decisions)."""
    e = _t(spark, sf_dir, "events").select(
        F.expr(_URL_FIXTURE_EXPR).alias("url")
    )
    dec = _urlnorm.url_policy_decisions(e, _url_policy_rules())
    return dec.groupBy("host", "allowed").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("canon").alias("n_pages"),
    )


# ---------------------------------------------------------------------------
# Block 49 (relocated): cross-snapshot edge diff (graph churn between
# yearly slices)
# ---------------------------------------------------------------------------


def q_graph_snapshot_diff(spark, sf_dir):
    """(snap_from, snap_to, n_added, n_removed, n_kept, jaccard): edge
    churn between consecutive order-year graph snapshots."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.graphstats import (
        snapshot_edge_diff,
    )

    return snapshot_edge_diff(_snap_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Block 59: BPE apply at realistic vocab scale — batched-greedy training
# (256 merges in five corpus passes) + greedy longest-match tokenization
# by pointer doubling (functions/bpe.py block comment has the full scale
# argument).  Closes the r7/r8 scope note on bpe_compression's
# chained-replace apply being a small-vocab device.
# ---------------------------------------------------------------------------


def q_bpe_encode(spark, sf_dir):
    """(doc_id, n_words, n_tokens): train a 256-merge batched-BPE vocab
    on the documents corpus ([128,64,32,16,16] schedule — five corpus
    passes, five bounded top-B collects), then tokenize every document
    by greedy longest-match against the learned pieces in
    ceil(log2(max_doc_words)) pointer-doubling supersteps
    (functions/bpe.bpe_merges_batched + bpe_longest_match_counts)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import bpe

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe.bpe_merges_batched(d)
    pieces = [f"{l}_{r}" for _, _, l, r, _ in merges]
    return bpe.bpe_longest_match_counts(
        d, pieces, oracle_round_bound=bpe.ENCODE_DOUBLING_ROUNDS
    )


# ---------------------------------------------------------------------------
# Block 60: Yen's K shortest loopless paths over the kNN doc graph
# (gds.shortestPath.yens shape) — "the K most-similar relation chains
# between two documents": costs are 1,000,001 - micro-cosine (positive
# BIGINT, cheapest path = strongest similarity chain).  Spark runs Yen
# with every spur of an iteration batched into ONE multi-state SSSP
# superstep loop (operators/kpaths.py has the scale argument); the
# oracle brute-enumerates simple paths — a true cross-algorithm gate.
# ---------------------------------------------------------------------------

KPATHS_K = 3
KPATHS_HOPS = 5
KNN_GRAPH_K_EXT = 5  # must equal the entry's KNN_GRAPH_K (shared substrate)


def _kpaths_cost_edges(spark, sf_dir):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.simsearch import (
        knn_weighted_edges,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.sssp import (
        undirected_min_cost,
    )

    e = knn_weighted_edges(_t(spark, sf_dir, "embeddings"), k=KNN_GRAPH_K_EXT)
    return undirected_min_cost(
        e.select("src", "dst", (F.lit(1_000_001) - F.col("weight")).alias("w"))
    )


def q_graph_kpaths(spark, sf_dir):
    """(rank, cost, path): the 3 cheapest simple paths (<= 5 hops) from
    the smallest to the largest vec_id over the similarity-cost kNN doc
    graph — Yen's algorithm, spur batches as one superstep loop each
    (operators/kpaths.yen_k_shortest)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.kpaths import (
        yen_k_shortest,
    )

    emb = _t(spark, sf_dir, "embeddings")
    s, t = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    return yen_k_shortest(
        spark,
        _kpaths_cost_edges(spark, sf_dir),
        int(s),
        int(t),
        k=KPATHS_K,
        max_hops=KPATHS_HOPS,
        n_hint=emb.count(),
    )


def _kpaths_edges_sql() -> str:
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.simsearch import (
        knn_weighted_edges_sql,
    )

    knn = knn_weighted_edges_sql(k=KNN_GRAPH_K_EXT)
    return f"""
SELECT src, dst, MIN(w) AS w FROM (
  SELECT src, dst, 1000001 - weight AS w FROM ({knn}) k1 WHERE src <> dst
  UNION ALL
  SELECT dst AS src, src AS dst, 1000001 - weight AS w FROM ({knn}) k2 WHERE src <> dst
) u GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Block 61: temporal motif counting over the event graph — delta-bounded
# time-respecting 2-paths and closing triangles per mid node
# (functions/tmotif.py; Paranjape et al. WSDM'17 shapes), on the
# page-handoff temporal edge stream derived from the events table.
# ---------------------------------------------------------------------------

TMOTIF_DELTA_S = 21600  # 6 h: ~6k 2-paths and a non-zero triangle count
TMOTIF_PAGES = 97       # the event_id % 97 page fixture (URL queries)


def q_temporal_motifs(spark, sf_dir):
    """(mid, n_paths, n_triangles): per-mid-user counts of 6-hour-bounded
    temporal 2-paths and closing triangles over the page-handoff edge
    stream (functions/tmotif.temporal_edges_from_events +
    temporal_motif_counts)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import tmotif

    e = tmotif.temporal_edges_from_events(
        _t(spark, sf_dir, "events"), n_pages=TMOTIF_PAGES
    )
    return tmotif.temporal_motif_counts(e, delta_s=TMOTIF_DELTA_S)


# ---------------------------------------------------------------------------
# Block 62: pivot-sampled betweenness (Brandes-Pich) — the scale-story
# twin of the deterministic top-degree landmark variant (Block 26am in
# the entry): seeded hash-rank pivot draw, integer n_eligible/k scaling,
# same micro-unit Brandes algebra (operators/betweenness.py).
# ---------------------------------------------------------------------------

BETWEENNESS_PIVOTS = 16
BETWEENNESS_SEED = 9
BETWEENNESS_SAMPLED_HOPS = 6


def q_betweenness_sampled(spark, sf_dir):
    """(node, bc_micros_est): Brandes-Pich sampled betweenness from 16
    hash-drawn pivots, scaled by n_eligible/k
    (operators/betweenness.betweenness_sampled)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.betweenness import (
        betweenness_sampled,
    )

    return betweenness_sampled(
        _graph(spark, sf_dir),
        n_pivots=BETWEENNESS_PIVOTS,
        seed=BETWEENNESS_SEED,
        max_hops=BETWEENNESS_SAMPLED_HOPS,
    )


# ---------------------------------------------------------------------------
# Block 63: HyperBall — per-node r-neighborhood sizes via HLL counters
# (operators/hyperball.py; Boldi & Vigna 2013).  Registers are rows and
# the round merge is one equi-join + MAX groupBy; Spark and the oracle
# compute bit-identical registers, so the gate compares exact values.
# ---------------------------------------------------------------------------

HYPERBALL_RADIUS = 4
HYPERBALL_P = 6  # m = 64 registers per node


def q_graph_hyperball(spark, sf_dir):
    """(radius, node, approx_ball): HLL ball-size estimates for every
    graph node at radii 1..4 (operators/hyperball.hyperball)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.hyperball import (
        hyperball,
    )

    return hyperball(
        _graph(spark, sf_dir), radius=HYPERBALL_RADIUS, p=HYPERBALL_P
    )


# ---------------------------------------------------------------------------
# Block 64: Luby's maximal independent set — deterministic distributed
# symmetry breaking via per-round seeded hash priorities
# (operators/mis.py; the scheduling/coloring primitive).
# ---------------------------------------------------------------------------

MIS_SEED = 29
MIS_ROUNDS = 12


def q_graph_mis(spark, sf_dir):
    """(node, in_mis): Luby's MIS over the undirected view of the derived
    graph — per-round portable-hash priorities make the set exact and
    seeded (operators/mis.luby_mis)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.mis import luby_mis

    g = _graph(spark, sf_dir)
    return luby_mis(
        g.nodes.select(F.col("id").alias("node")),
        g.edges,
        seed=MIS_SEED,
        max_rounds=MIS_ROUNDS,
    )


# ---------------------------------------------------------------------------
# Block 65: ANF — the approximate-neighborhood-function summary (Palmer
# et al. KDD'02 semantics, computed the HyperBall way): per radius, how
# many reachable pairs the graph has and the average ball size.  This is
# how HyperBall is actually consumed (effective-diameter reports); sums
# go through exact 1e-4-unit integers so the cross-engine gate never
# meets a float summation order.
# ---------------------------------------------------------------------------


def q_graph_anf(spark, sf_dir):
    """(radius, n_nodes, reach_x1e4, avg_ball): the neighborhood
    function at radii 1..4 — reach_x1e4 is the exact integer sum of the
    per-node ball estimates in 1e-4 units; avg_ball = its mean, rounded
    6dp."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.hyperball import (
        hyperball,
    )

    hb = hyperball(_graph(spark, sf_dir), radius=HYPERBALL_RADIUS, p=HYPERBALL_P)
    um = F.round(F.col("approx_ball") * 10000).cast("long")
    return hb.groupBy("radius").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(um).alias("reach_x1e4"),
    ).select(
        "radius",
        "n_nodes",
        "reach_x1e4",
        F.round(
            F.col("reach_x1e4").cast("double")
            / F.col("n_nodes").cast("double") / 10000.0,
            6,
        ).alias("avg_ball"),
    )


# ---------------------------------------------------------------------------
# Block 66: Jones-Plassmann greedy coloring — iterated Luby MIS layers
# (operators/mis.jones_plassmann_coloring; gds.k1coloring's problem via
# the classic distributed scheme).  Budgets are gate-scale (the sf0.01
# graph needs 4 layers / <= 3 rounds; headroom 6/8), strict raise past
# them — the KCORE_ORACLE_ROUNDS per-scale-knob precedent.
# ---------------------------------------------------------------------------

COLORING_SEED = 31
COLORING_MAX_COLORS = 6
COLORING_MAX_ROUNDS = 8


def q_graph_coloring(spark, sf_dir):
    """(node, color): greedy coloring of the derived graph by iterated
    seeded-MIS layers (operators/mis.jones_plassmann_coloring)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.mis import (
        jones_plassmann_coloring,
    )

    g = _graph(spark, sf_dir)
    return jones_plassmann_coloring(
        g.nodes.select(F.col("id").alias("node")),
        g.edges,
        seed=COLORING_SEED,
        max_colors=COLORING_MAX_COLORS,
        max_rounds=COLORING_MAX_ROUNDS,
    )


# ---------------------------------------------------------------------------
# Block 67: distributed maximal matching — greedy hash-priority edge
# selection (operators/matching.py); the one-to-one pairing verb (each
# node merged with at most one partner).
# ---------------------------------------------------------------------------

MATCHING_SEED = 37
MATCHING_ROUNDS = 8  # gate and sf0.1 graphs both converge in 2 (measured)


def q_graph_matching(spark, sf_dir):
    """(u, v): a deterministic maximal matching of the derived graph
    (operators/matching.maximal_matching)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.matching import (
        maximal_matching,
    )

    g = _graph(spark, sf_dir)
    return maximal_matching(
        g.edges, seed=MATCHING_SEED, max_rounds=MATCHING_ROUNDS
    )


# ---------------------------------------------------------------------------
# Block 68: one-to-one near-duplicate pairing — MinHash-LSH candidates
# fed through the maximal matching (each document merged with at most
# ONE partner: the matching-not-clustering flavor of dedup, the merge
# plan a pairwise dedup job actually executes).  Fourth flagship
# composition: two audited substrates, zero new algorithmic surface.
# ---------------------------------------------------------------------------

DEDUP_MATCHING_SEED = 41
DEDUP_MATCHING_ROUNDS = 8  # pairs graphs converge in 1 (sf0.01) / 3 (sf0.1)


def q_dedup_matching(spark, sf_dir):
    """(u, v): a maximal one-to-one pairing of MinHash-LSH near-dup
    candidates (8 hashes x 4 bands, 3-shingles) — operators/matching over
    functions/dedup.minhash_lsh_candidates."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.matching import (
        maximal_matching,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _dedup.minhash_lsh_candidates(d, num_hashes=8, bands=4, n=3).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return maximal_matching(
        pairs, seed=DEDUP_MATCHING_SEED, max_rounds=DEDUP_MATCHING_ROUNDS
    )


# ---------------------------------------------------------------------------
# Block 69 (r10): exact substring dedup with removal spans
# ---------------------------------------------------------------------------
# functions/substr_dedup: Lee et al. 2022 ExactSubstr semantics as postings
# algebra — rolling-hash gram postings, cross-doc duplicate filter,
# islands-and-gaps interval merge.  n=8 tokens matches the fixture's
# injected duplicate runs (the paper's 50-BPE-token granularity is the
# same knob at corpus scale).

SUBSTR_N = 8
SUBSTR_MIN_DOCS = 2
SUBSTR_MIN_SPAN = 16


def q_substring_dedup_spans(spark, sf_dir):
    """(doc_id, span_start, span_end, span_tokens, n_grams): maximal
    removal spans covered by 8-token runs shared across >= 2 documents
    (functions/substr_dedup.substring_dedup_spans)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.substr_dedup import (
        substring_dedup_spans,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return substring_dedup_spans(
        d, n=SUBSTR_N, min_docs=SUBSTR_MIN_DOCS, min_span=SUBSTR_MIN_SPAN
    )


CONTAM_BENCH_SOURCE = "src0"  # the entry's BENCH_SOURCE eval partition
CONTAM_MIN_SPAN = 8


def q_contamination_spans(spark, sf_dir):
    """(doc_id, span_start, span_end, span_tokens, n_grams): maximal
    TRAINING-doc intervals covered by 8-token runs that appear in the
    benchmark partition — substring-granularity decontamination, the
    removal-span counterpart of the `decontamination` overlap fraction
    (functions/substr_dedup.substring_contamination_spans)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.substr_dedup import (
        substring_contamination_spans,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    train = d.where(F.col("source") != CONTAM_BENCH_SOURCE).select(
        "doc_id", "text"
    )
    bench = d.where(F.col("source") == CONTAM_BENCH_SOURCE).select(
        "doc_id", "text"
    )
    return substring_contamination_spans(
        train, bench, n=SUBSTR_N, min_span=CONTAM_MIN_SPAN
    )


# ---------------------------------------------------------------------------
# Block 70 (r10): mergeable level-sampling quantile sketch
# ---------------------------------------------------------------------------
# functions/quantile_sketch: the sketches family's quantile member (HLL /
# CMS / KMV existed; histogram_quantiles needs a bounded value domain).
# Deterministic seeded-hash levels; fold == batch exactly (streaming
# store #13 reuses the same partials).

QS_PROBS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
QS_K = 512
QS_SEED = 7


def _qs_values(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_returnflag").alias("stratum"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("key"),
        _cents(F.col("l_extendedprice")).alias("v"),
    )


def q_quantile_sketch(spark, sf_dir):
    """(stratum, p, est, level, n_sample, n_total): per-returnflag
    extended-price quantile estimates from the deterministic
    level-sampling sketch (functions/quantile_sketch)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.quantile_sketch import (
        quantile_sketch,
    )

    return quantile_sketch(
        _qs_values(spark, sf_dir), "v", "key", "stratum",
        QS_PROBS, k=QS_K, seed=QS_SEED,
    )


_QS_VALUES_SQL = (
    "SELECT l_returnflag AS stratum, "
    "l_orderkey * 10 + l_linenumber AS key, "
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem"
)


# ---------------------------------------------------------------------------
# Block 71 (r10): A* single-pair shortest path (ALT landmark heuristic)
# ---------------------------------------------------------------------------
# operators/astar: branch-and-bound frontier Bellman-Ford over the
# undirected order-volume weights; landmarks = the 3 smallest customers
# (the sssp_landmarks fixture), pair = smallest customer -> largest
# nation node.  The oracle checks the heuristic-independent exact
# distance; the pruning itself is pinned by tests/test_astar.py.

ASTAR_LANDMARKS = 3
ASTAR_ROUNDS = 20


def q_graph_astar(spark, sf_dir):
    """(src, dst, dist): exact single-pair min-cost distance via A* with
    the ALT landmark lower bound (operators/astar.astar_single_pair)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.config import (
        LOCAL_EDGE_THRESHOLD,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.astar import (
        alt_heuristic,
        astar_local_pairs,
        astar_single_pair,
    )

    g = _graph(spark, sf_dir)
    e = _und_weighted_edges(spark, sf_dir).localCheckpoint(eager=True)
    dst = int(g.nodes.agg(F.max("id")).collect()[0][0])
    # LocalGraph cutoff (the engine-wide physical-plan gate): the declared
    # result is the heuristic-independent exact distance, so under the
    # cutoff driver-local Dijkstra replaces BOTH the ALT landmark build
    # (the dominant cost — it exists only to prune a distributed frontier)
    # and the superstep search; above it the ALT path runs unchanged.
    if e.count() <= LOCAL_EDGE_THRESHOLD:
        return astar_local_pairs(spark, e, [(_source(g), dst)])
    lms = (
        g.nodes.where(F.col("id") < 1_000_000)
        .orderBy("id")
        .limit(ASTAR_LANDMARKS)
        .select(F.col("id").alias("source"))
    )
    hx = alt_heuristic(
        spark, e, lms, target=dst,
        max_rounds=ASTAR_ROUNDS, n_hint=g.n * ASTAR_LANDMARKS,
    )
    return astar_single_pair(
        spark, e, _source(g), dst, hx,
        max_rounds=ASTAR_ROUNDS, n_hint=g.n,
    )


# ---------------------------------------------------------------------------
# Block 72 (r10): incremental PPR maintenance (dynamic BASE store)
# ---------------------------------------------------------------------------
# operators/dynamic_ppr: hold back a deterministic ~2% edge batch (md5
# split — identical predicate in both engines), reverse-push the
# remainder, then repair + resume on batch arrival.  The output exposes
# BOTH reserves and residues, so the oracle hash-checks the maintenance
# algebra itself, not just the final estimates.

DYN_RMAX = 1e-4
DYN_TARGETS = [2_000_000, 2_000_001]  # two nation nodes (in-degree ~900)
DYN_MOD = 50
DYN_INIT_STEPS = 12
DYN_RESUME_STEPS = 10


def q_ppr_incremental(spark, sf_dir):
    """(target, node, ppr, residue): the incrementally maintained reverse
    -push state after the held-back edge batch arrives — init push on the
    old graph, validity-identity repair, |r|-qualified resume on the new
    graph (operators/dynamic_ppr; alpha = 1/7 per the BWD gate note)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.text import (
        portable_hash,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
        repair_on_insert,
        reverse_push_state,
    )

    alpha = 1.0 / 7.0
    g = _graph(spark, sf_dir)
    edges = g.edges.select("src", "dst")
    is_new = (
        portable_hash(F.concat_ws("|", F.col("src"), F.col("dst")))
        % DYN_MOD
        == 0
    )
    oe = edges.where(~is_new).localCheckpoint(eager=True)
    ne = edges.where(is_new).localCheckpoint(eager=True)
    tg = spark.createDataFrame(
        [(t,) for t in DYN_TARGETS], "target long"
    )
    hint = len(DYN_TARGETS) * g.n  # state bound: |targets| x nodes
    st0 = reverse_push_state(
        spark, oe, tg, DYN_RMAX, alpha, max_supersteps=DYN_INIT_STEPS,
        state_rows_hint=hint,
    )
    rep = repair_on_insert(st0, oe, ne, alpha)
    st1 = reverse_push_state(
        spark, edges, tg, DYN_RMAX, alpha,
        state=rep,
        max_supersteps=DYN_RESUME_STEPS,
        state_rows_hint=hint,
    )
    return st1.select(
        "target",
        "node",
        F.round("reserve", 9).alias("ppr"),
        F.round("residue", 9).alias("residue"),
    ).where((F.col("ppr") > 0) | (F.col("residue") != 0))


def _dyn_edges_sql(new: bool) -> str:
    pred = (
        "CAST(('0x' || substring(md5(CAST(src AS VARCHAR) || '|' || "
        "CAST(dst AS VARCHAR) || '#' || '0'), 1, 12)) AS BIGINT) "
        f"% {DYN_MOD} = 0"
    )
    return (
        f"SELECT src, dst FROM ({GRAPH_EDGES_SQL}) dyn_ge "
        f"WHERE {'' if new else 'NOT '}({pred})"
    )


# ---------------------------------------------------------------------------
# Block 73 (r10): Louvain with the Leiden connectivity guarantee
# ---------------------------------------------------------------------------
# operators/louvain.louvain_refined: each Louvain community split into
# its connected components (one global min-label propagation over the
# intra-community edge subset) — the deterministic core of Leiden's
# refinement (Traag et al. 2019).  Measured on the gate fixture: the
# plain Louvain labels contain 7 genuinely disconnected communities
# that the refinement repairs.

LVR_ROUNDS1 = 4  # the graph_louvain constants (shared fixture)
LVR_ROUNDS2 = 2
LVR_STEPS = 12   # component-propagation depth (the graph_wcc constant)


def q_graph_louvain_refined(spark, sf_dir):
    """(node, label): Louvain communities refined to be internally
    connected (operators/louvain.louvain_refined)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.louvain import (
        louvain_refined,
    )

    return louvain_refined(
        _graph(spark, sf_dir),
        rounds1=LVR_ROUNDS1,
        rounds2=LVR_ROUNDS2,
        max_iters=LVR_STEPS,
    )


# ---------------------------------------------------------------------------
# Block 74 (r10): hybrid retrieval — BM25 + embedding RRF
# ---------------------------------------------------------------------------
# functions/hybrid.rrf_fuse over the engine's two retrieval families:
# text queries from the BM25 batch fixture, probe vectors paired by id
# (the fixture's embedding table is synthetic, so the id pairing is the
# deterministic convention, not a semantic alignment claim).

HYBRID_QUERIES = [(1, "spark join"), (2, "window agg batch"), (3, "hash table row")]
HYBRID_K = 10


def q_hybrid_retrieval(spark, sf_dir):
    """(query_id, doc_id, rrf, pos): reciprocal-rank fusion of the BM25
    batch ranking and the brute-cosine ranking for three queries
    (functions/hybrid.rrf_fuse, Cormack et al. 2009)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.hybrid import (
        cosine_rank_batch,
        rrf_fuse,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.text import (
        bm25_topk_batch,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bm = bm25_topk_batch(d, HYBRID_QUERIES, k=HYBRID_K).select(
        "query_id", "doc_id", "pos"
    )
    emb = _t(spark, sf_dir, "embeddings")
    cs = cosine_rank_batch(
        emb, [q for q, _ in HYBRID_QUERIES], k=HYBRID_K
    )
    return rrf_fuse(bm, cs, k=HYBRID_K)


# ---------------------------------------------------------------------------
# Block 75 (r11): dynamic-PPR DELETE maintenance
# ---------------------------------------------------------------------------
# The r10 key exercises only `repair_on_insert`; this key driver-gates
# `repair_on_delete` (dynamic_ppr.py:234 — pytest-pinned only until now,
# the open half of VERDICT r10 ask #2): init push on the FULL graph, a
# deterministic ~2% md5-split batch REMOVED (seed 1 — disjoint from the
# insert key's seed-0 batch), the (++) delete repair, |r|-qualified
# resume on the remaining graph.  Same exposed (reserve, residue) state
# so the oracle checks the maintenance algebra itself.

DYN_DEL_SEED = 1  # portable_hash seed: a different batch than the insert key


def q_ppr_incremental_delete(spark, sf_dir):
    """(target, node, ppr, residue): the incrementally maintained reverse
    -push state after a held-back edge batch is DELETED — init push on
    the full graph, validity-identity delete repair, |r|-qualified
    resume on the remaining graph (operators/dynamic_ppr.repair_on_delete;
    alpha = 1/7 per the BWD gate note)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.text import (
        portable_hash,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
        repair_on_delete,
        reverse_push_state,
    )

    alpha = 1.0 / 7.0
    g = _graph(spark, sf_dir)
    edges = g.edges.select("src", "dst")
    is_del = (
        portable_hash(
            F.concat_ws("|", F.col("src"), F.col("dst")), seed=DYN_DEL_SEED
        )
        % DYN_MOD
        == 0
    )
    de = edges.where(is_del).localCheckpoint(eager=True)
    ke = edges.where(~is_del).localCheckpoint(eager=True)
    tg = spark.createDataFrame([(t,) for t in DYN_TARGETS], "target long")
    hint = len(DYN_TARGETS) * g.n  # state bound: |targets| x nodes
    st0 = reverse_push_state(
        spark, edges, tg, DYN_RMAX, alpha, max_supersteps=DYN_INIT_STEPS,
        state_rows_hint=hint,
    )
    rep = repair_on_delete(st0, edges, de, alpha)
    st1 = reverse_push_state(
        spark, ke, tg, DYN_RMAX, alpha,
        state=rep,
        max_supersteps=DYN_RESUME_STEPS,
        state_rows_hint=hint,
    )
    return st1.select(
        "target",
        "node",
        F.round("reserve", 9).alias("ppr"),
        F.round("residue", 9).alias("residue"),
    ).where((F.col("ppr") > 0) | (F.col("residue") != 0))


def _dyn_del_edges_sql(deleted: bool) -> str:
    pred = (
        "CAST(('0x' || substring(md5(CAST(src AS VARCHAR) || '|' || "
        f"CAST(dst AS VARCHAR) || '#' || '{DYN_DEL_SEED}'), 1, 12)) AS BIGINT) "
        f"% {DYN_MOD} = 0"
    )
    return (
        f"SELECT src, dst FROM ({GRAPH_EDGES_SQL}) dynd_ge "
        f"WHERE {'' if deleted else 'NOT '}({pred})"
    )


# ---------------------------------------------------------------------------
# Block 76 (r11): exact merge-order BPE apply at scale
# ---------------------------------------------------------------------------
# functions/bpe.bpe_exact_apply_counts: the fold's EXACT semantics at a
# cost independent of vocab size — per document, iterate "lowest-rank
# rule whose pair is currently present" (provably the fold's effective-
# application sequence) inside ONE narrow F.aggregate projection, with
# the iteration count bounded by document length.  Closes VERDICT r10
# ask #3 (the 11%-token maximal-munch divergence motivated an exact
# apply that does not cost V corpus scans).  Vocab: the same batched
# 256-merge table as `bpe_encode`.


def q_bpe_exact_apply(spark, sf_dir):
    """(doc_id, n_words, n_tokens): exact merge-order BPE token counts
    against the batched 256-merge vocabulary
    (functions/bpe.bpe_exact_apply_counts — iterated strict-argmin, one
    narrow pass, zero shuffles)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.bpe import (
        bpe_exact_apply_counts,
        bpe_merges_batched,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = [(l, r) for (_, _, l, r, _) in bpe_merges_batched(d)]
    return bpe_exact_apply_counts(d, merges)


# ---------------------------------------------------------------------------
# Block 77 (r11): multi-pair A* off one amortized landmark build
# ---------------------------------------------------------------------------
# operators/astar.astar_multi_pair: the r10 verdict's watch item #2 —
# the single-pair key is dominated by the per-query ALT heuristic build;
# this key builds the landmark distance table ONCE and answers THREE
# (s, t) queries through one (pid, node)-keyed branch-and-bound loop
# with per-pid upper bounds.  Pair 0 is the single-pair key's exact
# fixture, so the two keys cross-check each other's distance.

ASTAR_MULTI_ROUNDS = 20


def _astar_multi_pairs(spark, sf_dir) -> list[tuple[int, int]]:
    c = _t(spark, sf_dir, "customer").agg(
        F.min("c_custkey").cast("long")
    ).collect()[0][0]
    s_min, s_max = (
        _t(spark, sf_dir, "supplier")
        .agg(
            F.min("s_suppkey").cast("long"), F.max("s_suppkey").cast("long")
        )
        .collect()[0]
    )
    n_min, n_max = (
        _t(spark, sf_dir, "nation")
        .agg(
            F.min("n_nationkey").cast("long"),
            F.max("n_nationkey").cast("long"),
        )
        .collect()[0]
    )
    return [
        (int(c), int(n_max) + NATION_BASE),
        (int(s_min) + SUPP_BASE, int(n_min) + NATION_BASE),
        (int(s_max) + SUPP_BASE, 12 + NATION_BASE),
    ]


def q_graph_astar_multi(spark, sf_dir):
    """(src, dst, dist): exact min-cost distances for three (s, t) pairs
    via batched A* sharing ONE ALT landmark table
    (operators/astar.astar_multi_pair)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.config import (
        LOCAL_EDGE_THRESHOLD,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.astar import (
        alt_heuristic_multi,
        astar_local_pairs,
        astar_multi_pair,
    )

    g = _graph(spark, sf_dir)
    e = _und_weighted_edges(spark, sf_dir).localCheckpoint(eager=True)
    pairs = _astar_multi_pairs(spark, sf_dir)
    # LocalGraph cutoff — same gate and argument as q_graph_astar's
    if e.count() <= LOCAL_EDGE_THRESHOLD:
        return astar_local_pairs(spark, e, pairs)
    lms = (
        g.nodes.where(F.col("id") < 1_000_000)
        .orderBy("id")
        .limit(ASTAR_LANDMARKS)
        .select(F.col("id").alias("source"))
    )
    tdf = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(pairs)], "pid int, t long"
    )
    hx = alt_heuristic_multi(
        spark, e, lms, tdf,
        max_rounds=ASTAR_MULTI_ROUNDS, n_hint=g.n * ASTAR_LANDMARKS,
    )
    return astar_multi_pair(
        spark, e, pairs, hx,
        max_rounds=ASTAR_MULTI_ROUNDS, n_hint=g.n * len(pairs),
    )


_ASTAR_MULTI_PAIRS_SQL = f"""
SELECT 0 AS pid,
       (SELECT CAST(MIN(c_custkey) AS BIGINT) FROM customer) AS s,
       (SELECT CAST(MAX(n_nationkey) + {NATION_BASE} AS BIGINT) FROM nation) AS t
UNION ALL
SELECT 1,
       (SELECT CAST(MIN(s_suppkey) + {SUPP_BASE} AS BIGINT) FROM supplier),
       (SELECT CAST(MIN(n_nationkey) + {NATION_BASE} AS BIGINT) FROM nation)
UNION ALL
SELECT 2,
       (SELECT CAST(MAX(s_suppkey) + {SUPP_BASE} AS BIGINT) FROM supplier),
       CAST(12 + {NATION_BASE} AS BIGINT)
"""


# ---------------------------------------------------------------------------
# Block 78 (r11, post-window): containment dedup (doc-in-doc detection)
# ---------------------------------------------------------------------------
# functions/dedup.containment_pairs: Broder 1997's CONTAINMENT measure
# |S(a) & S(b)| / min(|S(a)|, |S(b)|) — the one-sided near-dup flavor
# resemblance misses (a quote fully embedded in a long article scores
# containment 1.0, Jaccard ~0.1).  Registered after the r11 window
# committed, so it is the r12 never-observed head (the r6 -> r7
# `graph_louvain_weighted` precedent); the full-registry pytest gate
# covers it every round meanwhile.

CONTAIN_THRESHOLD = 0.6
SALSA_ITERS = 8


def q_graph_salsa(spark, sf_dir):
    """(node, hub, authority): SALSA degree-normalized hub/authority
    scores after 8 alternating stochastic half-steps
    (operators/salsa.salsa — Lempel & Moran 2000; the TKC-robust sibling
    of `graph_hits`, registered post-window alongside containment)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.salsa import (
        salsa,
    )

    return salsa(_graph(spark, sf_dir), iterations=SALSA_ITERS)


def q_containment_dedup(spark, sf_dir):
    """(doc_small, doc_big, containment): small-into-big shingle-set
    containment >= 0.6 (functions/dedup.containment_pairs; n=3 shingles,
    DF cap 1000 — the ngram_jaccard machinery, one-sided score)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _dedup.containment_pairs(
        d, threshold=CONTAIN_THRESHOLD, n=3, max_shingle_df=1000
    )


# ---------------------------------------------------------------------------
# Block 79 (r12): end-to-end corpus-build flagship composition
# ---------------------------------------------------------------------------
# functions/corpus.corpus_pipeline: quality gate -> exact dedup -> MinHash
# near-dup survivorship -> eval-set decontamination -> token-budget
# mixture -> sequence packing, composed over ONE corpus with three
# checkpoint boundaries (VERDICT r11 ask #2 — "the 'it all works
# together' proof a real user hits first").  Every stage binds at the
# compare scale: the deterministic clone injection below (the pii_scrub
# synthetic-fixture precedent) gives the exact-dedup stage real
# duplicates (the parquet corpus has none), the LSH stage drops 13
# natural near-dups, decon drops the one src-bench contaminated doc, and
# the 700-token budget keeps ~58% of each source.

CP_BENCH_SOURCE = "src0"   # the decontamination key's benchmark partition
CP_CLONE_MOD = 37          # every 37th doc cloned -> 13 exact dups at sf0.01
CP_CLONE_OFFSET = 100_000  # clone ids above every real doc id
CP_DECON_MAX = 0.6         # drop verbatim-ish contamination only.  0.2 was
# the r12 first cut; the funnel exposed it as scale-degenerate — the
# synthetic corpus's shingle space saturates against the 10x-bigger src0
# partition at sf0.1 (contamination mass sits at 0.25-0.55 there), so 0.2
# kept 17 of 2,765 docs.  At 0.6 the sf0.01 chain is IDENTICAL
# (488/300/293/280/279/162 — the one dropped doc is the 1.0-contamination
# clone either way) while sf0.1 drops ~130 of ~4,660 (the >=0.55 tail).
CP_MIX_BUDGET = 700        # per-source token budget (keeps ~58% at sf0.01)
CP_PACK_BUDGET = 512       # tokens per packed sequence
CP_PACK_BUCKETS = 4        # pack-parallelism hash buckets
CP_PACK_SEED = 7


def q_corpus_pipeline(spark, sf_dir):
    """(bucket, pack, n_docs, pack_tokens, first_doc, last_doc): one row
    per packed training sequence surviving the full six-stage curation
    chain (functions/corpus.corpus_pipeline).  The corpus is the
    non-benchmark document partitions plus a deterministic exact-clone
    batch (doc_id + 100000 for every 37th doc) so stage 2 demonstrably
    binds; the benchmark partition is the decontamination target."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.corpus import (
        corpus_pipeline,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = d.where(F.col("source") != CP_BENCH_SOURCE)
    clones = corpus.where(F.col("doc_id") % CP_CLONE_MOD == 0).select(
        (F.col("doc_id") + CP_CLONE_OFFSET).alias("doc_id"), "source", "text"
    )
    bench = d.where(F.col("source") == CP_BENCH_SOURCE)
    return corpus_pipeline(
        corpus.unionByName(clones),
        bench,
        decon_max=CP_DECON_MAX,
        mix_budget=CP_MIX_BUDGET,
        pack_budget=CP_PACK_BUDGET,
        pack_buckets=CP_PACK_BUCKETS,
        pack_seed=CP_PACK_SEED,
    )


# ---------------------------------------------------------------------------
# Block 80 (r12): dynamic-PPR MIXED insert+delete maintenance
# ---------------------------------------------------------------------------
# VERDICT r11 ask #4: the insert (r10) and delete (r11) repairs are each
# driver-gated alone; this key gates their COMPOSITION — one update batch
# carrying both flavors, repaired sequentially (insert repair against the
# old graph, delete repair against the post-insert graph; each repair
# maps a valid state on G to a valid state on the perturbed G, so the
# composition maintains the invariant), then ONE |r|-qualified resume on
# the final graph.  Batches: the insert key's seed-0 batch arrives while
# the delete key's seed-1 batch (minus any seed-0 overlap) departs.

DYN_MIXED_RESUME_STEPS = 12


def q_ppr_incremental_mixed(spark, sf_dir):
    """(target, node, ppr, residue): the maintained reverse-push state
    after a MIXED batch — seed-0 edges inserted, seed-1 edges deleted —
    insert repair then delete repair then one resume
    (operators/dynamic_ppr.repair_on_insert + repair_on_delete composed;
    alpha = 1/7 per the BWD gate note)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.text import (
        portable_hash,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
        repair_on_delete,
        repair_on_insert,
        reverse_push_state,
    )

    alpha = 1.0 / 7.0
    g = _graph(spark, sf_dir)
    edges = g.edges.select("src", "dst")
    key = F.concat_ws("|", F.col("src"), F.col("dst"))
    is_ins = portable_hash(key) % DYN_MOD == 0
    is_del = (portable_hash(key, seed=DYN_DEL_SEED) % DYN_MOD == 0) & ~is_ins
    oe = edges.where(~is_ins).localCheckpoint(eager=True)   # old graph G0
    ie = edges.where(is_ins).localCheckpoint(eager=True)    # arriving batch
    de = edges.where(is_del).localCheckpoint(eager=True)    # departing batch
    fe = edges.where(~is_del).localCheckpoint(eager=True)   # final graph
    tg = spark.createDataFrame([(t,) for t in DYN_TARGETS], "target long")
    hint = len(DYN_TARGETS) * g.n  # state bound: |targets| x nodes
    st0 = reverse_push_state(
        spark, oe, tg, DYN_RMAX, alpha, max_supersteps=DYN_INIT_STEPS,
        state_rows_hint=hint,
    )
    rep1 = repair_on_insert(st0, oe, ie, alpha)
    rep2 = repair_on_delete(rep1, edges, de, alpha)
    st1 = reverse_push_state(
        spark, fe, tg, DYN_RMAX, alpha,
        state=rep2,
        max_supersteps=DYN_MIXED_RESUME_STEPS,
        state_rows_hint=hint,
    )
    return st1.select(
        "target",
        "node",
        F.round("reserve", 9).alias("ppr"),
        F.round("residue", 9).alias("residue"),
    ).where((F.col("ppr") > 0) | (F.col("residue") != 0))


def _dyn_mixed_edges_sql(which: str) -> str:
    """(src, dst) for one side of the mixed split: 'old' (no seed-0 hit),
    'ins' (seed-0 hit), 'del' (seed-1 hit and not seed-0), 'final' (no
    seed-1 hit or seed-0 hit)."""
    h0 = (
        "CAST(('0x' || substring(md5(CAST(src AS VARCHAR) || '|' || "
        "CAST(dst AS VARCHAR) || '#' || '0'), 1, 12)) AS BIGINT) "
        f"% {DYN_MOD} = 0"
    )
    h1 = (
        "CAST(('0x' || substring(md5(CAST(src AS VARCHAR) || '|' || "
        f"CAST(dst AS VARCHAR) || '#' || '{DYN_DEL_SEED}'), 1, 12)) AS BIGINT) "
        f"% {DYN_MOD} = 0"
    )
    pred = {
        "old": f"NOT ({h0})",
        "ins": f"({h0})",
        "del": f"({h1}) AND NOT ({h0})",
        "final": f"NOT (({h1}) AND NOT ({h0}))",
    }[which]
    return f"SELECT src, dst FROM ({GRAPH_EDGES_SQL}) dynm_ge WHERE {pred}"


# ---------------------------------------------------------------------------
# Block 81 (r12, post-window): PPR-Nibble local clustering (sweep cut)
# ---------------------------------------------------------------------------
# operators/nibble.ppr_nibble: Andersen-Chung-Lang 2006 — push an
# approximate PPR vector from a seed on the symmetrized graph, order the
# support by pi(v)/deg(v), return the minimum-conductance sweep prefix.
# Registered after the r12 window committed -> r13 never-observed head
# (the same precedent as containment_dedup/graph_salsa last round); the
# full-registry pytest gate covers it every round meanwhile.

NIBBLE_RMAX = 1e-5
NIBBLE_STEPS = 40  # oracle unroll depth; converges by 30 at sf0.01 (guard
# in test_r12_operators pins the kernel's actual superstep count under it)


def q_ppr_nibble(spark, sf_dir):
    """(rank, node, score, cut, vol, phi, in_best): the full PPR-Nibble
    sweep profile from the benchmark source node over the symmetrized
    graph, `in_best` marking the minimum-conductance prefix
    (operators/nibble.ppr_nibble)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.nibble import (
        ppr_nibble,
    )

    g = _graph(spark, sf_dir)
    return ppr_nibble(g, _source(g), rmax=NIBBLE_RMAX, alpha=ALPHA)


# ---------------------------------------------------------------------------
# Block 82 (r12, post-window): contrastive training-pair mining
# ---------------------------------------------------------------------------
# functions/dedup.contrastive_pairs: SimCSE-style pair mining off the
# SemDeDup substrate — same-cluster cosine >= pos_threshold -> 'pos',
# same-cluster cosine < neg_threshold -> 'neg' (topically close but not
# paraphrases: the hard negatives contrastive embedding training wants).

CONTRAST_POS = 0.35  # the synthetic embeddings are near-orthogonal (the
CONTRAST_NEG = 0.15  # semantic_dedup threshold note); both labels non-empty


def q_contrastive_pairs(spark, sf_dir):
    """(id_a, id_b, cosine, label): contrastive pairs mined within the
    trained k-means cells (functions/dedup.contrastive_pairs; the
    semantic_dedup clustering fixture)."""
    e = _t(spark, sf_dir, "embeddings")
    return _dedup.contrastive_pairs(
        e,
        k=8,
        iterations=3,
        pos_threshold=CONTRAST_POS,
        neg_threshold=CONTRAST_NEG,
        max_cluster_size=200,
    )


# ---------------------------------------------------------------------------
# Block 83 (r12, post-window): the curation funnel (pipeline data card)
# ---------------------------------------------------------------------------
# functions/corpus.corpus_funnel: per-stage (n_docs, n_tokens) over the
# corpus_pipeline chain — the funnel row a pipeline owner reads first.
# Shares `corpus_stages` with the flagship key, so the funnel can never
# disagree with the pipeline it describes.


def q_corpus_funnel(spark, sf_dir):
    """(stage_no, stage, n_docs, n_tokens): the curation funnel over the
    corpus_pipeline fixture (same clone injection + benchmark split as
    the flagship key)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.corpus import (
        corpus_funnel,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = d.where(F.col("source") != CP_BENCH_SOURCE)
    clones = corpus.where(F.col("doc_id") % CP_CLONE_MOD == 0).select(
        (F.col("doc_id") + CP_CLONE_OFFSET).alias("doc_id"), "source", "text"
    )
    bench = d.where(F.col("source") == CP_BENCH_SOURCE)
    return corpus_funnel(
        corpus.unionByName(clones),
        bench,
        decon_max=CP_DECON_MAX,
        mix_budget=CP_MIX_BUDGET,
    )


# ---------------------------------------------------------------------------
# Block 84 (r12, post-window): DOULION sampled triangle estimation
# ---------------------------------------------------------------------------
# functions/graphstats.triangle_count_sampled: Tsourakakis et al. 2009 —
# hash-sample undirected edges at p = 1/2, count exactly on the sparse
# graph, scale by p^-3 = 8.  The standard scale answer when exact
# triangle counting's O(m^1.5) is the bottleneck; integer-exact output.

DOULION_SEED = 3
DOULION_DENOM = 2


def q_triangles_doulion(spark, sf_dir):
    """(n_edges_und, n_edges_sampled, triangles_sampled, triangles_est):
    DOULION global triangle estimate on the derived graph
    (functions/graphstats.triangle_count_sampled)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.graphstats import (
        triangle_count_sampled,
    )

    g = _graph(spark, sf_dir)
    return triangle_count_sampled(
        g.edges, seed=DOULION_SEED, denom=DOULION_DENOM
    )


# ---------------------------------------------------------------------------
# register(): the entry hand-off
# ---------------------------------------------------------------------------


def register(ctx: dict) -> None:
    """Install every relocated/overflow registration into the entry's
    registries.  `ctx` is `__spark_entry__`'s module globals; the shared
    fixtures in _SHARED_FROM_ENTRY are injected into THIS module's
    globals first so the query callables above resolve them at call
    time."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.graphstats import (
        snapshot_edge_diff_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.pagerank import (
        pagerank_snapshots_oracle_sql,
    )

    g = globals()
    for name in _SHARED_FROM_ENTRY:
        g[name] = ctx[name]
    Q, SQL = ctx["_REGISTRY_Q"], ctx["_REGISTRY_SQL"]

    # Re-publish every registered callable as an entry-module attribute:
    # bench.py and the plan-shape tests address queries as E.q_* — the
    # relocation must not narrow that surface (r9 review finding #1: the
    # full suite failed on E.q_graph_snapshot_diff before this).
    for qname, fn in (
        ("q_pagerank_snapshots", q_pagerank_snapshots),
        ("q_ann_recall", q_ann_recall),
        ("q_dedup_eval", q_dedup_eval),
        ("q_url_policy", q_url_policy),
        ("q_graph_snapshot_diff", q_graph_snapshot_diff),
    ):
        ctx[qname] = fn

    Q["pagerank_snapshots"] = q_pagerank_snapshots
    SQL["pagerank_snapshots"] = pagerank_snapshots_oracle_sql(
        SNAP_EDGES_SQL, GRAPH_NODES_SQL,
        iterations=PAGERANK_SNAP_ITERS, alpha=ctx["ALPHA"],
    )

    Q["ann_recall"] = q_ann_recall
    SQL["ann_recall"] = _ann_recall_oracle_sql(
        ANN_RECALL_QUERIES, k=ANN_RECALL_K
    )

    Q["dedup_eval"] = q_dedup_eval
    SQL["dedup_eval"] = _dedup.dedup_eval_oracle_sql(
        ctx["_SQL_NGRAM_PAIRS_05"], SQL["minhash_lsh_candidates"]
    )

    url_rules_values = "VALUES " + ", ".join(
        f"('{p}', {'TRUE' if a else 'FALSE'})" for p, a in _url_policy_rules()
    )
    Q["url_policy"] = q_url_policy
    SQL["url_policy"] = f"""
WITH up_dec AS (
  {_urlnorm.url_policy_oracle_sql(ctx["_URL_FIXTURE_EXPR"], url_rules_values, table="events")}
)
SELECT host, allowed, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_pages
FROM up_dec GROUP BY 1, 2
"""

    Q["graph_snapshot_diff"] = q_graph_snapshot_diff
    SQL["graph_snapshot_diff"] = snapshot_edge_diff_sql(SNAP_EDGES_SQL)

    from personalized_pagerank_algorithms_on_neo4j_spark.functions.bpe import (
        bpe_encode_oracle_sql,
    )

    Q["bpe_encode"] = q_bpe_encode
    SQL["bpe_encode"] = bpe_encode_oracle_sql()

    from personalized_pagerank_algorithms_on_neo4j_spark.operators.kpaths import (
        kpaths_oracle_sql,
    )

    from personalized_pagerank_algorithms_on_neo4j_spark.functions.tmotif import (
        temporal_motifs_oracle_sql,
    )

    from personalized_pagerank_algorithms_on_neo4j_spark.operators.betweenness import (
        betweenness_sampled_oracle_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.sources.tpch_graph import (
        GRAPH_EDGES_SQL,
    )

    from personalized_pagerank_algorithms_on_neo4j_spark.operators.hyperball import (
        hyperball_oracle_sql,
    )

    from personalized_pagerank_algorithms_on_neo4j_spark.operators.mis import (
        luby_mis_oracle_sql,
    )

    Q["graph_anf"] = q_graph_anf
    SQL["graph_anf"] = f"""
WITH anf_hb AS (
{hyperball_oracle_sql(GRAPH_NODES_SQL, GRAPH_EDGES_SQL,
                      radius=HYPERBALL_RADIUS, p=HYPERBALL_P)}
)
SELECT radius, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CAST(ROUND(approx_ball * 10000) AS BIGINT)) AS BIGINT)
         AS reach_x1e4,
       ROUND(CAST(SUM(CAST(ROUND(approx_ball * 10000) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 10000.0, 6) AS avg_ball
FROM anf_hb GROUP BY radius
"""

    from personalized_pagerank_algorithms_on_neo4j_spark.operators.mis import (
        coloring_oracle_sql,
    )

    from personalized_pagerank_algorithms_on_neo4j_spark.operators.matching import (
        matching_oracle_sql,
    )

    Q["dedup_matching"] = q_dedup_matching
    SQL["dedup_matching"] = matching_oracle_sql(
        "SELECT doc_a AS src, doc_b AS dst FROM ("
        + SQL["minhash_lsh_candidates"]
        + ") mlc",
        seed=DEDUP_MATCHING_SEED,
        max_rounds=DEDUP_MATCHING_ROUNDS,
    )

    Q["graph_matching"] = q_graph_matching
    SQL["graph_matching"] = matching_oracle_sql(
        GRAPH_EDGES_SQL, seed=MATCHING_SEED, max_rounds=MATCHING_ROUNDS
    )

    Q["graph_coloring"] = q_graph_coloring
    SQL["graph_coloring"] = coloring_oracle_sql(
        f"SELECT id AS node FROM ({GRAPH_NODES_SQL}) gn",
        GRAPH_EDGES_SQL,
        seed=COLORING_SEED,
        max_colors=COLORING_MAX_COLORS,
        max_rounds=COLORING_MAX_ROUNDS,
    )

    Q["graph_mis"] = q_graph_mis
    SQL["graph_mis"] = luby_mis_oracle_sql(
        f"SELECT id AS node FROM ({GRAPH_NODES_SQL}) gn",
        GRAPH_EDGES_SQL,
        seed=MIS_SEED,
        max_rounds=MIS_ROUNDS,
    )

    Q["graph_hyperball"] = q_graph_hyperball
    SQL["graph_hyperball"] = hyperball_oracle_sql(
        GRAPH_NODES_SQL,
        GRAPH_EDGES_SQL,
        radius=HYPERBALL_RADIUS,
        p=HYPERBALL_P,
    )

    Q["betweenness_sampled"] = q_betweenness_sampled
    SQL["betweenness_sampled"] = betweenness_sampled_oracle_sql(
        GRAPH_EDGES_SQL,
        n_pivots=BETWEENNESS_PIVOTS,
        seed=BETWEENNESS_SEED,
        max_hops=BETWEENNESS_SAMPLED_HOPS,
    )

    Q["temporal_motifs"] = q_temporal_motifs
    SQL["temporal_motifs"] = temporal_motifs_oracle_sql(
        TMOTIF_DELTA_S, n_pages=TMOTIF_PAGES
    )

    Q["graph_kpaths"] = q_graph_kpaths
    SQL["graph_kpaths"] = kpaths_oracle_sql(
        _kpaths_edges_sql(),
        "SELECT MIN(vec_id) FROM embeddings",
        "SELECT MAX(vec_id) FROM embeddings",
        k=KPATHS_K,
        max_hops=KPATHS_HOPS,
    )

    # ---- round-10 registrations ----
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.quantile_sketch import (
        quantile_sketch_oracle_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.substr_dedup import (
        substring_dedup_oracle_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.astar import (
        astar_oracle_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
        incremental_ppr_oracle_sql,
    )

    for qname, fn in (
        ("q_substring_dedup_spans", q_substring_dedup_spans),
        ("q_quantile_sketch", q_quantile_sketch),
        ("q_graph_astar", q_graph_astar),
        ("q_ppr_incremental", q_ppr_incremental),
    ):
        ctx[qname] = fn

    Q["substring_dedup_spans"] = q_substring_dedup_spans
    SQL["substring_dedup_spans"] = substring_dedup_oracle_sql(
        n=SUBSTR_N, min_docs=SUBSTR_MIN_DOCS, min_span=SUBSTR_MIN_SPAN
    )

    from personalized_pagerank_algorithms_on_neo4j_spark.functions.substr_dedup import (
        substring_contamination_oracle_sql,
    )

    from personalized_pagerank_algorithms_on_neo4j_spark.functions.hybrid import (
        cosine_rank_batch_oracle_sql,
        rrf_fuse_oracle_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.text import (
        bm25_batch_oracle_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.louvain import (
        louvain_oracle_sql,
    )

    ctx["q_graph_louvain_refined"] = q_graph_louvain_refined
    Q["graph_louvain_refined"] = q_graph_louvain_refined
    _lvr_base = louvain_oracle_sql(
        GRAPH_EDGES_SQL, GRAPH_NODES_SQL,
        rounds1=LVR_ROUNDS1, rounds2=LVR_ROUNDS2,
    )
    SQL["graph_louvain_refined"] = f"""
WITH lvr_lab AS MATERIALIZED ({_lvr_base}),
lvr_e AS MATERIALIZED (
  SELECT src, dst FROM ({GRAPH_EDGES_SQL}) ge WHERE src <> dst),
cand AS MATERIALIZED (
  SELECT DISTINCT e.src AS doc_a, e.dst AS doc_b
  FROM lvr_e e
  JOIN lvr_lab a ON e.src = a.node
  JOIN lvr_lab b ON e.dst = b.node
  WHERE a.label = b.label),
{ctx["_cluster_chain"]("lvr", LVR_STEPS)}
SELECT l.node, COALESCE(c.label, l.node) AS label
FROM lvr_lab l LEFT JOIN lvr{LVR_STEPS} c ON l.node = c.node
"""

    ctx["q_hybrid_retrieval"] = q_hybrid_retrieval
    Q["hybrid_retrieval"] = q_hybrid_retrieval
    SQL["hybrid_retrieval"] = rrf_fuse_oracle_sql(
        "SELECT query_id, doc_id, CAST(pos AS BIGINT) AS pos FROM ("
        + bm25_batch_oracle_sql(HYBRID_QUERIES, k=HYBRID_K)
        + ") bm",
        cosine_rank_batch_oracle_sql(
            [q for q, _ in HYBRID_QUERIES], k=HYBRID_K
        ),
        k=HYBRID_K,
    )

    ctx["q_contamination_spans"] = q_contamination_spans
    Q["contamination_spans"] = q_contamination_spans
    SQL["contamination_spans"] = substring_contamination_oracle_sql(
        "SELECT doc_id, text FROM documents"
        f" WHERE source <> '{CONTAM_BENCH_SOURCE}'",
        "SELECT doc_id, text FROM documents"
        f" WHERE source = '{CONTAM_BENCH_SOURCE}'",
        n=SUBSTR_N,
        min_span=CONTAM_MIN_SPAN,
    )

    Q["quantile_sketch"] = q_quantile_sketch
    SQL["quantile_sketch"] = quantile_sketch_oracle_sql(
        _QS_VALUES_SQL, QS_PROBS, k=QS_K, seed=QS_SEED
    )

    Q["graph_astar"] = q_graph_astar
    SQL["graph_astar"] = astar_oracle_sql(
        ctx["_und_weighted_int_sql"](),
        "SELECT CAST(MIN(c_custkey) AS BIGINT) AS s FROM customer",
        f"SELECT CAST(MAX(n_nationkey) + {NATION_BASE} AS BIGINT) AS t "
        "FROM nation",
        rounds=ASTAR_ROUNDS,
    )

    Q["ppr_incremental"] = q_ppr_incremental
    SQL["ppr_incremental"] = incremental_ppr_oracle_sql(
        _dyn_edges_sql(new=False),
        _dyn_edges_sql(new=True),
        "SELECT unnest(["
        + ", ".join(str(t) for t in DYN_TARGETS)
        + "]) AS target",
        DYN_RMAX,
        1.0 / 7.0,
        init_steps=DYN_INIT_STEPS,
        resume_steps=DYN_RESUME_STEPS,
    )

    # ---- round-11 registrations ----
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.bpe import (
        bpe_exact_apply_oracle_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.astar import (
        astar_multi_oracle_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
        incremental_ppr_delete_oracle_sql,
    )

    for qname, fn in (
        ("q_ppr_incremental_delete", q_ppr_incremental_delete),
        ("q_bpe_exact_apply", q_bpe_exact_apply),
        ("q_graph_astar_multi", q_graph_astar_multi),
    ):
        ctx[qname] = fn

    Q["ppr_incremental_delete"] = q_ppr_incremental_delete
    SQL["ppr_incremental_delete"] = incremental_ppr_delete_oracle_sql(
        f"SELECT src, dst FROM ({GRAPH_EDGES_SQL}) dynd_ga",
        _dyn_del_edges_sql(deleted=True),
        _dyn_del_edges_sql(deleted=False),
        "SELECT unnest(["
        + ", ".join(str(t) for t in DYN_TARGETS)
        + "]) AS target",
        DYN_RMAX,
        1.0 / 7.0,
        init_steps=DYN_INIT_STEPS,
        resume_steps=DYN_RESUME_STEPS,
    )

    Q["bpe_exact_apply"] = q_bpe_exact_apply
    SQL["bpe_exact_apply"] = bpe_exact_apply_oracle_sql()

    Q["graph_astar_multi"] = q_graph_astar_multi
    SQL["graph_astar_multi"] = astar_multi_oracle_sql(
        ctx["_und_weighted_int_sql"](),
        _ASTAR_MULTI_PAIRS_SQL,
        rounds=ASTAR_MULTI_ROUNDS,
    )

    # ---- r11 post-window registrations (r12 never-observed head) ----
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.salsa import (
        salsa_oracle_sql,
    )

    ctx["q_graph_salsa"] = q_graph_salsa
    Q["graph_salsa"] = q_graph_salsa
    SQL["graph_salsa"] = salsa_oracle_sql(
        GRAPH_EDGES_SQL, iterations=SALSA_ITERS
    )

    ctx["q_containment_dedup"] = q_containment_dedup
    Q["containment_dedup"] = q_containment_dedup
    SQL["containment_dedup"] = f"""
WITH cds AS MATERIALIZED ({ctx["_SQL_DOC_SHINGLES"]}),
csizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM cds GROUP BY doc_id),
ckept AS MATERIALIZED (
  SELECT d.* FROM cds d
  JOIN (SELECT sh FROM cds GROUP BY sh HAVING COUNT(*) <= 1000) ok USING (sh)),
ccommon AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM ckept a JOIN ckept b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
cscore AS (
  SELECT doc_a, doc_b, na.n_sh AS na, nb.n_sh AS nb,
         ROUND(CAST(common AS DOUBLE)
               / CAST(LEAST(na.n_sh, nb.n_sh) AS DOUBLE), 6) AS containment
  FROM ccommon
  JOIN csizes na ON na.doc_id = doc_a
  JOIN csizes nb ON nb.doc_id = doc_b)
SELECT CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
            THEN doc_a ELSE doc_b END AS doc_small,
       CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
            THEN doc_b ELSE doc_a END AS doc_big,
       containment
FROM cscore WHERE containment >= {CONTAIN_THRESHOLD}
"""

    # ---- round-12 registrations ----
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.corpus import (
        corpus_pipeline_oracle_sql,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.sampling import (
        sampling_oracle_fragments,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.text import (
        LANG_STOPWORDS,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
        incremental_ppr_mixed_oracle_sql,
    )

    for qname, fn in (
        ("q_corpus_pipeline", q_corpus_pipeline),
        ("q_ppr_incremental_mixed", q_ppr_incremental_mixed),
    ):
        ctx[qname] = fn

    cp_corpus_sql = f"""
SELECT doc_id, source, text FROM documents WHERE source <> '{CP_BENCH_SOURCE}'
UNION ALL
SELECT doc_id + {CP_CLONE_OFFSET} AS doc_id, source, text FROM documents
WHERE source <> '{CP_BENCH_SOURCE}' AND doc_id % {CP_CLONE_MOD} = 0"""
    cp_bench_sql = (
        "SELECT doc_id, source, text FROM documents "
        f"WHERE source = '{CP_BENCH_SOURCE}'"
    )
    cp_lang_scores = {
        lg: ctx["_sql_sw_raw"](lg) for lg in sorted(LANG_STOPWORDS)
    }
    cp_stage_kwargs = dict(
        shingles_expr=ctx["_SQL_SHINGLES"],
        sql_hash=ctx["_sql_hash"],
        quality_raw_expr=ctx["_sql_quality_raw"](
            ctx["_SQL_LEN_SCORE"], cp_lang_scores["en"], ctx["_SQL_PUNCT_RAW"]
        ),
        lang_scores=cp_lang_scores,
        lang="en",
        cluster_chain=ctx["_cluster_chain"],
        decon_max=CP_DECON_MAX,
        mix_budget=CP_MIX_BUDGET,
    )
    Q["corpus_pipeline"] = q_corpus_pipeline
    SQL["corpus_pipeline"] = corpus_pipeline_oracle_sql(
        cp_corpus_sql,
        cp_bench_sql,
        bucket_expr=(
            f"({sampling_oracle_fragments(CP_PACK_SEED, 'doc_id')})"
            f" % {CP_PACK_BUCKETS}"
        ),
        pack_budget=CP_PACK_BUDGET,
        **cp_stage_kwargs,
    )

    Q["ppr_incremental_mixed"] = q_ppr_incremental_mixed
    SQL["ppr_incremental_mixed"] = incremental_ppr_mixed_oracle_sql(
        _dyn_mixed_edges_sql("old"),
        _dyn_mixed_edges_sql("ins"),
        _dyn_mixed_edges_sql("del"),
        _dyn_mixed_edges_sql("final"),
        "SELECT unnest(["
        + ", ".join(str(t) for t in DYN_TARGETS)
        + "]) AS target",
        DYN_RMAX,
        1.0 / 7.0,
        init_steps=DYN_INIT_STEPS,
        resume_steps=DYN_MIXED_RESUME_STEPS,
    )

    # ---- r12 post-window registrations (r13 never-observed head) ----
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.nibble import (
        ppr_nibble_oracle_sql,
    )

    ctx["q_ppr_nibble"] = q_ppr_nibble
    Q["ppr_nibble"] = q_ppr_nibble
    SQL["ppr_nibble"] = ppr_nibble_oracle_sql(
        GRAPH_EDGES_SQL,
        "SELECT CAST(MIN(c_custkey) AS BIGINT) AS s FROM customer",
        rmax=NIBBLE_RMAX,
        alpha=ctx["ALPHA"],
        steps=NIBBLE_STEPS,
    )

    from personalized_pagerank_algorithms_on_neo4j_spark.functions.corpus import (
        corpus_funnel_oracle_sql,
    )

    ctx["q_corpus_funnel"] = q_corpus_funnel
    Q["corpus_funnel"] = q_corpus_funnel
    SQL["corpus_funnel"] = corpus_funnel_oracle_sql(
        cp_corpus_sql, cp_bench_sql, **cp_stage_kwargs
    )

    from personalized_pagerank_algorithms_on_neo4j_spark.functions.graphstats import (
        triangles_doulion_oracle_sql,
    )

    ctx["q_triangles_doulion"] = q_triangles_doulion
    Q["triangles_doulion"] = q_triangles_doulion
    SQL["triangles_doulion"] = triangles_doulion_oracle_sql(
        GRAPH_EDGES_SQL, seed=DOULION_SEED, denom=DOULION_DENOM
    )

    ctx["q_contrastive_pairs"] = q_contrastive_pairs
    Q["contrastive_pairs"] = q_contrastive_pairs
    # the semantic_dedup oracle's clustering algebra verbatim (same
    # k/iterations/cap fixture), with the two-threshold label CASE
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import (
        clustering as _clustering,
    )

    _cp_cos = (
        "list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE)"
        " * CAST(b.embedding[i] AS DOUBLE)))"
        " / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE)"
        " * CAST(a.embedding[i] AS DOUBLE))))"
        " * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE)"
        " * CAST(b.embedding[i] AS DOUBLE)))))"
    )
    _cp_kmeans = _clustering.kmeans_oracle_sql(k=8, iterations=3, dim=64)
    SQL["contrastive_pairs"] = f"""
WITH cpassign AS MATERIALIZED (SELECT * FROM ({_cp_kmeans}) t),
cpok AS (SELECT cluster FROM cpassign GROUP BY cluster HAVING COUNT(*) <= 200),
cplab AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, e.embedding
  FROM cpassign a JOIN cpok USING (cluster) JOIN embeddings e USING (vec_id)),
cpscored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND({_cp_cos}, 6) AS cosine
  FROM cplab a JOIN cplab b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine,
       CASE WHEN cosine >= {CONTRAST_POS} THEN 'pos'
            WHEN cosine < {CONTRAST_NEG} THEN 'neg' END AS label
FROM cpscored
WHERE (CASE WHEN cosine >= {CONTRAST_POS} THEN 'pos'
            WHEN cosine < {CONTRAST_NEG} THEN 'neg' END) IS NOT NULL
"""
