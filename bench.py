"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Query set: the reference's three query shapes (whole-graph SSPPR via Power
Method / Forward Push / FORA / Monte-Carlo, top-k, BASE all-pair prep +
lookup) on the sf-derived graph, plus the heaviest relational/pipeline
operators (join-agg revenue, dedup, brute-force cosine top-k).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
import __spark_entry_ext__ as X  # noqa: E402
from personalized_pagerank_algorithms_on_neo4j_spark import (  # noqa: E402
    PPREngine,
    build_spark,
)
from personalized_pagerank_algorithms_on_neo4j_spark.operators import (  # noqa: E402
    base_all_pair,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def main() -> None:
    # AQE on, shuffle = cores: micro queries pay ~0.3 s/stage re-planning
    # overhead, but the heavy shuffles (minhash self-join) need all cores and
    # AQE's coalescing — measured strictly better overall than a static
    # 16-partition plan at sf0.1.
    spark = build_spark(app_name="ppr_bench", master=f"local[{CPUS}]",
                        shuffle_partitions=CPUS)
    spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    # ^ JVM/codegen warmup — load timing below measures the graph, not Spark
    # startup (the reference's load numbers likewise exclude DB startup)
    timings: dict[str, float] = {}

    def timed(name, fn, repeat=2):
        """Record the BEST of `repeat` runs. Sub-second queries here are
        fixed-overhead-dominated and amplify any machine contention into
        phantom 2x 'regressions' (see PERF_NOTES.md: every round-2 drift
        reproduced at round-1 speed on unchanged code); min-of-2 measures
        the code, not the neighbor. Queries are read-only or
        overwrite-idempotent, so re-running is safe."""
        best = None
        out = None
        for _ in range(repeat):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 4)
        if os.environ.get("SPARK_GRAFT_BENCH_PROGRESS"):
            # opt-in per-key progress on stderr (guide §1: observability of
            # the measurement itself); the stdout JSON contract is untouched
            print(f"[bench] {name} {best:.2f}s", file=sys.stderr, flush=True)
        return out

    # graph load + derived tables (the reference reports load time too).
    # repeat=1: warm() memoizes, a second run would measure nothing.
    g = timed("graph_load", lambda: _load(spark), repeat=1)
    eng = PPREngine(g)
    src = E._source(g)

    timed("q_power", lambda: eng.ppr(src, algo="power").count())
    timed("q_fwdpush", lambda: eng.ppr(src, algo="fwdpush", rmax=1e-6).count())
    timed("q_fora", lambda: eng.ppr(src, algo="fora", epsilon=0.5).count())
    timed("q_montecarlo", lambda: eng.ppr(src, algo="montecarlo", epsilon=0.5).count())
    timed("q_fora_topk", lambda: eng.topk(src, 10, algo="fora_topk").count())

    # BASE preprocessing over a 512-target batch (one multi-target Spark job)
    # + a partition-pruned lookup
    with tempfile.TemporaryDirectory() as d:
        runs = iter(range(100))
        path = d + "/prep"

        def prep():
            # fresh subdir per repeat: an overwrite into an EXISTING
            # 512-partition store first deletes 512 directories, which
            # would bill run 2 for run 1's layout
            p = f"{d}/prep{next(runs)}"
            targets = g.nodes.select(F.col("id").alias("target")).orderBy("id").limit(512)
            df = base_all_pair.base_preprocess(
                g, threshold=1e-4, targets=targets, alpha=eng.alpha
            )
            from personalized_pagerank_algorithms_on_neo4j_spark.sources.prep_store import (
                write_prep,
            )

            write_prep(df, p)
            return p

        path = timed("q_base_prep512", prep)
        timed(
            "q_base_lookup",
            lambda: base_all_pair.base_lookup(g, path, src).count(),
        )

    # relational / pipeline heavies
    timed("q_revenue_by_customer",
          lambda: E.q_revenue_by_customer(spark, SF_DIR).count())
    timed("q_dedup_exact", lambda: E.q_dedup_exact(spark, SF_DIR).count())
    timed("q_simsearch_cosine", lambda: E.q_simsearch_cosine(spark, SF_DIR).count())
    timed("q_minhash_lsh", lambda: E.q_minhash_lsh_candidates(spark, SF_DIR).count())
    timed("q_simsearch_pq", lambda: E.q_simsearch_pq(spark, SF_DIR).count())
    timed("q_text_profile", lambda: E.q_text_profile(spark, SF_DIR).count())
    timed("q_asof_clicks", lambda: E.q_asof_clicks(spark, SF_DIR).count())
    timed("q_events_hourly", lambda: E.q_events_hourly(spark, SF_DIR).count())
    timed("q_decontamination", lambda: E.q_decontamination(spark, SF_DIR).count())
    timed("q_kmeans", lambda: E.q_kmeans_clusters(spark, SF_DIR).count())

    # round-2 aggregation-family trend lines (correctness rows exist; these
    # give them perf numbers round over round)
    timed("q_event_funnel", lambda: E.q_event_funnel(spark, SF_DIR).count())
    timed("q_bloom_decontamination",
          lambda: E.q_bloom_decontamination(spark, SF_DIR).count())

    # BASE sweep over 512 REAL reverse frontiers (suppliers/nations — the
    # ascending-id 512 above are all in-degree-0 customers whose kernels
    # short-circuit): measures the executor-parallel per-target kernel path.
    timed(
        "q_base_prep_heavy",
        lambda: base_all_pair.base_preprocess(
            g,
            threshold=1e-4,
            targets=g.nodes.select(F.col("id").alias("target"))
            .orderBy(F.desc("id"))
            .limit(512),
            alpha=eng.alpha,
        ).count(),
    )

    # the 100x-scale path: DataFrame superstep loops, tracked round over
    # round (bounded iteration counts keep the bench bounded; per-superstep
    # cost is the metric). Kept LAST so their heavy shuffles don't perturb
    # the legacy sequence above, which stays order-comparable with round-1
    # numbers.
    timed(
        "q_power_dist10",
        lambda: eng.ppr(src, algo="power", iterations=10, mode="distributed").count(),
    )
    # the other 100x-scale iterator: the batch-frontier push loop. Fixed 10
    # supersteps (like q_power_dist10) — the metric is per-superstep cost,
    # not convergence wall-time: full convergence at rmax=1e-6 is ~90
    # geometric-tail supersteps of which the last ~60 are near-empty, all
    # driver overhead at local scale.
    # round-3 operator families: retrieval scoring, quality proxy, and the
    # hub-capped two-hop self-join
    timed("q_bm25", lambda: E.q_bm25_topk(spark, SF_DIR).count())
    timed("q_doc_logprob", lambda: E.q_doc_logprob(spark, SF_DIR).count())
    timed("q_two_hop", lambda: E.q_two_hop_counts(spark, SF_DIR).count())
    # text-statistics trend lines (round 4): per-doc TF-IDF windows and the
    # one-scan conditional-agg report card
    timed("q_tfidf", lambda: E.q_tfidf_top_terms(spark, SF_DIR).count())
    timed("q_corpus_report", lambda: E.q_corpus_report(spark, SF_DIR).count())
    # graph-analytics trend lines (round 4): the degree-ordered wedge join
    # (the family's heavy self-join), frontier BFS, and peeling k-core
    timed("q_triangles", lambda: E.q_triangle_counts(spark, SF_DIR).count())
    timed("q_graph_bfs", lambda: E.q_graph_bfs(spark, SF_DIR).count())
    timed("q_kcore", lambda: E.q_graph_kcore(spark, SF_DIR).count())
    timed("q_harmonic", lambda: E.q_harmonic_centrality(spark, SF_DIR).count())
    # round-5 trend lines: the round-4 tail families (iterative hub/authority
    # power rounds, label-propagation components, bucketized range join,
    # batched multi-query BM25)
    timed("q_hits", lambda: E.q_graph_hits(spark, SF_DIR).count())
    timed("q_wcc", lambda: E.q_graph_wcc(spark, SF_DIR).count())
    timed("q_range_join", lambda: E.q_order_price_bands(spark, SF_DIR).count())
    timed("q_bm25_multi", lambda: E.q_bm25_multi(spark, SF_DIR).count())
    # round-5 additions: whole-graph pagerank (iterative), hot-shingle
    # mining and the bigram LM (the two heaviest text aggregations)
    timed("q_graph_pagerank", lambda: E.q_graph_pagerank(spark, SF_DIR).count())
    timed("q_hot_shingles", lambda: E.q_hot_shingles(spark, SF_DIR).count())
    timed("q_bigram_logprob",
          lambda: E.q_doc_bigram_logprob(spark, SF_DIR).count())
    timed("q_adamic_adar", lambda: E.q_adamic_adar(spark, SF_DIR).count())
    timed("q_pagerank_weighted",
          lambda: E.q_graph_pagerank_weighted(spark, SF_DIR).count())
    timed("q_ivfpq", lambda: E.q_simsearch_ivfpq(spark, SF_DIR).count())
    timed("q_lsh_incremental",
          lambda: E.q_lsh_incremental(spark, SF_DIR).count())
    # weighted + personalized pagerank together, and the bigram-LM
    # next-token ranking (one corpus scan -> conditional distribution)
    timed("q_ppr_pagerank_weighted",
          lambda: E.q_ppr_pagerank_weighted(spark, SF_DIR).count())
    timed("q_next_tokens", lambda: E.q_next_tokens(spark, SF_DIR).count())
    # community labels (plurality supersteps) and weighted shortest paths
    # (frontier Bellman-Ford) — the last two gds.* graph verbs
    timed("q_lpa", lambda: E.q_graph_lpa(spark, SF_DIR).count())
    timed("q_sssp", lambda: E.q_sssp_weighted(spark, SF_DIR).count())
    # typed JSON-field extraction over the events props payload
    timed("q_events_json",
          lambda: E.q_events_json_stats(spark, SF_DIR).count())
    # k landmarks batched through one weighted-SSSP superstep loop
    timed("q_sssp_multi",
          lambda: E.q_sssp_landmarks(spark, SF_DIR).count())
    # wide->long Expand melt and the event-time RANGE window frame.
    # NOTE: the range-window key must AGGREGATE a window output column —
    # .count() alone lets ColumnPruning drop the Window node entirely
    # (window expressions don't change cardinality), timing a bare scan
    timed("q_unpivot", lambda: E.q_part_unpivot(spark, SF_DIR).count())
    timed(
        "q_range_window",
        lambda: E.q_events_range_window(spark, SF_DIR)
        .agg(F.sum("trailing_cents"))
        .collect(),
    )
    timed("q_winnow", lambda: E.q_doc_winnow(spark, SF_DIR).count())
    timed(
        "q_name_variants",
        lambda: E.q_part_name_variants(spark, SF_DIR).count(),
    )
    timed(
        "q_token_budget",
        lambda: E.q_token_budget_mix(spark, SF_DIR).count(),
    )
    timed(
        "q_source_overlap",
        lambda: E.q_source_overlap(spark, SF_DIR).count(),
    )
    timed("q_corpus_diff", lambda: E.q_corpus_diff(spark, SF_DIR).count())
    timed(
        "q_split_leakage",
        lambda: E.q_split_leakage(spark, SF_DIR).count(),
    )
    timed("q_winnow_dups", lambda: E.q_winnow_dups(spark, SF_DIR).count())
    timed(
        "q_betweenness",
        lambda: E.q_graph_betweenness(spark, SF_DIR).count(),
    )
    timed("q_pmi", lambda: E.q_pmi_collocations(spark, SF_DIR).count())
    timed(
        "q_source_divergence",
        lambda: E.q_source_divergence(spark, SF_DIR).count(),
    )
    timed(
        "q_salted_join",
        lambda: E.q_orders_salted_join(spark, SF_DIR).count(),
    )
    timed(
        "q_negatives",
        lambda: E.q_graph_negatives(spark, SF_DIR).count(),
    )
    timed(
        "q_winnow_incr",
        lambda: E.q_winnow_incremental(spark, SF_DIR).count(),
    )
    timed("q_event_paths", lambda: E.q_event_paths(spark, SF_DIR).count())
    timed("q_ppr_temporal", lambda: E.q_ppr_temporal(spark, SF_DIR).count())
    timed("q_url_canonical", lambda: E.q_url_canonical(spark, SF_DIR).count())
    # round-6 graph-sampling + eigenvector trend lines: per-src hash top-k,
    # the L-superstep walk loop, and the shifted-power centrality loop
    timed(
        "q_sample_neighbors",
        lambda: E.q_graph_sample_neighbors(spark, SF_DIR).count(),
    )
    timed("q_walks", lambda: E.q_graph_walks(spark, SF_DIR).count())
    timed(
        "q_eigenvector",
        lambda: E.q_graph_eigenvector(spark, SF_DIR).count(),
    )
    # community-quality + wiring-fingerprint trend lines: modularity rides
    # the 5-round LPA loop, assortativity is one degree join + global sum
    timed(
        "q_modularity",
        lambda: E.q_graph_modularity(spark, SF_DIR).count(),
    )
    timed(
        "q_assortativity",
        lambda: E.q_graph_assortativity(spark, SF_DIR).count(),
    )
    # second-order walk loop (per-(prev,cur) successor map + membership
    # join) and the join-free skip-gram extraction over the walk corpus
    timed("q_node2vec", lambda: E.q_graph_node2vec(spark, SF_DIR).count())
    timed("q_skipgrams", lambda: E.q_walk_skipgrams(spark, SF_DIR).count())
    # landmark closeness rides the same batched BFS loop as q_harmonic;
    # the trend line isolates the extra aggregate's cost
    timed("q_closeness", lambda: E.q_graph_closeness(spark, SF_DIR).count())
    # FastRP: two integer neighbor-sum rounds on one 16-wide array column
    # + one L2 normalization — the embedding-generation trend line
    timed("q_fastrp", lambda: E.q_graph_fastrp(spark, SF_DIR).count())
    # ArticleRank rides the pagerank uniform-restart loop with the
    # avg-degree denominator — the trend line isolates the contrib delta
    timed(
        "q_articlerank",
        lambda: E.q_graph_articlerank(spark, SF_DIR).count(),
    )
    # conductance rides the LPA loop + one label-join aggregate
    timed(
        "q_conductance",
        lambda: E.q_graph_conductance(spark, SF_DIR).count(),
    )
    # two-level Louvain: 4 parity-scheduled gain rounds + contraction + 2
    # contracted rounds — the community-detection flagship trend line
    timed("q_louvain", lambda: E.q_graph_louvain(spark, SF_DIR).count())
    # DSIR: one gram expansion -> 4096-bucket aggregate -> broadcast join
    timed("q_dsir", lambda: E.q_dsir_weights(spark, SF_DIR).count())
    # within-doc entropy: one (doc, term) aggregate + per-doc sum
    timed("q_doc_entropy", lambda: E.q_doc_entropy(spark, SF_DIR).count())
    # k-truss: triangle-support peeling (first round dominates — full
    # degree-oriented enumeration over the unpeeled edge set)
    timed("q_ktruss", lambda: E.q_graph_ktruss(spark, SF_DIR).count())
    # span corruption: one md5 per token + doc-keyed sorted rebuilds
    timed(
        "q_span_corruption",
        lambda: E.q_span_corruption(spark, SF_DIR).count(),
    )
    # seven yearly snapshots batched through one (snap, node)-keyed loop
    timed(
        "q_pagerank_snapshots",
        lambda: E.q_pagerank_snapshots(spark, SF_DIR).count(),
    )
    # eight LSH probes vs eight brute scans in one unioned job
    timed("q_ann_recall", lambda: E.q_ann_recall(spark, SF_DIR).count())
    # LSH candidate set scored against exact shingle Jaccard (one row)
    timed("q_dedup_eval", lambda: E.q_dedup_eval(spark, SF_DIR).count())
    # robots-style policy: broadcast rules, host-equi join, page decisions
    timed("q_url_policy", lambda: E.q_url_policy(spark, SF_DIR).count())
    # weighted two-level Louvain (summed weights through the same loop)
    timed(
        "q_louvain_weighted",
        lambda: E.q_graph_louvain_weighted(spark, SF_DIR).count(),
    )
    # SCC (FW-BW coloring) over per-user same-visit transition graphs
    timed("q_scc", lambda: E.q_graph_scc(spark, SF_DIR).count())
    # k-NN similarity graph: banded-LSH candidates + per-node top-k
    timed("q_knn_graph", lambda: E.q_graph_knn(spark, SF_DIR).count())
    # edge churn between consecutive yearly graph snapshots
    timed(
        "q_snapshot_diff_graph",
        lambda: E.q_graph_snapshot_diff(spark, SF_DIR).count(),
    )
    # sub-document dedup: winnow match step re-keyed on 16-token blocks
    timed(
        "q_winnow_paragraphs",
        lambda: E.q_winnow_paragraphs(spark, SF_DIR).count(),
    )
    # BPE merge induction: 8 count-argmax-fuse rounds over the corpus
    timed("q_bpe", lambda: E.q_bpe_merges(spark, SF_DIR).count())
    # BPE apply side: train + chained-replace tokenize + per-doc counts
    timed("q_bpe_apply", lambda: E.q_bpe_compression(spark, SF_DIR).count())
    # realistic-vocab apply: batched 256-merge train + longest-match
    # tokenize via pointer doubling (the scale path for tokenizer apply)
    timed("q_bpe_encode", lambda: X.q_bpe_encode(spark, SF_DIR).count())
    # Yen's 3 shortest similarity-chains over the kNN doc graph: driver-
    # orchestrated by nature, each iteration ONE batched spur-SSSP loop
    timed("q_graph_kpaths", lambda: X.q_graph_kpaths(spark, SF_DIR).count(), repeat=1)
    # delta-bounded temporal 2-path/triangle counts on the handoff stream
    timed("q_temporal_motifs", lambda: X.q_temporal_motifs(spark, SF_DIR).count())
    # Brandes-Pich pivot-sampled betweenness (16 hash-drawn pivots)
    timed(
        "q_betweenness_sampled",
        lambda: X.q_betweenness_sampled(spark, SF_DIR).count(),
    )
    # HyperBall: per-node r-neighborhood sizes via row-wise HLL registers.
    # graph_anf is NOT benched: it is this operator plus one tiny
    # aggregate (the MST/hierarchy precedent — benching both would
    # re-time the same superstep loop for no added signal).
    timed("q_hyperball", lambda: X.q_graph_hyperball(spark, SF_DIR).count())
    # Luby's MIS: deterministic hash-priority symmetry breaking.
    # graph_coloring is NOT benched: it is iterated layers of exactly
    # this operator (the composition-of-benched-substrate precedent) —
    # and its gate-scale color budget is below what sf0.1 needs.
    timed("q_graph_mis", lambda: X.q_graph_mis(spark, SF_DIR).count())
    # greedy maximal matching: the one-to-one pairing verb.
    # dedup_matching is NOT benched: it is minhash_lsh (benched) piped
    # into exactly this operator (composition precedent).
    timed("q_graph_matching", lambda: X.q_graph_matching(spark, SF_DIR).count())
    # ExactSubstr removal spans: gram postings + cross-doc filter + span merge
    timed(
        "q_substring_dedup",
        lambda: X.q_substring_dedup_spans(spark, SF_DIR).count(),
    )
    # substring-granularity decontamination (train spans covered by
    # benchmark grams — the cross-corpus flavor of the same postings)
    timed(
        "q_contamination_spans",
        lambda: X.q_contamination_spans(spark, SF_DIR).count(),
    )
    # mergeable level-sampling quantile sketch (per-returnflag, k=512)
    timed("q_quantile_sketch", lambda: X.q_quantile_sketch(spark, SF_DIR).count())
    # A* single pair with the ALT landmark heuristic (includes the
    # 3-landmark multi-SSSP that builds the lower bound)
    timed("q_graph_astar", lambda: X.q_graph_astar(spark, SF_DIR).count(), repeat=1)
    # incremental PPR maintenance: init push on the md5-split old graph +
    # repair + resume.  The recompute-vs-incremental ratio is measured in
    # PERF_NOTES (the bench key times the full pipeline; the repair+resume
    # alone is the production path once the store exists)
    timed(
        "q_ppr_incremental",
        lambda: X.q_ppr_incremental(spark, SF_DIR).count(),
        repeat=1,
    )
    # the two r10 composition keys get their own trend lines from r11 on
    # (VERDICT r10 ask #6: both carried one-off standalone numbers only;
    # louvain_refined in particular runs ~2x louvain alone)
    timed(
        "q_louvain_refined",
        lambda: X.q_graph_louvain_refined(spark, SF_DIR).count(),
        repeat=1,
    )
    timed(
        "q_hybrid_retrieval",
        lambda: X.q_hybrid_retrieval(spark, SF_DIR).count(),
    )
    # r11: DELETE-flavor incremental PPR (init push on the FULL graph +
    # delete repair + resume — the insert key's mirror image)
    timed(
        "q_ppr_incr_delete",
        lambda: X.q_ppr_incremental_delete(spark, SF_DIR).count(),
        repeat=1,
    )
    # r11: exact merge-order BPE apply (batched 256-merge train + ONE
    # narrow argmin apply pass; the vocab-scaling study is in PERF_NOTES)
    timed(
        "q_bpe_exact_apply",
        lambda: X.q_bpe_exact_apply(spark, SF_DIR).count(),
        repeat=1,
    )
    # r11: three A* queries off ONE amortized landmark build — the trend
    # line prices the amortization against q_graph_astar's per-query build
    timed(
        "q_astar_multi",
        lambda: X.q_graph_astar_multi(spark, SF_DIR).count(),
        repeat=1,
    )
    # r11 post-window registrations: SALSA rides the HITS loop shape
    # (trend line isolates the stochastic-step delta); containment rides
    # the shared-shingle join machinery of minhash/ngram dedup
    timed("q_graph_salsa", lambda: X.q_graph_salsa(spark, SF_DIR).count())
    timed(
        "q_containment_dedup",
        lambda: X.q_containment_dedup(spark, SF_DIR).count(),
    )
    # r12: the end-to-end corpus-build flagship composition (six curation
    # stages over ONE corpus — quality/exact/near-dup/decon/mix/pack)
    timed(
        "q_corpus_pipeline",
        lambda: X.q_corpus_pipeline(spark, SF_DIR).count(),
        repeat=1,
    )
    # r12: MIXED insert+delete incremental-PPR maintenance (the insert and
    # delete repairs composed + ONE resume — prices the composition
    # against the single-flavor q_ppr_incr_delete trend line)
    timed(
        "q_ppr_incr_mixed",
        lambda: X.q_ppr_incremental_mixed(spark, SF_DIR).count(),
        repeat=1,
    )
    # r12 post-window registrations (ordinary rotation, the salsa/
    # containment precedent): nibble rides the I1 push + a support-
    # bounded sweep; contrastive rides the kmeans_clusters band; the
    # funnel re-runs the corpus gate chain with count tails; doulion is
    # the triangles machinery on a half-sampled edge set
    timed("q_ppr_nibble", lambda: X.q_ppr_nibble(spark, SF_DIR).count())
    timed(
        "q_contrastive_pairs",
        lambda: X.q_contrastive_pairs(spark, SF_DIR).count(),
    )
    timed(
        "q_corpus_funnel",
        lambda: X.q_corpus_funnel(spark, SF_DIR).count(),
        repeat=1,
    )
    timed(
        "q_triangles_doulion",
        lambda: X.q_triangles_doulion(spark, SF_DIR).count(),
    )
    # flagship verb on the similarity substrate: doc-PPR over the kNN graph
    timed("q_ppr_docs", lambda: E.q_ppr_docs(spark, SF_DIR).count())
    # end-to-end corpus clustering: kNN edges -> weighted Louvain
    timed(
        "q_knn_communities",
        lambda: E.q_knn_communities(spark, SF_DIR).count(),
    )
    # Borůvka maximum spanning forest over the kNN doc graph.  The
    # single-linkage composition (q_knn_hierarchy) is NOT benched: it is
    # this forest plus a threshold cut + one label pass (quiet delta
    # ~7 s over the forest, PERF_NOTES r8) — benching both would double
    # the heaviest key for no added signal.
    timed("q_graph_mst", lambda: E.q_graph_mst(spark, SF_DIR).count())
    # perceptual image dedup: dHash + exact Hamming banding (the cluster
    # composition rides the dedup family; the pairing is the new cost)
    timed(
        "q_image_near_dups",
        lambda: E.q_image_near_dups(spark, SF_DIR).count(),
    )
    # Z-order layout (manifest subsumes the layout derivation) and the
    # 1-WL structural-fingerprint superstep loop
    timed("q_zorder", lambda: E.q_zorder_manifest(spark, SF_DIR).count())
    timed("q_wl_colors", lambda: E.q_graph_wl_colors(spark, SF_DIR).count())

    # counted-walk distributed MC (state bounded by active nodes, not
    # omega): 10 supersteps, then the walks still live force-stop at their
    # current node (a full superstep drain is ~90 near-empty supersteps)
    timed(
        "q_mc_dist10",
        lambda: eng.ppr(
            src, algo="montecarlo", epsilon=0.5, mode="distributed",
            max_supersteps=10,
        ).count(),
    )
    # multi-source personalization through the DISTRIBUTED superstep loop
    # (k=1 local would be bit-identical to q_power and measure nothing new)
    timed(
        "q_ppr_multi_dist10",
        lambda: eng.ppr_multi(
            sorted(
                r[0] for r in g.nodes.where(F.col("id") < 1_000_000)
                .orderBy("id").limit(3).collect()
            ),
            iterations=10,
            mode="distributed",
        ).count(),
    )
    timed(
        "q_fwdpush_dist10",
        lambda: eng.ppr(
            src, algo="fwdpush", rmax=1e-6, mode="distributed", max_supersteps=10
        ).count(),
    )

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    print(render_line(timings, sf))
    spark.stop()


# The round-driver records only the LAST 2000 CHARS OF STDOUT (measured:
# BENCH_r05's "tail" field is exactly 2000 chars ending at the JSON line's
# newline; r6's 90-key 4-decimal line grew past that and lost its head, so
# the driver recorded "parsed": null and the 10 headline keys vanished from
# the perf-trend channel).  render_line therefore emits the final JSON line
# compact (no spaces), values at 2 decimals, and per-query keys WITHOUT the
# historical "q_" prefix (uniform rename, saves ~180 chars; the r6->r7 name
# mapping is q_X -> X, noted in PERF_NOTES.md).  A guard keeps the line
# under LINE_BUDGET chars, falling back to 1-decimal values before ever
# truncating keys; tests/test_bench_driver.py pins the budget against the
# full current key list with worst-case values.
LINE_BUDGET = 1990  # the capture window is the last 2000 chars INCLUDING
# the line's trailing newline (BENCH_r05/r06 "tail" fields end exactly at
# "}\n"), so a <=1999-char line survives; 1990 leaves margin

# --- sustainable per-key emission (round 8 scheme) -------------------------
# At ~98 keys x ~19 chars the single line is one round from outgrowing the
# 2000-char capture for good, so the per-key channel rotates like the
# correctness window instead of degrading precision for everyone:
#   1. PINNED_KEYS (the section-2 headline keys BASELINE.md prices) are
#      ALWAYS emitted at full 2-decimal resolution;
#   2. NEW_KEYS (this round's additions — fold into the rotation next
#      round, like the correctness window's _R*_NEW lists) always emitted;
#   3. every other key joins a deterministic rotation: sorted, rotated
#      left by ROTATION_ROUND * ceil(len/3), greedily filled until the
#      line meets LINE_BUDGET.  With capacity >= 1/3 of the rotating set,
#      three consecutive rounds cover every key (same cadence as the
#      correctness window); the quiet-box PERF_NOTES snapshot remains the
#      full per-round map regardless.
# Keys are DROPPED (keys_shown/keys_total record how many) before any
# precision tier degrades, so the headline trend lines never lose digits.
ROTATION_ROUND = 12  # bump alongside NEW_KEYS each round
PINNED_KEYS = [
    "graph_load", "q_power", "q_fwdpush", "q_fora", "q_montecarlo",
    "q_fora_topk", "q_base_prep512", "q_base_lookup", "q_base_prep_heavy",
    "q_power_dist10", "q_mc_dist10", "q_ppr_multi_dist10", "q_fwdpush_dist10",
]
NEW_KEYS: list[str] = [
    # r12 registrations, plus the r11 watch-item keys forced into this
    # round's shown set: q_astar_multi (VERDICT r11 ask #5 — settle the
    # 8.58 vs 10.07 s band) rides one more round; the r11 NEW_KEYS
    # otherwise fold into the ordinary rotation as always
    "q_corpus_pipeline", "q_ppr_incr_mixed", "q_astar_multi",
]


def render_line(timings: dict[str, float], sf: float) -> str:
    total = round(sum(timings.values()), 2)
    shorts = {k: (k[2:] if k.startswith("q_") else k) for k in timings}
    assert len(set(shorts.values())) == len(shorts), "bench key collision"
    front = [k for k in timings if k in PINNED_KEYS or k in NEW_KEYS]
    rotating = sorted(k for k in timings if k not in front)
    if rotating:
        start = (ROTATION_ROUND * -(-len(rotating) // 3)) % len(rotating)
        rotating = rotating[start:] + rotating[:start]

    def build(keys: list[str], ndigits: int) -> str:
        q = {
            shorts[k]: (int(round(timings[k])) if ndigits == 0
                        else round(timings[k], ndigits))
            for k in keys
        }
        return json.dumps(
            {"metric": "ppr_spark_bench_total", "value": total, "unit": "sec",
             "sf": sf, "keys_total": len(timings), "keys_shown": len(keys),
             "rot": ROTATION_ROUND, "queries": q},
            separators=(",", ":"),
        )

    # drop rotating keys (most-recently-covered last) before touching
    # precision; the 1/0-decimal tiers remain only as the catastrophe
    # fallback should the pinned set alone ever outgrow the budget
    for n_rot in range(len(rotating), -1, -1):
        line = build(front + rotating[:n_rot], 2)
        if len(line) <= LINE_BUDGET:
            return line
    for ndigits in (1, 0):
        line = build(front, ndigits)
        if len(line) <= LINE_BUDGET:
            return line
    raise AssertionError(
        f"bench JSON line is {len(line)} chars even at integer precision "
        "with only pinned keys; the driver tail capture is 2000 — trim "
        "PINNED_KEYS"
    )


def _load(spark):
    g = E._graph(spark, SF_DIR)
    g.warm()  # ONE action: materializes nodes/edges/degrees caches + n/m
    return g


if __name__ == "__main__":
    main()
