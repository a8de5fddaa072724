"""Structured Streaming tests: memory-sink batches drive each query to
completion synchronously (parquet file source + processAllAvailable)."""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from personalized_pagerank_algorithms_on_neo4j_spark.operators import _kernels
from personalized_pagerank_algorithms_on_neo4j_spark.sources.tables import load_table
from personalized_pagerank_algorithms_on_neo4j_spark.streaming import ppr_refresh as S

from .conftest import SF_SMALL

pytestmark = pytest.mark.slow  # heavyweight e2e: see pytest.ini / README two-tier loop


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Split the events fixture into 2 files so maxFilesPerTrigger=1 yields
    two microbatches."""
    out = str(tmp_path / "events_stream")
    (
        load_table(spark, SF_SMALL, "events")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(out)
    )
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _drain(q):
    q.processAllAvailable()
    q.stop()


def test_windowed_event_counts(spark, events_dir):
    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    agg = S.windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    _drain(q)
    got = spark.sql(
        "SELECT event_type, SUM(n) AS n FROM win_counts GROUP BY event_type"
    ).collect()
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert {(r["event_type"], r["n"]) for r in got} == {
        (r["event_type"], r["n"]) for r in batch
    }


def test_sessionize_runs(spark, events_dir):
    stream = S.read_event_stream(spark, events_dir)
    q = (
        S.sessionize(stream, gap="10 minutes", watermark="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions")
        .start()
    )
    _drain(q)
    rows = spark.sql("SELECT COUNT(*) AS n FROM sessions").collect()
    assert rows[0]["n"] > 0


def test_running_user_totals_stateful(spark, events_dir):
    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    q = (
        S.running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running")
        .start()
    )
    _drain(q)
    # last update per user must equal the batch totals (state carried across
    # the two microbatches)
    batch = {
        r["user_id"]: (r["n"], round(r["total"], 6))
        for r in (
            load_table(spark, SF_SMALL, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.coalesce("value", F.lit(0.0))), 6).alias("total"),
            )
            .collect()
        )
    }
    got_rows = spark.sql("SELECT * FROM running").collect()
    last: dict[int, tuple] = {}
    for r in got_rows:  # memory sink appends updates in batch order
        last[r["user_id"]] = (r["n"], round(r["total"], 6))
    assert last == batch


def test_incremental_prep_refresh(spark, got, tmp_path, events_dir):
    """The foreachBatch refresh materializes pi(. -> t) for event-active
    nodes and matches the backward-search kernel."""
    lg = got.local
    prep = str(tmp_path / "prep_refresh")

    # map user ids into GOT node id space deterministically
    def user_to_node(users):
        return users.select((F.col("user_id") % got.n).cast("long").alias("target"))

    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    q = S.start_incremental_prep_refresh(
        got, stream, prep, rmax=1e-3, user_to_node=user_to_node
    )
    _drain(q)

    stored = spark.read.parquet(prep)
    targets = [r["target"] for r in stored.select("target").distinct().collect()]
    assert len(targets) > 0
    t = targets[0]
    got_rows = S.lookup_to_target(spark, prep, t).collect()
    pi_k, _, _ = _kernels.backward_search_batch(lg, lg.dense(t), 0.15, 1e-3)
    est = np.zeros(lg.n)
    for r in got_rows:
        est[lg.dense(r["node"])] = r["ppr"]
    assert np.max(np.abs(est - pi_k)) < 1e-12


def test_prep_refresh_keeps_session_overwrite_mode(spark, tpch_graph, tmp_path, events_dir):
    """The refresh overwrites its target= partitions per write, leaving the
    session's partitionOverwriteMode alone: a full BASE store overwrite
    afterwards still drops the partitions it no longer holds."""
    from personalized_pagerank_algorithms_on_neo4j_spark.sources.prep_store import (
        read_prep,
        write_prep,
    )

    lg = tpch_graph.local
    live = [int(lg.ids[i]) for i in np.flatnonzero(lg.in_deg > 0)[:2]]
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)

    def user_to_node(users):
        pick = F.when(F.col("user_id") % 2 == 0, live[0]).otherwise(live[1])
        return users.select(pick.cast("long").alias("target")).distinct()

    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    q = S.start_incremental_prep_refresh(
        tpch_graph, stream, str(tmp_path / "refresh"), rmax=1e-2, user_to_node=user_to_node
    )
    assert spark.conf.get(key) == before
    _drain(q)
    assert spark.conf.get(key) == before
    t = live[0]
    rows = S.lookup_to_target(spark, str(tmp_path / "refresh"), t).collect()
    pi_k, _, _ = _kernels.backward_search_batch(lg, lg.dense(t), 0.15, 1e-2)
    est = np.zeros(lg.n)
    for r in rows:
        est[lg.dense(r["node"])] = r["ppr"]
    assert np.max(np.abs(est - pi_k)) < 1e-12

    store = str(tmp_path / "prep")
    schema = "source long, target long, ppr double"
    write_prep(spark.createDataFrame([(s, 1, 0.5) for s in (1, 2, 3)], schema), store)
    write_prep(spark.createDataFrame([(s, 1, 0.5) for s in (1, 2)], schema), store)
    assert read_prep(spark, store, source=3).count() == 0
    assert read_prep(spark, store).count() == 2


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Exact-dedup stream: duplicates are dropped within a batch (min-id
    survivor) AND across microbatches via the persistent digest store."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import dedup_stream as D

    src = str(tmp_path / "docs_stream")
    store = str(tmp_path / "digests")
    out = str(tmp_path / "clean")

    batch1 = [(1, "alpha beta gamma", "en", 16), (2, "alpha beta gamma", "en", 16),
              (3, "unique one", "en", 10)]
    batch2 = [(4, "ALPHA  beta gamma", "en", 17),  # dup of 1 after normalize
              (5, "unique two", "en", 10)]
    spark.createDataFrame(batch1, D.DOCS_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(src)
    b1_files = set(glob.glob(src + "/*.parquet"))
    spark.createDataFrame(batch2, D.DOCS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    # FileStreamSource orders files by modification time; back-to-back writes
    # can land in the same mtime tick, which would let batch2 process first
    # (flipping which duplicate survives). Pin distinct mtimes.
    now = time.time()
    for f in glob.glob(src + "/*.parquet"):
        os.utime(f, (now - 100, now - 100) if f in b1_files else (now, now))

    stream = D.read_document_stream(spark, src, max_files_per_trigger=1)
    q = D.start_streaming_dedup(spark, stream, store, out)
    q.processAllAvailable()
    q.stop()

    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    # 2 deduped in-batch against 1; 4 deduped across batches via the store
    assert kept == [1, 3, 5]
    digests = spark.read.parquet(store).count()
    assert digests == 3


def test_streaming_topk_leaderboard(spark, events_dir, tmp_path):
    """Two microbatches; the final board must equal the batch-twin top-k over
    all events, and the totals store must be bucket-partitioned."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        topk_stream as T,
    )

    store = str(tmp_path / "topk_store")
    board = str(tmp_path / "topk_board")
    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    q = T.start_streaming_topk(
        spark, stream, store, board, k=3, bucket="1 hour"
    )
    _drain(q)

    got = {
        (r["bucket"], r["key"], r["n"], round(r["total"], 9), r["rank"])
        for r in T.read_leaderboard(spark, board).collect()
    }
    want = {
        (r["bucket"], r["key"], r["n"], round(r["total"], 9), r["rank"])
        for r in T.rank_topk(
            T._bucketed_totals(
                load_table(spark, SF_SMALL, "events"), "1 hour", "user_id", "value"
            ),
            k=3,
        ).collect()
    }
    assert got == want and got
    # store layout: partitioned by bucket (dirty-bucket overwrite unit)
    assert glob.glob(os.path.join(store, "bucket=*")), os.listdir(store)


def test_streaming_topk_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the last epoch with the
    same id and data must leave the totals and the board unchanged (the
    old read-merge-overwrite design re-added the replayed batch onto the
    merged totals — the same flaw class fixed in anomaly_stream)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        topk_stream as T,
    )

    store = str(tmp_path / "topk_store")
    board = str(tmp_path / "topk_board")
    events = load_table(spark, SF_SMALL, "events")
    half = events.where(F.col("user_id") % 2 == 0)
    rest = events.where(F.col("user_id") % 2 != 0)
    run_epoch = T.make_merge_batch(spark, store, board, k=3, bucket="1 hour")
    run_epoch(half, 0)
    run_epoch(rest, 1)
    before = sorted(
        (r["bucket"], r["key"], r["n"], round(r["total"], 9), r["rank"])
        for r in T.read_leaderboard(spark, board).collect()
    )
    run_epoch(rest, 1)  # post-restart replay of the last epoch
    after = sorted(
        (r["bucket"], r["key"], r["n"], round(r["total"], 9), r["rank"])
        for r in T.read_leaderboard(spark, board).collect()
    )
    assert before == after and before
    # the replayed board must still equal the batch twin over ALL events
    want = sorted(
        (r["bucket"], r["key"], r["n"], round(r["total"], 9), r["rank"])
        for r in T.rank_topk(
            T._bucketed_totals(events, "1 hour", "user_id", "value"), k=3
        ).collect()
    )
    assert after == want


def test_topk_legacy_store_migration(spark, tmp_path):
    """A pre-epoch store (bucket=-only partitions with merged totals)
    upgrades in place to the epoch layout; the board after migration +
    a new epoch equals the batch twin over all events."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        topk_stream as T,
    )

    store = str(tmp_path / "topk_store")
    board = str(tmp_path / "topk_board")
    events = load_table(spark, SF_SMALL, "events")
    half = events.where(F.col("user_id") % 2 == 0)
    rest = events.where(F.col("user_id") % 2 != 0)
    # legacy layout: merged totals partitioned by bucket only
    (
        T._bucketed_totals(half, "1 hour", "user_id", "value")
        .write.partitionBy("bucket")
        .parquet(store)
    )
    assert T.migrate_legacy_store(spark, store) is True
    assert T.migrate_legacy_store(spark, store) is False  # idempotent no-op
    run_epoch = T.make_merge_batch(spark, store, board, k=3, bucket="1 hour")
    run_epoch(rest, 0)
    got = sorted(
        (r["bucket"], r["key"], r["n"], round(r["total"], 9), r["rank"])
        for r in T.read_leaderboard(spark, board).collect()
    )
    want = sorted(
        (r["bucket"], r["key"], r["n"], round(r["total"], 9), r["rank"])
        for r in T.rank_topk(
            T._bucketed_totals(events, "1 hour", "user_id", "value"), k=3
        ).collect()
    )
    # the board only re-ranks buckets dirtied by epoch 0; restrict the
    # batch twin to those buckets
    dirty = {b for b, *_ in got}
    assert got == [w for w in want if w[0] in dirty] and got


def test_streaming_anomaly_matches_batch_twin(spark, events_dir, tmp_path):
    """Two microbatches; the final z-board must equal hourly_anomaly_scores
    over the complete event set (shared implementation, so this pins the
    merge/store plumbing, not the math)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.monitoring import (
        hourly_anomaly_scores,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        anomaly_stream as A,
    )

    store = str(tmp_path / "anom_store")
    board = str(tmp_path / "anom_board")
    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    q = A.start_streaming_anomaly(
        spark, stream, store, board, trailing=24, min_prev=6
    )
    _drain(q)

    got = {
        (r["bucket"], r["n"], r["n_prev"], r["mean_prev"], r["z"])
        for r in A.read_anomalies(spark, board).collect()
    }
    want = {
        (r["bucket"], r["n"], r["n_prev"], r["mean_prev"], r["z"])
        for r in hourly_anomaly_scores(
            A._hourly_counts(load_table(spark, SF_SMALL, "events")),
            trailing=24,
            min_prev=6,
            bucket_col="bucket",
        ).collect()
    }
    assert got == want and got
    # store layout: partitioned by epoch (the idempotent-replay overwrite unit)
    assert glob.glob(os.path.join(store, "epoch=*")), os.listdir(store)


def test_streaming_anomaly_replay_idempotent(spark, events_dir, tmp_path):
    """foreachBatch is at-least-once: re-running an epoch with the same
    epoch_id and data must leave the store totals and board unchanged
    (the pre-round-4 read-merge design double-counted the replay)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        anomaly_stream as A,
    )

    store = str(tmp_path / "anom_store")
    board = str(tmp_path / "anom_board")
    events = load_table(spark, SF_SMALL, "events")
    half = events.where(F.col("user_id") % 2 == 0)
    rest = events.where(F.col("user_id") % 2 != 0)

    run_epoch = A.make_merge_batch(spark, store, board, trailing=24, min_prev=6)
    run_epoch(half, 0)
    run_epoch(rest, 1)
    before = sorted(
        (r["bucket"], r["n"], r["z"])
        for r in A.read_anomalies(spark, board).collect()
    )
    run_epoch(rest, 1)  # replay the last epoch, as a post-restart stream would
    after = sorted(
        (r["bucket"], r["n"], r["z"])
        for r in A.read_anomalies(spark, board).collect()
    )
    assert before == after and before


def test_anomaly_store_compaction(spark, tmp_path):
    """compact_store folds all epochs but the newest into one merged
    partition: totals and board survive unchanged, the partition count
    shrinks, and a replay of the kept newest epoch stays idempotent."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        anomaly_stream as A,
    )

    store = str(tmp_path / "anom_store")
    board = str(tmp_path / "anom_board")
    events = load_table(spark, SF_SMALL, "events")
    run_epoch = A.make_merge_batch(spark, store, board, trailing=24, min_prev=6)
    for i in range(4):
        run_epoch(events.where(F.col("user_id") % 4 == i), i)
    before = sorted(
        (r["bucket"], r["n"], r["z"])
        for r in A.read_anomalies(spark, board).collect()
    )
    folded = A.compact_store(spark, store)
    assert folded == 3
    parts = {os.path.basename(p) for p in glob.glob(os.path.join(store, "epoch=*"))}
    assert parts == {"epoch=-1", "epoch=3"}
    # replay of the kept newest epoch after compaction: still idempotent
    run_epoch(events.where(F.col("user_id") % 4 == 3), 3)
    after = sorted(
        (r["bucket"], r["n"], r["z"])
        for r in A.read_anomalies(spark, board).collect()
    )
    assert before == after and before
    # compacting an already-compacted store is a no-op
    assert A.compact_store(spark, store) == 0


def test_store_swap_crash_recovery(spark, tmp_path):
    """A crash between compact_store's two directory renames leaves NO
    directory at the store path (only the _precompact backup). Both the
    next merge_batch and a compact_store retry must restore the backup
    instead of silently re-seeding the store from a single epoch."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        anomaly_stream as A,
        topk_stream as T,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming._store import (
        recover_store,
    )

    store = str(tmp_path / "crash_store")
    board = str(tmp_path / "crash_board")
    events = load_table(spark, SF_SMALL, "events")
    run_epoch = A.make_merge_batch(spark, store, board, trailing=24, min_prev=6)
    for i in range(3):
        run_epoch(events.where(F.col("user_id") % 3 == i), i)
    totals_before = sorted(
        (r["bucket"], r["n"])
        for r in spark.read.schema("bucket string, n bigint, epoch bigint")
        .parquet(store).groupBy("bucket").agg(F.sum("n").alias("n")).collect()
    )

    # emulate the crash window: backup exists, store gone, half-built tmp left
    os.rename(store, store + "_precompact")
    os.makedirs(store + "_compacting")
    # path 1: the next microbatch restores the store before writing
    run_epoch(events.where(F.col("user_id") % 3 == 0), 0)  # replay of epoch 0
    assert os.path.exists(store)
    assert not os.path.exists(store + "_precompact")
    assert not os.path.exists(store + "_compacting")
    totals_after = sorted(
        (r["bucket"], r["n"])
        for r in spark.read.schema("bucket string, n bigint, epoch bigint")
        .parquet(store).groupBy("bucket").agg(F.sum("n").alias("n")).collect()
    )
    assert totals_after == totals_before  # history intact, replay idempotent

    # path 2: a compact_store retry also recovers, then compacts normally
    os.rename(store, store + "_precompact")
    assert A.compact_store(spark, store) == 2
    assert totals_before == sorted(
        (r["bucket"], r["n"])
        for r in spark.read.schema("bucket string, n bigint, epoch bigint")
        .parquet(store).groupBy("bucket").agg(F.sum("n").alias("n")).collect()
    )

    # topk migrate swap window: same recovery contract (_premigrate)
    tstore = str(tmp_path / "crash_topk")
    tboard = str(tmp_path / "crash_topk_board")
    run_t = T.make_merge_batch(spark, tstore, tboard, k=3)
    run_t(events.limit(200), 0)
    os.rename(tstore, tstore + "_premigrate")
    assert recover_store(tstore) == "_premigrate"
    assert T.migrate_legacy_store(spark, tstore) is False  # already epoch layout

    # the dangerous variant: the _premigrate backup is in the LEGACY
    # bucket-only layout (migrate crashed mid-swap) and the stream is
    # restarted WITHOUT re-running migrate. merge_batch must re-run the
    # migration itself, or its epoch write would produce a mixed-depth
    # store Spark refuses to read.
    lstore = str(tmp_path / "crash_legacy")
    lboard = str(tmp_path / "crash_legacy_board")
    T._bucketed_totals(
        events.limit(300), "1 hour", "user_id", "value"
    ).write.partitionBy("bucket").parquet(lstore)
    legacy_total = (
        spark.read.parquet(lstore).agg(F.sum("n").alias("s")).collect()[0]["s"]
    )
    os.rename(lstore, lstore + "_premigrate")  # crash between the renames
    run_l = T.make_merge_batch(spark, lstore, lboard, k=3)
    run_l(events.limit(100), 5)  # restart: recover + re-migrate + write
    assert glob.glob(os.path.join(lstore, "bucket=*", "epoch=*"))
    merged = (
        spark.read.schema("bucket string, key bigint, n bigint, cents bigint, epoch bigint")
        .parquet(lstore)
    )
    # legacy history survived as the epoch=-1 baseline; the new epoch added
    assert merged.where(F.col("epoch") == -1).agg(
        F.sum("n")
    ).collect()[0][0] == legacy_total
    assert merged.where(F.col("epoch") == 5).count() > 0

    # nothing to recover on a fresh path: no-op, no directory conjured
    assert recover_store(str(tmp_path / "never_existed")) is None
    assert not os.path.exists(str(tmp_path / "never_existed"))


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Click->purchase attribution as a watermarked stream-stream interval
    join: driving both sides microbatch-by-microbatch must converge to the
    same pair set as the batch run of the SAME operator."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming.join_stream import (
        attribute_purchases,
    )

    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    joined = attribute_purchases(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        horizon="1 hour",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT click_id, purchase_id FROM attrib").collect()
    }
    ev = load_table(spark, SF_SMALL, "events")
    batch = {
        (r["click_id"], r["purchase_id"])
        for r in attribute_purchases(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
            horizon="1 hour",
        ).collect()
    }
    assert got == batch
    assert batch  # non-trivial: the fixture must produce matched pairs


def test_streaming_minhash_dedup_matches_batch_and_replays(spark, tmp_path):
    """Incremental LSH flags across epochs must equal the batch twin
    (cross_corpus_lsh_candidates of batch-vs-prior-corpus plus in-batch
    pairs), and a replayed epoch must leave store and flags unchanged."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import dedup
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        minhash_stream as M,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    store = str(tmp_path / "mh_store")
    flags = str(tmp_path / "mh_flags")
    run = M.make_merge_batch(spark, store, flags, num_hashes=8, bands=4, n=3)
    run(b0, 0)
    run(b1, 1)
    got = {
        (r["new_id"], r["old_id"], r["epoch"])
        for r in M.read_flags(spark, flags).collect()
    }
    # epoch 1 flags vs history = batch twin of b1-vs-b0
    want_hist = {
        (r["new_id"], r["old_id"], 1)
        for r in dedup.cross_corpus_lsh_candidates(
            b1, b0, num_hashes=8, bands=4, n=3
        ).collect()
    }
    assert want_hist <= got
    # in-batch pairs carry the (old < new) orientation
    want_in0 = {
        (max(r["doc_a"], r["doc_b"]), min(r["doc_a"], r["doc_b"]), 0)
        for r in dedup.minhash_lsh_candidates(
            b0, num_hashes=8, bands=4, n=3
        ).collect()
    }
    assert want_in0 <= got
    # nothing else: flags = in-batch(e0) + in-batch(e1) + hist(e1)
    want_in1 = {
        (max(r["doc_a"], r["doc_b"]), min(r["doc_a"], r["doc_b"]), 1)
        for r in dedup.minhash_lsh_candidates(
            b1, num_hashes=8, bands=4, n=3
        ).collect()
    }
    assert got == want_in0 | want_in1 | want_hist

    # replay epoch 1: store partitions and flags identical afterwards
    before_store = sorted(
        map(tuple, spark.read.parquet(store).collect())
    )
    run(b1, 1)
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == before_store
    assert {
        (r["new_id"], r["old_id"], r["epoch"])
        for r in M.read_flags(spark, flags).collect()
    } == got

    # a replay of a MIDDLE epoch after later epochs exist must also be
    # idempotent: history is strictly-earlier epochs, so epoch 1's flags
    # cannot pick up epoch-2 rows on replay
    b2 = docs.where(F.col("doc_id") % 3 == 2)
    run(b2, 2)
    after_e2 = {
        (r["new_id"], r["old_id"], r["epoch"])
        for r in M.read_flags(spark, flags).collect()
    }
    run(b1, 1)  # replay the middle epoch
    assert {
        (r["new_id"], r["old_id"], r["epoch"])
        for r in M.read_flags(spark, flags).collect()
    } == after_e2


def test_temporal_edge_store_matches_batch_and_replays(spark, tmp_path):
    """Forward-decay store == batch decayed_bipartite_edges when the
    landmark equals the store anchor; epochs replay idempotently;
    compaction preserves the merged graph."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.funnel import (
        decayed_bipartite_edges,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        temporal_stream as TS,
    )

    events = load_table(spark, SF_SMALL, "events")
    t0_us = events.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
    ).collect()[0][0]
    store = str(tmp_path / "decayed_edges")
    run_epoch = TS.make_edge_merge_batch(spark, store, t0_us, half_life_days=7.0)
    # three disjoint micro-batches by event_id residue
    for ep in range(3):
        run_epoch(events.where(F.col("event_id") % 3 == ep), ep)

    batch = {
        (r["src"], r["dst"]): r["weight"]
        for r in decayed_bipartite_edges(
            events, half_life_days=7.0, type_base=1_000_000_000
        ).collect()
    }
    streamed = {
        (r["src"], r["dst"]): r["weight"]
        for r in TS.read_decayed_edges(spark, store, t0_us, 7.0).collect()
    }
    assert streamed == batch and len(batch) > 0

    # at-least-once: replaying epoch 1 rewrites its partition, no drift
    run_epoch(events.where(F.col("event_id") % 3 == 1), 1)
    assert {
        (r["src"], r["dst"]): r["weight"]
        for r in TS.read_decayed_edges(spark, store, t0_us, 7.0).collect()
    } == batch

    # compaction folds epochs 0-1 into the -1 sentinel, graph unchanged
    assert TS.compact_store(spark, store) == 2
    assert {
        (r["src"], r["dst"]): r["weight"]
        for r in TS.read_decayed_edges(spark, store, t0_us, 7.0).collect()
    } == batch
    import os

    epochs = sorted(
        p for p in os.listdir(store) if p.startswith("epoch=")
    )
    assert epochs == ["epoch=-1", "epoch=2"]


def test_temporal_ppr_from_store_matches_batch_operator(spark, tmp_path):
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.funnel import (
        decayed_bipartite_edges,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.pagerank import (
        pagerank_weighted,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        temporal_stream as TS,
    )

    events = load_table(spark, SF_SMALL, "events")
    t0_us = events.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
    ).collect()[0][0]
    store = str(tmp_path / "decayed_edges")
    TS.make_edge_merge_batch(spark, store, t0_us)(events, 0)
    src = events.agg(F.min("user_id")).collect()[0][0]
    got = {
        r["node"]: r["score"]
        for r in TS.temporal_ppr_from_store(
            spark, store, int(src), t0_us, iterations=5
        ).collect()
    }
    want_df = pagerank_weighted(
        decayed_bipartite_edges(events, half_life_days=7.0),
        iterations=5,
        alpha=0.15,
        source=int(src),
    )
    want = {
        r["node"]: round(r["score"], 9)
        for r in want_df.where(F.round("score", 9) > 0).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_distinct_matches_batch_twin(spark, events_dir, tmp_path):
    """Two microbatches of HLL register partials; the read-side max-fold +
    shared estimator must equal the oracle-gated batch hll_distinct over
    the complete event set EXACTLY (identical registers either way)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.sketches import (
        hll_distinct,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        hll_stream as H,
    )

    store = str(tmp_path / "hll_store")
    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    q = H.start_streaming_distinct(spark, stream, store)
    _drain(q)

    got = {
        (r["event_type"], r["approx_distinct"])
        for r in H.read_distinct_board(spark, store).collect()
    }
    want = {
        (r["event_type"], r["approx_distinct"])
        for r in hll_distinct(
            load_table(spark, SF_SMALL, "events"),
            "user_id",
            group_cols=["event_type"],
        ).collect()
    }
    assert got == want and got
    # store layout: partitioned by epoch (the idempotent-replay overwrite unit)
    assert glob.glob(os.path.join(store, "epoch=*")), os.listdir(store)


def test_streaming_distinct_replay_and_compaction(spark, tmp_path):
    """Replaying the last epoch and folding history via compact_store must
    both leave the board unchanged (register MAX is idempotent; the
    per-epoch partition discipline keeps the store bounded)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        hll_stream as H,
    )

    store = str(tmp_path / "hll_store")
    events = load_table(spark, SF_SMALL, "events")
    parts = [events.where(F.col("user_id") % 3 == i) for i in range(3)]

    run_epoch = H.make_merge_batch(spark, store)
    for i, part in enumerate(parts):
        run_epoch(part, i)
    board = lambda: sorted(  # noqa: E731
        (r["event_type"], r["approx_distinct"])
        for r in H.read_distinct_board(spark, store).collect()
    )
    before = board()
    run_epoch(parts[-1], 2)  # replay the last epoch, as a restart would
    assert board() == before
    folded = H.compact_store(spark, store)
    assert folded == 2  # epochs 0 and 1 -> the -1 sentinel partition
    assert board() == before and before
    epochs = {os.path.basename(p) for p in glob.glob(os.path.join(store, "epoch=*"))}
    assert epochs == {"epoch=-1", "epoch=2"}


def test_streaming_heavy_hitters_matches_batch_twin(spark, events_dir, tmp_path):
    """Two microbatches of CMS cell partials; the read-side sum-fold +
    shared probe must equal the oracle-gated batch cms_heavy_hitters over
    the complete event set EXACTLY when probed with the same items."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.sketches import (
        cms_heavy_hitters,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        cms_stream as C,
    )

    store = str(tmp_path / "cms_store")
    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    q = C.start_streaming_heavy_hitters(spark, stream, store)
    _drain(q)

    events = load_table(spark, SF_SMALL, "events")
    items = events.select("user_id").distinct()
    got = {
        (r["user_id"], r["est_count"])
        for r in C.read_heavy_hitters(spark, store, items, threshold=8).collect()
    }
    want = {
        (r["user_id"], r["est_count"])
        for r in cms_heavy_hitters(events, "user_id", threshold=8).collect()
    }
    assert got == want and got
    assert glob.glob(os.path.join(store, "epoch=*")), os.listdir(store)


def test_streaming_heavy_hitters_replay_and_compaction(spark, tmp_path):
    """Replaying the last epoch must not double-count (partition-overwrite
    discipline — CMS cells sum, so this is the load-bearing guarantee),
    and compaction folds history without changing the probe result."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        cms_stream as C,
    )

    store = str(tmp_path / "cms_store")
    events = load_table(spark, SF_SMALL, "events")
    items = events.select("user_id").distinct().localCheckpoint(eager=True)
    parts = [events.where(F.col("event_id") % 3 == i) for i in range(3)]

    run_epoch = C.make_merge_batch(spark, store)
    for i, part in enumerate(parts):
        run_epoch(part, i)
    board = lambda: sorted(  # noqa: E731
        (r["user_id"], r["est_count"])
        for r in C.read_heavy_hitters(spark, store, items, threshold=8).collect()
    )
    before = board()
    run_epoch(parts[-1], 2)  # replay the last epoch, as a restart would
    assert board() == before
    folded = C.compact_store(spark, store)
    assert folded == 2
    assert board() == before and before
    epochs = {os.path.basename(p) for p in glob.glob(os.path.join(store, "epoch=*"))}
    assert epochs == {"epoch=-1", "epoch=2"}


def test_streaming_winnow_paragraphs_matches_batch_and_replays(spark, tmp_path):
    """Store #10: incremental paragraph-winnow flags across epochs must
    equal the batch twin as UNORDERED cross-doc pairs with identical
    shared-counts (every pair surfaces once, in its later member's
    epoch), and replays — latest and middle — must be idempotent.  Caps
    never bind at this scale, so the per-side hot-fp drop cannot diverge
    from the batch corpus-wide cap."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import text as T
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        winnow_stream as W,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    b2 = docs.where(F.col("doc_id") % 3 == 2)
    store = str(tmp_path / "wp_store")
    flags = str(tmp_path / "wp_flags")
    run = W.make_merge_batch(spark, store, flags, min_shared=1)
    run(b0, 0)
    run(b1, 1)
    run(b2, 2)

    def unordered(rows):
        return {
            (
                frozenset(
                    [(r["new_doc"], r["new_para"]), (r["old_doc"], r["old_para"])]
                ),
                r["shared"],
            )
            for r in rows
        }

    got = unordered(W.read_flags(spark, flags).collect())
    want = {
        (
            frozenset([(r["doc_a"], r["para_a"]), (r["doc_b"], r["para_b"])]),
            r["shared"],
        )
        for r in T.winnow_paragraph_dups(docs, min_shared=1).collect()
    }
    assert got == want and got

    # replay the LATEST epoch, then a MIDDLE epoch after later ones exist
    before = sorted(map(tuple, W.read_flags(spark, flags).collect()))
    run(b2, 2)
    assert sorted(map(tuple, W.read_flags(spark, flags).collect())) == before
    run(b1, 1)
    assert sorted(map(tuple, W.read_flags(spark, flags).collect())) == before


def test_streaming_zorder_manifest_matches_batch_and_replays(spark, tmp_path):
    """Store #11: per-epoch partial Z-order manifests folded on read must
    equal the batch manifest over the union at the SAME fixed bounds
    (counts are additive over any row partition; ranges associative),
    and replays — latest and middle — must be idempotent (n_rows merges
    by SUM, so the epoch-partition discipline is load-bearing)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.sharding import (
        zorder_layout,
        zorder_manifest,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        zorder_stream as Z,
    )

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    bounds = (1, 2000, 100_000, 60_000_000)
    b0 = orders.where(F.col("o_orderkey") % 3 == 0)
    b1 = orders.where(F.col("o_orderkey") % 3 == 1)
    b2 = orders.where(F.col("o_orderkey") % 3 == 2)
    store = str(tmp_path / "z_store")
    run = Z.make_merge_batch(
        spark, store, a_col="o_custkey", b_col="cents", id_col="o_orderkey",
        bounds=bounds, n_shards=16,
    )
    run(b0, 0)
    run(b1, 1)
    run(b2, 2)

    want = sorted(
        map(
            tuple,
            zorder_manifest(
                zorder_layout(
                    orders, a_col="o_custkey", b_col="cents",
                    id_col="o_orderkey", n_shards=16, bounds=bounds,
                )
            ).collect(),
        )
    )
    got = sorted(map(tuple, Z.read_manifest(spark, store).collect()))
    assert got == want and got

    # replay the LATEST epoch, then a MIDDLE epoch after later ones exist
    run(b2, 2)
    assert sorted(map(tuple, Z.read_manifest(spark, store).collect())) == want
    run(b1, 1)
    assert sorted(map(tuple, Z.read_manifest(spark, store).collect())) == want

    # compaction folds history without changing the read
    folded = Z.compact_store(spark, store)
    assert folded >= 1
    assert sorted(map(tuple, Z.read_manifest(spark, store).collect())) == want

    # out-of-bounds rows clamp to the declared edges instead of escaping
    # the shard domain
    wild = spark.createDataFrame(
        [(10**9, 10**9, -5)], "o_orderkey long, o_custkey long, cents long"
    )
    run(wild, 3)
    m = {r["shard"]: r for r in Z.read_manifest(spark, store).collect()}
    assert sum(r["n_rows"] for r in m.values()) == orders.count() + 1


def test_streaming_sample_matches_batch_twin(spark, events_dir, tmp_path):
    """Per-epoch k-minimum-values partials; the read-side k-smallest fold
    must equal the batch exact_k_sample over the complete event set
    EXACTLY (k-minimum-values compose: global top-k of per-epoch top-ks).
    The KMV distinct board must agree with the estimator computed
    directly from the folded hashes."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.sampling import (
        exact_k_sample,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        kmv_stream as K,
    )

    store = str(tmp_path / "kmv_store")
    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    q = K.start_streaming_sample(spark, stream, store, k=8)
    _drain(q)

    got = {
        (r["event_type"], r["id"])
        for r in K.read_sample(spark, store, k=8).collect()
    }
    events = load_table(spark, SF_SMALL, "events")
    want = {
        (r["event_type"], r["event_id"])
        for r in exact_k_sample(
            events.select(
                "event_type", F.col("event_id").cast("string").alias("event_id")
            ).distinct(),
            k=8,
            id_col="event_id",
            strata_col="event_type",
        ).collect()
    }
    assert got == want and got
    assert glob.glob(os.path.join(store, "epoch=*")), os.listdir(store)

    # the KMV cardinality board: strata under k report exact counts;
    # saturated strata report (k-1) * 2^48 / h_k
    board = {
        r["event_type"]: (r["n_seen"], r["approx_distinct_kmv"])
        for r in K.read_kmv_distinct(spark, store, k=8).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    for et, (n_seen, est) in board.items():
        if n_seen < 8:
            assert est == exact[et]
        else:
            # KMV with k=8 is coarse; just pin the right order of magnitude
            assert 0.2 * exact[et] <= est <= 5 * exact[et], (et, est, exact[et])


def test_streaming_sample_replay_and_compaction(spark, tmp_path):
    """Replaying the last epoch and folding history via compact_store must
    both leave the sample unchanged (per-epoch partials are pure
    functions of their rows; the k-smallest fold is idempotent)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        kmv_stream as K,
    )

    store = str(tmp_path / "kmv_store")
    events = load_table(spark, SF_SMALL, "events")
    parts = [events.where(F.col("event_id") % 3 == i) for i in range(3)]

    run_epoch = K.make_merge_batch(spark, store, k=8)
    for i, part in enumerate(parts):
        run_epoch(part, i)
    board = lambda: sorted(  # noqa: E731
        (r["event_type"], r["id"])
        for r in K.read_sample(spark, store, k=8).collect()
    )
    before = board()
    run_epoch(parts[-1], 2)  # replay the last epoch, as a restart would
    assert board() == before
    folded = K.compact_store(spark, store, k=8)
    assert folded == 2
    assert board() == before and before
    epochs = {os.path.basename(p) for p in glob.glob(os.path.join(store, "epoch=*"))}
    assert epochs == {"epoch=-1", "epoch=2"}


def test_streaming_sample_duplicates_and_k_contract(spark, tmp_path):
    """Review-pinned contracts: (a) duplicate ids inside a batch must not
    occupy partial slots; (b) the same id across epochs collapses in the
    fold (the sample is over DISTINCT ids); (c) reading or compacting
    with a larger k than written refuses loudly."""
    import pytest as _pytest

    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        kmv_stream as K,
    )

    store = str(tmp_path / "kmv_dup_store")
    run_epoch = K.make_merge_batch(
        spark, store, k=2, group_col="g", id_col="id"
    )
    mk = lambda rows: spark.createDataFrame(rows, "g string, id long")  # noqa: E731
    # (a) batch with id 1 repeated: both distinct ids must survive k=2
    run_epoch(mk([("a", 1), ("a", 1), ("a", 2)]), 0)
    got = sorted(
        (r["g"], r["id"]) for r in K.read_sample(spark, store, k=2, group_col="g").collect()
    )
    assert got == [("a", "1"), ("a", "2")]
    # (b) id 1 arrives again in epoch 1 along with id 3: the fold is the
    # 2 smallest hashes over DISTINCT ids {1, 2, 3}
    run_epoch(mk([("a", 1), ("a", 3)]), 1)
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.sampling import (
        exact_k_sample,
    )

    want = sorted(
        (r["g"], r["id"])
        for r in exact_k_sample(
            spark.createDataFrame(
                [("a", "1"), ("a", "2"), ("a", "3")], "g string, id string"
            ),
            k=2,
            id_col="id",
            strata_col="g",
        ).collect()
    )
    got = sorted(
        (r["g"], r["id"]) for r in K.read_sample(spark, store, k=2, group_col="g").collect()
    )
    assert got == want
    # (c) larger read/compact k than written -> loud refusal
    with _pytest.raises(ValueError, match="exceeds the store.s effective k"):
        K.read_sample(spark, store, k=4, group_col="g").collect()
    run_epoch(mk([("a", 9)]), 2)  # third epoch so compaction has work
    with _pytest.raises(ValueError, match="exceeds the store.s effective k"):
        K.compact_store(spark, store, k=4, group_col="g")


def test_streaming_sample_compaction_tightens_effective_k(spark, tmp_path):
    """Compacting with a smaller k must TIGHTEN the read-time refusal:
    ids past the compaction rank are gone, so a read between the old and
    new k would be a silent over-sample (r9 review finding)."""
    import pytest as _pytest

    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        kmv_stream as K,
    )

    store = str(tmp_path / "kmv_tight_store")
    run_epoch = K.make_merge_batch(spark, store, k=5, group_col="g", id_col="id")
    mk = lambda rows: spark.createDataFrame(rows, "g string, id long")  # noqa: E731
    run_epoch(mk([("a", i) for i in range(10)]), 0)
    run_epoch(mk([("a", i) for i in range(10, 20)]), 1)
    run_epoch(mk([("a", 99)]), 2)
    assert K.compact_store(spark, store, k=2, group_col="g") == 2
    # k=2 still serves (and the sample stays the 2 smallest hashes)
    assert len(K.read_sample(spark, store, k=2, group_col="g").collect()) == 2
    # k=3..5 must now refuse even though the WRITE-time k was 5
    with _pytest.raises(ValueError, match="exceeds the store's effective k=2"):
        K.read_sample(spark, store, k=3, group_col="g").collect()


# --- streaming store #13: level-sampling quantile partials ------------------


def _ev_values(spark):
    """(stratum, key, v): event `value` as exact cents per event_type."""
    return load_table(spark, SF_SMALL, "events").select(
        F.col("event_type").alias("stratum"),
        F.col("event_id").alias("key"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )


def test_streaming_quantiles_match_batch_twin(spark, events_dir, tmp_path):
    """Per-epoch level-sampling partials; the read-side fold must equal
    the batch `quantile_sketch` over the complete event set EXACTLY
    (nested level filters + additive counts compose — the mergeability
    proof on functions/quantile_sketch)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.quantile_sketch import (
        quantile_sketch,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        quantile_stream as Q,
    )

    probs = [0.1, 0.5, 0.9]
    store = str(tmp_path / "q_store")
    stream = S.read_event_stream(spark, events_dir, max_files_per_trigger=1)
    vals = stream.select(
        F.col("event_type").alias("stratum"),
        F.col("event_id").alias("key"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    q = Q.start_streaming_quantiles(
        spark, vals, store, "v", "key", "stratum", k=16
    )
    _drain(q)

    got = sorted(
        map(tuple, Q.read_quantiles(spark, store, probs, k=16).collect())
    )
    want = sorted(
        map(
            tuple,
            quantile_sketch(
                _ev_values(spark), "v", "key", "stratum", probs, k=16
            ).collect(),
        )
    )
    assert got == want and got
    assert glob.glob(os.path.join(store, "epoch=*")), os.listdir(store)


def test_streaming_quantiles_replay_and_compaction(spark, tmp_path):
    """Replaying the last epoch and folding history via compact_store must
    both leave the estimates unchanged (partials are pure functions of
    their rows; refold_partials is idempotent)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        quantile_stream as Q,
    )

    probs = [0.25, 0.75]
    store = str(tmp_path / "q_store")
    vals = _ev_values(spark)
    parts = [vals.where(F.col("key") % 3 == i) for i in range(3)]
    run_epoch = Q.make_merge_batch(spark, store, "v", "key", "stratum", k=16)
    for i, part in enumerate(parts):
        run_epoch(part, i)
    board = lambda: sorted(  # noqa: E731
        map(tuple, Q.read_quantiles(spark, store, probs, k=16).collect())
    )
    before = board()
    run_epoch(parts[-1], 2)  # replay the last epoch, as a restart would
    assert board() == before
    folded = Q.compact_store(spark, store, k=16)
    assert folded == 2
    assert board() == before and before
    epochs = {
        os.path.basename(p) for p in glob.glob(os.path.join(store, "epoch=*"))
    }
    assert epochs == {"epoch=-1", "epoch=2"}


def test_streaming_quantiles_k_contract(spark, tmp_path):
    """Reading or compacting with a larger k than written refuses loudly,
    and a smaller-k compaction TIGHTENS the refusal (rows past the new
    sampling budget are gone — serving k between new and old would
    silently diverge from the batch-k sketch it claims to equal)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        quantile_stream as Q,
    )

    store = str(tmp_path / "q_tight_store")
    vals = _ev_values(spark)
    run_epoch = Q.make_merge_batch(spark, store, "v", "key", "stratum", k=8)
    run_epoch(vals.where(F.col("key") % 3 == 0), 0)
    with pytest.raises(ValueError, match="exceeds the store's effective k"):
        Q.read_quantiles(spark, store, [0.5], k=16).collect()
    run_epoch(vals.where(F.col("key") % 3 == 1), 1)
    run_epoch(vals.where(F.col("key") % 3 == 2), 2)
    assert Q.compact_store(spark, store, k=4) == 2
    assert Q.read_quantiles(spark, store, [0.5], k=4).count() > 0
    with pytest.raises(ValueError, match="exceeds the store's effective k=4"):
        Q.read_quantiles(spark, store, [0.5], k=8).collect()


# --- streaming store #14: dynamic PPR maintenance on edge arrival -----------


def _dyn_toy(spark):
    base = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3), (4, 2)],
        "src long, dst long",
    )
    held = [(0, 3), (4, 0), (5, 2)]
    tg = spark.createDataFrame([(0,), (3,)], "target long")
    return base, held, tg


def test_streaming_dynamic_ppr_matches_guarantee_and_recompute(
    spark, tmp_path
):
    """Edge batches arrive as microbatches; after draining, the
    maintained state must satisfy the push validity identity EXACTLY on
    the accumulated graph with |r| <= rmax (the from-scratch guarantee),
    and at tight rmax match a from-scratch recompute."""
    from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
        invariant_residual,
        reverse_push_state,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        dynamic_ppr_stream as D,
    )

    alpha, rmax = 1.0 / 7.0, 1e-6
    store = str(tmp_path / "dyn_store")
    base, held, tg = _dyn_toy(spark)
    D.init_store(spark, store, base, tg, rmax=rmax, alpha=alpha,
                 max_supersteps=400)

    stream_dir = str(tmp_path / "edge_stream")
    spark.createDataFrame(held[:2], "src long, dst long").coalesce(
        1
    ).write.mode("overwrite").parquet(stream_dir)
    spark.createDataFrame(held[2:], "src long, dst long").coalesce(
        1
    ).write.mode("append").parquet(stream_dir)
    stream = (
        spark.readStream.schema("src long, dst long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    merge = D.make_merge_batch(spark, store, rmax=rmax, alpha=alpha,
                               max_supersteps=400)
    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", store + "_ckpt")
        .start()
    )
    _drain(q)

    all_edges = base.unionAll(
        spark.createDataFrame(held, "src long, dst long")
    )
    got_edges = sorted(map(tuple, D.read_edges(spark, store).collect()))
    assert got_edges == sorted(map(tuple, all_edges.distinct().collect()))
    st = D.read_state(spark, store)
    defect = (
        invariant_residual(st, all_edges, alpha)
        .agg(F.max(F.abs("res")))
        .collect()[0][0]
    )
    assert defect < 1e-12
    assert st.agg(F.max(F.abs("residue"))).collect()[0][0] <= rmax
    scratch = reverse_push_state(
        spark, all_edges, _dyn_toy(spark)[2], rmax, alpha, max_supersteps=400
    )
    a = {(r.target, r.node): r.reserve for r in scratch.collect()}
    b = {(r.target, r.node): r.reserve for r in st.collect()}
    diff = max(abs(a.get(k, 0.0) - b.get(k, 0.0)) for k in set(a) | set(b))
    assert diff < 1e-5, diff
    # the BASE-view read serves (source, target, ppr)
    assert D.read_ppr(spark, store, threshold=1e-6).count() > 0


def test_streaming_dynamic_ppr_replay_redelivery_compaction(spark, tmp_path):
    """Replaying an epoch recomputes the identical state; an edge
    re-delivered in a later epoch applies exactly once; compaction folds
    history without changing the read."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        dynamic_ppr_stream as D,
    )

    alpha, rmax = 1.0 / 7.0, 1e-3
    store = str(tmp_path / "dyn_store2")
    base, held, tg = _dyn_toy(spark)
    D.init_store(spark, store, base, tg, rmax=rmax, alpha=alpha)
    merge = D.make_merge_batch(spark, store, rmax=rmax, alpha=alpha)
    mk = lambda rows: spark.createDataFrame(rows, "src long, dst long")  # noqa: E731

    merge(mk(held[:2]), 0)
    state1 = sorted(map(tuple, D.read_state(spark, store).collect()))
    merge(mk(held[:2]), 0)  # replay, as a restart would
    assert sorted(map(tuple, D.read_state(spark, store).collect())) == state1
    # epoch 1 re-delivers an already-applied edge + one new edge: the
    # duplicate must apply exactly once
    merge(mk([held[0], held[2]]), 1)
    state2 = sorted(map(tuple, D.read_state(spark, store).collect()))
    edges2 = sorted(map(tuple, D.read_edges(spark, store).collect()))
    assert len(edges2) == len(set(edges2)) == 10  # 7 base + 3 held, no dupes
    # an all-duplicate batch is a no-op epoch
    merge(mk([held[1]]), 2)
    assert sorted(map(tuple, D.read_state(spark, store).collect())) == state2
    # compaction folds both halves; the read is unchanged
    folded = D.compact_store(spark, store)
    assert folded >= 2
    assert sorted(map(tuple, D.read_state(spark, store).collect())) == state2
    assert sorted(map(tuple, D.read_edges(spark, store).collect())) == edges2
    # and the store still accepts new epochs after compaction
    merge(mk([(5, 0)]), 3)
    assert sorted(map(tuple, D.read_edges(spark, store).collect())) != edges2


def test_streaming_semdedup_matches_batch_and_replays(spark, tmp_path):
    """Streaming SemDeDup store (#16): with the batch operator's own
    centroids held fixed, the union of per-epoch flags equals the batch
    `semantic_dedup_pairs` result exactly (the `_dot` double-widening
    makes the array<double> store bit-exact vs the parquet floats);
    replays of latest AND middle epochs are idempotent."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import dedup
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.clustering import (
        kmeans_fit,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        semdedup_stream as S,
    )

    e = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    k, iters, thr = 8, 2, 0.35
    cents = kmeans_fit(e, k, iters)
    store = str(tmp_path / "sd_store")
    flags = str(tmp_path / "sd_flags")
    run = S.make_merge_batch(spark, store, flags, cents, threshold=thr)
    parts = [e.where(F.col("vec_id") % 3 == i) for i in range(3)]
    for i, p in enumerate(parts):
        run(p, i)
    got = {
        (min(r["new_id"], r["old_id"]), max(r["new_id"], r["old_id"]),
         r["cosine"])
        for r in S.read_flags(spark, flags).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup.semantic_dedup_pairs(
            e, k=k, iterations=iters, threshold=thr
        ).collect()
    }
    assert want, "fixture produced no pairs — threshold drifted"
    assert got == want
    # store holds every vector exactly once
    members = spark.read.schema(S.STORE_SCHEMA).parquet(store)
    assert members.count() == e.count()
    assert members.select("vec_id").distinct().count() == e.count()
    # replay the LATEST epoch, then a MIDDLE epoch after later ones exist
    before = sorted(map(tuple, members.collect()))
    run(parts[2], 2)
    run(parts[1], 1)
    assert sorted(
        map(tuple, spark.read.schema(S.STORE_SCHEMA).parquet(store).collect())
    ) == before
    assert {
        (min(r["new_id"], r["old_id"]), max(r["new_id"], r["old_id"]),
         r["cosine"])
        for r in S.read_flags(spark, flags).collect()
    } == want
    # survivor election: dropped == distinct flagged new_ids, stable
    surv = {r["vec_id"]: r["keep"] for r in
            S.read_survivors(spark, flags, store).collect()}
    flagged_new = {
        r["new_id"] for r in S.read_flags(spark, flags).collect()
    }
    assert {v for v, keep in surv.items() if not keep} == flagged_new
    assert len(surv) == e.count()


def test_streaming_semdedup_redelivery_and_compaction(spark, tmp_path):
    """A re-delivered vector is dropped by the first-seen anti-join (no
    duplicate member rows, no duplicate flags); compaction folds the
    epoch partitions without changing members, flags, or survivors; and
    first-seen dedup keeps winning AFTER compaction (epoch=-1 is
    strictly earlier than every replayable epoch)."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.clustering import (
        kmeans_fit,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        semdedup_stream as S,
    )

    e = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cents = kmeans_fit(e, 8, 2)
    store = str(tmp_path / "sd2_store")
    flags = str(tmp_path / "sd2_flags")
    run = S.make_merge_batch(spark, store, flags, cents, threshold=0.35)
    run(e.where(F.col("vec_id") < 300), 0)
    run(e.where((F.col("vec_id") >= 250) & (F.col("vec_id") < 400)), 1)
    run(e.where(F.col("vec_id") >= 350), 2)  # both epochs 1,2 re-deliver 50
    members = spark.read.schema(S.STORE_SCHEMA).parquet(store)
    assert members.count() == e.count()  # overlaps stored once
    flags_before = sorted(map(tuple, S.read_flags(spark, flags).collect()))
    surv_before = sorted(
        map(tuple, S.read_survivors(spark, flags, store).collect())
    )
    # an all-duplicate epoch is a no-op (store unchanged, no flag rows)
    run(e.where(F.col("vec_id") < 100), 3)
    assert spark.read.schema(S.STORE_SCHEMA).parquet(store).count() == e.count()
    assert sorted(
        map(tuple, S.read_flags(spark, flags).collect())
    ) == flags_before
    # compaction folds epochs 0 and 1; every read is unchanged
    folded = S.compact_store(spark, store)
    assert folded >= 1
    assert sorted(
        map(tuple, S.read_survivors(spark, flags, store).collect())
    ) == surv_before
    # post-compaction re-delivery still loses to the folded epoch=-1 rows
    run(e.where(F.col("vec_id") < 100), 4)
    assert spark.read.schema(S.STORE_SCHEMA).parquet(store).count() == e.count()


def test_streaming_dynamic_ppr_delete_and_mixed_batches(spark, tmp_path):
    """Deletes enter VIA THE STREAM as op='del' event rows (the r12
    decision): a delete-only batch removes live edges through
    `repair_on_delete`; a MIXED batch composes insert repair then delete
    repair (the `ppr_incremental_mixed` composition); liveness-based
    idempotence makes re-delivered events no-ops; a batch naming one
    edge as both ops is rejected; after every epoch the invariant holds
    EXACTLY on the live graph with |r| <= rmax; and at tight rmax the
    final state matches a from-scratch push on the live graph."""
    import pytest as _pytest

    from personalized_pagerank_algorithms_on_neo4j_spark.operators.dynamic_ppr import (
        invariant_residual,
        reverse_push_state,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        dynamic_ppr_stream as D,
    )

    alpha, rmax = 1.0 / 7.0, 1e-6
    store = str(tmp_path / "dyn_store3")
    base, held, tg = _dyn_toy(spark)
    D.init_store(spark, store, base, tg, rmax=rmax, alpha=alpha,
                 max_supersteps=400)
    merge = D.make_merge_batch(spark, store, rmax=rmax, alpha=alpha,
                               max_supersteps=400)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "src long, dst long, op string"
    )

    def check_live_and_invariant(expect_live):
        live = sorted(map(tuple, D.read_edges(spark, store).collect()))
        assert live == sorted(expect_live), live
        st = D.read_state(spark, store)
        edf = spark.createDataFrame(expect_live, "src long, dst long")
        defect = (
            invariant_residual(st, edf, alpha)
            .agg(F.max(F.abs("res")))
            .collect()[0][0]
        )
        assert defect < 1e-12
        assert st.agg(F.max(F.abs("residue"))).collect()[0][0] <= rmax
        return st

    base_rows = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3), (4, 2)]
    # epoch 0: delete-only batch — (2,3) and node 4's last edge (4,2);
    # a delete of a NON-live edge ((9,9)) is a no-op
    merge(mk([(2, 3, "del"), (4, 2, "del"), (9, 9, "del")]), 0)
    live1 = [e for e in base_rows if e not in [(2, 3), (4, 2)]]
    check_live_and_invariant(live1)
    # replay is idempotent
    st1 = sorted(map(tuple, D.read_state(spark, store).collect()))
    merge(mk([(2, 3, "del"), (4, 2, "del"), (9, 9, "del")]), 0)
    assert sorted(map(tuple, D.read_state(spark, store).collect())) == st1
    # epoch 1: MIXED batch — two inserts (one the re-insert of a deleted
    # edge: liveness says it applies) + one delete + one re-delivered
    # delete (no-op: (4,2) is no longer live)
    merge(mk([(0, 3, "ins"), (2, 3, "ins"), (1, 3, "del"), (4, 2, "del")]), 1)
    live2 = [e for e in live1 if e != (1, 3)] + [(0, 3), (2, 3)]
    check_live_and_invariant(live2)
    # epoch 2: an op-less batch still means all-inserts (pre-r12 contract)
    merge(spark.createDataFrame([(5, 2)], "src long, dst long"), 2)
    live3 = live2 + [(5, 2)]
    st3 = check_live_and_invariant(live3)
    # tight-rmax parity with a from-scratch push on the live graph
    scratch = reverse_push_state(
        spark,
        spark.createDataFrame(live3, "src long, dst long"),
        tg, rmax, alpha, max_supersteps=400,
    )
    a = {(r.target, r.node): r.reserve for r in scratch.collect()}
    b = {(r.target, r.node): r.reserve for r in st3.collect()}
    diff = max(abs(a.get(k, 0.0) - b.get(k, 0.0)) for k in set(a) | set(b))
    assert diff < 1e-5, diff
    # same-key churn in one batch is rejected (the CDC contract)
    with _pytest.raises(ValueError, match="churn"):
        merge(mk([(7, 8, "ins"), (7, 8, "del")]), 3)
    # compaction folds history to net-live rows; reads unchanged; the
    # dead edges ((1,3) et al.) vanish from the folded partition
    folded = D.compact_store(spark, store)
    assert folded >= 2
    check_live_and_invariant(live3)


def _corpus_batch_twin(spark, docs, bench, *, min_quality=0.5, decon_max=0.2):
    """The batch rule the arrival-order stream implements: quality/lang
    gate -> exact dedup (min id) -> drop the LARGER id of every LSH
    candidate pair (NOT transitive clusters — the streaming-safe rule)
    -> decon vs the bench shingles.  Returns the kept (doc_id) set."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions import dedup
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.text import (
        langid, quality_score,
    )

    c = F.col("text")
    gated = docs.select("doc_id", "source", "text").where(
        (langid(c) == "en") & (quality_score(c) >= min_quality)
    )
    exact = dedup.exact_dedup(gated)
    pairs = dedup.minhash_lsh_candidates(exact, 8, 4, 3)
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    near = exact.join(drop, "doc_id", "left_anti")
    cont = dedup.cross_corpus_contamination(near, bench, n=3)
    contaminated = cont.where(F.col("contamination") > decon_max).select(
        "doc_id"
    )
    kept = near.join(contaminated, "doc_id", "left_anti")
    return {r["doc_id"] for r in kept.select("doc_id").collect()}


def test_streaming_corpus_store_matches_batch_twin(spark, tmp_path):
    """Corpus store #17: with id-ordered delivery, the accumulated kept
    set equals the batch twin (quality -> exact min-id -> drop-larger-id
    near-dup -> decon), and materialize() equals the batch mixture+pack
    over that same kept set."""
    from personalized_pagerank_algorithms_on_neo4j_spark.functions.packing import (
        pack_sequences, token_budget_mix,
    )
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        corpus_stream as C,
    )

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "text"
    )
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    bs = C.bench_shingle_set(bench, n=3)
    store = str(tmp_path / "corpus_store")
    run = C.make_merge_batch(spark, store, bs, min_quality=0.5, decon_max=0.2)
    # id-ordered epochs (first delivery == min id, the parity contract)
    bounds = [0, 160, 320, 10_000]
    for i in range(3):
        run(
            corpus.where(
                (F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1])
            ),
            i,
        )
    got_kept = {
        r["doc_id"] for r in C.read_kept(spark, store).collect()
    }
    want_kept = _corpus_batch_twin(spark, corpus, bench)
    assert got_kept == want_kept and got_kept
    # materialize == batch mixture + packing over the same kept frame
    mat = {
        (r["bucket"], r["pack"]): (
            r["n_docs"], r["pack_tokens"], r["first_doc"], r["last_doc"]
        )
        for r in C.materialize(
            spark, store, mix_budget=700, pack_budget=512,
            pack_buckets=4, pack_seed=7,
        ).collect()
    }
    kept_df = corpus.join(
        spark.createDataFrame(
            [(i,) for i in want_kept], "doc_id long"
        ),
        "doc_id",
    )
    mix = token_budget_mix(kept_df, budget=700)
    packed = pack_sequences(
        mix, budget_tokens=512, n_buckets=4, seed=7, n_tokens_col="n_tok"
    )
    want_mat = {
        (r["bucket"], r["pack"]): (
            r["n_docs"], r["pack_tokens"], r["first_doc"], r["last_doc"]
        )
        for r in packed.groupBy("bucket", "pack")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .collect()
    }
    assert mat == want_mat and mat


def test_streaming_corpus_store_replay_redelivery_compaction(spark, tmp_path):
    """Replays of latest AND middle epochs leave all three halves
    unchanged; an overlapping re-delivery epoch is a no-op (first-seen
    digests win); compaction folds without changing read_kept or
    materialize; the store keeps gating correctly after compaction."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        corpus_stream as C,
    )

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "text"
    )
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    bs = C.bench_shingle_set(bench, n=3)
    store = str(tmp_path / "corpus_store2")
    run = C.make_merge_batch(spark, store, bs)
    run(corpus.where(F.col("doc_id") < 150), 0)
    run(corpus.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)), 1)
    run(corpus.where(F.col("doc_id") >= 300), 2)
    kept0 = sorted(r["doc_id"] for r in C.read_kept(spark, store).collect())
    # replay latest, then middle
    run(corpus.where(F.col("doc_id") >= 300), 2)
    run(corpus.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)), 1)
    assert sorted(
        r["doc_id"] for r in C.read_kept(spark, store).collect()
    ) == kept0
    # an all-redelivery epoch is a no-op
    run(corpus.where(F.col("doc_id") < 200), 3)
    assert sorted(
        r["doc_id"] for r in C.read_kept(spark, store).collect()
    ) == kept0
    mat0 = sorted(map(tuple, C.materialize(spark, store).collect()))
    folded = C.compact_store(spark, store)
    assert folded >= 3
    assert sorted(
        r["doc_id"] for r in C.read_kept(spark, store).collect()
    ) == kept0
    assert sorted(map(tuple, C.materialize(spark, store).collect())) == mat0
    # post-compaction re-delivery still loses to the folded digests
    run(corpus.where(F.col("doc_id") < 200), 4)
    assert sorted(
        r["doc_id"] for r in C.read_kept(spark, store).collect()
    ) == kept0


def test_streaming_semdedup_no_pairs_store(spark, tmp_path):
    """A store whose every epoch finds ZERO pairs never creates the flags
    directory — read_flags returns an empty board (not an error) and
    every member survives."""
    from personalized_pagerank_algorithms_on_neo4j_spark.streaming import (
        semdedup_stream as S,
    )

    vecs = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(8)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0 if j == i else 0.0 for j in range(8)] for i in range(2)]
    store = str(tmp_path / "sd3_store")
    flags = str(tmp_path / "sd3_flags")
    run = S.make_merge_batch(spark, store, flags, cents, threshold=0.99)
    run(vecs.where(F.col("vec_id") < 2), 0)
    run(vecs.where(F.col("vec_id") >= 2), 1)
    assert S.read_flags(spark, flags).count() == 0
    surv = {r["vec_id"]: r["keep"] for r in
            S.read_survivors(spark, flags, store).collect()}
    assert surv == {0: True, 1: True, 2: True, 3: True}
