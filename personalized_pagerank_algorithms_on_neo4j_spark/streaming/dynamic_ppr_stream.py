"""Streaming dynamic-PPR store #14 (foreachBatch + residual repair on
edge arrival OR departure).

`ppr_refresh.start_incremental_prep_refresh` maintains the
target-partitioned PPR view along the ACTIVITY axis (recompute the
dirty targets' columns).  This store maintains it along the GRAPH axis:
each microbatch of edge EVENTS updates the persisted reverse-push state
via `operators.dynamic_ppr.repair_on_insert` / `repair_on_delete` + an
|r|-qualified resume — never a from-scratch recompute (the repairs touch
only the batch's source rows; see the 251x shuffle-volume study in
PERF_NOTES).

DELETES ENTER VIA THE STREAM (the r12 decision, VERDICT r11 ask #4): a
batch row is an edge EVENT — (src, dst) or (src, dst, op) with op in
{'ins', 'del'}; a missing op column means all-inserts (the pre-r12
contract, unchanged).  Idempotence is LIVENESS-based, the standard CDC
upsert rule: an insert applies iff the edge is not currently live, a
delete applies iff it is — so re-delivered events are no-ops and a
replayed epoch recomputes identical applied sets from the prior
partitions.  A batch naming the same edge as both ins and del is
rejected (a CDC feed collapses same-key churn before emitting); mixed
batches repair sequentially — insert repair against the prior live
graph, delete repair against the post-insert graph — exactly the
composition the `ppr_incremental_mixed` driver key gates.  The BATCH
path (`init_store`) remains the bulk (re-)initialization route.

Store layout (both halves epoch-partitioned, the repo's
replay-idempotent discipline):

    <store>/edges/epoch=N   the batch's APPLIED events (src, dst, op)
    <store>/state/epoch=N   the FULL maintained state AFTER batch N
                            (target, node, residue, reserve)

Epoch N's handler reads the newest state with epoch < N and derives the
prior LIVE edge set (latest op per edge across epochs < N; pre-r12
partitions carry no op column and read as op=NULL -> 'ins'), so a
REPLAYED epoch recomputes the identical state from the same inputs and
overwrites only its own partitions.  Persisting residues next to
reserves is what makes the store maintainable at all — the batch BASE
store drops them at write time and can only recompute.

Guarantee carried (pinned by tests): after every batch the state
satisfies the push validity identity EXACTLY on the live graph and
|residue| <= rmax everywhere — the same estimate guarantee a
from-scratch preprocess provides, and at tight rmax the same values.

Scale shape: per batch at most four bounded repair joins + a few
frontier-bounded resume supersteps + one full-state partition write;
`compact_store` folds history (old states collapse to the newest folded
one, old edge partitions collapse to their net-live rows — dead edges
vanish at compaction) through the shared crash-safe
`_store.compact_epochs` protocol."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dynamic_ppr import (
    repair_on_delete,
    repair_on_insert,
    reverse_push_state,
)

_EDGE_SCHEMA = "src bigint, dst bigint, op string, epoch bigint"
_STATE_SCHEMA = (
    "target bigint, node bigint, residue double, reserve double, "
    "epoch bigint"
)


def _edges_dir(store_path: str) -> str:
    return store_path.rstrip("/") + "/edges"


def _state_dir(store_path: str) -> str:
    return store_path.rstrip("/") + "/state"


def init_store(
    spark: SparkSession,
    store_path: str,
    edges: DataFrame,
    targets: DataFrame,
    rmax: float = 1e-4,
    alpha: float = 0.15,
    max_supersteps: int = 60,
) -> None:
    """Materialize epoch 0: the base edge set and the fresh reverse-push
    state over it."""
    st = reverse_push_state(
        spark, edges, targets, rmax, alpha, max_supersteps=max_supersteps
    )
    (
        edges.select("src", "dst")
        .distinct()
        .withColumn("op", F.lit("ins"))
        .withColumn("epoch", F.lit(0).cast("long"))
        .write.mode("overwrite")
        .partitionBy("epoch")
        .parquet(_edges_dir(store_path))
    )
    (
        st.withColumn("epoch", F.lit(0).cast("long"))
        .write.mode("overwrite")
        .partitionBy("epoch")
        .parquet(_state_dir(store_path))
    )


def _load(spark: SparkSession, store_path: str):
    from ._store import recover_store

    recover_store(_edges_dir(store_path))
    recover_store(_state_dir(store_path))
    edges = spark.read.schema(_EDGE_SCHEMA).parquet(_edges_dir(store_path))
    state = spark.read.schema(_STATE_SCHEMA).parquet(_state_dir(store_path))
    return edges, state


def _live_edges(events: DataFrame) -> DataFrame:
    """(src, dst): the live edge set — latest op per edge wins (an edge
    appears at most once per epoch, so the (epoch) ordering is total).
    Pre-r12 partitions carry no op column and read as NULL -> 'ins'."""
    w = Window.partitionBy("src", "dst").orderBy(F.desc("epoch"))
    return (
        events.select(
            "src",
            "dst",
            F.coalesce(F.col("op"), F.lit("ins")).alias("op"),
            "epoch",
        )
        .withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") == "ins"))
        .select("src", "dst")
    )


def make_merge_batch(
    spark: SparkSession,
    store_path: str,
    rmax: float = 1e-4,
    alpha: float = 0.15,
    max_supersteps: int = 60,
):
    """The foreachBatch handler over an edge stream (src, dst), exposed
    so tests can drive an epoch (and replay it) directly."""

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_id = int(epoch_id) + 1  # epoch 0 is the init partition
        edges_all, state_all = _load(spark, store_path)
        prior_live = _live_edges(
            edges_all.where(F.col("epoch") < epoch_id)
        ).localCheckpoint(eager=True)
        prev_epoch = (
            state_all.where(F.col("epoch") < epoch_id)
            .agg(F.max("epoch"))
            .collect()[0][0]
        )
        if prev_epoch is None:
            raise ValueError(
                f"dynamic-PPR store at {store_path} has no state before "
                f"epoch {epoch_id}: call init_store first"
            )
        prev_state = (
            state_all.where(F.col("epoch") == prev_epoch)
            .drop("epoch")
            .localCheckpoint(eager=True)
        )
        op = (
            F.coalesce(F.col("op"), F.lit("ins"))
            if "op" in batch_df.columns
            else F.lit("ins")
        )
        events = (
            batch_df.select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
                op.alias("op"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        churn = (
            events.groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 1)
        )
        if not churn.isEmpty():
            raise ValueError(
                "dynamic-PPR store: a batch names the same edge as both "
                "'ins' and 'del' — collapse same-key churn upstream (the "
                "CDC contract); offending keys: "
                + str(churn.select("src", "dst").limit(5).collect())
            )
        # liveness-based idempotence (the CDC upsert rule): an insert
        # applies iff the edge is not live, a delete iff it is — the
        # repairs require true insertions / true removals
        applied_ins = (
            events.where(F.col("op") == "ins")
            .select("src", "dst")
            .join(prior_live, ["src", "dst"], "left_anti")
            .localCheckpoint(eager=True)
        )
        applied_del = (
            events.where(F.col("op") == "del")
            .select("src", "dst")
            .join(prior_live, ["src", "dst"], "left_semi")
            .localCheckpoint(eager=True)
        )
        have_ins = not applied_ins.isEmpty()
        have_del = not applied_del.isEmpty()
        st = prev_state
        mid = prior_live
        if have_ins:
            st = repair_on_insert(st, prior_live, applied_ins, alpha)
            mid = prior_live.unionAll(applied_ins)
        if have_del:
            st = repair_on_delete(st, mid, applied_del, alpha)
        if have_ins or have_del:
            final = (
                mid.join(applied_del, ["src", "dst"], "left_anti")
                if have_del
                else mid
            )
            st = reverse_push_state(
                spark,
                final,
                None,
                rmax,
                alpha,
                max_supersteps=max_supersteps,
                state=st,
            )
        applied = applied_ins.withColumn("op", F.lit("ins")).unionAll(
            applied_del.withColumn("op", F.lit("del"))
        )
        (
            applied.withColumn("epoch", F.lit(epoch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(_edges_dir(store_path))
        )
        (
            st.withColumn("epoch", F.lit(epoch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(_state_dir(store_path))
        )

    return merge_batch


def start_streaming_maintenance(
    spark: SparkSession,
    edge_stream: DataFrame,
    store_path: str,
    rmax: float = 1e-4,
    alpha: float = 0.15,
    query_name: str = "dynamic_ppr_store",
):
    """Start the maintenance stream over an (src, dst) edge stream;
    returns the StreamingQuery.  `init_store` must have run first."""
    merge_batch = make_merge_batch(spark, store_path, rmax=rmax, alpha=alpha)
    return (
        edge_stream.writeStream.foreachBatch(merge_batch)
        .queryName(query_name)
        .option("checkpointLocation", store_path.rstrip("/") + "_ckpt")
        .start()
    )


def read_state(spark: SparkSession, store_path: str) -> DataFrame:
    """(target, node, residue, reserve): the newest maintained state."""
    _, state_all = _load(spark, store_path)
    latest = state_all.agg(F.max("epoch")).collect()[0][0]
    if latest is None:
        raise ValueError(f"dynamic-PPR store at {store_path} is empty")
    return state_all.where(F.col("epoch") == latest).drop("epoch")


def read_ppr(
    spark: SparkSession, store_path: str, threshold: float = 0.0
) -> DataFrame:
    """(source, target, ppr): the BASE-view read over the newest state
    (reserves >= threshold, the Base_Whole_Graph.java:83 filter)."""
    st = read_state(spark, store_path)
    return st.where(F.col("reserve") >= threshold).select(
        F.col("node").alias("source"), "target", F.col("reserve").alias("ppr")
    )


def read_edges(spark: SparkSession, store_path: str) -> DataFrame:
    """(src, dst): the LIVE graph — every applied insert not subsequently
    deleted (latest op per edge wins)."""
    edges_all, _ = _load(spark, store_path)
    return _live_edges(edges_all)


def compact_store(spark: SparkSession, store_path: str) -> int:
    """Fold every epoch EXCEPT the newest in both halves via the shared
    crash-safe protocol: old edge partitions collapse to their NET-LIVE
    rows (an edge inserted then deleted inside the folded range simply
    vanishes — the newest partition's ops still override the folded
    epoch=-1 rows), old states collapse to the NEWEST folded state
    (older states exist only for replay of epochs that can no longer
    replay once folded).  Run while the stream is stopped.  Returns
    partitions folded across both halves."""
    from ._store import compact_epochs

    def fold_edges(df: DataFrame) -> DataFrame:
        return _live_edges(df).withColumn("op", F.lit("ins"))

    def fold_states(df: DataFrame) -> DataFrame:
        latest = df.agg(F.max("epoch")).collect()[0][0]
        return df.where(F.col("epoch") == latest).drop("epoch")

    n = compact_epochs(spark, _edges_dir(store_path), _EDGE_SCHEMA, fold_edges)
    n += compact_epochs(
        spark, _state_dir(store_path), _STATE_SCHEMA, fold_states
    )
    return n
