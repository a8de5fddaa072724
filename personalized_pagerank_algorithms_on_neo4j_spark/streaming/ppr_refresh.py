"""Structured Streaming operators over the `events` table shape.

The reference's only "incremental" notion is preprocess-then-lookup (S4/S5);
these extend it Spark-natively (SURVEY section 7 item 9):

- `windowed_event_counts`: watermarked tumbling-window aggregation — the
  canonical late-data-tolerant streaming agg.
- `sessionize`: session windows per user (gap-based).
- `running_user_totals`: custom stateful operator via
  `applyInPandasWithState` — per-user running count/sum that survives across
  microbatches.
- `start_incremental_prep_refresh`: `foreachBatch` pipeline that watches the
  event stream, maps active users to graph targets, recomputes PPR for only
  the *affected* targets, and upserts them into a target-partitioned view
  (per-write dynamic partition overwrite: at 100 TB you refresh the handful
  of dirty `target=` partitions, never the whole view).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(spark, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame, window: str = "5 minutes", slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling/sliding window counts+sums per event_type with a watermark
    (late rows beyond it are dropped, enabling state cleanup)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w, "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based session windows per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("value"))
    )


_STATE_SCHEMA = "n long, total double"
_OUT_SCHEMA = "user_id long, n long, total double"


def _running_totals_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # self-contained (no module-level references): ships to python workers
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) across
    microbatches via applyInPandasWithState."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_incremental_prep_refresh(
    graph,
    events: DataFrame,
    prep_path: str,
    rmax: float = 1e-4,
    alpha: float = 0.15,
    user_to_node=None,
    query_name: str = "ppr_prep_refresh",
):
    """foreachBatch: per microbatch, recompute pi(. -> t) for every target t
    whose user was active in the batch, and overwrite exactly those
    `target=` partitions of the materialized view.

    The view is TARGET-partitioned because one backward search produces one
    whole target column of the PPR matrix — so an incremental refresh is a
    clean dynamic partition overwrite (the source-partitioned BASE store of
    prep_store.py stays the batch-lookup layout; this one answers "who is
    relevant to this active node" and refreshes in O(dirty targets)).

    `user_to_node(df) -> DataFrame(target: long)` maps batch user ids into
    graph node ids (default: identity on user_id).

    Each batch makes the same local/distributed choice as
    `base_preprocess(mode="auto")`: per-target numpy kernels below the
    driver-local cutoff, the multi-target distributed reverse push above
    it; threshold 0 keeps every row the reverse push returns."""
    from ..operators.base_all_pair import base_preprocess

    def refresh(batch_df: DataFrame, epoch_id: int) -> None:
        users = batch_df.select("user_id").distinct()
        targets = (
            user_to_node(users)
            if user_to_node is not None
            else users.select(F.col("user_id").cast("long").alias("target"))
        )
        # only targets that exist in the graph
        targets = targets.join(
            graph.nodes.select(F.col("id").alias("target")), "target", "left_semi"
        )
        if targets.isEmpty():
            return
        fresh = base_preprocess(graph, 0.0, rmax=rmax, alpha=alpha, targets=targets)
        # dynamic partition overwrite: only dirty target= partitions rewrite
        (
            fresh.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("target")
            .parquet(prep_path)
        )

    return (
        events.writeStream.outputMode("append")
        .queryName(query_name)
        .foreachBatch(refresh)
        .start()
    )


def lookup_to_target(spark, prep_path: str, target: int) -> DataFrame:
    """(source, ppr) relevant to `target` — a partition-pruned scan."""
    return (
        spark.read.parquet(prep_path)
        .where(F.col("target") == int(target))
        .select(F.col("source").alias("node"), "ppr")
    )
