"""Structured-Streaming CDC: the scheduled-sync entry point
(``Invoke-ScheduledSync``, reference private/Sync.ps1:774-809) as a
``foreachBatch`` pipeline with ``trigger(availableNow=True)`` for
scheduled-batch parity.

Each arriving file is treated as a full source snapshot (the reference
re-reads the whole collection per sync, Sync.ps1:82). Per micro-batch:
load persisted state -> ``sync`` (hash-diff classify) -> partition-scoped
apply onto the parquet target -> persist new state. The checkpoint
directory gives exactly-once file processing across restarts; the state
table is the reference's ``sync_state_<t>.json`` (Sync.ps1:296-349).

Deletes propagate through the apply step (anti-join), which is why this
uses ``foreachBatch`` rather than a built-in sink — vanilla streaming
sinks cannot retract rows (SURVEY.md §7.2 item 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from nosql_to_sql_migration_tool_spark.hadoop_fs import path_exists

from nosql_to_sql_migration_tool_spark.operators.cdc import (
    initial_load,
    sync_to_path,
)


def read_snapshot_stream(
    spark: SparkSession, source_dir: str, schema: StructType
) -> DataFrame:
    """File-source stream of snapshot parquet drops (one file per sync
    round; the checkpoint tracks which files were already processed)."""
    return spark.readStream.schema(schema).parquet(source_dir)


def stream_sync(
    source_stream: DataFrame,
    key: str,
    state_path: str,
    target_path: str,
    partition_col: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the availableNow CDC sync: process all pending snapshot
    files, apply diffs to the target, persist state, stop."""

    def handle_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if path_exists(spark, target_path):
            sync_to_path(
                spark, batch_df, key, target_path, state_path, partition_col
            )
        else:
            initial_load(
                spark, batch_df, key, target_path, state_path, partition_col
            )

    return (
        source_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_window_counts(
    events_stream: DataFrame,
    checkpoint_path: str,
    query_name: str,
    size: str = "1 hour",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Streaming tumbling-window aggregate with a watermark for late
    data, into a memory sink (complete mode) — the streaming twin of
    ``operators/windows.tumbling_window_agg``."""
    from nosql_to_sql_migration_tool_spark.operators.windows import (
        tumbling_window_agg,
    )

    agg = tumbling_window_agg(
        events_stream.withWatermark("ts", watermark), size
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of the same key within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the
    streaming twin of ``dedup.dedup_exact``. State holds one row per
    key and ages out with the watermark, so memory is bounded by key
    cardinality inside the horizon, not stream length — the property
    that makes at-least-once sources (Kafka replays, retried drops)
    safe to consume at scale."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_enrich(
    events: DataFrame, dim: DataFrame, key: str
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the (small,
    broadcastable) static dimension — no streaming state at all, the
    canonical fact-stream x dim-table shape. The static side is re-read
    per batch, so slowly-changing dims pick up updates between batches."""
    return events.join(F.broadcast(dim), key, "left")


def stream_stream_attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream join: attribute each purchase to the
    same user's preceding view within ``max_delay`` — the canonical
    two-stream correlation (click->conversion) shape.

    Both sides carry a watermark and the join condition bounds
    ``purchase_ts`` to a finite interval after ``view_ts``, so Spark can
    age out buffered state on both sides; without the time bound the
    join state would grow with stream length. Inner join + event-time
    range is the supported append-mode shape. State per key is bounded
    by (watermark + max_delay) of events, independent of total stream
    length — the property that keeps a 100 TB/day stream joinable."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return v.join(
        p,
        F.expr(
            "v_user = p_user AND purchase_ts >= view_ts "
            f"AND purchase_ts <= view_ts + INTERVAL {max_delay}"
        ),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def stream_session_counts(
    events_stream: DataFrame,
    checkpoint_path: str,
    query_name: str,
    gap: str = "5 minutes",
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Streaming session windows (gap timeout) into a memory sink — the
    streaming twin of ``operators/windows.session_window_agg``. Session
    merging is stateful (adjacent windows within ``gap`` coalesce as
    late events arrive); the watermark bounds how long an open session
    can wait for more events before it is finalized."""
    from nosql_to_sql_migration_tool_spark.operators.windows import (
        session_window_agg,
    )

    agg = session_window_agg(
        events_stream.withWatermark("ts", watermark), gap
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_window_append(
    events_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    size: str = "1 hour",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Append-mode windowed counts to a parquet sink: windows emit ONCE,
    when the watermark passes their end — the mode where late-data
    semantics actually bite (complete mode would silently re-emit).
    Events later than the watermark horizon are dropped by contract;
    state for closed windows is freed, which is what bounds memory on
    an unbounded stream."""
    from nosql_to_sql_migration_tool_spark.operators.windows import (
        tumbling_window_agg,
    )

    agg = tumbling_window_agg(
        events_stream.withWatermark("ts", watermark), size
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_clean_corpus(docs_stream: DataFrame) -> DataFrame:
    """Streaming scrub pass: the batch cleaning operator applied to a
    document stream unchanged — it is a stateless projection chain, so
    it composes with any source/sink with zero streaming state. The
    proof that the corpus-hygiene surface is streaming-safe end to end."""
    from nosql_to_sql_migration_tool_spark.operators.cleaning import (
        with_clean_text,
    )

    return with_clean_text(docs_stream)


def stream_mixture_ingest(
    docs_stream: DataFrame, rates: DataFrame
) -> DataFrame:
    """Steady-state mixture sampling at ingest: the temperature-
    weighted rate table is computed OFFLINE by a periodic batch pass
    (``domain_mixture_rates`` — two metadata-sized aggregates) and
    applied to the document stream as a static broadcast join + pure
    filter. The keep decision is a function of (md5(id), rate) only, so
    replays and reordering cannot change the kept set — exactly-once
    composition needs no state."""
    from nosql_to_sql_migration_tool_spark.operators.traindata import (
        apply_mixture_rates,
    )

    return apply_mixture_rates(docs_stream, rates)
