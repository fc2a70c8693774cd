"""Incremental / streaming processing.

The reference is strictly batch (SURVEY.md §2.11); the north rule's
resumability maps to batch-with-lineage (pipeline/lineage.py). This
module adds the Structured Streaming capabilities a continuously-fed
Common-Crawl ingest would use:

- ``stream_extract``: readStream over a pages directory ->
  the fused map-only parse+extract kernel -> parquet sink with checkpointing,
  ``Trigger.AvailableNow`` (process-everything-then-stop = resumable
  incremental batch; kill it and the checkpoint resumes exactly).
- ``windowed_event_counts``: event-time windowed aggregation with a
  watermark for late data (the events table plays the role of a
  crawler telemetry stream).
- ``stream_dedup_urls``: streaming first-wins dedup on the canonical
  url with watermark-bounded state — the ingest-time guard against a
  crawler re-fetching the same page under snapshot/tracking variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.extract import extract_from_pages
from ..schemas import PAGES_SCHEMA


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Incremental extraction over a growing pages directory.

    Returns the started StreamingQuery (AvailableNow: drains what exists,
    checkpoints, stops — rerunning after new files land processes only
    the delta)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(pages_dir)

    # Extraction per micro-batch is complete because files are whole
    # documents: foreachBatch runs the fused map-only parse+extract
    # kernel (byte-identical to the windowed form, no url shuffle) on
    # each increment.
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        extract_from_pages(batch_df).write.mode("append").parquet(out_dir)

    q = (
        pages.writeStream.foreachBatch(
            lambda df, bid: sink(df, bid)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q


def stream_dedup_urls(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
):
    """Streaming URL dedup over a growing pages directory: the FIRST
    arrival per canonical url (ops/urls.canonical_url) is kept, later
    snapshot/tracking variants whose event time falls within
    ``watermark`` of it are dropped. State is the canonical-url keys
    seen inside the watermark horizon — BOUNDED: Spark evicts keys older
    than the watermark, so a perpetual crawl never accumulates
    unbounded state (the batch ``ops/urls.url_dedup_rows`` is the
    snapshot-global, latest-wins form; first-wins is the only semantics
    an online one-pass dedup can give).

    Returns the started AvailableNow StreamingQuery (drain, checkpoint,
    stop — rerunning processes only new files, and the checkpointed
    state still suppresses duplicates of urls from earlier runs within
    the watermark)."""
    from ..ops.urls import canonical_url

    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    deduped = (
        pages.withColumn("canonical_url", canonical_url(F.col("url")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed counts per event_type (works identically on a
    batch DataFrame and a stream with the watermark bounding state)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


# ---------------------------------------------------------------------------
# Sessionization: batch (oracled) + custom stateful streaming operator.
# ---------------------------------------------------------------------------
def user_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization (batch): a new session starts when the
    user's inter-event gap exceeds ``gap_minutes``. Pure window algebra
    (lag -> flag -> running sum), one shuffle on user_id; SQL-equivalent
    and hash-verified against the DuckDB oracle."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    new_flag = (
        prev.isNull()
        | ((F.col("ts") - prev) > F.expr(f"INTERVAL {int(gap_minutes)} MINUTES"))
    ).cast("int")
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sid = F.sum(new_flag).over(cum)
    return (
        events.withColumn("session_id", sid.cast("int"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("ts_start"),
            F.max("ts").alias("ts_end"),
        )
    )


def stream_user_event_totals(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Custom STATEFUL streaming operator (applyInPandasWithState): a
    per-user running event counter whose state genuinely persists across
    micro-batches (maxFilesPerTrigger=1 forces multiple batches under
    AvailableNow, so the parity test exercises real state carry-over —
    the building block the reference's batch world has no analogue for).
    Emits one row per user per batch with the updated running total."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    src = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp, "
                                "event_type string, value double")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
        .select("user_id", "event_id")
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("total_events", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def update(key, pdfs, state: GroupState):
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
        (prev,) = state.get if state.exists else (0,)
        total = prev + n_new
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "total_events": [total]})

    counted = src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_dir)

    return (
        counted.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
