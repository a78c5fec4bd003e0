"""Streaming exactly-once dedup — `dropDuplicatesWithinWatermark` over
an at-least-once delivery stream.

The reference's delivery contract is at-least-once + idempotent-by-pk
(SURVEY.md §2.9 T1: progress is persisted only after a successful
write, so a crash between write and commit re-delivers events). Its
sink absorbs duplicates because Meilisearch upserts by pk. When the
sink is *not* keyed (an append-only training-data log, a metrics
topic), the engine needs the dedup to happen in the stream itself —
this operator is that: duplicates are dropped on the event's unique id
while its watermark is live.

Scale story: naive `dropDuplicates` on a stream keeps every id seen
forever (state grows without bound — O(history)). Bounding the state
with a watermark makes it O(ids in the horizon): Spark evicts an id's
state once the watermark passes its event time, which is safe exactly
because redelivery duplicates carry the *same* event time as the
original, so any duplicate that could still arrive is always inside
the horizon. This is the only dedup shape that runs forever.

The harness simulates redelivery by unioning the stream with a
deterministic subset of itself (every 7th event id — a "crashed after
write, before commit" replay); the deduped sink must equal the
original event set exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meilisync_spark.streaming.pipeline import _start_and_await, read_event_stream

REDELIVERY_MOD = 7
DEDUP_WATERMARK = "1 hour"


def with_redelivery(events: DataFrame) -> DataFrame:
    """Union the stream with a deterministic replay subset (every
    ``REDELIVERY_MOD``-th event) — the at-least-once failure mode."""
    return events.union(events.where(F.col("event_id") % REDELIVERY_MOD == 0))


def dedup_events(events: DataFrame, watermark: str = DEDUP_WATERMARK) -> DataFrame:
    """Exactly-once projection of an at-least-once stream: one row per
    event_id, state bounded by the watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("long").alias("ts_sec"),
            "value",
        )
    )


def run_stream_dedup(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_dir: str,
    *,
    watermark: str = DEDUP_WATERMARK,
    max_files_per_trigger: int | None = None,
    timeout_sec: float = 180.0,
) -> None:
    stream = read_event_stream(spark, events_path, max_files_per_trigger)
    writer = (
        dedup_events(with_redelivery(stream), watermark)
        .writeStream.format("parquet")
        .option("path", out_path)
        .outputMode("append")
    )
    _start_and_await(writer, checkpoint_dir, True, None, timeout_sec)
