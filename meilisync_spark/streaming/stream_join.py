"""Stream-stream interval join — two live CDC streams joined on key +
event-time proximity (the "purchases within 30 minutes after a view"
shape). Pure Structured Streaming surface the reference cannot express
(its events are applied row-by-row; SURVEY.md §2.3 — no joins at all).

Both sides carry watermarks and the join predicate bounds event-time
distance, so Spark can evict join state once the watermark passes the
interval — state is O(events in the horizon), not O(history). Output
is append-mode into a plain parquet streaming sink (exactly-once via
the sink's transaction log + checkpoint).

At 100 TB: this is the canonical enrichment topology (clicks ⋈
impressions); the interval bound is what makes it run forever. An
unbounded stream-stream join would accumulate state without limit and
is rejected by Spark in append mode — the engine inherits that guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meilisync_spark.streaming.pipeline import _start_and_await, read_event_stream

JOIN_HORIZON = "30 minutes"


def purchase_view_pairs(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """view → purchase pairs for the same user with the purchase at most
    ``JOIN_HORIZON`` after the view (inclusive both ends)."""
    p = purchases.select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    return (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {JOIN_HORIZON}")),
        )
        .select(
            "user_id",
            "purchase_id",
            "view_id",
            F.col("p_ts").cast("long").alias("purchase_ts"),
            F.col("v_ts").cast("long").alias("view_ts"),
        )
    )


def run_stream_stream_join(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_dir: str,
    *,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
    timeout_sec: float = 180.0,
) -> None:
    purchases = (
        read_event_stream(spark, events_path, max_files_per_trigger)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
    )
    views = (
        read_event_stream(spark, events_path, max_files_per_trigger)
        .where(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
    )
    writer = (
        purchase_view_pairs(purchases, views)
        .writeStream.format("parquet")
        .option("path", out_path)
        .outputMode("append")
    )
    _start_and_await(writer, checkpoint_dir, True, None, timeout_sec)
