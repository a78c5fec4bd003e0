"""Event-time streaming operators: watermarked windowed aggregation and
a custom stateful operator (applyInPandasWithState).

The reference has *no* event-time semantics — arrival order is truth
(SURVEY.md §2.9 T6). These operators are the engine surface a Spark
user gains on top of reference parity:

- :func:`run_windowed_stats` — tumbling event-time windows over the CDC
  stream with a watermark bounding state. Update-mode + ``foreachBatch``
  keyed merge, so each micro-batch upserts only the windows it touched
  and the watermark lets Spark evict finalized window state — the shape
  that holds at 100 TB (a complete-mode/memory-sink variant would pin
  every window ever seen on the driver).
- :func:`run_user_totals` — per-key running aggregates via
  ``applyInPandasWithState`` (the custom-stateful-operator API;
  Structured Streaming paper §stateful operators). State is a tiny
  fixed-width tuple per key — integer cents, no doubles — so totals are
  exact and order-insensitive regardless of partitioning/batching.

Both write to a keyed parquet state table behind the shadow-swap
(operators/refresh.py) so readers never see a torn batch; on a real
deployment the merge becomes MERGE INTO on a table format.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meilisync_spark.operators.refresh import refresh_data
from meilisync_spark.streaming.pipeline import _start_and_await, read_event_stream

import os


def _merge_keyed(spark: SparkSession, batch_df: DataFrame, path: str, keys: list[str]) -> None:
    """Upsert ``batch_df`` into the keyed parquet table at ``path``:
    rows with matching keys are replaced, others kept (one pk-shuffle
    anti-join — the same MERGE shape as operators/apply.py).

    The full-table rewrite here is bounded by design: this state table
    holds *aggregates* (windows × group cardinality / live users), not
    raw events, so O(state) per batch stays small at any input scale —
    unlike a document index, which is why the CDC pipeline has the
    bucketed layout (operators/bucketed.py) and this path doesn't
    need it. If group cardinality ever rivals the event volume, the
    same ``apply_changes_bucketed`` drops in (the schema is keyed
    identically)."""
    if os.path.exists(path):
        base = spark.read.parquet(path).join(batch_df.select(*keys), keys, "left_anti")
        new_state = base.unionByName(batch_df)
    else:
        new_state = batch_df
    refresh_data(new_state, path)


def run_windowed_stats(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_dir: str,
    *,
    window: str = "1 hour",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
    timeout_sec: float = 120.0,
) -> None:
    """Tumbling-window per-event-type counts/sums with a watermark.

    Sums go through DECIMAL (partial-agg order is nondeterministic for
    doubles). Correct as long as no event is later than ``watermark``
    behind the max event time seen — the explicit late-data contract
    the reference never had (T6).
    """
    ev = read_event_stream(spark, events_path, max_files_per_trigger)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal inside the agg (order-insensitive exactness); the
            # emitted state is double — update mode replaces the whole
            # window row per batch, so no cross-batch double summation.
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        _merge_keyed(spark, batch_df, out_path, ["hour_start", "event_type"])

    _start_and_await(
        agg.writeStream.foreachBatch(upsert).outputMode("update"),
        checkpoint_dir, True, None, timeout_sec,
    )


def run_session_windows(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_dir: str,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
    timeout_sec: float = 120.0,
) -> None:
    """Gap-based session windows (`F.session_window`): per-user sessions
    that close after ``gap`` of inactivity — the native streaming form
    of the batch sessionization query (`event_sessions`).

    Merge semantics: each event opens [ts, ts+gap); overlapping windows
    merge, so a new session starts exactly when the event-time delta is
    ≥ gap — the oracle mirrors that boundary with an interval compare
    on the exact microsecond timestamps.

    Output mode: Spark restricts streaming session-window aggregation
    to append/complete (update would have to retract rows when two
    open sessions merge into one — their window start changes, unlike
    tumbling windows). Append only emits a session once the watermark
    passes its end, so a finite replay would swallow every user's last
    session; this harness therefore runs complete mode with a
    shadow-swap overwrite per batch (operators/refresh.py — readers
    never see a torn batch). On an unbounded production stream the
    right shape is append + watermark: sessions flush as the stream
    advances and Spark evicts closed-session state — complete mode's
    all-windows state is the price of a finite replay, not the design.
    """
    ev = read_event_stream(spark, events_path, max_files_per_trigger)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window(F.col("ts"), gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("last_ts")).alias("last_event_us"),
            "n_events",
        )
    )

    def overwrite(batch_df: DataFrame, _batch_id: int) -> None:
        refresh_data(batch_df, out_path)

    _start_and_await(
        agg.writeStream.foreachBatch(overwrite).outputMode("complete"),
        checkpoint_dir, True, None, timeout_sec,
    )


USER_TOTALS_SCHEMA = "user_id long, n_events long, total_cents long, last_event_id long"
_STATE_SCHEMA = "n long, cents long, max_eid long"


def run_user_totals(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    timeout_sec: float = 120.0,
) -> None:
    """Per-user running totals as a custom stateful operator.

    ``applyInPandasWithState`` keeps (count, cents, max_event_id) per
    user across micro-batches and emits the updated totals each batch;
    ``foreachBatch`` upserts them into the state table. Cents are
    ``floor(value*100 + 0.5)`` — exact int64 math, so the running total
    is independent of row order and batch boundaries.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_event_stream(spark, events_path, max_files_per_trigger)

    def totals(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        n, cents, max_eid = state.get if state.exists else (0, 0, None)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(sum(math.floor(v * 100 + 0.5) for v in pdf["value"]))
            m = int(pdf["event_id"].max())
            max_eid = m if max_eid is None else max(max_eid, m)
        state.update((n, cents, max_eid))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "total_cents": cents, "last_event_id": max_eid}]
        )

    updated = ev.groupBy("user_id").applyInPandasWithState(
        totals,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        _merge_keyed(spark, batch_df, out_path, ["user_id"])

    _start_and_await(
        updated.writeStream.foreachBatch(upsert).outputMode("update"),
        checkpoint_dir, True, None, timeout_sec,
    )
