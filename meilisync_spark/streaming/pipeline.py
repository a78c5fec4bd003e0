"""Structured Streaming shell — the reference's `meilisync start` loop
(meilisync/main.py:71-140) as a micro-batch pipeline.

Mapping (SURVEY.md §2.9):

- asyncio event loop + buffer + interval flusher  → the micro-batch
  engine itself; ``trigger(processingTime=insert_interval)`` is T3,
  file-count batch sizing is T2, ``availableNow`` is the backfill
  catch-up T5, and tiny-trigger is per-event mode T4.
- progress store (file/redis, meilisync/progress/*) → the stream's
  ``checkpointLocation`` (offsets written after each commit, same
  write-then-commit order as main.py:110-120 ⇒ at-least-once, made
  effectively-once by the idempotent pk MERGE).
- per-event apply (meili.py:142-151) → ONE driver,
  :func:`run_cdc_pipeline`: the log is normalized once, on the stream,
  into one routed frame; the ``foreachBatch`` body slices it per sync
  rule → fields map → plugin chain → MERGE through one sink dispatch
  (delta, bucketed or flat), then one progress publish per batch. The
  MERGE calls the *batch* operators the oracle checks, so streaming
  correctness reduces to batch correctness plus the harness. A single
  index is a one-sync ``Settings``.
- backfill-if-missing (main.py:86-101) → a fresh checkpoint's first
  batch: with ``full: true`` it replays the whole log into an absent
  index, no separate snapshot phase.
- plugin hooks (U1) → ``DataFrame -> DataFrame`` transforms chained
  before the apply.

Batch-boundary semantics note (shared with the reference): compaction
is per-buffer, so a create followed in the SAME batch by a sparse
update collapses to the update (the create's payload is gone —
meilisync/event.py:10-13 has identical behavior). Final state therefore
depends on batch boundaries exactly as the reference's depends on its
flush points; tests pin both single-batch and multi-batch shapes.

Scale notes: state lives in the index table, not in the stream (no
flatMapGroupsWithState needed — T7); each micro-batch shuffles only on
pk for the MERGE. With a table format the rewrite becomes MERGE INTO
with file pruning; the parquet fallback swaps via the shadow path
(operators/refresh.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meilisync_spark.config import Settings, load_plugin
from meilisync_spark.operators import bucketed
from meilisync_spark.operators.apply import apply_changes
from meilisync_spark.operators.project import ENVELOPE_COLS, apply_envelope_fields
from meilisync_spark.operators.refresh import refresh_data
from meilisync_spark.sources.events import classify_events
from meilisync_spark.sources.parquet import _nanos_timestamp_cols


def read_event_stream(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
    source_format: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """Streaming scan of an append-only drop directory (a CDC log is
    S4-S6's Spark form; in production Kafka/Debezium). File order =
    arrival order.

    ``source_format``: parquet (default), orc, json, csv, or text — a
    CDC drop directory is often newline-JSON in practice.
    Self-describing formats (parquet, orc) infer the schema from the
    existing files; json/csv need an explicit ``schema`` (the streaming
    source cannot infer; for json an ISO-8601 ``ts`` parses straight
    into the timestamp column). ``text`` yields one ``value string``
    row per line — the raw-envelope shape the connector normalizers
    (sources/cdc_connectors.py: Debezium/Maxwell/Canal/Mongo) consume,
    so an envelope drop-dir tails end-to-end without Kafka.

    A single file is staged by :func:`_source_dir`. Nanos parquet
    timestamps are floored to micros, as the batch loader does.
    """
    reader = spark.readStream.option("latestFirst", "false")  # seq follows file order
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _load_events(spark, reader, events_path, source_format, schema)


def _source_dir(path: str) -> str:
    """The directory a file source reads for ``path``: the path itself,
    or for a single file a one-symlink staging directory (the file
    source requires a directory basePath). The staging dir is
    DETERMINISTIC in the source path — ``mls_src_<uid>_<sha1(abspath)>``
    — because the checkpoint records committed files under that
    basePath: a random per-run dir would fail every restart with "Wrong
    basePath" the moment the query resumes from its checkpoint."""
    if not os.path.isfile(path):
        return path
    # keyed by uid so users on a shared host can't collide with (or
    # pre-plant symlinks in) each other's staging dirs; mode 0700 for
    # the same reason
    tag = hashlib.sha1(os.path.abspath(path).encode()).hexdigest()[:16]
    staging = os.path.join(tempfile.gettempdir(), f"mls_src_{os.getuid()}_{tag}")
    os.makedirs(staging, mode=0o700, exist_ok=True)
    link = os.path.join(staging, os.path.basename(path))
    try:
        # absolute target: a relative one would resolve against the
        # staging dir and dangle
        os.symlink(os.path.abspath(path), link)
    except FileExistsError:
        # concurrent starter won the race, or a prior run left the
        # link: both point at the same target by construction (the dir
        # name is a hash of the target path) — verify and reuse
        if os.path.realpath(link) != os.path.realpath(path):
            raise RuntimeError(
                f"staging link {link} points at {os.path.realpath(link)}, not {path}"
            )
    return staging


def _load_events(spark, reader, events_path, source_format, schema) -> DataFrame:
    """The log through ``reader`` (``spark.read`` or ``spark.readStream``):
    one schema, staging and timestamp rule for the stream and a batch read."""
    nanos = _nanos_timestamp_cols(events_path) if source_format == "parquet" else []
    if schema is None:
        if source_format == "parquet":
            schema = spark.read.parquet(events_path).schema
        elif source_format == "orc":
            schema = spark.read.orc(events_path).schema
        elif source_format == "text":
            schema = T.StructType([T.StructField("value", T.StringType())])
        else:
            raise ValueError(f"{source_format} event stream needs an explicit schema")
    reader = reader.schema(schema).format(source_format)
    if source_format == "csv":
        reader = reader.option("header", "true")
    df = reader.load(_source_dir(events_path))
    for col in nanos:
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


class CatchUpTimeout(TimeoutError):
    """An ``availableNow`` run was stopped at its timeout before it
    caught up; its committed batches stay in the checkpoint."""


def _committed_batches(checkpoint_dir: str) -> int:
    commits = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits):
        return 0
    return sum(1 for name in os.listdir(commits) if name.isdigit())


def _start_and_await(
    writer,
    checkpoint_dir: str,
    available_now: bool,
    processing_interval: str | None,
    timeout_sec: float | None,
):
    writer = writer.option("checkpointLocation", checkpoint_dir)  # T1 progress store
    if available_now:
        writer = writer.trigger(availableNow=True)  # T5 catch-up
    elif processing_interval:
        writer = writer.trigger(processingTime=processing_interval)  # T3
    q = writer.start()
    if timeout_sec is not None:
        try:
            q.awaitTermination(timeout_sec)
        finally:
            cut = q.isActive
            if cut:
                q.stop()
        # surface foreachBatch failures instead of reporting a silent
        # "caught up" (the reference loudly retries on stream errors,
        # meilisync/source/mysql.py:127-135 — swallowing is worse)
        if q.exception() is not None:
            raise q.exception()
        if cut and available_now:
            # a catch-up run that did not catch up is a failure; follow
            # mode (processingTime) keeps stop-at-timeout as its exit
            raise CatchUpTimeout(
                f"catch-up stopped at its {timeout_sec:g} s timeout with "
                f"{_committed_batches(checkpoint_dir)} batches committed in "
                f"{checkpoint_dir}; the next start resumes from there"
            )
    elif not available_now:
        # follow mode ("tail until killed"): block forever — returning
        # here would let the caller exit and tear the stream down after
        # at most one trigger, before any batch commits. Raises the
        # stream's exception if the query dies.
        q.awaitTermination()
    return q


def _apply_to_sink(
    spark: SparkSession,
    index_path: str,
    ev: DataFrame,
    sink_format: str,
    num_buckets: int,
) -> None:
    """MERGE one sync's normalized changes into its index: Delta (one
    transactional ``MERGE INTO``), pk-bucketed (``num_buckets`` > 0,
    touched buckets only) or flat (full rewrite, shadow-path swap). The
    parquet forms merge the union schema (``payload_cols=None``,
    operators/apply.py), so a fields-map edit across restarts widens the
    index instead of silently dropping columns."""
    payload = [c for c in ev.columns if c not in ENVELOPE_COLS]
    if sink_format == "delta":
        from meilisync_spark.operators.table_format import apply_changes_delta

        apply_changes_delta(spark, index_path, ev, pk="pk", payload_cols=payload)
    elif num_buckets:
        bucketed.apply_changes_bucketed(
            spark, index_path, ev, pk="pk", payload_cols=None, num_buckets=num_buckets
        )
    else:
        if os.path.exists(index_path):
            base = spark.read.parquet(index_path)
        else:
            base = spark.createDataFrame([], ev.select("pk", *payload).schema)
        refresh_data(apply_changes(base, ev, pk="pk", payload_cols=None), index_path)


def run_cdc_pipeline(
    spark: SparkSession,
    events_path: str,
    settings: Settings,
    checkpoint_dir: str,
    *,
    table_col: str | None = None,
    max_files_per_trigger: int | None = None,
    processing_interval: str | None = None,
    available_now: bool = True,
    timeout_sec: float | None = 120.0,
    num_buckets: int | None = None,
    source_format: str = "parquet",
    source_schema=None,
    normalizer: Callable[[DataFrame], DataFrame] | None = None,
    pre_batch: Callable[[DataFrame], DataFrame] | None = None,
    progress=None,
    sink_format: str = "parquet",
):
    """The reference's `start` loop (meilisync/main.py:71-140): every
    event routed through its sync rule, applied, then its progress
    recorded. Runs until caught up (``available_now``) or until
    ``timeout_sec``; returns the StreamingQuery (stopped if awaited). An
    ``available_now`` run still behind at ``timeout_sec`` raises
    :class:`CatchUpTimeout`; the next run resumes from the checkpoint.
    A single index is a one-sync ``settings`` (:meth:`Settings.for_index`).

    One normalized frame per query, planned once on the stream (the
    reference's ``Event{type, table, data, progress}``):
    ``normalizer(raw)`` maps every raw row onto ``(seq, table, op, pk,
    <payload>)``, possibly keeping unconsumed kinds as ``op`` NULL rows.
    The default is :func:`classify_events`, keyed per table by its sync
    rule's pk (settings.py:41); a connector normalizer (e.g.
    ``normalize_maxwell`` plus a payload flatten) with
    ``source_format="text"`` tails a raw envelope drop-dir. Routing
    (P3): with ``table_col`` set, ``table`` is each row's source table
    (the default normalizer reads that raw column); without it the log
    is one table's, and every row is labelled with the syncs' table.

    Per micro-batch, for each ``Sync`` in ``settings.syncs``:

    1. slice the frame: rows of ``sync.table`` with a consumed ``op``
       (the one place unconsumed kinds are dropped, P5). A payload
       column named ``sync.pk`` (an envelope field) becomes the key;
    2. ``full: false``: keep only rows past the recorded head;
    3. project the payload through the rule's ``fields`` map (P1);
    4. run the plugin chain — global, per-sync (U1, meili.py:95-106),
       then ``pre_batch`` (the CLI ``--plugin``);
    5. MERGE into ``{sink.index_path}/{sync.index_name}`` via
       :func:`_apply_to_sink`. ``sink_format="delta"`` needs delta-spark
       (fails fast otherwise). The parquet layout is
       ``resolve_num_buckets(Sync.buckets or num_buckets)``: fresh
       indexes bucketed (O(batch) writes), existing layouts kept, ``0``
       forcing flat.

    ``Sync.full`` (main.py:86-101): for ``full: true`` the first batch
    of a fresh checkpoint IS the backfill — the whole log into an absent
    index; a snapshot phase would read the log twice for the same final
    state (creates and deletes make the prior state irrelevant, and a
    pure-update key's snapshot row equals its last update). A
    ``full: false`` sync tails from the log head (the frame's max
    ``seq`` at first start), recorded once beside the checkpoint.

    ``progress`` (``make_progress(Settings.progress)``) is the ops
    mirror, published once per batch after every MERGE committed: the
    max ``seq`` per configured table over the batch's frame, consumed
    kinds or not, so ``check`` can compare it with the log head. Resume
    truth stays in checkpointLocation; the store is never read on restart.
    """
    if sink_format == "delta":
        from meilisync_spark.operators.table_format import _delta_table

        _delta_table()  # fail fast with install instructions, not mid-stream
    tables = list(dict.fromkeys(settings.tables))
    if not table_col and len(tables) > 1:
        raise ValueError(f"syncs for tables {tables} need table_col to route the log")
    if normalizer is None:
        keys = {sync.table: sync.pk for sync in settings.syncs}
        if len({(sync.table, sync.pk) for sync in settings.syncs}) > len(keys):
            raise ValueError("the default normalizer keys each table by one pk")
        table = F.col(table_col) if table_col else F.lit(tables[0])
        pk = None
        for t, key in keys.items():
            pk = (F if pk is None else pk).when(table == t, F.col(key))
        normalizer = lambda raw: classify_events(raw, table=table, pk_col=pk)  # noqa: E731

    def frame(raw: DataFrame) -> DataFrame:
        ev = normalizer(raw)
        return ev if table_col else ev.withColumn("table", F.lit(tables[0]))

    extra = [pre_batch] if pre_batch is not None else []
    chains = [
        (sync, [*map(load_plugin, [*settings.plugins, *sync.plugins]), *extra])
        for sync in settings.syncs
    ]

    head_seq: int | None = None
    if any(not sync.full for sync in settings.syncs):
        marker = os.path.join(checkpoint_dir, "head_marker.json")
        if os.path.isfile(marker):
            with open(marker) as fh:
                head_seq = json.load(fh)["head_seq"]
        elif not os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
            # fresh checkpoint: the current end of the log is the origin
            # for every full:false sync (one batch read, once)
            log = _load_events(spark, spark.read, events_path, source_format, source_schema)
            row = frame(log).agg(F.max("seq")).first()
            head_seq = row[0] if row[0] is not None else -1
            os.makedirs(checkpoint_dir, exist_ok=True)
            with open(marker, "w") as fh:
                json.dump({"head_seq": head_seq}, fh)
        # else: pre-marker checkpoint mid-stream — keep legacy replay
        # behavior rather than guessing an origin after the fact

    events = frame(read_event_stream(
        spark, events_path, max_files_per_trigger, source_format, source_schema
    ))

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        for sync, hooks in chains:
            ev = batch.where((F.col("table") == sync.table) & F.col("op").isNotNull())
            if sync.pk not in ENVELOPE_COLS and sync.pk in ev.columns:
                ev = ev.withColumn("pk", F.col(sync.pk)).drop(sync.pk)
            index_path = os.path.join(settings.sink.index_path, sync.index_name)
            if not sync.full and head_seq is not None:
                # full:false — tail only: history at/below the recorded
                # head never reaches this sync's index. Until the first
                # post-head event, don't materialize an index at all
                # (absent path == empty, like the reference's lazily
                # created sink index)
                ev = ev.where(F.col("seq") > head_seq)
                if not os.path.exists(index_path) and ev.isEmpty():
                    continue
            ev = apply_envelope_fields(ev, sync.fields)
            for hook in hooks:
                ev = hook(ev)
            nb = 0 if sink_format == "delta" else bucketed.resolve_num_buckets(
                index_path, sync.buckets if sync.buckets is not None else num_buckets
            )
            _apply_to_sink(spark, index_path, ev.drop("table"), sink_format, nb)
        if progress is None:
            return
        # publish AFTER every sync's merge committed (same
        # apply-then-record order as the reference, main.py:110-120 — a
        # crash between the two re-applies, never skips)
        rows = (batch.where(F.col("table").isin(tables))
                .groupBy("table").agg(F.max("seq")).collect())
        heads = {t: h for t, h in rows if h is not None}
        if heads:
            progress.set(**heads)

    writer = events.writeStream.foreachBatch(apply_batch).outputMode("update")
    return _start_and_await(
        writer, checkpoint_dir, available_now, processing_interval, timeout_sec
    )
