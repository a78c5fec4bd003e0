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
- per-event apply (meili.py:142-151) → ``foreachBatch`` calling the
  *batch* operators: normalize → compact (A5) → MERGE apply — the
  same functions the oracle checks, so streaming correctness reduces
  to batch correctness plus the harness.
- plugin pre/post hooks (U1/U2) → optional ``DataFrame -> DataFrame``
  transforms around the apply.

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
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meilisync_spark.operators.apply import apply_changes
from meilisync_spark.operators.refresh import refresh_data
from meilisync_spark.sources.events import normalize_events
from meilisync_spark.sources.parquet import _nanos_timestamp_cols

PAYLOAD_COLS = ["ts", "value", "k"]


def read_event_stream(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
    source_format: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """Streaming scan of an append-only CDC event directory (S4-S6's
    Spark form; in production this is Kafka/Debezium — the file source
    keeps the harness hermetic). File order = arrival order.

    ``source_format``: parquet (default), orc, json, csv, or text — a
    CDC drop directory is often newline-JSON in practice.
    Self-describing formats (parquet, orc) infer the schema from the
    existing files; json/csv need an explicit ``schema`` (the streaming
    source cannot infer; for json an ISO-8601 ``ts`` parses straight
    into the timestamp column). ``text`` yields one ``value string``
    row per line — the raw-envelope shape the connector normalizers
    (sources/cdc_connectors.py: Debezium/Maxwell/Canal/Mongo) consume,
    so an envelope drop-dir tails end-to-end without Kafka.

    A single-file path is staged into a one-symlink directory (the file
    source requires a directory basePath). The staging dir is
    DETERMINISTIC in the source path — ``mls_src_<sha1(abspath)>`` —
    because the checkpoint records committed files under that basePath:
    a random per-run dir would poison every restart with
    "Wrong basePath" the moment the query resumes from its checkpoint.
    Nanos parquet timestamps get the same floor-to-micros conversion
    the batch loader applies.
    """
    nanos = _nanos_timestamp_cols(events_path) if source_format == "parquet" else []
    if os.path.isfile(events_path):
        # keyed by uid so users on a shared host can't collide with (or
        # pre-plant symlinks in) each other's staging dirs; mode 0700
        # for the same reason
        tag = hashlib.sha1(os.path.abspath(events_path).encode()).hexdigest()[:16]
        staging = os.path.join(
            tempfile.gettempdir(), f"mls_src_{os.getuid()}_{tag}"
        )
        os.makedirs(staging, mode=0o700, exist_ok=True)
        link = os.path.join(staging, os.path.basename(events_path))
        try:
            # absolute target: a relative one would resolve against the
            # staging dir and dangle
            os.symlink(os.path.abspath(events_path), link)
        except FileExistsError:
            # concurrent starter won the race, or a prior run left the
            # link: both point at the same target by construction (the
            # dir name is a hash of the target path) — verify and reuse
            if os.path.realpath(link) != os.path.realpath(events_path):
                raise RuntimeError(
                    f"staging link {link} points at "
                    f"{os.path.realpath(link)}, not {events_path}"
                )
        src_dir = staging
    else:
        src_dir = events_path
    if schema is None:
        if source_format == "parquet":
            schema = spark.read.parquet(events_path).schema
        elif source_format == "orc":
            schema = spark.read.orc(events_path).schema
        elif source_format == "text":
            schema = T.StructType([T.StructField("value", T.StringType())])
        else:
            raise ValueError(f"{source_format} event stream needs an explicit schema")
    reader = spark.readStream.schema(schema).format(source_format)
    if source_format == "csv":
        reader = reader.option("header", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # file-source lists oldest-first so seq order follows file order
    reader = reader.option("latestFirst", "false")
    df = reader.load(src_dir)
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


def run_cdc_pipeline(
    spark: SparkSession,
    events_path: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    processing_interval: str | None = None,
    available_now: bool = True,
    pre_batch: Callable[[DataFrame], DataFrame] | None = None,
    post_batch: Callable[[DataFrame], None] | None = None,
    timeout_sec: float | None = 120.0,
    num_buckets: int | None = None,
    source_format: str = "parquet",
    source_schema=None,
    normalizer: Callable[[DataFrame], DataFrame] | None = None,
    payload_cols: list[str] | None = None,
    progress=None,
    sink_format: str = "parquet",
):
    """Run the CDC pipeline until caught up (``available_now``) or until
    ``timeout_sec``. Returns the StreamingQuery (stopped if awaited).
    An ``available_now`` run still behind at ``timeout_sec`` raises
    :class:`CatchUpTimeout` after stopping; the next run resumes from the
    checkpoint.

    ``num_buckets`` picks the index layout via
    :func:`~meilisync_spark.operators.bucketed.resolve_num_buckets`:
    a FRESH index defaults to the hive-bucketed layout
    (operators/bucketed.py — each micro-batch rewrites only the pk
    buckets it touches, O(batch) writes instead of O(index), the form
    that survives a 100-TB index), an existing bucketed index keeps its
    recorded count with no flag needed, a pre-existing flat index stays
    flat, and ``num_buckets=0`` forces the flat full-rewrite form (the
    oracle-checked baseline, still right for tiny single-file indexes).

    ``sink_format="delta"`` replaces the whole parquet layout story
    (bucketed or flat) with one transactional ``MERGE INTO`` per batch
    (operators/table_format.py — snapshot isolation, file-pruned
    merges; needs delta-spark on the session, loud RuntimeError
    otherwise). Bucketing knobs are ignored there: the table format
    does its own file pruning.

    ``normalizer`` maps the raw stream onto the engine's normalized
    event contract ``(seq, op, pk, <payload cols>)`` — defaults to
    :func:`normalize_events` for the fixture's event-table shape; pass
    a connector normalizer (e.g. ``normalize_maxwell`` + a payload
    flatten) with ``source_format="text"`` to tail a raw envelope
    drop-dir end-to-end. ``payload_cols`` names the normalized payload
    columns the index carries (default: the fixture's
    ``PAYLOAD_COLS``).
    """
    from meilisync_spark.operators.bucketed import resolve_num_buckets

    if sink_format == "delta":
        from meilisync_spark.operators.table_format import _delta_table

        _delta_table()  # fail fast with install instructions, not mid-stream
    num_buckets = resolve_num_buckets(index_path, num_buckets)
    events = read_event_stream(
        spark, events_path, max_files_per_trigger, source_format, source_schema
    )
    normalized = (normalizer or normalize_events)(events)
    payload_cols = PAYLOAD_COLS if payload_cols is None else payload_cols

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if pre_batch is not None:  # U1 plugin chain, vectorized
            batch_df = pre_batch(batch_df)
        if sink_format == "delta":
            from meilisync_spark.operators.table_format import apply_changes_delta

            apply_changes_delta(
                spark, index_path, batch_df, pk="pk", payload_cols=payload_cols
            )
        elif num_buckets:
            from meilisync_spark.operators.bucketed import apply_changes_bucketed

            apply_changes_bucketed(
                spark, index_path, batch_df,
                pk="pk", payload_cols=payload_cols, num_buckets=num_buckets,
            )
        else:
            if os.path.exists(index_path):
                base = spark.read.parquet(index_path)
            else:
                base = spark.createDataFrame(
                    [], normalized.select("pk", *payload_cols).schema
                )
            new_state = apply_changes(base, batch_df, pk="pk", payload_cols=payload_cols)
            # shadow-write + atomic swap so concurrent readers never see a
            # half-written index (S13 semantics per micro-batch)
            refresh_data(new_state.select("pk", *payload_cols), index_path)
        if progress is not None:
            # ops mirror (meilisync_spark/progress.py): publish the max
            # applied seq per table AFTER the merge committed — same
            # apply-then-record order as the reference (main.py:110-120)
            heads = {
                r[0]: r[1]
                for r in batch_df.groupBy("table").agg(F.max("seq")).collect()
                if r[1] is not None
            }
            if heads:
                progress.set(**heads)
        if post_batch is not None:  # U2 post-write hook
            post_batch(batch_df)

    writer = normalized.writeStream.foreachBatch(apply_batch).outputMode("update")
    return _start_and_await(
        writer, checkpoint_dir, available_now, processing_interval, timeout_sec
    )


def run_settings_pipeline(
    spark: SparkSession,
    events_path: str,
    settings,
    checkpoint_dir: str,
    *,
    table_col: str | None = None,
    max_files_per_trigger: int | None = None,
    processing_interval: str | None = None,
    available_now: bool = True,
    timeout_sec: float | None = 120.0,
    num_buckets: int | None = None,
    extra_pre: Callable[[DataFrame], DataFrame] | None = None,
    progress=None,
):
    """The reference's full `start` loop: every event routed through its
    sync rule (meilisync/main.py:107-109) — multi-table, per-sync fields
    map, per-sync pk, ordered plugin chains, one index per sync.

    Per micro-batch, for each ``Sync`` in ``settings.syncs``:

    1. route: keep raw rows whose ``table_col`` equals ``sync.table``
       (P3; a ``table_col`` of None means a single-table stream and the
       rule applies to all rows);
    2. normalize with the rule's table name + configured pk
       (``Sync.pk``, reference settings.py:41);
    3. project the payload through the rule's ``fields`` map (P1,
       schemas.py:25-30);
    4. run the ordered plugin chain — global then per-sync
       (U1, meili.py:95-106 / settings.py:28-36), plus ``extra_pre``
       (the CLI ``--plugin`` flag) last;
    5. MERGE into ``{sink.index_path}/{sync.index_name}`` (routing
       target defaulting to the table name, settings.py:58-60) —
       layout per ``resolve_num_buckets(Sync.buckets or num_buckets)``:
       fresh indexes bucketed by default, existing layouts kept, ``0``
       forcing flat.

    Routing first means each sync's work is a pruned slice of the batch
    (the table filter pushes into the batch scan); the per-sync MERGEs
    are independent jobs Spark schedules back-to-back inside the batch.

    ``Sync.full`` semantics (reference main.py:86-101: backfill only
    when ``full`` is true and the index is missing; ``full: false``
    starts tailing from the *current head* — history is never
    replayed): the reference's full-snapshot-then-tail split collapses
    here — for ``full: true`` the first ``availableNow`` batch over the
    whole event log IS the backfill (an absent index bootstraps from
    the batch; a separate snapshot phase would double-read the log for
    the same final state). For ``full: false`` syncs the pipeline
    records the log's head position (max ``event_id``) once at first
    start — persisted beside the checkpoint so restarts keep the same
    origin — and every batch drops that sync's events at-or-below it.
    In production the head marker comes from the log's own position API
    (binlog coordinates / LSN / resume token) instead of a max() scan.

    ``progress`` (a :class:`meilisync_spark.progress.ProgressStore`,
    built from ``Settings.progress`` via ``make_progress``) is the ops
    mirror: after each batch's MERGEs commit, the latest applied
    ``event_id`` per table is published (one tiny column-pruned
    aggregate over the batch, |tables| rows collected). Resume truth
    stays in checkpointLocation; the store is never read on restart.
    """
    import json

    from meilisync_spark.config import load_plugin
    from meilisync_spark.operators.project import apply_envelope_fields

    chains: dict[str, list[Callable[[DataFrame], DataFrame]]] = {}
    for sync in settings.syncs:
        hooks = [load_plugin(p) for p in [*settings.plugins, *sync.plugins]]
        if extra_pre is not None:
            hooks.append(extra_pre)
        chains[sync.table] = hooks

    head_seq: int | None = None
    if any(not sync.full for sync in settings.syncs):
        marker = os.path.join(checkpoint_dir, "head_marker.json")
        if os.path.isfile(marker):
            with open(marker) as fh:
                head_seq = json.load(fh)["head_seq"]
        elif not os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
            # fresh checkpoint: the current end of the log is the origin
            # for every full:false sync (one column-pruned scan, once)
            row = spark.read.parquet(events_path).agg(F.max("event_id")).first()
            head_seq = row[0] if row[0] is not None else -1
            os.makedirs(checkpoint_dir, exist_ok=True)
            with open(marker, "w") as fh:
                json.dump({"head_seq": head_seq}, fh)
        # else: pre-marker checkpoint mid-stream — keep legacy replay
        # behavior rather than guessing an origin after the fact

    events = read_event_stream(
        spark, events_path, max_files_per_trigger or settings.sink.insert_size
    )

    def apply_batch(raw: DataFrame, batch_id: int) -> None:
        for sync in settings.syncs:
            sub = raw.where(F.col(table_col) == sync.table) if table_col else raw
            ev = normalize_events(sub, table=sync.table, pk_col=sync.pk)
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
            for hook in chains[sync.table]:
                ev = hook(ev)
            payload = [c for c in ev.columns if c not in ("seq", "table", "op", "pk")]
            # payload_cols=None → union-schema MERGE (operators/apply.py):
            # a fields-map edit across restarts (the config-level ALTER
            # TABLE) widens the index with typed NULLs or keeps base-only
            # columns, instead of silently dropping them
            from meilisync_spark.operators.bucketed import resolve_num_buckets

            nb = resolve_num_buckets(
                index_path, sync.buckets if sync.buckets is not None else num_buckets
            )
            if nb:
                from meilisync_spark.operators.bucketed import apply_changes_bucketed

                apply_changes_bucketed(
                    spark, index_path, ev.drop("table"),
                    pk="pk", payload_cols=None, num_buckets=nb,
                )
            else:
                if os.path.exists(index_path):
                    base = spark.read.parquet(index_path)
                else:
                    base = spark.createDataFrame([], ev.select("pk", *payload).schema)
                new_state = apply_changes(
                    base, ev.drop("table"), pk="pk", payload_cols=None
                )
                refresh_data(new_state, index_path)
        if progress is not None:
            # publish AFTER every sync's merge committed (same
            # apply-then-record order as the reference, main.py:110-120
            # — a crash between the two re-applies, never skips)
            if table_col:
                head_rows = (
                    raw.where(F.col(table_col).isin(list(chains)))
                    .groupBy(table_col)
                    .agg(F.max("event_id").alias("h"))
                    .collect()
                )
                heads = {r[0]: r["h"] for r in head_rows if r["h"] is not None}
            else:
                h = raw.agg(F.max("event_id")).first()[0]
                heads = (
                    {s.table: h for s in settings.syncs} if h is not None else {}
                )
            if heads:
                progress.set(**heads)

    writer = events.writeStream.foreachBatch(apply_batch).outputMode("update")
    return _start_and_await(
        writer, checkpoint_dir, available_now, processing_interval, timeout_sec
    )
