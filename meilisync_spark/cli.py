"""CLI — the reference's Typer surface (meilisync/main.py:15-208)
re-expressed over the Spark engine.

Commands mirror the reference 1:1 so a meilisync user keeps their
muscle memory:

- ``start``    — backfill-if-missing then tail the event stream
                 (main.py:71-140): one call to the Structured Streaming
                 driver; a fresh checkpoint's first batch is the
                 backfill. Without a sync config it runs one
                 ``full: true`` sync into ``--index``; with one, each
                 sync takes its table's slice of the log (an envelope
                 names its table, a fixture log needs ``--table-col``).
- ``refresh``  — full rebuild behind a shadow path + atomic swap
                 (main.py:143-176 / meili.py:34-71).
- ``check``    — per-sync count consistency audit (main.py:179-208).
- ``version``  — main.py:66-68.

Config: ``--config config.yml`` with the reference's shape (sync rules,
sink knobs) via :mod:`meilisync_spark.config`; flags override.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from meilisync_spark import __version__
from meilisync_spark.config import Settings, load_plugin
from meilisync_spark.operators.check import count_check, read_index
from meilisync_spark.operators.refresh import refresh_data
from meilisync_spark.session import get_spark
from meilisync_spark.sources import cdc_connectors as _cc
from meilisync_spark.sources.parquet import load_path
from meilisync_spark.streaming.pipeline import CatchUpTimeout, run_cdc_pipeline

from pyspark.sql import functions as F
from pyspark.sql import types as T
from meilisync_spark.pin import SER as _SER

# --envelope NAME → its connector normalizer; wal2json reads format
# version 1 or 2 from each message
ENVELOPES = {
    "maxwell": _cc.normalize_maxwell,
    "canal": _cc.normalize_canal,
    "debezium": _cc.normalize_debezium,
    "mongo": _cc.normalize_mongo_change_stream,
    "wal2json": _cc.normalize_wal2json,
}


def envelope_normalizer(envelope: str, payload_schema: str, pk: str):
    """``start --envelope``'s normalizer: the connector's frame with its
    payload flattened to columns (the pk field is the frame's ``pk``)."""
    pschema = T.StructType.fromDDL(payload_schema)
    payload_cols = [f"payload.{f.name}" for f in pschema.fields if f.name != pk]
    norm_fn = ENVELOPES[envelope]
    kw = {} if envelope == "mongo" else {"pk": pk}
    return lambda df: norm_fn(df, pschema, **kw).select(
        "seq", "table", "op", "pk", *payload_cols)


def _settings(args: argparse.Namespace) -> Settings:
    if getattr(args, "config", None):
        return Settings.from_yaml(args.config)
    return Settings.from_dict({})


def _init_ops(spark, settings) -> None:
    """Ops surface from config (≡ meilisync/main.py:34-47): debug
    logging, optional sentry, progress-mirror validation."""
    if settings.debug:
        # the reference logs the parsed settings at debug level
        # (main.py:34-35); the Spark-side analogue also opens up the
        # engine's own INFO stream
        spark.sparkContext.setLogLevel("INFO")
        print(f"debug: settings={settings}", file=sys.stderr)
    if settings.sentry is not None:
        try:
            import sentry_sdk  # type: ignore

            sentry_sdk.init(
                dsn=settings.sentry.dsn,
                environment=settings.sentry.environment,
            )
        except ImportError:
            # config asks for sentry but the sdk isn't installed: warn
            # loudly, keep syncing — error reporting must never take
            # down the pipeline it reports on
            print(
                "warning: sentry configured but sentry_sdk is not "
                "installed; continuing without error reporting",
                file=sys.stderr,
            )


def cmd_start(args: argparse.Namespace) -> int:
    try:
        return _start(args)
    except CatchUpTimeout as exc:
        # --timeout cut a catch-up run short: not "sync complete"
        print(f"error: {exc}", file=sys.stderr)
        return 1


def _start(args: argparse.Namespace) -> int:
    spark = get_spark("meilisync-spark-start")
    settings = _settings(args)
    _init_ops(spark, settings)
    sink_format, envelope = args.sink_format, args.envelope
    # flags override config
    interval = args.interval or (
        f"{settings.sink.insert_interval} seconds"
        if settings.sink.insert_interval else None
    )
    max_files = args.max_files or settings.sink.insert_size
    normalizer = None
    if envelope:
        # raw-envelope drop-dir mode: the connector normalizer replaces
        # classify_events, payload columns from the user's DDL schema
        if not args.payload_schema:
            print("--envelope needs --payload-schema (DDL, e.g. 'id long, v double')")
            return 2
        normalizer = envelope_normalizer(envelope, args.payload_schema, args.envelope_pk)

    if sink_format == "delta" and args.buckets:
        # fail loud: Delta manages its own file layout (MERGE rewrites
        # touched files under snapshot isolation) — silently dropping
        # the flag would let a user believe the table is pk-bucketed
        print("error: --buckets does not apply to --sink-format delta "
              "(Delta MERGE manages its own file layout)", file=sys.stderr)
        return 2
    from meilisync_spark.operators.bucketed import resolve_num_buckets
    from meilisync_spark.progress import make_progress

    progress = make_progress(settings.progress)
    # a syncs config routes by source table: an envelope carries its
    # own, a fixture log names its raw column with --table-col
    table_col = args.table_col or ("table" if envelope else None)
    if not settings.syncs:
        table_col = None
        settings = Settings.for_index(
            args.index or settings.sink.index_path,
            pk=args.envelope_pk if envelope else "user_id",
        )

    indexes = [os.path.join(settings.sink.index_path, s.index_name) for s in settings.syncs]
    for sync, index in zip(settings.syncs, indexes):
        nb = resolve_num_buckets(
            index, sync.buckets if sync.buckets is not None else args.buckets
        )
        if sink_format == "parquet" and nb and not os.path.exists(index):
            print(f"bootstrap: bucketed index ({nb} buckets) at {index}")
    # a fresh checkpoint's first batch is the backfill (T5); later
    # batches tail the log (T2-T4 trigger knobs)
    run_cdc_pipeline(
        spark,
        args.events,
        settings,
        args.checkpoint,
        table_col=table_col,
        available_now=not interval,
        processing_interval=interval,
        max_files_per_trigger=max_files,
        num_buckets=args.buckets,
        source_format=args.source_format,
        normalizer=normalizer,
        pre_batch=load_plugin(args.plugin) if args.plugin else None,
        timeout_sec=args.timeout,
        progress=progress,
        sink_format=sink_format,
    )
    print(f"sync complete: indexes at {', '.join(indexes)}")
    return 0


def cmd_refresh(args: argparse.Namespace) -> int:
    spark = get_spark("meilisync-spark-refresh")
    df = spark.read.parquet(args.source)
    n = refresh_data(df, args.index)
    print(f"refreshed {args.index}: {n} documents")
    return 0


def cmd_check(args: argparse.Namespace) -> int:
    spark = get_spark("meilisync-spark-check")
    settings = _settings(args)
    pairs = {}
    if settings.syncs:
        # config mode ≡ the reference's per-sync audit loop
        # (meilisync/main.py:179-208): every sync rule checked in one run
        src_root = args.sources or args.source
        if not src_root:
            print("check --config needs --sources (directory of per-table parquet)")
            return 2
        for sync in settings.syncs:
            src = spark.read.parquet(os.path.join(src_root, f"{sync.table}.parquet"))
            idx = read_index(
                spark, os.path.join(settings.sink.index_path, sync.index_name)
            )
            pairs[sync.table] = (src, idx)
    else:
        if not args.source or not args.index:
            print("check needs --source and --index (or --config + --sources)")
            return 2
        src = spark.read.parquet(args.source)
        idx = read_index(spark, args.index)
        pairs[args.table] = (src, idx)
    rows = count_check(pairs).collect()
    ok = all(r.consistent for r in rows)
    for r in rows:
        status = "consistent" if r.consistent else "INCONSISTENT"
        print(f"{r.table}: source={r.source_count} index={r.index_count} {status}")
    # position lag (the ops-mirror consumer): when the settings define a
    # progress store and an event log is given, report how far each
    # sync's APPLIED position trails the log head — the "is the sync
    # keeping up" number the reference's progress store exists to answer
    # (meilisync/progress/*; positions published per committed batch by
    # the streaming pipelines)
    if settings.progress is not None and getattr(args, "events", None):
        from meilisync_spark.progress import make_progress

        positions = make_progress(settings.progress).get()
        ev = load_path(spark, args.events)
        # The pipelines publish max(seq) per sync. For fixture event
        # streams seq == event_id, so the log's max(event_id) is the
        # head in the SAME domain. Envelope streams publish binlog/LSN
        # coordinates the raw log can't reproduce without the
        # normalizer (and a text drop-dir has no event_id column at
        # all) — decline cleanly instead of reporting a meaningless
        # number or raising mid-report.
        if "event_id" not in ev.columns:
            print(
                "position lag: the event log has no event_id column — "
                "lag is only computable for fixture event streams "
                "(seq == event_id); envelope streams publish "
                "binlog/LSN positions, compare those with the source "
                "database's own tooling",
                file=sys.stderr,
            )
            return 0 if ok else 1
        tc = getattr(args, "table_col", None)
        if tc and tc not in ev.columns:
            print(
                f"position lag: --table-col {tc!r} is not in the event "
                f"log schema {ev.columns}",
                file=sys.stderr,
            )
            return 2
        if tc is None and "table" in ev.columns:
            # the fixture and every envelope normalizer emit `table` —
            # default to it so multi-sync lag needs no extra flag
            tc = "table"
        if tc:
            heads = {
                r[0]: r[1] for r in ev.groupBy(tc).agg(F.max("event_id")).collect()
            }
        elif len(pairs) > 1:
            # a multi-sync log without --table-col has no per-table
            # head; the global max would report spurious lag for every
            # low-traffic-but-caught-up sync — say so instead
            print(
                "position lag: multiple syncs but no --table-col — "
                "cannot attribute the log head per table; pass "
                "--table-col for per-sync lag",
                file=sys.stderr,
            )
            heads = {}
        else:
            head = ev.agg(F.max("event_id")).first()[0]
            heads = {t: head for t in pairs}
        for t in pairs:
            applied, head = positions.get(t), heads.get(t)
            if applied is None:
                print(f"{t}: position unknown (no progress published)")
            elif head is None and tc:
                # progress WAS published — it's the head that can't be
                # attributed (e.g. the log carries schema-qualified
                # names); don't conflate the two failure modes
                print(
                    f"{t}: head unknown — no {t!r} value in the log's "
                    f"{tc!r} column (log tables: {sorted(heads)})"
                )
            elif head is None:
                print(f"{t}: head unknown (see note above)")
            else:
                # redis hashes are stringly typed; normalize both sides
                print(f"{t}: applied={int(applied)} head={int(head)} "
                      f"lag={int(head) - int(applied)}")
    return 0 if ok else 1


def cmd_ingest(args: argparse.Namespace) -> int:
    """Engine-specific extension (no reference analogue): continuous
    corpus intake — streaming/corpus_ingest.py behind a command."""
    from meilisync_spark.streaming.corpus_ingest import run_corpus_ingest

    spark = get_spark("meilisync-spark-ingest")
    run_corpus_ingest(
        spark,
        args.source,
        args.index,
        args.checkpoint,
        apply_quality=args.quality,
        near_dedup=args.near_dedup,
        bloom_prefilter=not args.no_bloom,
        available_now=not args.follow,
        processing_interval=args.interval,
        # --follow means tail until killed; the default 180 s timeout is
        # for finite availableNow replays only
        timeout_sec=None if args.follow else 180.0,
    )
    n = spark.read.parquet(args.index).count()
    print(f"corpus {args.index}: {n} documents")
    return 0


def cmd_pipeline(args: argparse.Namespace) -> int:
    """One command, raw docs → servable vector index (the composed
    curation pipeline a training-data deployment runs on a schedule):

    1. streaming corpus ingest — exact + (default) near dedup into the
       ``hb=``-bucketed corpus index, checkpointed (re-runs resume);
    2. feature-hash embeddings (operators/similarity.text_embeddings)
       of corpus docs not yet indexed — an id-only anti-join against
       the ANN index decides "new", so re-runs are idempotent without
       any extra bookkeeping (the vec_id scan is column-pruned; no
       embedding bytes move for already-indexed docs);
    3. first run trains + persists the IVF+PQ index and seeds the raw-
       vector sidecar; later runs append via add_to_index (cell-pruned
       replay dedup) and, with ``--retrain-growth``, rebuild the
       quantizers behind the atomic swap when drift passes the
       threshold.

    Engine-specific extension (no reference analogue): composes
    `ingest`, `ann-build` and `ann-add` so the common path is one
    checkpointed invocation."""
    from meilisync_spark.operators.ivfpq import (
        ANN_META_FILE,
        add_to_index,
        collapse_add_batch,
        read_index_vectors,
        rebuild_index,
        retrain_due,
        save_index,
        seed_index_vectors,
        vectors_sidecar_path,
    )
    from meilisync_spark.operators.similarity import text_embeddings
    from meilisync_spark.streaming.corpus_ingest import run_corpus_ingest

    spark = get_spark("meilisync-spark-pipeline")
    run_corpus_ingest(
        spark,
        args.source,
        args.corpus,
        os.path.join(args.checkpoint, "ingest"),
        apply_quality=args.quality,
        near_dedup=not args.no_near_dedup,
        bloom_prefilter=not args.no_bloom,
        available_now=True,
    )
    docs = spark.read.parquet(args.corpus).select("doc_id", "text")
    emb = text_embeddings(docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    retrained = 0
    if not os.path.exists(os.path.join(args.index, ANN_META_FILE)):
        emb = emb.localCheckpoint(True, storageLevel=_SER)  # feeds train AND the sidecar seed
        save_index(emb, args.index)
        seed_index_vectors(emb, args.index)
        n_new = spark.read.parquet(args.index).count()
    else:
        # The pre-existing index must have a seeded raw-vector sidecar
        # before we append to it: against an `ann-build` index (which
        # seeds nothing), appending only this run's embeddings would
        # build an INCOMPLETE sidecar, and a later --retrain-growth
        # rebuild would retrain on it and atomically swap in an index
        # that silently dropped every originally-indexed vector. PQ is
        # lossy, so re-deriving the originals from the index is
        # impossible — failing loudly with the seed hint is the only
        # safe behavior (same guard as streaming/ann_ingest.py:84).
        if not os.path.exists(vectors_sidecar_path(args.index)):
            raise FileNotFoundError(
                f"{vectors_sidecar_path(args.index)} missing: the index at "
                f"{args.index} pre-exists but its raw-vector sidecar was "
                "never seeded (ann-build does not seed one). Seed it with "
                "the training corpus via seed_index_vectors before running "
                "the pipeline against this index — appending without the "
                "seed would make any later retrain silently drop the "
                "originally-indexed vectors (PQ codes are lossy)"
            )
        known = spark.read.parquet(args.index).select(
            F.col("vec_id").alias("seen_id")
        )
        # conflict-check before the sidecar append (poison batch must
        # not pollute the sidecar; see collapse_add_batch). Pin the
        # anti-join FIRST: the conflict gate's eager collect would
        # otherwise run the whole text_embeddings pipeline once and the
        # pin a second time — the two mapInPandas embedding passes are
        # the expensive part, so the gate was doubling the embed cost
        # (ADVICE r8). Ordering is unchanged: collapse still raises
        # before anything is appended.
        candidates = emb.join(
            known, F.col("vec_id") == F.col("seen_id"), "left_anti"
        ).localCheckpoint(True, storageLevel=_SER)
        new = collapse_add_batch(candidates).localCheckpoint(
            True, storageLevel=_SER
        )  # pin: sidecar append + encode reuse it
        n_new = new.count()
        if n_new:
            # sidecar first (crash window re-appends; read collapses),
            # same ordering contract as streaming/ann_ingest.py
            new.write.mode("append").parquet(vectors_sidecar_path(args.index))
            add_to_index(spark, args.index, new)
        if args.retrain_growth is not None and retrain_due(
            spark, args.index, max_growth=args.retrain_growth
        ):
            rebuild_index(read_index_vectors(spark, args.index), args.index)
            retrained = 1
    n_corpus = spark.read.parquet(args.corpus).count()
    n_served = spark.read.parquet(args.index).count()
    print(
        f"pipeline: corpus {args.corpus}: {n_corpus} documents; "
        f"ann {args.index}: {n_served} vectors ({n_new} new, "
        f"retrained {retrained})"
    )
    return 0


def cmd_rebucket(args: argparse.Namespace) -> int:
    """Offline capacity operation for the bucketed index layout (one
    full shuffle + atomic directory swap; see operators/bucketed.py)."""
    from meilisync_spark.operators.bucketed import _sweep_stale, read_meta, rebucket_index

    _sweep_stale(args.index)  # an earlier crashed rebucket may have parked it
    if not os.path.isdir(args.index):
        # a typo'd path must not look like a successful maintenance run
        print(f"error: no index at {args.index}", file=sys.stderr)
        return 1
    spark = get_spark("meilisync-spark-rebucket")
    meta = read_meta(args.index)
    pk = args.pk or (meta or {}).get("pk") or "pk"
    rebucket_index(spark, args.index, pk=pk, new_num_buckets=args.buckets)
    print(f"rebucketed {args.index}: num_buckets={args.buckets} pk={pk}")
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Offline small-file compaction (see operators/refresh.compact_table)."""
    from meilisync_spark.operators.refresh import compact_table

    spark = get_spark("meilisync-spark-compact")
    n = compact_table(spark, args.index, target_file_bytes=args.target_bytes)
    print(f"compacted {args.index}: {n} files")
    return 0


def cmd_maintain(args: argparse.Namespace) -> int:
    """Size-tiered per-directory compaction + crash-window heal
    (operators/maintenance.py) — the manual form of the cadence the
    streaming owners run every ``compact_every`` batches. Unlike
    ``compact`` this is O(small files merged), never O(table), so it
    is safe to run often; it must NOT run concurrently with the
    index's streaming owner (single-writer contract)."""
    import json as _json

    from meilisync_spark.operators.maintenance import (
        compact_small_files,
        heal_partition_dirs,
    )

    spark = get_spark("meilisync-spark-maintain")
    healed = heal_partition_dirs(args.index)
    stats = compact_small_files(spark, args.index, max_dirs=args.max_dirs)
    stats["healed"] = healed
    print(_json.dumps(stats))
    return 0


def cmd_doctor(args: argparse.Namespace) -> int:
    """Parquet layout doctor (operators/layout.py): audit every file's
    row-group layout for scan-serialization pathology; with --rewrite,
    execute the verdict (atomic in-place bounded-row-group rewrite),
    re-audit, and verify the pin path went dead. Exit codes: 0 = clean
    (or rewritten clean), 2 = flagged files remain (audit-only run),
    1 = a rewrite failed to clear the audit."""
    from meilisync_spark.operators.layout import layout_report, layout_rewrite
    from meilisync_spark.sources import parquet as P

    spark = get_spark("meilisync-spark-doctor")
    rep = layout_report(spark, args.path, table=args.table).collect()
    flagged = [r for r in rep if r.needs_rewrite]
    for r in rep:
        mark = "REWRITE" if r.needs_rewrite else "ok"
        print(
            f"{mark:8s} {r.file}: {r.file_bytes} B, {r.row_groups} row "
            f"groups, max group {r.max_rg_bytes} B"
        )
    if not flagged:
        print("layout clean")
        return 0
    if not args.rewrite:
        print(f"{len(flagged)} file(s) need rewrite (re-run with --rewrite)")
        return 2
    done = layout_rewrite(spark, args.path, table=args.table).collect()
    for r in done:
        print(f"rewrote {r.file}: {r.rows} rows @ {r.row_group_rows} rows/group")
    # re-audit must come back clean, and a fresh scan of the rewritten
    # data must not take spread()'s unsplittable-file pin path
    still = [
        r.file
        for r in layout_report(spark, args.path, table=args.table).collect()
        if r.needs_rewrite
    ]
    if still:
        print(f"REWRITE FAILED to clear: {still}")
        return 1
    from meilisync_spark.operators.layout import _list_files

    rewritten = {r.file for r in done}
    pins_before = len(P._SPREAD_PIN_CACHE)
    for f in _list_files(args.path, args.table):
        if os.path.basename(f) in rewritten:
            P.spread(spark.read.parquet(f))
    if len(P._SPREAD_PIN_CACHE) != pins_before:
        print("REWRITE left a file spread() still pins")
        return 1
    print(f"rewrote {len(done)} file(s); audit clean; spread pin path dead")
    return 0


def cmd_ann_build(args: argparse.Namespace) -> int:
    """Engine-specific extension: train and persist the servable
    IVF+PQ index (operators/ivfpq.save_index) — cluster-partitioned
    code lists + query-side quantizer metadata in one directory."""
    from meilisync_spark.operators.ivfpq import save_index

    spark = get_spark("meilisync-spark-ann-build")
    emb = spark.read.parquet(args.embeddings).select("vec_id", "embedding")
    # count off the (column-pruned) source, not a full read-back of the
    # codes that were just written
    n = emb.count()
    save_index(emb, args.index)
    print(f"ann index {args.index}: {n} vectors")
    return 0


def cmd_ann_query(args: argparse.Namespace) -> int:
    """Serve a query batch against an `ann-build` index: route each
    query to its --nprobe nearest cells (stored centroids), partition-
    pruned ADC probe, optional exact re-rank against --corpus. Prints
    one JSON line per (query, neighbor)."""
    from meilisync_spark.operators.ivfpq import query_index

    spark = get_spark("meilisync-spark-ann-query")
    if args.vectors_file:
        # foreign query vectors: JSON [{"q_id": .., "vector": [..]}, ..]
        # — ids are the caller's labels, so the corpus row sharing a
        # number must stay eligible as a neighbor
        try:
            with open(args.vectors_file) as fh:
                batch = json.load(fh)
            qs = [(int(q["q_id"]), [float(x) for x in q["vector"]])
                  for q in batch]
        except (OSError, ValueError, KeyError, TypeError) as e:
            print(f"error: bad --vectors-file: {e}", file=sys.stderr)
            return 1
        corpus_ids = False
    else:
        # --corpus is the query source here (and the refine side below)
        corpus = spark.read.parquet(args.corpus).select("vec_id", "embedding")
        ids = [int(x) for x in args.query_ids.split(",")]
        qs = [
            (r.vec_id, list(r.embedding))
            for r in corpus.where(F.col("vec_id").isin(ids)).collect()
        ]
        missing = set(ids) - {q for q, _ in qs}
        if missing:
            print(f"error: query ids not in corpus: {sorted(missing)}",
                  file=sys.stderr)
            return 1
        corpus_ids = True
    refine = (
        spark.read.parquet(args.corpus).select("vec_id", "embedding")
        if args.refine else None
    )
    try:
        out = query_index(
            spark, args.index, qs, k=args.k, nprobe=args.nprobe,
            refine=refine, queries_are_corpus_ids=corpus_ids,
        )
    except ValueError as e:  # empty batch, duplicate ids, dim mismatch
        print(f"error: {e}", file=sys.stderr)
        return 1
    for r in out.orderBy("q_id", "rank").collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_ann_add(args: argparse.Namespace) -> int:
    """Fold new vectors into an existing `ann-build` index without
    retraining (operators/ivfpq.add_to_index): nearest-stored-centroid
    routing + stored-codebook encoding + cluster-partition append.
    Batch one-shot by default; --follow tails a drop dir as a stream."""
    from meilisync_spark.operators.ivfpq import ANN_META_FILE, add_to_index

    spark = get_spark("meilisync-spark-ann-add")
    if not os.path.exists(os.path.join(args.index, ANN_META_FILE)):
        print(f"error: {args.index} is not a servable ANN index "
              f"(no {ANN_META_FILE}); build it with ann-build first",
              file=sys.stderr)
        return 2
    if args.follow:
        if not args.checkpoint:
            print("error: --follow needs --checkpoint", file=sys.stderr)
            return 2
        from meilisync_spark.streaming.ann_ingest import run_ann_ingest

        run_ann_ingest(
            spark, args.vectors, args.index, args.checkpoint,
            available_now=False, processing_interval=args.interval,
            timeout_sec=None,
        )
        return 0
    emb = spark.read.parquet(args.vectors).select("vec_id", "embedding")
    try:
        n = add_to_index(spark, args.index, emb)
    except ValueError as e:  # dim mismatch
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(f"ann index {args.index}: added {n} vectors")
    return 0


def cmd_ann_stats(args: argparse.Namespace) -> int:
    """Report per-cell growth of an `ann-build` index since its
    quantizers were trained, plus the retrain-due verdict (derived from
    the same collected rows — one index scan, not two)."""
    from meilisync_spark.operators.ivfpq import index_stats

    spark = get_spark("meilisync-spark-ann-stats")
    rows = index_stats(spark, args.index).orderBy("cluster").collect()
    for r in rows:
        print(json.dumps(r.asDict()))
    added = sum(r.added for r in rows)
    trained = sum(r.trained_rows for r in rows)
    due = trained == 0 or added / trained > args.max_growth
    print(json.dumps({"retrain_due": bool(due), "max_growth": args.max_growth}))
    return 0


def cmd_version(_: argparse.Namespace) -> int:
    print(json.dumps({"meilisync_spark": __version__}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="meilisync-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    st = sub.add_parser("start", help="backfill then tail the event stream")
    st.add_argument("--events", required=True, help="event-log parquet path/dir")
    st.add_argument("--index", help="index table path")
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--config", help="YAML config (reference shape)")
    st.add_argument("--interval", help="processingTime trigger, e.g. '10 seconds'")
    st.add_argument("--max-files", type=int, help="files per micro-batch")
    st.add_argument("--plugin", help="dotted path to a DataFrame->DataFrame pre hook")
    st.add_argument("--table-col", help="raw column carrying the source table name "
                                        "(multi-sync routing of a fixture log; "
                                        "envelopes carry their own table)")
    st.add_argument("--buckets", type=int,
                    help="pk-bucket count for the index (each batch rewrites only "
                         "touched buckets). Default: fresh indexes are bucketed at "
                         "64, existing layouts keep their recorded form; 0 forces "
                         "the flat full-rewrite layout")
    st.add_argument("--source-format", dest="source_format", default="parquet",
                    choices=["parquet", "orc", "text"],
                    help="event-log format; 'text' = raw envelope lines")
    st.add_argument("--sink-format", dest="sink_format", default="parquet",
                    choices=["parquet", "delta"],
                    help="index layout: parquet (bucketed/flat per --buckets) "
                         "or delta (transactional MERGE INTO per batch; needs "
                         "delta-spark on the session)")
    st.add_argument("--envelope", choices=list(ENVELOPES),
                    help="normalize raw CDC envelopes instead of fixture events "
                         "(use with --source-format text; wal2json reads "
                         "format v1 or v2 from each message); with "
                         "--config each sync takes its table's changes")
    st.add_argument("--payload-schema", dest="payload_schema",
                    help="DDL row schema for --envelope, e.g. 'id long, v double'")
    st.add_argument("--envelope-pk", dest="envelope_pk", default="id",
                    help="pk field inside the envelope payload (a sync whose "
                         "pk names another payload field is keyed by it)")
    st.add_argument(
        "--timeout", type=float, default=120.0,
        help="seconds before start stops the stream; a catch-up run cut "
        "short exits non-zero and the next start resumes from the checkpoint",
    )
    st.set_defaults(fn=cmd_start)

    rf = sub.add_parser("refresh", help="rebuild the index behind a shadow swap")
    rf.add_argument("--source", required=True)
    rf.add_argument("--index", required=True)
    rf.set_defaults(fn=cmd_refresh)

    ck = sub.add_parser("check", help="source vs index count audit")
    ck.add_argument("--source", help="source parquet (single-pair mode)")
    ck.add_argument("--index", help="index parquet (single-pair mode)")
    ck.add_argument("--table", default="default")
    ck.add_argument("--config", help="YAML config: audit every sync rule")
    ck.add_argument("--sources", help="directory of per-table source parquet "
                                      "(config mode)")
    ck.add_argument("--events", help="event-log path: with a configured "
                                     "progress store, also report applied-"
                                     "position-vs-head lag per sync "
                                     "(fixture event streams only — "
                                     "seq == event_id)")
    ck.add_argument("--table-col", dest="table_col",
                    help="raw column carrying the source table name (per-"
                         "table heads for the lag report; defaults to "
                         "'table' when the log has one)")
    ck.set_defaults(fn=cmd_check)

    ig = sub.add_parser(
        "ingest", help="stream documents into a deduped corpus index"
    )
    ig.add_argument("--source", required=True, help="incoming document dir")
    ig.add_argument("--index", required=True, help="corpus index path")
    ig.add_argument("--checkpoint", required=True)
    ig.add_argument("--quality", action="store_true", help="apply quality gate")
    ig.add_argument(
        "--near-dedup", dest="near_dedup", action="store_true",
        help="also drop MinHash near-duplicates vs the stored band index",
    )
    ig.add_argument(
        "--no-bloom", action="store_true",
        help="disable the band-index Bloom sidecar (same results, "
             "slower probe; removes the sidecar so it can't go stale)",
    )
    ig.add_argument("--follow", action="store_true", help="keep tailing")
    ig.add_argument("--interval", default=None, help="processing trigger, e.g. '5 seconds'")
    ig.set_defaults(fn=cmd_ingest)

    pl = sub.add_parser(
        "pipeline",
        help="raw docs drop-dir → deduped corpus → embeddings → "
             "servable ANN index, one checkpointed command",
    )
    pl.add_argument("--source", required=True, help="incoming document dir")
    pl.add_argument("--corpus", required=True, help="corpus index path")
    pl.add_argument("--index", required=True, help="ANN index path")
    pl.add_argument("--checkpoint", required=True)
    pl.add_argument("--quality", action="store_true", help="apply quality gate")
    pl.add_argument(
        "--no-near-dedup", action="store_true",
        help="skip MinHash near-dedup (exact dedup always applies)",
    )
    pl.add_argument(
        "--no-bloom", action="store_true",
        help="disable the band-index Bloom sidecar (same results, "
             "slower probe; removes the sidecar so it can't go stale)",
    )
    pl.add_argument(
        "--retrain-growth", dest="retrain_growth", type=float, default=None,
        help="added/trained fraction past which the quantizers retrain "
             "behind an atomic swap (default: never)",
    )
    pl.set_defaults(fn=cmd_pipeline)

    rb = sub.add_parser(
        "rebucket", help="change the bucket count of a bucketed index (offline)"
    )
    rb.add_argument("--index", required=True, help="bucketed index path")
    rb.add_argument("--buckets", type=int, required=True, help="new bucket count")
    rb.add_argument("--pk", help="pk column (defaults to the layout's meta)")
    rb.set_defaults(fn=cmd_rebucket)

    cp = sub.add_parser(
        "compact", help="merge an append-heavy table's small files (offline)"
    )
    cp.add_argument("--index", required=True, help="table path")
    cp.add_argument(
        "--target-bytes", type=int, default=128 * 1024 * 1024,
        help="target bytes per output file (default 128 MiB)",
    )
    cp.set_defaults(fn=cmd_compact)

    mt = sub.add_parser(
        "maintain",
        help="size-tiered per-directory small-file compaction + heal "
        "(O(small files), the streaming cadence's manual form). Mixed "
        "flat+partitioned layouts (loose parquet beside partition "
        "subdirs) are UNSUPPORTED for compaction: such directories are "
        "counted and logged but never rewritten — migrate the loose "
        "files into partitions (or a flat table) first",
    )
    mt.add_argument("--index", required=True, help="table path")
    mt.add_argument(
        "--max-dirs", type=int, default=None,
        help="bound one invocation's compacted directories",
    )
    mt.set_defaults(fn=cmd_maintain)

    dr = sub.add_parser(
        "doctor",
        help="audit parquet row-group layout for unsplittable-scan "
        "pathology; --rewrite fixes flagged files in place (atomic)",
    )
    dr.add_argument("--path", required=True, help="table dir or data dir")
    dr.add_argument("--table", default=None, help="audit only <table>.parquet")
    dr.add_argument(
        "--rewrite", action="store_true",
        help="rewrite flagged files with bounded row groups, then re-audit",
    )
    dr.set_defaults(fn=cmd_doctor)

    ab = sub.add_parser(
        "ann-build", help="train + persist the servable IVF+PQ vector index"
    )
    ab.add_argument("--embeddings", required=True,
                    help="parquet with (vec_id, embedding) columns")
    ab.add_argument("--index", required=True, help="index output directory")
    ab.set_defaults(fn=cmd_ann_build)

    aq = sub.add_parser(
        "ann-query", help="probe an ann-build index for nearest neighbors"
    )
    aq.add_argument("--index", required=True)
    aq.add_argument("--corpus", required=True,
                    help="raw (vec_id, embedding) parquet: query vectors come "
                         "from here, and --refine re-ranks against it")
    qsrc = aq.add_mutually_exclusive_group(required=True)
    qsrc.add_argument("--query-ids", dest="query_ids",
                      help="comma-separated corpus vec_ids to use as the "
                           "query batch (self-matches excluded)")
    qsrc.add_argument("--vectors-file", dest="vectors_file",
                      help="JSON file of foreign query vectors "
                           '([{"q_id": .., "vector": [..]}, ..]); '
                           "id coincidences with corpus rows stay eligible; "
                           "--corpus is then used only by --refine")
    aq.add_argument("-k", type=int, default=5)
    aq.add_argument("--nprobe", type=int, default=1,
                    help="coarse cells probed per query (IO/recall knob)")
    aq.add_argument("--refine", action="store_true",
                    help="exact-re-rank the ADC shortlist (exact cosine out)")
    aq.set_defaults(fn=cmd_ann_query)

    aa = sub.add_parser(
        "ann-add",
        help="add vectors to an ann-build index without retraining "
             "(FAISS add-after-train; batch, or --follow a drop dir)",
    )
    aa.add_argument("--vectors", required=True,
                    help="parquet of (vec_id, embedding) rows to add — a "
                         "file/dir for batch mode, a drop dir with --follow")
    aa.add_argument("--index", required=True, help="existing ann-build index")
    aa.add_argument("--checkpoint",
                    help="streaming checkpoint dir (required with --follow)")
    aa.add_argument("--follow", action="store_true",
                    help="tail --vectors as a stream until killed instead of "
                         "a one-shot batch add")
    aa.add_argument("--interval", help="processing trigger interval "
                                       "(streaming mode), e.g. '5 seconds'")
    aa.set_defaults(fn=cmd_ann_add)

    ast_ = sub.add_parser(
        "ann-stats",
        help="per-cell growth of an ann-build index since training "
             "(the retrain-due drift monitor)",
    )
    ast_.add_argument("--index", required=True)
    ast_.add_argument("--max-growth", dest="max_growth", type=float, default=0.5,
                      help="added/trained fraction past which retrain is due")
    ast_.set_defaults(fn=cmd_ann_stats)

    v = sub.add_parser("version")
    v.set_defaults(fn=cmd_version)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
