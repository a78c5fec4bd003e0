"""Continuous ANN index maintenance: stream new embedding vectors into
a served IVF+PQ index without retraining.

The FAISS ``train once, add forever`` lifecycle wired to Structured
Streaming: :func:`meilisync_spark.operators.ivfpq.save_index` builds
the index once; every micro-batch of ``(vec_id, embedding)`` rows is
then assigned to its nearest STORED centroid, PQ-encoded with the
STORED codebooks, and appended into the ``cluster=`` partitions —
O(batch) work per batch, the same at-rest layout the probe
partition-prunes, and the new vectors are servable by ``query_index``
from the moment the batch commits.

At-least-once replay is safe: assignment is deterministic, so a
replayed batch lands in exactly the cells it touched before, and
``add_to_index``'s dedup anti-join (pruned to those cells) drops the
duplicates. Quantizer staleness is the monitored quantity, not a
silent failure: ``index_stats`` / ``retrain_due`` report per-cell
growth since training, and the operator answer to drift is a fresh
``save_index`` behind the same atomic-swap pattern the CDC refresh
uses.

Reference analogue: none (the reference has no vector surface); this
composes the CDC streaming shell with the ANN serving index, closing
the gap between the append-forever corpus ingest and the train-once
serving surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from meilisync_spark.operators.ivfpq import add_to_index
from meilisync_spark.streaming.pipeline import _start_and_await, read_event_stream


def run_ann_ingest(
    spark: SparkSession,
    vectors_path: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    dedup: bool = True,
    retrain_max_growth: float | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_interval: str | None = None,
    timeout_sec: float | None = 180.0,
    compact_every: int = 1,
    compact_max_dirs: int | None = None,
) -> int:
    """Tail ``vectors_path`` (parquet drop dir of ``vec_id, embedding``
    rows) and fold each micro-batch into the :func:`save_index` layout
    at ``index_path`` via :func:`add_to_index`. The index must exist —
    adding before training has no codebooks to encode with, so it
    fails loudly rather than bootstrap a layout the probe can't
    serve. Returns the number of retrains performed (0 unless enabled).

    ``retrain_max_growth`` closes the staleness loop: when set, every
    batch's raw vectors are also appended to the index's ``_vectors``
    sidecar (which must be seeded with the TRAINING corpus via
    :func:`seed_index_vectors` — PQ codes are lossy, so a rebuild
    needs the originals), and after each add the :func:`retrain_due`
    growth monitor is polled; past the threshold the quantizers are
    retrained on the full sidecar and the served index atomically
    swapped (:func:`rebuild_index`). Later batches reload the meta per
    add, so they resume against the NEW centroids/codebooks without
    restarting the stream. Crash windows replay safely: the sidecar
    append is collapsed by vec_id on read, and the add's dedup
    anti-join no-ops rows the rebuild already folded in — keep
    ``dedup=True`` whenever retraining is on (enforced below).

    ``compact_every`` (batches; 0 disables; default 1 — the audit is
    cheap, the TRIGGER is per-directory and threshold-based on
    TIER_FILES, VERDICT r10 #5): every add appends ~one file per
    touched ``cluster=`` directory (plus one to the ``_vectors``
    sidecar when retraining is on), so long runs age linearly without
    the size-tiered per-directory compactor
    (operators/maintenance.py) — run here inside the single-writer
    callback, after the batch's writes. Codes and the _ann_meta
    quantizers are untouched; only file boundaries change."""
    from meilisync_spark.operators.maintenance import (
        compact_small_files,
        heal_partition_dirs,
    )
    from meilisync_spark.operators.ivfpq import ANN_META_FILE, vectors_sidecar_path

    if not os.path.exists(os.path.join(index_path, ANN_META_FILE)):
        raise FileNotFoundError(
            f"{index_path} is not a servable ANN index (no {ANN_META_FILE}); "
            "build it first with save_index / the ann-build CLI"
        )
    if retrain_max_growth is not None:
        if not dedup:
            raise ValueError(
                "retrain_max_growth requires dedup=True: a replayed batch "
                "whose vectors the rebuild already folded in would append twice"
            )
        if not os.path.exists(vectors_sidecar_path(index_path)):
            raise FileNotFoundError(
                f"{vectors_sidecar_path(index_path)} missing: seed it with the "
                "training corpus (seed_index_vectors) so a retrain can cover "
                "the originally-trained vectors — PQ codes are lossy"
            )
    src = read_event_stream(spark, vectors_path, max_files_per_trigger)

    heal_partition_dirs(index_path)
    if retrain_max_growth is not None:
        heal_partition_dirs(vectors_sidecar_path(index_path))
    retrains = {"n": 0}
    batches_since_compact = {"n": 0}

    def handle(batch: DataFrame, _bid: int) -> None:
        if retrain_max_growth is not None:
            from meilisync_spark.operators.ivfpq import (
                collapse_add_batch,
                read_index_vectors,
                rebuild_index,
                retrain_due,
                vectors_sidecar_path,
            )

            # conflict-check BEFORE the sidecar append: a poison batch
            # (one vec_id, two different embeddings) must wedge the
            # stream without polluting the sidecar — otherwise each
            # retry re-appends the conflicting rows and a later manual
            # rebuild's dropDuplicates(vec_id) silently picks one, the
            # exact choice add_to_index's ValueError exists to refuse.
            # The check is deterministic, so crash-window replays still
            # pass/fail identically.
            batch = collapse_add_batch(batch.select("vec_id", "embedding"))
            # sidecar first: if the add commits and we crash before the
            # sidecar write, a later rebuild would lose this batch's
            # raw vectors forever; the reverse order only risks a
            # duplicate append, which read_index_vectors collapses
            batch.write.mode("append").parquet(
                vectors_sidecar_path(index_path)
            )
            add_to_index(spark, index_path, batch, dedup=dedup)
            if retrain_due(spark, index_path, max_growth=retrain_max_growth):
                rebuild_index(read_index_vectors(spark, index_path), index_path)
                retrains["n"] += 1
        else:
            add_to_index(spark, index_path, batch, dedup=dedup)
        batches_since_compact["n"] += 1
        if compact_every and batches_since_compact["n"] >= compact_every:
            batches_since_compact["n"] = 0
            compact_small_files(spark, index_path, compact_max_dirs)
            if retrain_max_growth is not None:
                compact_small_files(
                    spark, vectors_sidecar_path(index_path), compact_max_dirs
                )

    _start_and_await(
        src.writeStream.foreachBatch(handle),
        checkpoint_dir, available_now, processing_interval, timeout_sec,
    )
    return retrains["n"]
