"""Bucketed incremental CDC apply — rewrite only the pk buckets a
micro-batch touches.

The plain-parquet MERGE in streaming/pipeline.py reads the whole index
and rewrites it per batch — correct, but O(index) writes per batch: the
one shape that cannot survive a 100× scale-up (a 100 TB index cannot be
rewritten every 10 seconds). The scale-safe layout, realized here:

- The index is hive-partitioned by ``bucket = crc32(pk) % N``
  (``index/bucket=K/part-*.parquet``). crc32 over the stringified pk is
  deterministic across runs, Spark versions, and partitionings — the
  bucket of a key never moves.
- Each micro-batch computes the distinct buckets present in the batch
  (≤ N tiny ints — a legitimate driver-side collect), reads ONLY those
  bucket directories back (partition pruning on the ``bucket=``
  directory key — verify with ``.explain``: PartitionFilters), MERGEs,
  and atomically swaps ONLY those directories. Untouched buckets are
  not read, not written, byte-identical after the batch.
- Work per batch is O(|batch| + |touched buckets| · bucket size), not
  O(index). With |batch| ≪ index and N sized so a bucket fits an
  executor, this is the parquet-native equivalent of MERGE INTO file
  pruning on a table format (Delta/Iceberg) — which is what a real
  deployment would use; the directory-swap protocol below is the
  self-contained fallback.

Write parallelism: every bucket write (bootstrap, per-batch MERGE,
rebucket) goes through :func:`_write_buckets`, which hash-partitions on
the bucket id into ``min(buckets written, spark.sql.shuffle.partitions)``
tasks. A bucket's rows all land in one task, so each bucket directory
still holds exactly one file; a task simply writes several whole
buckets when there are more buckets than shuffle partitions. On a
cluster (shuffle partitions ≥ buckets) that is one bucket per task; on
a 4-core host a batch touching 64 buckets runs 4 write tasks instead of
64, each of which pays task start, shuffle fetch and commit.

Listing: reading bucket directories lists them on the driver
(``spark.sql.sources.parallelPartitionDiscovery.threshold`` in
:data:`meilisync_spark.session.RUNTIME_CONF`). Spark's default lists
more than 32 paths with a Spark job — one task per directory, ~300 ms
for 64 local directories. The layout needs a POSIX path anyway (its
swaps are ``os.rename``), where a driver-side listing costs
microseconds per directory.

Atomicity: each bucket directory swap is a single rename (readers of a
bucket see old-or-new, never half). The batch is not atomic *across*
buckets — a reader scanning the whole index mid-swap can see bucket K
new and bucket J old. The reference has the same property: its sink
applies per-event writes with no cross-document transaction
(meilisync/meili.py:121-151).

Crash recovery: every index writer (bootstrap, per-batch MERGE,
rebucket, operators/refresh.py) swaps through :func:`_swap_in`, and
:func:`_sweep_stale` runs before every write with one contract: a
parked directory whose live path is absent is restored; every other
leftover is reaped. A crash anywhere leaves each bucket new or old,
and the replayed batch (Spark never committed it) re-applies
idempotently on top.

Reference parity: S9/S10/S11 apply semantics are inherited unchanged —
the per-bucket MERGE is operators/apply.py:apply_changes.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from meilisync_spark.operators.apply import apply_changes
from meilisync_spark.pin import SER as _SER

BUCKET_COL = "bucket"
DEFAULT_NUM_BUCKETS = 64

# underscore prefix: Spark/Hive readers skip it as a non-data file
META_FILE = "_meta.json"


def resolve_num_buckets(index_path: str, requested: int | None) -> int:
    """The streaming pipelines' layout decision, in one place.

    ``requested`` set → honored verbatim (``0`` or negative forces the
    flat full-rewrite layout — the explicit opt-out). ``None`` → auto:

    - an existing bucketed index keeps ITS recorded count (from
      ``_meta.json`` — a restart must never need ``--buckets`` to keep
      writing the layout it finds);
    - a pre-existing FLAT index stays flat (back-compat: never silently
      convert a layout in place — ``rebucket_index`` is the explicit
      conversion);
    - a fresh index defaults to :data:`DEFAULT_NUM_BUCKETS` — the
      O(batch)-per-micro-batch layout is the only one that survives a
      100-TB index, so new indexes get it without opt-in.

    An absent path is swept first: a crash may have parked the index.
    """
    if not os.path.lexists(index_path):
        _sweep_stale(index_path)
    if requested is not None:
        return max(requested, 0)
    meta = read_meta(index_path)
    if meta:
        return int(meta["num_buckets"])
    if os.path.exists(index_path):
        # pre-existing flat index — a DIRECTORY of parquet or a single
        # parquet FILE (duckdb COPY output, a .parquet index_name):
        # both must keep the flat path; treating a file as "fresh"
        # would bucket-convert it and crash renaming under a non-dir
        return 0
    return DEFAULT_NUM_BUCKETS


def bucket_expr(pk: str, num_buckets: int) -> Column:
    """Deterministic, type-agnostic bucket id: crc32 of the stringified
    pk mod N. Independent of Spark's internal hash so the layout is
    stable across engine upgrades."""
    return (F.crc32(F.col(pk).cast("string")) % num_buckets).cast("int")


def _drop(path: str) -> None:
    """Remove ``path`` if present. A symlink or file is unlinked
    (``rmtree(ignore_errors=True)`` silently skips both); a symlink's
    target is reaped by :func:`_sweep_stale` once nothing points at it."""
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.unlink(path)


def _swap_in(staged: str, live: str, parked: str) -> None:
    """The one park/move-in step: park ``live`` (if present) as
    ``parked`` (``{index}_old-<tag>[-K]``), rename ``staged`` (if
    present) in, drop the parked copy."""
    if os.path.lexists(live):
        os.rename(live, parked)
    if os.path.lexists(staged):
        os.rename(staged, live)
    _drop(parked)


def _sweep_stale(index_path: str) -> None:
    """Crash recovery for every writer of ``index_path`` (single writer,
    like the reference's start loop): a parked ``{index}_old-<tag>``
    (bucket K: ``-K``; older releases parked a rebucketed index as
    ``_prev-<tag>``) whose live path is absent is restored; every other
    leftover (``_old-``, ``_prev-``, ``_stg-``, ``_tmp-``, ``_lnk-``, a
    ``_v-`` the index symlink does not point at) is reaped. The dash is
    part of the name: a sibling index called ``{index}_old`` is not ours."""
    index_path = index_path.rstrip("/")
    parent, name = os.path.split(index_path)
    parent = parent or "."
    if not os.path.isdir(parent):
        return
    ours = []
    for entry in sorted(os.listdir(parent)):  # a whole index sorts before its buckets
        kind, dash, rest = entry[len(name) + 1:].partition("-")
        if entry.startswith(f"{name}_") and dash and kind in ("old", "prev", "stg", "tmp", "lnk", "v"):
            ours.append((os.path.join(parent, entry), kind, rest.partition("-")[2]))
    for path, kind, bucket in ours:
        live = os.path.join(index_path, f"{BUCKET_COL}={bucket}") if bucket else index_path
        if kind in ("old", "prev") and not os.path.lexists(live):
            os.rename(path, live)
    target = os.path.realpath(index_path) if os.path.islink(index_path) else None
    for path, _, _ in ours:
        if os.path.lexists(path) and os.path.realpath(path) != target:
            _drop(path)


def read_buckets(
    spark: SparkSession, index_path: str, buckets: Sequence[int] | None = None
) -> DataFrame:
    """Read the bucketed index (optionally only the given buckets)
    without the bucket column.

    Requested buckets are read by passing their directories explicitly:
    file listing AND schema work are bounded by the touched buckets, not
    the whole index — at 100 TB the full-index listing itself is a cost.
    ``mergeSchema`` makes the read drift-safe: after a schema-evolving
    apply, buckets written before and after the drift carry different
    parquet schemas and the union (missing columns as NULL) is the
    correct view; footer reads are bounded by the same pruned file set.
    """
    reader = spark.read.option("basePath", index_path).option("mergeSchema", "true")
    if buckets is None:
        return reader.parquet(index_path).drop(BUCKET_COL)
    paths = [
        os.path.join(index_path, f"{BUCKET_COL}={int(b)}") for b in buckets
    ]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        # every touched bucket is brand new — empty frame, index schema
        return (
            reader.parquet(index_path).where(F.lit(False)).drop(BUCKET_COL)
        )
    return reader.parquet(*paths).drop(BUCKET_COL)


def _write_buckets(df: DataFrame, path: str, num_buckets: int) -> None:
    """Write ``df`` (carrying :data:`BUCKET_COL`, at most ``num_buckets``
    distinct values) as ``path/bucket=K/`` with one file per bucket.

    Hash-partitioning on the bucket id keeps every bucket in one task;
    capping the task count at the shuffle partitions lets a task write
    several whole buckets instead of starting one task per bucket."""
    shuffle_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        df.repartition(max(1, min(num_buckets, shuffle_partitions)), BUCKET_COL)
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )


def _write_meta(index_path: str, pk: str, num_buckets: int) -> None:
    if os.path.isdir(index_path):
        with open(os.path.join(index_path, META_FILE), "w") as fh:
            json.dump({"num_buckets": num_buckets, "pk": pk}, fh)


def read_meta(index_path: str) -> dict | None:
    try:
        with open(os.path.join(index_path, META_FILE)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _check_layout(index_path: str, pk: str, num_buckets: int) -> None:
    """The bucket of a key is a function of N: merging with a different
    N than the layout was written with silently routes pks to the wrong
    directories (missed merges, duplicate pks). Fail loudly instead."""
    meta = read_meta(index_path)
    if meta is None:
        return  # pre-metadata layout: trust the caller (legacy indexes)
    if meta["num_buckets"] != num_buckets or meta.get("pk", pk) != pk:
        raise ValueError(
            f"index at {index_path} was bucketed with "
            f"num_buckets={meta['num_buckets']}, pk={meta.get('pk')!r}; "
            f"got num_buckets={num_buckets}, pk={pk!r} — use rebucket_index() "
            "to change the layout"
        )


def init_bucketed_index(
    df: DataFrame, index_path: str, pk: str, num_buckets: int = DEFAULT_NUM_BUCKETS
) -> None:
    """Write ``df`` as the whole layout at ``index_path``: one shuffle on
    the bucket id, one file per bucket directory, staged with
    ``_meta.json`` inside, then :func:`_swap_in`. No rows, no index."""
    tag = uuid.uuid4().hex[:8]
    staging = f"{index_path}_stg-{tag}"
    _write_buckets(
        df.withColumn(BUCKET_COL, bucket_expr(pk, num_buckets)), staging, num_buckets
    )
    _write_meta(staging, pk, num_buckets)
    _drop_if_empty(staging)
    _swap_in(staging, index_path, f"{index_path}_old-{tag}")


def rebucket_index(
    spark: SparkSession, index_path: str, pk: str, new_num_buckets: int
) -> None:
    """Change the bucket count of a live index (capacity growth: buckets
    are sized to fit an executor, and a growing corpus eventually needs
    more of them).

    Deliberately O(index) — one full shuffle on the new bucket id into a
    staged directory, then the whole-directory park/move-in step of
    :func:`init_bucketed_index` (readers see the old layout or the new
    one, never a mix). This is the offline maintenance operation; the
    per-batch path stays O(batch). At 100 TB this is a planned job, not
    something a micro-batch ever triggers implicitly — hence the loud
    ValueError on mismatch instead of auto-rebucketing.

    Crash recovery is the module's one contract: a parked directory
    whose live path is absent is restored; every other leftover is
    reaped (the closing sweep reaps a compacted index's old version)."""
    _sweep_stale(index_path)
    if not os.path.isdir(index_path):
        raise FileNotFoundError(f"no index at {index_path}")
    init_bucketed_index(read_buckets(spark, index_path), index_path, pk, new_num_buckets)
    _sweep_stale(index_path)


def apply_changes_bucketed(
    spark: SparkSession,
    index_path: str,
    changes: DataFrame,
    pk: str = "pk",
    payload_cols: Sequence[str] | None = None,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
) -> list[int]:
    """MERGE ``changes`` into the bucketed index, rewriting only the
    buckets the batch touches. Returns the touched bucket ids.

    ``changes`` is a normalized CDC envelope (pk, seq, op + payload).

    With ``payload_cols=None`` the output schema is the union of the
    current index schema and the batch's payload columns (schema drift —
    see :func:`~meilisync_spark.operators.apply.apply_changes`): a new
    upstream field starts appearing in touched buckets, base-only
    columns are preserved, and ``read_buckets``'s ``mergeSchema`` view
    unifies old and new bucket files.
    """
    change_payload = [
        c for c in changes.columns if c not in (pk, "seq", "op", "table", BUCKET_COL)
    ]
    _sweep_stale(index_path)
    changes = changes.withColumn(BUCKET_COL, bucket_expr(pk, num_buckets))
    # localCheckpoint: the batch is read twice (bucket list + merge) and
    # must not recompute from the stream source
    changes = changes.localCheckpoint(eager=True, storageLevel=_SER)
    touched = sorted(
        r[BUCKET_COL] for r in changes.select(BUCKET_COL).distinct().collect()
    )
    if not any(os.path.isdir(os.path.join(index_path, f"{BUCKET_COL}={b}")) for b in touched):
        # also the state a delete-everything batch leaves when it
        # crashes before its own _drop_if_empty: meta, no bucket
        _drop_if_empty(index_path)

    if not os.path.exists(index_path):
        cols = change_payload if payload_cols is None else payload_cols
        base = spark.createDataFrame([], changes.select(pk, *cols).schema)
        first = apply_changes(base, changes.drop(BUCKET_COL), pk=pk, payload_cols=cols)
        init_bucketed_index(first, index_path, pk, num_buckets)
        return touched

    _check_layout(index_path, pk, num_buckets)
    if not touched:
        return []

    base = read_buckets(spark, index_path, touched)
    if payload_cols is None:
        base_payload = [c for c in base.columns if c != pk]
        payload_cols = base_payload + [
            c for c in change_payload if c not in base_payload
        ]
    merged = apply_changes(
        base, changes.drop(BUCKET_COL), pk=pk, payload_cols=payload_cols
    ).withColumn(BUCKET_COL, bucket_expr(pk, num_buckets))

    # stage only the touched buckets, then swap each directory in; a
    # bucket whose rows were all deleted has no staged directory and
    # simply disappears
    tag = uuid.uuid4().hex[:8]
    staging = f"{index_path}_stg-{tag}"
    _write_buckets(merged, staging, len(touched))
    for b in touched:
        _swap_in(
            os.path.join(staging, f"{BUCKET_COL}={b}"),
            os.path.join(index_path, f"{BUCKET_COL}={b}"),
            f"{index_path}_old-{tag}-{b}",
        )
    _drop(staging)
    _drop_if_empty(index_path)
    return touched


def _drop_if_empty(index_path: str) -> None:
    """An index with zero live rows has NO on-disk representation (a
    partitioned parquet write of an empty frame emits no schema files,
    so a leftover marker-only directory would be unreadable). Absent
    path == empty index — the same contract as the reference's
    missing-index-is-count-0 (meilisync/meili.py:77-84); the next batch
    simply bootstraps again. A compacted index is a symlink: it is
    unlinked, and the sweep reaps the version directory."""
    if os.path.isdir(index_path) and not any(
        e.startswith(f"{BUCKET_COL}=") for e in os.listdir(index_path)
    ):
        _drop(index_path)
