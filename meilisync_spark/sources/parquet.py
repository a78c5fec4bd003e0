"""Snapshot sources (reference operators S1-S3, SURVEY.md §2.1).

The reference paginates full-table reads with ``ORDER BY pk LIMIT size
OFFSET o`` (meilisync/source/mysql.py:35-52) purely to bound memory; in
Spark a partitioned parquet scan already bounds memory per-task, so
"pagination" is the partitioning itself and the ORDER BY disappears
(SURVEY.md §2.6 O1). Column pruning (the reference's ``fields`` SELECT
list, source/mysql.py:37-40) happens at the parquet footer via
Catalyst's ColumnPruning — callers just ``.select``.
"""

from __future__ import annotations

import glob
import os
from collections import OrderedDict

import pyarrow.parquet as pq
import pyarrow.types as patypes

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _nanos_timestamp_cols(path: str) -> set[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — read from the footer
    (driver-side metadata only; no data read)."""
    f = path
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return set()
        f = files[0]
    try:
        schema = pq.read_schema(f)
    except Exception:
        return set()
    return {
        fld.name
        for fld in schema
        if patypes.is_timestamp(fld.type) and fld.type.unit == "ns"
    }


def load_path(spark: SparkSession, path: str) -> DataFrame:
    """Scan an arbitrary parquet path with canonical timestamp handling.

    The session reads parquet NANOS timestamps as raw nanos longs
    (spark.sql.legacy.parquet.nanosAsLong) — convert them here to
    micros TimestampType with floor semantics (``div``), matching
    DuckDB's ns→µs narrowing, so both engines see identical values.
    All other timestamps become session-tz TIMESTAMP.
    """
    df = spark.read.parquet(path)
    for col in _nanos_timestamp_cols(path):
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    for fld in df.schema.fields:
        if isinstance(fld.dataType, T.TimestampNTZType):
            df = df.withColumn(fld.name, F.col(fld.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Full snapshot scan of one table (S1/S2/S3 equivalent)."""
    return load_path(spark, table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def _effective_file_splits(df: DataFrame) -> int | None:
    """True scan parallelism for a parquet file source, or None when it
    can't be determined.

    ``getNumPartitions()`` LIES for big single-row-group files: Spark
    bin-packs byte ranges (maxSplitBytes = max(openCost, size/cores)),
    but a parquet task only reads row groups whose START offset falls
    in its range — a 104 MB one-row-group file plans as ~26 partitions
    of which 25 are EMPTY and one reads every row. The honest split
    count is the number of ROW GROUPS. Footers are read only when the
    file list is small (a local-test shape); many files already prove
    file-level parallelism, so no footer IO happens at cluster scale.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    if len(files) >= 64:
        return len(files)
    total = 0
    for uri in files:
        if not uri.endswith(".parquet"):
            return None
        if uri.startswith("file:"):
            path = uri[5:]
            while path.startswith("//"):
                path = path[1:]
        elif uri.startswith("/"):
            path = uri
        else:
            return None  # remote fs: footers unreachable from driver
        try:
            total += pq.read_metadata(path).num_row_groups
        except Exception:
            return None
    return total


_SPREAD_PIN_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_SPREAD_PIN_CACHE_MAX = 4
SPREAD_PIN_MIN_BYTES = 64 * 1024 * 1024


def _local_fs_path(uri: str) -> str | None:
    """file:/…/local-absolute URI → filesystem path; None for remote."""
    if uri.startswith("file:"):
        path = uri[5:]
        while path.startswith("//"):
            path = path[1:]
        return path
    if uri.startswith("/"):
        return uri
    return None


def _scan_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of a file-backed frame (0 when unknown —
    callers treat unknown as 'small', falling back to the exchange)."""
    try:
        total = 0
        for uri in df.inputFiles():
            path = _local_fs_path(uri)
            if path is None:
                return 0
            total += os.path.getsize(path)
        return total
    except Exception:
        return 0


def _pin_cache_key(df: DataFrame, app_id: str, target: int) -> tuple | None:
    """Collision-safe cache key for a pinned frame, or None when one
    can't be built (caller pins UNCACHED rather than risk serving the
    wrong rows).

    Two hazards a naive (files, columns) key has — both real because
    the public operators accept arbitrary frames: (1) two different
    PLANS over the same file with identical column lists collide (a
    filter preserves columns, so spread(docs.where(...)) after
    spread(docs) would silently receive the unfiltered pin) — covered
    by Catalyst's canonicalized-plan digest (DataFrame.semanticHash);
    (2) a file overwritten in place mid-session keeps serving the stale
    pin — covered by each file's (mtime_ns, size) in the key."""
    try:
        digest = df.semanticHash()
        files = sorted(df.inputFiles())
    except Exception:
        return None
    sig = []
    for uri in files:
        path = _local_fs_path(uri)
        if path is None:
            return None
        try:
            st = os.stat(path)
        except OSError:
            return None
        sig.append((path, st.st_mtime_ns, st.st_size))
    return (app_id, digest, tuple(sig), tuple(df.columns), target)


def spread(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Distribute a scan that yields too little REAL parallelism for a
    CPU-dense stage (hashing/shingling/vector math).

    Local single-file parquet with few row groups is unsplittable — the
    scan does all its work in one or two tasks regardless of how many
    byte-range partitions were planned (see _effective_file_splits; the
    planned-partition count alone once hid a 10× single-task cliff the
    moment a test file crossed ~64 MB). At cluster scale the input has
    thousands of files/row groups and this is a no-op, so no shuffle is
    added where the scan already provides parallelism.

    Why the unsplittable-FILE case pins (localCheckpoint) instead of
    just repartitioning: Catalyst pushes deterministic filters through
    a repartition exchange into the scan stage — correct and desirable
    when the scan is parallel (fewer rows shuffled), but on a
    one-row-group file it fuses the consumer's whole predicate (e.g.
    the regex-heavy quality gate) into the ONE real scan task, making
    the filter serial at any corpus size while 31 cores idle (round-8
    diagnosis: this re-opened the round-7 cliff for every FILTERED
    consumer; expression-level barriers don't survive the optimizer).
    The checkpoint RDD is a plan barrier nothing pushes through, so
    the serial task does only IO+decode+shuffle-write and everything
    downstream — filters included — runs balanced. SERIALIZED storage
    (text-heavy rows inflate 3-5× as deserialized JVM objects), and an
    LRU cache keyed by (app, canonicalized-plan digest, per-file
    mtime+size, columns) — see _pin_cache_key — so back-to-back
    queries over the same pathological file share one pin instead of
    accumulating block-manager copies, while differently-FILTERED
    frames over the same file and in-place-overwritten files never
    collide. Column pruning into the scan is
    lost for the pinned file — acceptable: pinning happens only where
    the alternative is a serial scan, and the cache amortizes it.
    """
    sc = df.sparkSession.sparkContext
    target = parallelism or sc.defaultParallelism
    threshold = max(2, target // 2)
    parts = df.rdd.getNumPartitions()
    eff = _effective_file_splits(df)
    if eff is not None:
        parts = min(parts, eff)
    if parts >= threshold:
        return df
    if eff is None or eff >= threshold or _scan_bytes(df) < SPREAD_PIN_MIN_BYTES:
        # Plain exchange when this is a mid-query frame that merely
        # lost parallelism (post-limit, post-coalesce — filters above
        # were already placed relative to real plan nodes), or a SMALL
        # unsplittable file: a serial scan+filter over <64 MB is
        # cheap, and pinning it would swap plan shapes (ExistingRDD
        # for parquet scans) and add eager jobs across every tiny-
        # fixture test for no measurable win. The cliff the pin exists
        # for starts where a single row group crosses the ~64 MB split
        # floor — exactly the size floor used here.
        return df.repartition(target)
    key = _pin_cache_key(df, sc.applicationId, target)
    if key is not None:
        hit = _SPREAD_PIN_CACHE.get(key)
        if hit is not None:
            _SPREAD_PIN_CACHE.move_to_end(key)
            return hit
    # MEMORY_AND_DISK is the SERIALIZED level in pyspark 4 (the
    # deserialized variant is MEMORY_AND_DISK_DESER, the JVM default)
    pinned = df.repartition(target).localCheckpoint(
        False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    if key is None:
        # no collision-safe key ⇒ pin uncached (correctness over reuse)
        return pinned
    _SPREAD_PIN_CACHE[key] = pinned
    while len(_SPREAD_PIN_CACHE) > _SPREAD_PIN_CACHE_MAX:
        # drop OUR reference only — a caller still holding the evicted
        # frame keeps it alive; otherwise the ContextCleaner releases
        # the checkpoint blocks once the frame is collected
        _SPREAD_PIN_CACHE.popitem(last=False)
    return pinned
