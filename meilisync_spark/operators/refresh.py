"""Shadow refresh with atomic swap (S13, ``meilisync refresh``).

Reference flow (meilisync/meili.py:34-71 driven by main.py:143-176):
record the current stream position *before* reading (so changes made
during the rebuild replay afterwards), bulk-load a ``{index}_tmp``
shadow index, ``swap_indexes``, drop tmp.

Spark realization: write the full snapshot to a *versioned* directory
(``{index}_v-<tag>``), then atomically repoint the ``index`` symlink at
it (a symlink staged under ``{index}_lnk-<tag>`` renamed over the old
one: a single atomic syscall on POSIX). Readers resolve the symlink at
open time and see exactly one complete version — old or new, never
half, never "no index". The previous version directory is removed
after the repoint: a reader that resolved the symlink *before* the swap
and is still mid-scan can lose files — the single-writer/short-scan
contract of a plain-parquet sink; a production deployment uses a table
format (``CREATE OR REPLACE TABLE`` — snapshot-isolated) where this
whole module is one SQL statement.

Crash recovery is operators/bucketed.py's one contract, applied by the
same sweep before every write: a parked directory whose live path is
absent is restored; every other leftover is reaped. A legacy
real-directory index migrates to the symlink layout through the same
park/move-in step.

Scale notes: the bulk write is a plain partitioned parquet write — no
shuffle unless the caller asks to repartition by the pk bucket (do, for
merge locality of later CDC applies).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from meilisync_spark.operators.bucketed import _swap_in, _sweep_stale


def write_version(index_path: str, write: Callable[[str], None]) -> str:
    """The one repoint (also ``ivfpq.rebuild_index``'s): sweep,
    ``write(version)`` a fresh ``{index}_v-<tag>``, point the index
    symlink at it, drop the superseded version (≡ drop tmp,
    meili.py:69). Returns the version path."""
    index_path = index_path.rstrip("/")
    _sweep_stale(index_path)
    tag = uuid.uuid4().hex[:8]
    version = f"{index_path}_v-{tag}"  # ≡ "{index}_tmp" (meili.py:37)
    write(version)
    staged = f"{index_path}_lnk-{tag}"
    os.symlink(os.path.basename(version), staged)  # a sibling: resolves from any cwd
    if os.path.islink(index_path):
        prev = os.path.realpath(index_path)
        os.rename(staged, index_path)
        shutil.rmtree(prev, ignore_errors=True)
    else:
        _swap_in(staged, index_path, f"{index_path}_old-{tag}")
    return version


def refresh_data(
    df: DataFrame,
    index_path: str,
    bucket_by: str | None = None,
    num_buckets: int | None = None,
) -> int:
    """Rebuild the index table at ``index_path`` from ``df`` via a
    versioned write + atomic symlink repoint. Returns the number of
    rows loaded (the reference returns the inserted count,
    meilisync/meili.py:71)."""
    if bucket_by and num_buckets:
        df = df.repartition(num_buckets, bucket_by)
    version = write_version(index_path, df.write.mode("overwrite").parquet)
    # count from the written files so the returned number is what
    # readers will actually see
    return df.sparkSession.read.parquet(version).count()


def _cache_once(cache_dir: str, build_fn: Callable[[str], None], done_file: str) -> None:
    """Run ``build_fn(path)`` into ``cache_dir`` exactly once: build
    into a private tmp sibling, then atomically rename into place —
    concurrent builders race safely (one rename wins, losers discard
    their copy), and a partially-written dir can never be mistaken for
    a finished artifact (``done_file`` is the completeness witness,
    written by ``build_fn`` as its last step; ANN caches, ivfpq.py)."""
    if os.path.exists(os.path.join(cache_dir, done_file)):
        return
    parent = os.path.dirname(cache_dir) or "."
    tmp = tempfile.mkdtemp(prefix=os.path.basename(cache_dir) + ".tmp.", dir=parent)
    try:
        built = os.path.join(tmp, "built")
        build_fn(built)
        try:
            os.rename(built, cache_dir)
        except OSError:
            # a concurrent builder winning the rename is the only
            # benign cause — verify a finished artifact actually exists
            # before swallowing; an unrelated failure (permissions,
            # EXDEV) would otherwise surface later as a confusing
            # missing-path error inside query_index
            if not os.path.exists(os.path.join(cache_dir, done_file)):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def read_index(spark: SparkSession, index_path: str) -> DataFrame:
    return spark.read.parquet(index_path)


def _partition_cols(real_path: str) -> list[str]:
    """Discover the hive partition-column chain from the directory
    layout (``col=value`` subdirectories, possibly nested). Layout is
    the source of truth, not the dataframe schema: a partition key is
    only a directory name, and flattening it into data files silently
    breaks the ``hb=``/``bucket=`` pruning the streaming appliers rely
    on (and hides every pre-existing row from basePath readers)."""
    cols: list[str] = []
    path = real_path
    while os.path.isdir(path):
        subs = [
            e
            for e in os.listdir(path)
            if "=" in e
            and not e.startswith((".", "_"))  # compaction version dirs
            and os.path.isdir(os.path.join(path, e))
        ]
        names = {e.split("=", 1)[0] for e in subs}
        if len(names) != 1:
            break
        cols.append(names.pop())
        path = os.path.join(path, subs[0])
    return cols


def compact_table(
    spark: SparkSession,
    index_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for append-heavy tables (the corpus-ingest
    index gains one file set per micro-batch; a year of 10-second
    batches is millions of files whose listing alone dominates scan
    setup). Rewrites the table into ceil(bytes / target) files via the
    same versioned-write + atomic-symlink-repoint as refresh_data —
    readers see the old file set or the new one, never a mix. Returns
    the resulting file count.

    Hive-partitioned layouts (the corpus-ingest ``hb=`` index, the CDC
    ``bucket=`` index) are preserved: the rewrite re-applies
    ``partitionBy`` on the discovered directory keys and carries the
    layout metadata file over, so the per-batch partition pruning —
    and the rows themselves — survive compaction. One task per
    partition-key hash, so each partition directory compacts to one
    file (a partition is sized to fit an executor by construction —
    operators/bucketed.py).

    O(table) I/O by definition, so like rebucket_index this is a
    planned maintenance job, not something a batch triggers; on a table
    format it is OPTIMIZE/rewrite_data_files. Unpartitioned layouts use
    coalesce (not repartition): merging files needs no shuffle, only
    fewer write tasks reading more input splits each."""
    src = os.path.realpath(index_path)
    pcols = _partition_cols(src)
    # mergeSchema: bucketed CDC indexes are drift-safe via per-bucket
    # schema union (read_buckets does the same) — compaction must not
    # drop a column that only newer buckets carry
    df = spark.read.option("mergeSchema", "true").parquet(index_path)
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))
    # sidecar metadata rides along with the rewrite, inside the version
    # so the repoint publishes it with the data: the bucket layout
    # record (_meta.json) AND the ANN index's quantizer halves
    # (_ann_meta.json — losing it would leave the compacted code
    # partitions unservable: no codebooks, no centroid routing)
    sidecars = [n for n in ("_meta.json", "_ann_meta.json") if os.path.isfile(os.path.join(src, n))]
    out = df.repartition(n_files, *pcols) if pcols else df.coalesce(n_files)

    def write(version: str) -> None:
        writer = out.write.mode("overwrite")
        (writer.partitionBy(*pcols) if pcols else writer).parquet(version)
        for name in sidecars:
            shutil.copy(os.path.join(src, name), version)

    version = write_version(index_path, write)
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(version) for f in fs)
