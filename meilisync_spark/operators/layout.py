"""Parquet layout doctor — detect scan-parallelism pathologies before
they serialize a cluster.

Round 8's headline diagnosis (SCALE.md, input layout; the round-8
write-up is in SCALE.md at git 1e8543b): a big single-row-group
parquet file is UNSPLITTABLE — Spark plans byte-range splits, but a
scan task only reads row groups whose start offset falls in its range,
so one ~1M-row group means ONE real scan task however many partitions
were planned, and Catalyst fuses pushed-down filters into that serial
task. The engine self-defends (`sources/parquet.py::
spread` pins such files), but the RIGHT fix is the data layout — this
module is the audit that tells an operator which files to rewrite.

Scale shape: the file listing is driver-side (bounded: a directory
listing), footer reads are DISTRIBUTED — one Arrow batch of paths per
task, `pyarrow.parquet.read_metadata` per file (footer-only IO, no
data pages). At 100 TB / ~100k files that is a few MB of metadata per
task; the report is ~5 scalar columns per file. Paths must be readable
from executors (local fs / NFS / fuse mounts here; on HDFS/S3 swap the
reader for the corresponding pyarrow filesystem — same shape).

Rewriting a flagged file is one pass:
``spark.read.parquet(f).write.option("parquet.block.size", ...)`` or
the layout-preserving compact in `operators/refresh.py`.

No reference analogue (meilisync never manages storage layout); this
is engine-side operational tooling, like `operators/profile.py`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from meilisync_spark.sources.parquet import SPREAD_PIN_MIN_BYTES
from meilisync_spark.pin import SER as _SER

# a row group whose byte span exceeds the split target caps scan
# parallelism below what byte-range planning assumes (Spark default
# maxPartitionBytes = 128 MB — get_spark pins the same value)
SPLIT_TARGET_BYTES = 128 * 1024 * 1024

LAYOUT_SCHEMA = (
    "file string, file_bytes long, row_groups int, rows long, "
    "max_rg_rows long, max_rg_bytes long, needs_rewrite boolean"
)


def layout_report(spark: SparkSession, table_dir: str, table: str | None = None) -> DataFrame:
    """(file, file_bytes, row_groups, rows, max_rg_rows, max_rg_bytes,
    needs_rewrite) — one row per parquet file under ``table_dir`` (or
    just ``<table>.parquet`` when given), from a distributed
    footer-only scan.

    ``needs_rewrite`` flags files whose scan will serialize: at least
    the unsplittable-pin floor in size (64 MB, the same constant
    spread() uses) AND a MAXIMUM per-row-group compressed byte span
    (sum of column-chunk total_compressed_size — the unit byte-range
    planning actually assigns to one task) above the 128 MB split
    target. The maximum, not the file-level average: a skewed file —
    one ~500 MB group plus many tiny ones — averages under the target
    while its scan still serializes on the big group, the exact
    pathology this audit exists to flag (ADVICE r8). Rewrite such
    files with a bounded row-group size (one pass — see the doctor
    CLI's ``--rewrite``) and the whole pin path in spread() becomes
    dead code for your data.
    """
    files = _list_files(table_dir, table)
    return _audit(spark, files).drop("path")


def _list_files(table_dir: str, table: str | None) -> list[str]:
    if table is not None:
        candidates = [os.path.join(table_dir, f"{table}.parquet")]
    else:
        # walk, not glob: glob's ``**`` neither follows the symlinked
        # partition dirs small-file compaction leaves behind
        # (operators/maintenance.py) nor would skipping its hidden
        # version dirs be guaranteed across versions
        candidates = []
        for root, dirs, fs in os.walk(table_dir, followlinks=True):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            candidates.extend(
                os.path.join(root, f)
                for f in fs
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
        candidates.sort()
    files = [f for f in candidates if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no parquet files under {table_dir!r}")
    return files


def _audit(spark: SparkSession, files: list[str]) -> DataFrame:
    """The distributed footer scan behind :func:`layout_report`, with
    the full ``path`` kept (the rewrite path needs it; the registry
    row's stable schema does not)."""
    sc = spark.sparkContext
    fdf = spark.createDataFrame([(f,) for f in files], "path string")
    if len(files) > 1:
        fdf = fdf.repartition(min(len(files), sc.defaultParallelism))

    # bind thresholds by VALUE: the closure must not reference module
    # globals (workers can't import the package from a non-repo cwd)
    pin_floor = SPREAD_PIN_MIN_BYTES
    split_target = SPLIT_TARGET_BYTES

    def _read_footers(batches):
        import os as _os

        import pandas as pd
        import pyarrow.parquet as _pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = _pq.read_metadata(p)
                n_rg = md.num_row_groups
                rg_rows, rg_bytes = [], []
                for i in range(n_rg):
                    rg = md.row_group(i)
                    rg_rows.append(rg.num_rows)
                    rg_bytes.append(
                        sum(
                            rg.column(j).total_compressed_size
                            for j in range(rg.num_columns)
                        )
                    )
                fbytes = _os.path.getsize(p)
                max_rg = max(rg_bytes) if rg_bytes else 0
                out.append(
                    (
                        p,
                        _os.path.basename(p),
                        fbytes,
                        n_rg,
                        md.num_rows,
                        max(rg_rows) if rg_rows else 0,
                        max_rg,
                        bool(fbytes >= pin_floor and max_rg > split_target),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "path", "file", "file_bytes", "row_groups", "rows",
                    "max_rg_rows", "max_rg_bytes", "needs_rewrite",
                ],
            )

    return fdf.mapInPandas(_read_footers, "path string, " + LAYOUT_SCHEMA)


def layout_rewrite(
    spark: SparkSession,
    table_dir: str,
    table: str | None = None,
    target_bytes: int | None = None,
) -> DataFrame:
    """Execute the audit's verdict: rewrite every ``needs_rewrite``
    file with bounded row groups, IN PLACE and atomically. Returns
    (file, rows, row_group_rows) — one row per rewritten file; empty
    when the audit is already clean.

    Swap primitive: each file is rewritten to a temp name in its own
    directory and ``rename(2)``-ed over the original — the same atomic
    POSIX primitive as `operators/refresh.py`'s symlink repoint, chosen
    over the symlink dance here because the unit is a single FILE (the
    symlink swap would turn a plain ``table.parquet`` file into a link
    to a part-file directory, changing the path's layout type for
    every downstream reader). Readers opening mid-rewrite see the old
    complete file or the new complete file, never a torn one.

    Distribution: one task per flagged file (mapInPandas over the
    flagged paths — at 100 TB the flagged set is file-granular and the
    rewrite IO streams row-group-batched through Arrow, never holding
    more than ~one output row group in memory). The per-file
    row-group row count is derived from the file's own bytes/row so
    each output group lands near HALF the split target — comfortably
    splittable even after compression-ratio drift.

    After the rename the old file's (mtime, size) is gone, so
    spread()'s pin cache can never serve stale pinned rows for the
    path (the key includes both — sources/parquet.py:_pin_cache_key),
    and a fresh scan plans one task per row group: the pin path is
    dead for rewritten data. The doctor CLI re-audits and asserts
    exactly that."""
    if target_bytes is None:
        target_bytes = SPLIT_TARGET_BYTES  # resolved at call time
    # a rewritten file must not just pass the byte audit — a scan of it
    # must actually parallelize, i.e. yield at least ~2× the session's
    # core count in row groups (spread() pins below defaultParallelism/2
    # effective splits); take the smaller of the byte-derived and
    # parallelism-derived group sizes
    min_splits = 2 * spark.sparkContext.defaultParallelism
    files = _list_files(table_dir, table)
    flagged = [
        (r.path, r.rows, r.file_bytes)
        for r in _audit(spark, files).where("needs_rewrite").collect()
    ]
    schema = "file string, rows long, row_group_rows int"
    if not flagged:
        return spark.createDataFrame([], schema)

    tgt = target_bytes

    def _rewrite(batches):
        import os as _os
        import uuid as _uuid

        import pandas as pd
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        for pdf in batches:
            out = []
            for p, n_rows, fbytes in zip(
                pdf["path"], pdf["rows"], pdf["file_bytes"]
            ):
                bytes_per_row = max(1.0, float(fbytes) / max(int(n_rows), 1))
                # half the split target per group (headroom for
                # compression-ratio drift between the old and new
                # encodings), further capped so the file yields at
                # least min_splits row groups; 64-row floor only
                # binds on toy targets
                by_bytes = (tgt // 2) / bytes_per_row
                by_splits = int(n_rows) / max(min_splits, 1)
                rg_rows = int(
                    max(64, min(1 << 20, by_bytes, max(1.0, by_splits)))
                )
                pf = _pq.ParquetFile(p)
                tmp = _os.path.join(
                    _os.path.dirname(p),
                    f".{_os.path.basename(p)}.rw-{_uuid.uuid4().hex[:8]}.tmp",
                )
                try:
                    with _pq.ParquetWriter(tmp, pf.schema_arrow) as w:
                        buf, buffered = [], 0
                        for batch in pf.iter_batches(
                            batch_size=min(rg_rows, 65536)
                        ):
                            buf.append(batch)
                            buffered += batch.num_rows
                            if buffered >= rg_rows:
                                w.write_table(
                                    _pa.Table.from_batches(buf),
                                    row_group_size=rg_rows,
                                )
                                buf, buffered = [], 0
                        if buf:
                            w.write_table(
                                _pa.Table.from_batches(buf),
                                row_group_size=rg_rows,
                            )
                    _os.rename(tmp, p)  # atomic same-dir replace
                except BaseException:
                    if _os.path.exists(tmp):
                        _os.unlink(tmp)
                    raise
                out.append((_os.path.basename(p), int(n_rows), rg_rows))
            yield pd.DataFrame(
                out, columns=["file", "rows", "row_group_rows"]
            )

    work = spark.createDataFrame(
        flagged, "path string, rows long, file_bytes long"
    ).repartition(min(len(flagged), spark.sparkContext.defaultParallelism))
    # eager: the rewrite is a side effect, run it exactly once
    return work.mapInPandas(_rewrite, schema).localCheckpoint(True, storageLevel=_SER)
