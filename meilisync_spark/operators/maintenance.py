"""Size-tiered small-file compaction for append-only indexes.

The streaming owners (streaming/corpus_ingest.py, streaming/
ann_ingest.py) append roughly ONE file per touched partition directory
per micro-batch — the bucket-key clustering already collapsed the
(task × directory) explosion, but a long run still ages linearly:
500 batches × 256 touched ``hb=``/``bb=`` directories ≈ 10⁵ small
files, and the probe stages that open those directories
(``band_index_open_prune`` measured 2.0 → 11.6 s from 500k → 2M docs
by the round-9 ingest stage probe, script and output at git 1e8543b)
pay for every one of them at listing time.

Why not the table-level rewrite on a cadence? ``compact_table``
(operators/refresh.py) is O(table) per invocation, so calling it every
N batches makes the AMORTIZED per-batch cost O(table/N) — a constant
that grows with the index, exactly the shape the streaming path exists
to avoid. The scale-correct design is the LSM one:

- work PER PARTITION DIRECTORY, never the whole table;
- merge only files in the same SIZE TIER (tier t = sizes in
  [floor·8^t, floor·8^(t+1))), and only when a tier holds ≥ 8 files —
  eight tier-t files merge into one tier-(t+1) file, so every byte is
  rewritten at most O(log(target/batch_file)) ≈ 5-6 times ever, and a
  directory's steady-state file count is bounded by
  8 × #tiers (≈ 50) REGARDLESS of how many batches ran;
- files at/above ``stop_bytes`` are never touched again.

Atomicity (readers see old file set or new, never a mix, never
duplicates): each compacted directory is rebuilt as a HIDDEN sibling
version dir (``.{name}.v<tag>`` — Spark's file index ignores dot/
underscore-prefixed names at every level) holding the merged file
plus HARDLINKS to the kept files, then the visible name is repointed
at it. Once a directory is a symlink the repoint is one atomic
rename; the first compaction of a plain directory performs the same
one-time non-atomic dir→symlink conversion ``refresh_data`` documents
for table roots, and :func:`heal_partition_dirs` repairs the
crash-in-the-gap case (``.{name}.old*`` present, visible name absent)
before any probe runs — the ingest owners call it at stream start.

SINGLE WRITER, same contract as the appends themselves: compaction
must run in the thread that owns the index (the foreachBatch
callback, between batches), because it re-reads the directory it is
about to swap — a concurrent append between read and swap would be
dropped.

At real 100-TB deployments on object stores this job is the table
format's OPTIMIZE / rewrite_data_files with bin-packing; this module
is the same policy on bare partitioned parquet, which is what the
sandbox's ingest owners maintain.

MIXED LAYOUTS ARE UNSUPPORTED for compaction (decision, round 12): a
directory holding loose parquet files BESIDE partition subdirs could
only be compacted in place (the version-dir swap carries files via
hardlink, not subtrees), and in-place merge-then-unlink breaks the
readers-see-old-or-new guarantee everything above rests on. Such
directories are counted in the aging metric and logged every tick,
never rewritten; the supported migration is to move the loose files
into a partition (or a separate flat table) and let the tier policy
take over. Pinned by tests/test_maintenance.py::
test_mixed_layout_counted_not_compacted.

Reference analogue: none (the reference keeps no on-disk indexes);
this serves the streaming-ingest extension's aging axis
(VERDICT r9 §next-round #1).
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import time
import uuid

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

# The exact shapes this module generates (and therefore the ONLY
# hidden siblings the orphan sweep may delete): ``.{name}.v<12hex>``
# version dirs, ``.{name}.b<12hex>-<gi>`` Spark build dirs,
# ``.{name}.old<12hex>`` first-conversion renames, ``.{name}.l<12hex>``
# symlink-swap temps. Anything else dot-prefixed (a user's
# ``.data.backup``, a foreign tool's stash) is not ours to touch.
_VERSION_RE = re.compile(r"\.(.+)\.(v|b|old|l)([0-9a-f]{12})(-\d+)?")

# Size tiers: tier t covers [TIER_FLOOR_BYTES * 8^t, ... * 8^(t+1)).
# Everything below the floor shares tier 0 (micro-batch appends land
# there); a tier compacts when it accumulates TIER_FILES files, and
# eight tier-t files produce roughly one tier-(t+1) file.
TIER_FLOOR_BYTES = 64 * 1024
TIER_FACTOR = 8
TIER_FILES = 8
# files at/above this size are done: never merged again (matches
# compact_table's target_file_bytes default)
STOP_BYTES = 128 * 1024 * 1024

# Minimum wall-clock age before a superseded version/old/build dir is
# swept. The owners audit every batch (compact_every=1), so "one
# cadence tick of grace" can be seconds — too short for an external
# reader mid-scan (ADVICE r11). ctime is the right clock: os.rename
# updates the renamed dir's ctime, so a just-superseded ``.old`` dir
# reads as fresh even though its contents are old.
SWEEP_GRACE_SECONDS = 180.0

# Merge groups at/below this total merge DRIVER-SIDE with pyarrow:
# a cadence tick can touch hundreds of directories, and one Spark job
# per group is ~50-100 ms of scheduler overhead against microseconds
# of actual I/O for eight 100 KB files — 512 sequential jobs per tick
# would dwarf the work. Steady state is almost entirely tier-0/1
# merges, so the Spark path (distributed read, real parallelism)
# engages only for the rare big-tier merges where it earns its
# overhead.
DRIVER_MERGE_BYTES = 64 * 1024 * 1024


def _tier(size: int) -> int:
    t, bar = 0, TIER_FLOOR_BYTES * TIER_FACTOR
    while size >= bar:
        t += 1
        bar *= TIER_FACTOR
    return t


def _hidden(name: str) -> bool:
    return name.startswith(".") or name.startswith("_")


def _data_dirs(index_path: str) -> list[str]:
    """Data directories of a table: the partition dirs of a hive
    layout, or the root itself for a flat layout. A MIXED directory
    (loose parquet files sitting beside partition subdirs — legacy
    flat+partitioned layouts) is emitted too, so its files count in
    the aging metric; ``compact_small_files`` excludes it from swaps
    (the version-dir swap can't carry subdirectories atomically).
    Hidden entries (version dirs, Spark metadata) are skipped;
    symlinked partition dirs (already-compacted ones) are followed via
    their visible name."""
    root = index_path.rstrip("/")
    if not os.path.isdir(os.path.realpath(root)):
        return []
    out: list[str] = []
    stack = [root]
    while stack:
        d = stack.pop()
        real = os.path.realpath(d)
        entries = [e for e in os.listdir(real) if not _hidden(e)]
        subs = [e for e in entries if os.path.isdir(os.path.join(real, e))]
        if subs:
            stack.extend(os.path.join(d, e) for e in subs)
        if any(e.endswith(".parquet") for e in entries):
            out.append(d)
    return out


def _is_mixed(dirpath: str) -> bool:
    """True when a directory holds both visible subdirectories and
    loose parquet files — the one layout the atomic dir swap cannot
    rebuild (hardlinks carry files, not subtrees)."""
    real = os.path.realpath(dirpath)
    entries = [e for e in os.listdir(real) if not _hidden(e)]
    return any(
        os.path.isdir(os.path.join(real, e)) for e in entries
    ) and any(e.endswith(".parquet") for e in entries)


def _plan_dir(dirpath: str) -> list[list[str]]:
    """Merge groups for one directory: per size tier below STOP_BYTES,
    the full file list when it holds ≥ TIER_FILES files. Deterministic
    (sorted names) so replays plan identically."""
    real = os.path.realpath(dirpath)
    tiers: dict[int, list[str]] = {}
    for name in sorted(os.listdir(real)):
        if _hidden(name) or not name.endswith(".parquet"):
            continue
        size = os.path.getsize(os.path.join(real, name))
        if size >= STOP_BYTES:
            continue
        tiers.setdefault(_tier(size), []).append(name)
    return [names for _, names in sorted(tiers.items())
            if len(names) >= TIER_FILES]


def _swap_dir(dirpath: str, version_dir: str, tag: str) -> None:
    """Repoint the visible directory name at the new version dir.
    Symlink → atomic rename of a fresh symlink over it; plain dir →
    the one-time rename-away + symlink conversion (crash in the gap is
    repaired by heal_partition_dirs).

    The SUPERSEDED directory is NOT deleted here: a reader in another
    process that listed the partition before the swap (an ANN search
    or analytics session) may still be scanning files inside it, and
    an immediate rmtree would fail it mid-scan (ADVICE r10 medium).
    Superseded dirs are hidden orphans (``.{name}.v…`` / ``.old…``)
    that ``_sweep_orphans`` removes on a LATER cadence tick / heal
    pass, and only once ``SWEEP_GRACE_SECONDS`` of wall clock has
    passed since they were superseded — the owners audit every batch,
    so tick count alone is no protection (ADVICE r11)."""
    parent, name = os.path.split(dirpath.rstrip("/"))
    target = os.path.abspath(version_dir)
    if os.path.islink(dirpath):
        tmp = os.path.join(parent, f".{name}.l{tag}")
        os.symlink(target, tmp)
        os.replace(tmp, dirpath)
    else:
        old = os.path.join(parent, f".{name}.old{tag}")
        os.rename(dirpath, old)
        os.symlink(target, dirpath)


def _sweep_orphans(index_path: str, grace_seconds: float | None = None) -> int:
    """Remove superseded version/build/old dirs (and stale swap-temp
    symlinks) that no live symlink points at. Matches ONLY the exact
    shapes this module generates (``_VERSION_RE``), and — because a
    12-hex tag also matches an all-digit foreign suffix like
    ``.backup.old199912312359`` — additionally requires the visible
    sibling ``{name}`` to exist for the v/b shapes before treating an
    entry as module-generated (ADVICE r11; a genuine version/build dir
    always sits beside its live visible name). Swap-temp ``.l`` links
    are unlinked unconditionally: they are a crashed ``os.replace``
    staging link, never a data source, and the ones pointing at the
    CURRENTLY-live target would otherwise dodge the live_targets check
    forever (ADVICE r11). Dir removal waits ``grace_seconds``
    (default ``SWEEP_GRACE_SECONDS``) of wall clock after the entry
    was created/renamed, so external readers mid-scan get real time,
    not just one audit tick. Returns the number of entries removed."""
    if grace_seconds is None:
        grace_seconds = SWEEP_GRACE_SECONDS
    root = os.path.realpath(index_path.rstrip("/"))
    if not os.path.isdir(root):
        return 0
    removed = 0
    now = time.time()
    for parent, dirs, _files in os.walk(root):
        live_targets = set()
        for e in list(dirs):
            p = os.path.join(parent, e)
            if not _hidden(e) and os.path.islink(p):
                live_targets.add(os.path.realpath(p))
        for e in list(dirs):
            m = _VERSION_RE.fullmatch(e)
            if m is None:
                continue
            p = os.path.join(parent, e)
            if m.group(2) == "l" and os.path.islink(p):
                os.unlink(p)
                dirs.remove(e)
                removed += 1
                continue
            if os.path.realpath(p) in live_targets:
                continue
            visible = os.path.lexists(os.path.join(parent, m.group(1)))
            if m.group(2) == "old" and not visible:
                continue  # heal's rename-back case, not an orphan
            if m.group(2) in ("v", "b") and not visible:
                continue  # foreign all-digit-tag dir, not ours
            try:
                if now - os.lstat(p).st_ctime < grace_seconds:
                    continue  # superseded too recently — readers get time
            except OSError:
                continue
            if os.path.islink(p):
                os.unlink(p)
            else:
                shutil.rmtree(p, ignore_errors=True)
            dirs.remove(e)
            removed += 1
    return removed


def heal_partition_dirs(index_path: str) -> int:
    """Repair the first-conversion crash window: a ``.{name}.old<tag>``
    sibling whose visible name is missing is renamed back. Also sweeps
    orphaned version/build dirs no live symlink points at. Returns the
    number of heals. The ingest owners run this at stream start, so
    the invariant ('every key the sidecar covers has its row visible')
    is restored before the first probe."""
    root = os.path.realpath(index_path.rstrip("/"))
    if not os.path.isdir(root):
        return 0
    healed = 0
    for parent, dirs, _files in os.walk(root):
        for e in list(dirs):
            m = _VERSION_RE.fullmatch(e)
            if m is None or m.group(2) != "old":
                continue
            visible = os.path.join(parent, m.group(1))
            if not os.path.lexists(visible):
                # Guard against foreign all-digit tags (``.backup.
                # old199912312359`` is hex-shaped): a genuine
                # rename-away victim was a live data dir, so it holds
                # at least one parquet file (ADVICE r11).
                src = os.path.join(parent, e)
                if not any(
                    n.endswith(".parquet")
                    for n in os.listdir(os.path.realpath(src))
                ):
                    continue
                os.rename(src, visible)
                healed += 1
                dirs.remove(e)
    _sweep_orphans(index_path)
    return healed


def _compact_dir(spark: SparkSession, dirpath: str,
                 groups: list[list[str]]) -> int:
    """Rebuild one directory: each merge group coalesces to one file;
    every other regular file (kept parquet AND non-parquet sidecars
    like _meta.json) is HARDLINKED into the version dir, so the swap
    carries the directory's full contents. Returns files removed."""
    real = os.path.realpath(dirpath)
    parent, name = os.path.split(dirpath.rstrip("/"))
    merged = {n for g in groups for n in g}
    tag = uuid.uuid4().hex[:12]
    ver = os.path.join(parent, f".{name}.v{tag}")
    os.makedirs(ver)
    removed = 0
    try:
        for gi, group in enumerate(groups):
            paths = [os.path.join(real, n) for n in group]
            total = sum(os.path.getsize(p) for p in paths)
            if total <= DRIVER_MERGE_BYTES:
                # driver-side pyarrow merge: no scheduler round-trip
                import pyarrow.parquet as pq

                out = os.path.join(ver, f"tier-{tag}-{gi}-0.parquet")
                tmp = out + ".tmp"
                # int96 timestamps: Spark writes INT96 by default, so
                # pyarrow reads them back as timestamp[ns]; letting it
                # write TIMESTAMP(NANOS) would produce the one parquet
                # timestamp form Spark's reader REJECTS (the nanos
                # gotcha from TESTDATA.md). INT96 stays readable
                # whatever outputTimestampType the writer session used.
                pq.write_table(
                    pq.read_table(paths), tmp,
                    use_deprecated_int96_timestamps=True,
                )
                os.replace(tmp, out)
                removed += len(group) - 1
                continue
            build = os.path.join(parent, f".{name}.b{tag}-{gi}")
            (
                spark.read.parquet(*paths)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(build)
            )
            k = 0
            for f in sorted(os.listdir(build)):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(build, f),
                        os.path.join(ver, f"tier-{tag}-{gi}-{k}.parquet"),
                    )
                    k += 1
            shutil.rmtree(build, ignore_errors=True)
            removed += len(group) - k
        for e in os.listdir(real):
            if _hidden(e) and e != "_SUCCESS" and not e.endswith(".json"):
                continue
            src = os.path.join(real, e)
            if e not in merged and os.path.isfile(src):
                os.link(src, os.path.join(ver, e))
    except BaseException:
        shutil.rmtree(ver, ignore_errors=True)
        raise
    _swap_dir(dirpath, ver, tag)
    return removed


def compact_small_files(spark: SparkSession, index_path: str,
                        max_dirs: int | None = None) -> dict:
    """The cadence entry point: audit every data directory, compact
    each tier holding ≥ TIER_FILES sub-STOP_BYTES files, worst
    directories first. ``max_dirs`` bounds one invocation's work (the
    remainder ages one more cadence interval — the audit is
    deterministic, so it gets picked up next time). Returns
    ``{"dirs_compacted": n, "files_removed": n, "files_after": n}``.

    Starts by sweeping dirs superseded on PREVIOUS ticks (deferred
    deletion — see ``_swap_dir``), so external readers get a full
    cadence interval before an old file set disappears."""
    _sweep_orphans(index_path)
    plans: list[tuple[int, str, list[list[str]]]] = []
    total_after = 0
    n_mixed = 0
    for d in _data_dirs(index_path):
        groups = _plan_dir(d)
        real = os.path.realpath(d)
        n_files = sum(
            1 for e in os.listdir(real)
            if e.endswith(".parquet") and not _hidden(e)
        )
        total_after += n_files
        if groups and _is_mixed(d):
            # loose files beside partition subdirs: the version-dir
            # swap can't carry the subtrees atomically, so these age
            # uncompacted (counted above, excluded from plans).
            n_mixed += 1
            continue
        if groups:
            plans.append((sum(len(g) for g in groups), d, groups))
    if n_mixed:
        logger.warning(
            "compact_small_files(%s): %d mixed flat+partitioned "
            "director%s left uncompacted (loose files beside partition "
            "subdirs are out of scope for the atomic dir swap)",
            index_path, n_mixed, "y" if n_mixed == 1 else "ies",
        )
    plans.sort(key=lambda t: (-t[0], t[1]))
    if max_dirs is not None:
        plans = plans[:max_dirs]
    removed = 0
    for _, d, groups in plans:
        removed += _compact_dir(spark, d, groups)
    return {
        "dirs_compacted": len(plans),
        "files_removed": removed,
        "files_after": total_after - removed,
    }


def table_file_count(index_path: str) -> int:
    """Visible data-file count (the aging metric the soak probe
    records)."""
    return sum(
        1
        for d in _data_dirs(index_path)
        for e in os.listdir(os.path.realpath(d))
        if e.endswith(".parquet") and not _hidden(e)
    )
