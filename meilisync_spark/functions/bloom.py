"""Bloom-filter sidecar for append-only key indexes.

The streaming near-dedup probe (streaming/corpus_ingest.py) answers an
existence question per batch band: "does the stored band index contain
any row with my (band_idx, band_hash)?" For a steady-state trickle the
answer is almost always NO — the batch is new text — yet the probe
still opens and scans every bb= bucket the batch touches (measured 7 s
of the 12 s staged batch at 500k docs; round-9 ingest stage probe,
script and output at git 1e8543b). A
Bloom filter over the index's keys gives the NO answers without
touching the index at all: only bloom-POSITIVE bands proceed to the
real (exact) probe, and the bb= pruning shrinks to their buckets.

Correctness contract — ONE-SIDED error, and the side matters:

- ``contains == False`` MUST mean the key was never added. A false
  negative would silently skip the exact probe and re-admit a
  near-duplicate: wrong results, undetectable.
- ``contains == True`` means "maybe": the exact probe runs and decides.
  False positives cost only wasted probe work.

Callers therefore maintain a bloom-BEFORE-data write ordering: the
sidecar is updated and persisted before the keys' rows are appended to
the index. A crash between the two leaves extra bits (false positives
on keys whose rows never landed) — never missing bits. The reverse
ordering would make the crash window a correctness hole. An absent or
unreadable sidecar is always recoverable: rebuild from the index it
summarizes (``build_from_df``), which restores exactly the safe
superset invariant.

Design notes for 100 TB:

- The filter is a flat bitmap sized at build time (power of two).
  Membership bits come from double hashing: positions
  ``(h1 + i*h2) mod m`` for i in 0..k-1, with h1/h2 two independent
  64-bit xxhash64 values computed JVM-side (whole-stage codegen) so
  build and probe agree on bit positions by construction.
- Batch UPDATES are O(batch): the two hash columns of the batch's keys
  (a few longs per row) are collected and the bits set driver-side in
  numpy. No bitmap-sized shuffle per batch.
- REBUILDS are distributed: each partition ORs its keys into a local
  bitmap, zlib-compresses it (sparse partition bitmaps compress ~100×),
  and the driver ORs the per-partition results. Bitmap traffic is
  bounded by partitions, not rows.
- MEMBERSHIP tests are Arrow-batched (mapInPandas) against the
  broadcast bitmap — a bit-gather into a shared byte array is the one
  step Catalyst genuinely cannot express.
- Saturation degrades fpp, never correctness. ``projected_fpp`` tracks
  the standard (1 - e^{-kn/m})^k estimate from the add counter; callers
  rebuild at a larger size when it crosses their threshold.

Spark 3.3+ has an internal bloom pair (``bloom_filter_agg`` /
``might_contain``) used by runtime row-level filtering, but it is not
public SQL/DataFrame API — this module implements the same shape with
public primitives only.

Reference analogue: none (the reference has no index-probe surface);
this serves the north-star streaming dedup extension.
"""

from __future__ import annotations

import json
import math
import os
import tempfile
import zlib
from typing import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAGIC = "MLSBLOOM"
FORMAT_VERSION = 1
DEFAULT_BITS = 1 << 27  # 16 MiB: ~14M keys at 1% fpp
K_HASHES = 7  # optimal k for m/n ≈ 9.6 (the 1% design point)


def bloom_hash_cols(*cols: Column) -> list[Column]:
    """The two 64-bit base hashes, as JVM-side columns. xxhash64's seed
    is fixed (42) in the public API, so the second hash derives
    independence from a prepended constant column instead."""
    return [
        F.xxhash64(*cols).alias("_bh1"),
        F.xxhash64(F.lit(0x9E3779B9), *cols).alias("_bh2"),
    ]


def _positions(h1: np.ndarray, h2: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """(len, k) uint64 bit positions via double hashing. n_bits is a
    power of two so mod is a mask."""
    mask = np.uint64(n_bits - 1)
    steps = np.arange(k, dtype=np.uint64)
    # uint64 arithmetic wraps mod 2^64, which is exactly what double
    # hashing wants before the final mask
    return (h1[:, None] + steps[None, :] * h2[:, None]) & mask


def _as_u64(values) -> np.ndarray:
    a = np.asarray(values, dtype=np.int64)
    return a.view(np.uint64)


class BloomSidecar:
    """In-memory filter + its persistence. One file: a JSON header line
    (magic, version, n_bits, k, n_added) then the raw bitmap."""

    def __init__(self, n_bits: int = DEFAULT_BITS, k: int = K_HASHES,
                 bits: np.ndarray | None = None, n_added: int = 0):
        if n_bits & (n_bits - 1):
            raise ValueError(f"n_bits must be a power of two, got {n_bits}")
        self.n_bits = n_bits
        self.k = k
        self.n_added = n_added
        self.bits = (
            bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)
        )
        if self.bits.nbytes != n_bits // 8:
            raise ValueError(
                f"bitmap is {self.bits.nbytes} B, expected {n_bits // 8}"
            )

    # --- core bit ops (numpy, vectorized) ---

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        if len(h1) == 0:
            return
        pos = _positions(_as_u64(h1), _as_u64(h2), self.n_bits, self.k).ravel()
        np.bitwise_or.at(
            self.bits, (pos >> np.uint64(3)).astype(np.int64),
            (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
        )
        self.n_added += len(h1)

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        pos = _positions(_as_u64(h1), _as_u64(h2), self.n_bits, self.k)
        byte = self.bits[(pos >> np.uint64(3)).astype(np.int64)]
        bit = (byte >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
        return bit.all(axis=1)

    def projected_fpp(self, extra_keys: int = 0) -> float:
        """Standard estimate (1 - e^{-kn/m})^k from the add counter.
        The counter overcounts replayed batches — which only OVERstates
        fpp, triggering growth early, never late."""
        n = self.n_added + extra_keys
        return (1.0 - math.exp(-self.k * n / self.n_bits)) ** self.k

    # --- persistence (atomic single file) ---

    def save(self, path: str) -> None:
        header = json.dumps(
            {
                "magic": MAGIC,
                "version": FORMAT_VERSION,
                "n_bits": self.n_bits,
                "k": self.k,
                "n_added": self.n_added,
            }
        ).encode()
        d = os.path.dirname(os.path.abspath(path)) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(prefix="._bloom_", dir=d)
        try:
            with os.fdopen(fd, "wb") as fh:
                fh.write(header + b"\n")
                fh.write(self.bits.tobytes())
            os.replace(tmp, path)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    @classmethod
    def load(cls, path: str) -> "BloomSidecar | None":
        """None when absent. Raises on a corrupt file — the caller
        decides whether to rebuild (the safe recovery) or fail; silently
        treating corruption as absence would be fine too (rebuild), but
        loud beats lucky."""
        if not os.path.exists(path):
            return None
        with open(path, "rb") as fh:
            header = fh.readline()
            meta = json.loads(header)
            if meta.get("magic") != MAGIC:
                raise ValueError(f"{path}: not a bloom sidecar")
            if meta.get("version") != FORMAT_VERSION:
                raise ValueError(
                    f"{path}: format version {meta.get('version')} "
                    f"(engine reads {FORMAT_VERSION})"
                )
            raw = fh.read()
        expected = meta["n_bits"] // 8
        if len(raw) != expected:
            raise ValueError(
                f"{path}: bitmap is {len(raw)} B, header says {expected}"
            )
        return cls(
            n_bits=meta["n_bits"],
            k=meta["k"],
            bits=np.frombuffer(raw, dtype=np.uint8).copy(),
            n_added=meta["n_added"],
        )


def size_for(n_keys: int, fpp: float = 0.01,
             floor_bits: int = DEFAULT_BITS,
             cap_bits: int = 1 << 33) -> int:
    """Power-of-two bitmap size for n keys at the target fpp
    (m = -n ln p / ln²2), clamped to [floor, cap]. The 1 GiB cap bounds
    driver/broadcast memory — past it the filter runs saturated-but-
    correct and the caller's fpp threshold stops asking for growth it
    can't have (past that point the sidecar converts to the sharded
    form, functions/bloom_sharded.py)."""
    wanted = int(-n_keys * math.log(fpp) / (math.log(2) ** 2)) if n_keys else 0
    bits = floor_bits
    while bits < wanted and bits < cap_bits:
        bits *= 2
    return bits


def add_df(bloom: BloomSidecar, df: DataFrame, cols: list[str]) -> None:
    """O(batch) update: collect the two hash longs per key row and set
    bits driver-side. Bounded by the batch the caller is already
    holding — never bitmap-sized traffic."""
    rows = df.select(*bloom_hash_cols(*[F.col(c) for c in cols])).collect()
    if rows:
        h1 = np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows))
        h2 = np.fromiter((r[1] for r in rows), dtype=np.int64, count=len(rows))
        bloom.add_hashes(h1, h2)


# Total executor heap the rebuild may spend on per-task bitmaps at any
# one time. EVERY concurrent _part task allocates a full n_bits/8 local
# bitmap — at the 2^33 cap that is 1 GiB per task, so an unbounded
# partition count multiplies to many GiB on a busy executor. Rebuilds
# near the cap therefore run at bounded parallelism (8 GiB / 1 GiB = 8
# concurrent tasks); small filters keep full parallelism.
REBUILD_TASK_BYTES = 8 << 30


def build_from_df(df: DataFrame, cols: list[str], n_bits: int,
                  k: int = K_HASHES) -> BloomSidecar:
    """Distributed rebuild: per-partition bitmaps OR-ed on the driver.
    Each partition ships one zlib-compressed bitmap (sparse partition
    maps compress ~100×), so driver traffic is O(partitions), not
    O(rows). Partition count is coalesced so concurrent per-task
    bitmaps stay within REBUILD_TASK_BYTES of executor heap."""
    hashed = df.select(*bloom_hash_cols(*[F.col(c) for c in cols]))
    max_parts = max(2, int(REBUILD_TASK_BYTES // max(1, n_bits // 8)))
    if hashed.rdd.getNumPartitions() > max_parts:
        hashed = hashed.coalesce(max_parts)
    nb, kk = n_bits, k

    def _part(batches: Iterator) -> Iterator:
        import pandas as pd

        bits = np.zeros(nb // 8, dtype=np.uint8)
        n = 0
        for pdf in batches:
            h1 = pdf["_bh1"].to_numpy(dtype=np.int64)
            h2 = pdf["_bh2"].to_numpy(dtype=np.int64)
            pos = _positions(
                h1.view(np.uint64), h2.view(np.uint64), nb, kk
            ).ravel()
            np.bitwise_or.at(
                bits, (pos >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
            )
            n += len(h1)
        if n:
            yield pd.DataFrame(
                {"bm": [zlib.compress(bits.tobytes(), 1)], "n": [n]}
            )

    parts = hashed.mapInPandas(_part, "bm binary, n long").collect()
    bloom = BloomSidecar(n_bits=nb, k=kk)
    for row in parts:
        bloom.bits |= np.frombuffer(
            zlib.decompress(row["bm"]), dtype=np.uint8
        )
        bloom.n_added += row["n"]
    return bloom


def _mark_with_filters(df: DataFrame, filters: list, cols: list[str],
                       out_col: str, cache_token=None) -> DataFrame:
    """df + a boolean column: False = key definitely in none of the
    filters (skip the exact probe), True = maybe (probe decides).
    Arrow-batched gather against the broadcast bitmaps; ``cache_token``
    (when set) reuses the FIRST filter's broadcast across calls — the
    main bitmap of a LoggedBloom only changes at folds, so re-shipping
    it per micro-batch would make broadcast serialization an
    index-size-dependent per-batch cost."""
    spark = df.sparkSession
    bcs = []
    for i, fl in enumerate(filters):
        token = cache_token if (i == 0 and cache_token is not None) else None
        bcs.append(_broadcast_bits(spark, fl, token))
    hashed = df.select("*", *bloom_hash_cols(*[F.col(c) for c in cols]))
    out_schema = hashed.drop("_bh1", "_bh2").schema.add(out_col, "boolean")

    def _test(batches: Iterator) -> Iterator:
        views = [
            (np.frombuffer(bc.value[0], dtype=np.uint8), bc.value[1], bc.value[2])
            for bc in bcs
        ]
        for pdf in batches:
            h1 = pdf["_bh1"].to_numpy(dtype=np.int64)
            h2 = pdf["_bh2"].to_numpy(dtype=np.int64)
            res = pdf.drop(columns=["_bh1", "_bh2"])
            if len(h1):
                hit = np.zeros(len(h1), dtype=bool)
                u1, u2 = h1.view(np.uint64), h2.view(np.uint64)
                for bits, nb, kk in views:
                    pos = _positions(u1, u2, nb, kk)
                    byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
                    hit |= ((byte >> (pos & np.uint64(7)).astype(np.uint8))
                            & np.uint8(1)).all(axis=1)
            else:
                hit = np.zeros(0, dtype=bool)
            res[out_col] = hit
            yield res

    return hashed.mapInPandas(_test, out_schema)


# (applicationId, token) → Broadcast of (bits bytes, n_bits, k); tiny
# LRU — one entry per sidecar a session actively probes
_BC_CACHE: dict = {}
_BC_CACHE_MAX = 4


def _unpersist_quiet(bc) -> None:
    """Release a broadcast's executor blocks now instead of waiting for
    Python GC + ContextCleaner — bitmap-sized blocks lingering across a
    long streaming session is exactly the block-manager pressure the
    serialized-pin work removed elsewhere."""
    try:
        bc.unpersist()
    except Exception:
        pass  # context already stopped / broadcast already destroyed


def _evict_bc_token(token) -> None:
    """Drop (and unpersist) every cache entry for a token that no
    longer names a live bitmap (e.g. the pre-fold main file)."""
    for key in [k for k in _BC_CACHE if k[1] == token]:
        _unpersist_quiet(_BC_CACHE.pop(key))


def _broadcast_bits(spark, bloom: BloomSidecar, token):
    if token is not None:
        key = (spark.sparkContext.applicationId, token)
        hit = _BC_CACHE.get(key)
        if hit is not None:
            return hit
    bc = spark.sparkContext.broadcast(
        (bloom.bits.tobytes(), bloom.n_bits, bloom.k)
    )
    if token is not None:
        while len(_BC_CACHE) >= _BC_CACHE_MAX:
            _unpersist_quiet(_BC_CACHE.pop(next(iter(_BC_CACHE))))
        _BC_CACHE[(spark.sparkContext.applicationId, token)] = bc
    return bc


def maybe_contains(df: DataFrame, bloom: BloomSidecar, cols: list[str],
                   out_col: str = "maybe_seen") -> DataFrame:
    """Single-filter membership mark (see _mark_with_filters)."""
    return _mark_with_filters(df, [bloom], cols, out_col)


def append_log_pairs(log_dir: str, df: DataFrame,
                     cols: list[str]) -> np.ndarray:
    """Append one atomic .npy of the batch keys' (h1, h2) pairs to a
    delta-log directory and return them — the shared O(batch) log
    write behind LoggedBloom.append_df and ShardedBloom.append_df."""
    hashed = df.select(*bloom_hash_cols(*[F.col(c) for c in cols]))
    if hasattr(hashed, "toArrow"):
        # Arrow batch collect (Spark 4+). Only the known absence modes
        # fall back to Row collect — both columns are plain BIGINT, so
        # an unsupported-type error can't legitimately occur here, and
        # a real execution failure (bad input file, OOM) must surface,
        # not silently re-run as a Row collect (VERDICT r10 nit).
        tbl = hashed.toArrow()
        pairs = np.stack(
            [
                tbl.column("_bh1").to_numpy(zero_copy_only=False),
                tbl.column("_bh2").to_numpy(zero_copy_only=False),
            ],
            axis=1,
        ).astype(np.int64, copy=False)
    else:
        rows = hashed.collect()
        pairs = np.array(
            [(r[0], r[1]) for r in rows], dtype=np.int64
        ).reshape(-1, 2)
    if not len(pairs):
        return pairs
    os.makedirs(log_dir, exist_ok=True)
    import uuid

    tmp = os.path.join(log_dir, f"._{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as fh:
        np.save(fh, pairs)
    os.replace(tmp, os.path.join(log_dir, f"{uuid.uuid4().hex}.npy"))
    return pairs


FOLD_KEYS = 2_000_000  # fold the delta log into the main filter past this

# Driver-side cache of loaded LoggedBloom sidecars: prefix → (disk
# token, instance). LoggedBloom.load re-reads the whole main bitmap
# (16 MiB default, up to 1 GiB at cap) plus every log chunk — a
# per-micro-batch cost that scales with FILTER size, not batch size,
# if done every batch. The single-writer contract makes caching safe:
# the one stream that owns the index is the only mutator, and it
# refreshes the cache token after each write, so a token match means
# the in-memory instance IS the disk state. Token mismatch (external
# rebuild, doctor rewrite, manual delete) falls back to a full load.
_LOAD_CACHE: dict = {}


class LoggedBloom:
    """Main filter + append-only delta log of raw key hashes — the
    per-batch maintenance shape that holds at index scale.

    Rewriting (and re-broadcasting) a right-sized main bitmap every
    micro-batch is itself an index-size-dependent cost: at 2M stored
    docs the band filter is already 64 MB, and a 10⁹-doc index wants
    gigabits. So batches never touch the main file — they append one
    small .npy of raw (h1, h2) pairs to ``<prefix>_bloom_log/``
    (atomic tmp+rename; O(batch) bytes). Membership = main bitmap OR a
    small delta bitmap built driver-side from the log pairs; the main
    bitmap's broadcast is cached across batches (it only changes at
    folds). When the log passes FOLD_KEYS, its pairs fold into the
    main bitmap in O(log) driver work — and if the main filter would
    saturate, it is rebuilt right-sized from the INDEX plus the log
    (index ∪ log covers every key ever appended, because the log is
    written before the index rows it covers).

    Crash windows, all one-sided: log append is atomic (a lost tmp
    file means the batch's index rows never landed either); a fold
    crash between main-save and log-delete leaves keys covered twice;
    a rebuild reads index ∪ log so it can never drop a covered key.

    SINGLE WRITER, like the index it summarizes: the sidecar is
    maintained by the one checkpointed stream that owns the index —
    two concurrent writers could interleave fold/save and lose each
    other's bits (the same rule as the corpus appends themselves).
    """

    def __init__(self, prefix: str, main: BloomSidecar,
                 pairs: np.ndarray, main_token=None):
        self.prefix = prefix
        self.main = main
        self.pairs = pairs  # (N, 2) int64 delta-log key hashes
        self._main_token = main_token

    # --- paths ---

    @staticmethod
    def _main_path(prefix: str) -> str:
        return prefix + "_bloom.bin"

    @staticmethod
    def _log_dir(prefix: str) -> str:
        return prefix + "_bloom_log"

    @classmethod
    def _disk_token(cls, prefix: str):
        """Cheap (stat + listdir) fingerprint of the sidecar's on-disk
        state: main file (mtime, size) + the sorted log chunk names."""
        mp, ld = cls._main_path(prefix), cls._log_dir(prefix)
        mt = None
        if os.path.exists(mp):
            st = os.stat(mp)
            mt = (st.st_mtime_ns, st.st_size)
        logs = (
            tuple(sorted(n for n in os.listdir(ld) if n.endswith(".npy")))
            if os.path.isdir(ld)
            else ()
        )
        return (mt, logs)

    def _refresh_cache(self) -> None:
        _LOAD_CACHE[self.prefix] = (self._disk_token(self.prefix), self)

    # --- lifecycle ---

    @classmethod
    def load(cls, prefix: str) -> "LoggedBloom | None":
        """None iff neither the main file nor a non-empty log exists."""
        mp, ld = cls._main_path(prefix), cls._log_dir(prefix)
        main = BloomSidecar.load(mp)
        chunks = []
        if os.path.isdir(ld):
            for name in sorted(os.listdir(ld)):
                if name.endswith(".npy"):
                    chunks.append(np.load(os.path.join(ld, name)))
        if main is None and not chunks:
            return None
        pairs = (
            np.concatenate(chunks) if chunks
            else np.empty((0, 2), dtype=np.int64)
        )
        if main is None:
            main = BloomSidecar()
        token = None
        if os.path.exists(mp):
            st = os.stat(mp)
            token = (mp, st.st_mtime_ns, st.st_size)
        return cls(prefix, main, pairs, token)

    @classmethod
    def load_cached(cls, prefix: str) -> "LoggedBloom | None":
        """load(), but O(stat) when this driver already holds the
        current state (the steady-state micro-batch path). Safe under
        the single-writer contract; any out-of-band change to the
        files invalidates the token and forces a real load."""
        token = cls._disk_token(prefix)
        hit = _LOAD_CACHE.get(prefix)
        if hit is not None and hit[0] == token:
            return hit[1]
        lb = cls.load(prefix)
        if lb is None:
            _LOAD_CACHE.pop(prefix, None)
        else:
            _LOAD_CACHE[prefix] = (token, lb)
        return lb

    @classmethod
    def fresh(cls, prefix: str) -> "LoggedBloom":
        return cls(prefix, BloomSidecar(),
                   np.empty((0, 2), dtype=np.int64))

    @classmethod
    def from_main(cls, prefix: str, main: BloomSidecar) -> "LoggedBloom":
        """Wrap a just-rebuilt main filter (e.g. the legacy-index
        recovery scan) and persist it immediately — the safe-superset
        invariant must survive a crash before the first fold."""
        mp = cls._main_path(prefix)
        main.save(mp)
        st = os.stat(mp)
        lb = cls(prefix, main, np.empty((0, 2), dtype=np.int64),
                 (mp, st.st_mtime_ns, st.st_size))
        lb._refresh_cache()
        return lb

    @classmethod
    def remove(cls, prefix: str) -> None:
        """The disabled path: present ⟹ maintained, so take both parts
        away rather than let them go stale."""
        _LOAD_CACHE.pop(prefix, None)
        mp, ld = cls._main_path(prefix), cls._log_dir(prefix)
        if os.path.exists(mp):
            os.remove(mp)
        if os.path.isdir(ld):
            import shutil

            shutil.rmtree(ld)

    # --- queries ---

    def n_keys(self) -> int:
        return self.main.n_added + len(self.pairs)

    def projected_fpp(self, extra_keys: int = 0) -> float:
        return self.main.projected_fpp(len(self.pairs) + extra_keys)

    def mark(self, df: DataFrame, cols: list[str],
             out_col: str = "maybe_seen") -> DataFrame:
        filters = [self.main]
        if len(self.pairs):
            delta = BloomSidecar(
                n_bits=size_for(len(self.pairs), fpp=1e-4,
                                floor_bits=1 << 17)
            )
            delta.add_hashes(self.pairs[:, 0], self.pairs[:, 1])
            filters.append(delta)
        return _mark_with_filters(df, filters, cols, out_col,
                                  cache_token=self._main_token)

    # --- writes ---

    def record_batch(self, df: DataFrame, cols: list[str],
                     index: DataFrame | None, target_fpp: float,
                     rebuild_bar: float) -> None:
        """The one write entry point, bloom-first by contract. Trickle
        batches (< FOLD_KEYS keys) append to the log — O(batch) bytes,
        main untouched; when the accumulated log passes FOLD_KEYS it
        folds. BULK batches (a backfill landing ≥ FOLD_KEYS keys at
        once) never collect their keys: the delta bitmap is built
        distributed (build_from_df) and OR-ed into the main
        driver-side — traffic bounded by bitmap size, not rows — with
        a right-sized growth rebuild first when the merged filter
        would saturate."""
        n_batch = df.count()
        if n_batch == 0:
            return
        if n_batch < FOLD_KEYS:
            self.append_df(df, cols)
            self.fold_if_due(index, cols, target_fpp, rebuild_bar)
            return
        grow = (
            self.main.projected_fpp(len(self.pairs) + n_batch) > rebuild_bar
            and self.main.n_bits < size_for(10**12)
        )
        nbits = (
            size_for(int(1.25 * (self.n_keys() + n_batch)), fpp=target_fpp)
            if grow
            else self.main.n_bits
        )
        delta = build_from_df(df, cols, nbits)
        if nbits != self.main.n_bits:
            self.main = (
                build_from_df(index, cols, nbits)
                if index is not None
                else BloomSidecar(n_bits=nbits)
            )
        # The pre-existing delta-log pairs must fold into main on BOTH
        # branches: _save_main_and_clear_log deletes the log files, so
        # a no-growth bulk batch that skipped this merge would strip
        # bloom coverage from every key the trickle batches logged —
        # false negatives on keys whose index rows exist.
        if len(self.pairs):
            self.main.add_hashes(self.pairs[:, 0], self.pairs[:, 1])
        self.main.bits |= delta.bits
        self.main.n_added += delta.n_added
        self._save_main_and_clear_log()

    def append_df(self, df: DataFrame, cols: list[str]) -> None:
        """O(batch): collect the batch keys' hash pairs into one log
        file. Never touches the main bitmap."""
        pairs = append_log_pairs(self._log_dir(self.prefix), df, cols)
        if not len(pairs):
            return
        self.pairs = (
            np.concatenate([self.pairs, pairs]) if len(self.pairs) else pairs
        )
        self._refresh_cache()

    def fold_if_due(self, index: DataFrame | None, key: list[str],
                    target_fpp: float, rebuild_bar: float,
                    force: bool = False) -> None:
        """Past FOLD_KEYS log pairs (or on ``force``), fold them into
        the main bitmap (O(log) driver work). If the folded filter
        would sit past the rebuild bar, rebuild the main right-sized
        from index ∪ log first. Fold order: save main, then delete log
        files — a crash between covers keys twice, never zero times."""
        if not force and len(self.pairs) < FOLD_KEYS:
            return
        if (
            self.main.projected_fpp(len(self.pairs)) > rebuild_bar
            and self.main.n_bits < size_for(10**12)
        ):
            n = self.n_keys()
            nbits = size_for(int(1.25 * n), fpp=target_fpp)
            if index is not None:
                main = build_from_df(index, key, nbits)
            else:
                main = BloomSidecar(n_bits=nbits)
            self.main = main
        self.main.add_hashes(self.pairs[:, 0], self.pairs[:, 1])
        self._save_main_and_clear_log()

    def _save_main_and_clear_log(self) -> None:
        """Fold order: save main, then delete log files — a crash
        between covers keys twice, never zero times."""
        ld = self._log_dir(self.prefix)
        folded = (
            [n for n in os.listdir(ld) if n.endswith(".npy")]
            if os.path.isdir(ld)
            else []
        )
        mp = self._main_path(self.prefix)
        self.main.save(mp)
        for name in folded:
            os.remove(os.path.join(ld, name))
        self.pairs = np.empty((0, 2), dtype=np.int64)
        # Re-token from the file just written (it IS self.main) so the
        # next mark() broadcast-caches under the new identity instead
        # of re-shipping every batch; release the stale broadcast now.
        if self._main_token is not None:
            _evict_bc_token(self._main_token)
        st = os.stat(mp)
        self._main_token = (mp, st.st_mtime_ns, st.st_size)
        self._refresh_cache()
