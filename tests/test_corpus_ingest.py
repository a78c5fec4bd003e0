"""Streaming corpus ingestion: the final index equals the batch-global
exact dedup regardless of micro-batch boundaries, duplicates planted
across batches never re-enter, and appends are O(batch)."""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import functions as F

from meilisync_spark.operators.dedup import exact_dedup
from meilisync_spark.streaming.corpus_ingest import run_corpus_ingest
from tests.conftest import SF_SMOKE


def _stage_batches(spark, out_dir: str) -> None:
    """Three single-file batches ordered by doc_id, with batch 2 and 3
    re-shipping some batch-1 texts under new doc_ids (cross-batch
    duplicates) and batch 3 replaying a batch-2 doc verbatim."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").orderBy("doc_id")
    rows = docs.collect()
    third = len(rows) // 3
    b1, b2, b3 = rows[:third], rows[third : 2 * third], rows[2 * third :]
    # duplicate content across batches: batch2 carries 5 batch1 texts
    # under fresh ids; batch3 replays one batch2 row verbatim
    max_id = max(r.doc_id for r in rows)
    dup_rows = [
        (max_id + i + 1, r.text, r.lang, r.source, r.n_chars)
        for i, r in enumerate(b1[:5])
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    os.makedirs(out_dir)
    for i, batch in enumerate(
        [
            [tuple(r) for r in b1],
            [tuple(r) for r in b2] + dup_rows,
            [tuple(r) for r in b3] + [tuple(b2[0])],
        ]
    ):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            os.path.join(out_dir, f"stage_{i}")
        )
        # move the part file up so the stream dir is flat, arrival-ordered
        part = glob.glob(os.path.join(out_dir, f"stage_{i}", "part-*.parquet"))[0]
        os.rename(part, os.path.join(out_dir, f"batch_{i}.parquet"))


def test_streaming_ingest_equals_batch_exact_dedup(spark, tmp_path):
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    _stage_batches(spark, src)
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    got = spark.read.parquet(idx)
    # one row per distinct content, carrying the min doc_id (because
    # batches arrive in doc_id order, first-sighting == min id)
    expected = exact_dedup(
        spark.read.parquet(src).select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
    )
    exp = {r.content_hash: r.canonical_id for r in expected.collect()}
    got_map = {r.content_hash: r.doc_id for r in got.collect()}
    assert got_map == exp
    # and every content hash is unique in the index
    assert got.count() == got.select("content_hash").distinct().count()


def test_quality_gate_drops_before_index(spark, tmp_path):
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    os.makedirs(src)
    import itertools

    words = [
        "".join(t) for t in itertools.islice(itertools.product("abcde", repeat=4), 60)
    ]
    body = " ".join(words)
    rows = [
        (1, body, "en", "src0", 300),   # long + varied: kept
        (2, "tiny", "en", "src0", 4),   # too_short: dropped
        (3, body, "en", "src1", 300),   # dup of 1: dropped
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(src + "/b")
    part = glob.glob(src + "/b/part-*.parquet")[0]
    os.rename(part, src + "/batch_0.parquet")
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"), apply_quality=True
    )
    got = spark.read.parquet(idx)
    assert [r.doc_id for r in got.collect()] == [1]


def test_near_dedup_drops_cross_batch_near_duplicates(spark, tmp_path):
    """near_dedup=True: a batch-2 doc that is a light edit of a batch-1
    doc (same text, one word changed) verifies against the stored band
    index and is dropped; an unrelated batch-2 doc survives."""
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    os.makedirs(src)
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch from a mossy stone bridge near the river "
        "and a cold wind moves slowly through the tall dry grass"
    )
    near = base.replace("cold wind", "warm wind")
    other = (
        "completely unrelated content about distributed query engines "
        "and shuffle partitioning strategies for very large clusters "
        "with adaptive execution and broadcast join planning decisions"
    )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    batches = [
        [(1, base, "en", "src0", len(base))],
        [(2, near, "en", "src0", len(near)), (3, other, "en", "src1", len(other))],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            src + f"/b{i}"
        )
        part = glob.glob(src + f"/b{i}/part-*.parquet")[0]
        os.rename(part, src + f"/batch_{i}.parquet")
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"),
        near_dedup=True, max_files_per_trigger=1,
    )
    got = sorted(r.doc_id for r in spark.read.parquet(idx).collect())
    assert got == [1, 3]
    # the band index carries EVERY seen doc — dropped near-dups
    # included, so later near-dups of a dropped doc still match
    # (batch-boundary independence)
    bands = spark.read.parquet(idx + "_bands")
    assert sorted(
        r.doc_id for r in bands.select("doc_id").distinct().collect()
    ) == [1, 2, 3]


def test_near_dup_of_dropped_doc_blocked_across_batches(spark, tmp_path):
    """Batch-boundary independence: A in the corpus; B (near-dup of A)
    dropped in a later batch; C — a near-dup of B but NOT of A — must
    still be dropped when it arrives in yet another batch. Requires
    dropped docs' bands to be stored; with survivor-only bands C would
    silently survive exactly when B and C arrive in different
    batches."""
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    os.makedirs(src)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    a = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch from a mossy stone bridge near the river "
        "and a cold wind moves slowly through the tall dry grass today"
    )
    # b: three words changed from a (est_jaccard(a,b)=0.5625 — still a
    # near-dup). c: one further change from b — est_jaccard(b,c)=0.8125
    # but est_jaccard(a,c)=0.4375, under the tau=0.5 bar
    b = (a.replace("cold wind", "warm wind")
          .replace("mossy stone", "slick stone")
          .replace("dry grass", "wet grass"))
    c = b.replace("lazy dog", "idle dog")

    def _ship(i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + f"/b{i}")
        part = glob.glob(src + f"/b{i}/part-*.parquet")[0]
        os.rename(part, src + f"/batch_{i}.parquet")

    _ship(0, [(1, a, "en", "src0", len(a))])
    _ship(1, [(2, b, "en", "src0", len(b))])
    _ship(2, [(3, c, "en", "src0", len(c))])
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"),
        near_dedup=True, max_files_per_trigger=1,
    )
    from meilisync_spark.operators.dedup import minhash_signatures
    from meilisync_spark.streaming.corpus_ingest import _est_jaccard

    sigs = minhash_signatures(spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"))
    j = {
        (r.a, r.b): r.j
        for r in sigs.alias("x").join(sigs.alias("y"), F.lit(True))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
                _est_jaccard(F.col("x.sig"), F.col("y.sig")).alias("j"))
        .collect()
    }
    # the scenario's premise must hold on the real signatures
    assert j[(1, 2)] >= 0.5 and j[(2, 3)] >= 0.5 and j[(1, 3)] < 0.5, j
    got = sorted(r.doc_id for r in spark.read.parquet(idx).collect())
    assert got == [1]  # b dropped against a; c dropped against b's bands


def test_crash_between_band_and_corpus_append_recovers(spark, tmp_path):
    """Bands append BEFORE documents, so the only possible crash window
    leaves dangling band rows with no corpus doc. After restart: (a)
    the at-least-once replay of the crash-window doc must re-enter the
    corpus — its own dangling bands must NOT drop it as a near-dup of
    itself; (b) a later near-duplicate of it must still be dropped.
    (The reverse write order would make (b) fail forever: the doc would
    be in the corpus with no bands, replay would drop it at the exact
    anti-join, and its bands would never be written.)"""
    from meilisync_spark.operators.dedup import lsh_bands, minhash_signatures
    from meilisync_spark.streaming.corpus_ingest import BAND_BUCKET_COL, _bb

    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    bands_path = idx + "_bands"
    os.makedirs(src)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch from a mossy stone bridge near the river "
        "and a cold wind moves slowly through the tall dry grass"
    )
    crash_doc = (
        "an entirely different story about container ships crossing "
        "the northern strait at dawn carrying spices and copper wire "
        "to ports where cranes lift pallets under heavy winter fog"
    )
    near_crash = crash_doc.replace("winter fog", "summer fog")

    def _ship(i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + f"/b{i}")
        part = glob.glob(src + f"/b{i}/part-*.parquet")[0]
        os.rename(part, src + f"/batch_{i}.parquet")

    # batch 0: the base corpus
    _ship(0, [(1, base, "en", "src0", len(base))])
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"),
        near_dedup=True, max_files_per_trigger=1,
    )

    # simulate the crash window for doc 2: its band rows land, the
    # corpus append never runs (the only window the write order allows)
    crash_rows = spark.createDataFrame(
        [(2, crash_doc, "en", "src0", len(crash_doc))], schema
    )
    sigs = minhash_signatures(crash_rows.select("doc_id", "text"))
    (
        lsh_bands(sigs)
        .withColumn(BAND_BUCKET_COL, _bb(F.col("band_hash")))
        .write.mode("append")
        .partitionBy(BAND_BUCKET_COL)
        .parquet(bands_path)
    )
    assert sorted(r.doc_id for r in spark.read.parquet(idx).collect()) == [1]

    # restart: the stream redelivers doc 2 (at-least-once), then a
    # near-duplicate arrives in a later batch
    _ship(1, [(2, crash_doc, "en", "src0", len(crash_doc))])
    _ship(2, [(3, near_crash, "en", "src0", len(near_crash))])
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"),
        near_dedup=True, max_files_per_trigger=1,
    )
    got = sorted(r.doc_id for r in spark.read.parquet(idx).collect())
    # doc 2 recovered (not self-dropped); doc 3 dropped as its near-dup
    assert got == [1, 2]


def test_cli_ingest_command(spark, tmp_path):
    from meilisync_spark.cli import main

    src = str(tmp_path / "incoming")
    _stage_batches(spark, src)
    rc = main([
        "ingest", "--source", src, "--index", str(tmp_path / "corpus"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    n = spark.read.parquet(str(tmp_path / "corpus")).count()
    distinct = spark.read.parquet(src).select(
        F.sha2(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), 256)
    ).distinct().count()
    assert n == distinct


def test_null_text_docs_dedup_across_batches(spark, tmp_path):
    """NULL-text docs hash to NULL; the null-safe anti-join must still
    dedup them across batches (first sighting wins, like the oracle's
    GROUP BY which buckets NULLs together)."""
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    os.makedirs(src)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    batches = [
        [(10, None, "en", "s", 0), (11, "real content here", "en", "s", 17)],
        [(20, None, "en", "s", 0)],  # second NULL-text doc: must be dropped
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + f"/b{i}")
        part = glob.glob(src + f"/b{i}/part-*.parquet")[0]
        os.rename(part, src + f"/batch_{i}.parquet")
    run_corpus_ingest(spark, src, idx, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    got = sorted(r.doc_id for r in spark.read.parquet(idx).collect())
    assert got == [10, 11]


def test_near_dedup_keeps_short_docs_and_drops_in_batch_twins(spark, tmp_path):
    """Docs too short for a MinHash signature survive near-dedup mode,
    and two near-twins arriving in the SAME batch resolve to the lower
    doc_id (batch boundaries don't change the corpus)."""
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    os.makedirs(src)
    base = (
        "seventeen green turtles watch from a mossy stone bridge near "
        "the river while a cold wind moves slowly through the dry grass"
    )
    near = base.replace("cold wind", "warm breeze")
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    rows = [
        (1, "hi", "en", "s", 2),          # < 1 shingle: no signature, kept
        (2, base, "en", "s", len(base)),
        (3, near, "en", "s", len(near)),  # in-batch near-twin of 2: dropped
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + "/b0")
    part = glob.glob(src + "/b0/part-*.parquet")[0]
    os.rename(part, src + "/batch_0.parquet")
    run_corpus_ingest(spark, src, idx, str(tmp_path / "ckpt"), near_dedup=True)
    got = sorted(r.doc_id for r in spark.read.parquet(idx).collect())
    assert got == [1, 2]
    # the band index carries every SIGNED doc — the dropped in-batch
    # twin included (its bands are the memory that blocks later
    # near-dups of it); the unsigned short doc stays out
    bands = spark.read.parquet(idx + "_bands")
    assert sorted(
        r.doc_id for r in bands.select("doc_id").distinct().collect()
    ) == [2, 3]


def test_index_is_hash_bucketed_and_probe_prunes(spark, tmp_path):
    """The corpus index lands hive-partitioned by hb=crc32(hash)%N, and
    a probe filtered to a batch's buckets shows PartitionFilters in the
    executed plan — the seen-hash scan is bounded by touched buckets."""
    from meilisync_spark.streaming.corpus_ingest import (
        HASH_BUCKET_COL,
        run_corpus_ingest,
    )

    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    _stage_batches(spark, src)
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    dirs = [e for e in os.listdir(idx) if e.startswith(f"{HASH_BUCKET_COL}=")]
    assert len(dirs) > 1  # really spread over hash buckets

    probe = (
        spark.read.parquet(idx)
        .where(F.col(HASH_BUCKET_COL).isin([0, 1]))
        .select("content_hash")
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*hb", plan)
    assert m, plan[:800]


def test_compact_then_ingest_keeps_layout_and_rows(spark, tmp_path):
    """Compacting the corpus index must preserve the hb= hive layout:
    the next batch keeps appending hb= dirs, the probe still prunes,
    and — the regression this guards — every pre-compaction row stays
    visible (a layout-flattening compact made basePath reads silently
    return only post-compaction rows)."""
    from meilisync_spark.operators.refresh import compact_table
    from meilisync_spark.streaming.corpus_ingest import HASH_BUCKET_COL

    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    _stage_batches(spark, src)
    # run batches 0..1 only, compact, then let batch 2 arrive
    b2 = os.path.join(src, "batch_2.parquet")
    parked = str(tmp_path / "parked.parquet")
    os.rename(b2, parked)
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    before = {r.content_hash for r in spark.read.parquet(idx).collect()}
    assert len(before) > 0
    compact_table(spark, idx, target_file_bytes=1 << 30)
    # layout survived: still hb= dirs (behind the refresh symlink), and
    # the per-bucket file count collapsed to one
    real = os.path.realpath(idx)
    dirs = [e for e in os.listdir(real) if e.startswith(f"{HASH_BUCKET_COL}=")]
    assert len(dirs) > 1
    for d in dirs:
        parts = [
            f for f in os.listdir(os.path.join(real, d)) if f.endswith(".parquet")
        ]
        assert len(parts) == 1
    assert before == {r.content_hash for r in spark.read.parquet(idx).collect()}

    os.rename(parked, b2)
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    got = spark.read.parquet(idx)
    expected = exact_dedup(
        spark.read.parquet(src).select("doc_id", "text", "lang", "source", "n_chars")
    )
    exp = {r.content_hash: r.canonical_id for r in expected.collect()}
    got_map = {r.content_hash: r.doc_id for r in got.collect()}
    # pre-compaction docs are still here AND still dedup batch-2 replays
    assert got_map == exp


def test_band_index_is_bucketed_and_probe_prunes(spark, tmp_path):
    """The MinHash band index lands hive-partitioned by bb=band_hash%N
    and a probe filtered to a batch's band buckets shows
    PartitionFilters — the near-dup probe scan is bounded by touched
    buckets, not the corpus band count (the last O(corpus)-per-batch
    path before this)."""
    from meilisync_spark.streaming.corpus_ingest import (
        BAND_BUCKET_COL,
        run_corpus_ingest,
    )

    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    _stage_batches(spark, src)
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"),
        near_dedup=True, max_files_per_trigger=1,
    )
    bands_path = idx + "_bands"
    dirs = [
        e for e in os.listdir(bands_path) if e.startswith(f"{BAND_BUCKET_COL}=")
    ]
    assert len(dirs) > 1  # really spread over band buckets

    probe = (
        spark.read.parquet(bands_path)
        .where(F.col(BAND_BUCKET_COL).isin([0, 1, 2]))
        .select("band_idx", "band_hash", "sig")
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bb", plan), plan[:800]


def test_compact_band_index_then_near_dedup_still_works(spark, tmp_path):
    """Compacting the bb=-partitioned band index (its docstring's use
    case — 8 band rows per doc per batch makes it the small-file
    magnet) must preserve the layout AND the pre-compaction band rows,
    so a post-compaction batch still drops near-duplicates of
    pre-compaction docs and the probe still prunes."""
    from meilisync_spark.operators.refresh import compact_table
    from meilisync_spark.streaming.corpus_ingest import BAND_BUCKET_COL

    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "corpus")
    os.makedirs(src)
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch from a mossy stone bridge near the river "
        "and a cold wind moves slowly through the tall dry grass"
    )
    near = base.replace("cold wind", "warm wind")
    other = (
        "completely unrelated content about distributed query engines "
        "and shuffle partitioning strategies for very large clusters "
        "with adaptive execution and broadcast join planning decisions"
    )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(
        [(1, base, "en", "src0", len(base))], schema
    ).coalesce(1).write.parquet(src + "/b0")
    part = glob.glob(src + "/b0/part-*.parquet")[0]
    os.rename(part, src + "/batch_0.parquet")
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"),
        near_dedup=True, max_files_per_trigger=1,
    )
    bands_before = spark.read.parquet(idx + "_bands").count()
    assert bands_before > 0

    compact_table(spark, idx + "_bands", target_file_bytes=1 << 30)
    real = os.path.realpath(idx + "_bands")
    dirs = [e for e in os.listdir(real) if e.startswith(f"{BAND_BUCKET_COL}=")]
    assert dirs, "bb= layout flattened by compact"
    assert spark.read.parquet(idx + "_bands").count() == bands_before

    # batch 2 after compaction: the near-twin must still be dropped
    spark.createDataFrame(
        [(2, near, "en", "src0", len(near)), (3, other, "en", "src1", len(other))],
        schema,
    ).coalesce(1).write.parquet(src + "/b1")
    part = glob.glob(src + "/b1/part-*.parquet")[0]
    os.rename(part, src + "/batch_1.parquet")
    run_corpus_ingest(
        spark, src, idx, str(tmp_path / "ckpt"),
        near_dedup=True, max_files_per_trigger=1,
    )
    assert sorted(r.doc_id for r in spark.read.parquet(idx).collect()) == [1, 3]
    bands = spark.read.parquet(idx + "_bands")
    # every SEEN doc's bands are stored (near-dropped doc 2 included —
    # batch-boundary independence), and the compacted layout accepted
    # the post-compaction appends
    assert sorted(
        r.doc_id for r in bands.select("doc_id").distinct().collect()
    ) == [1, 2, 3]


def test_restart_over_single_file_source_keeps_index(spark, tmp_path):
    """A single-file source is staged under a directory named by its
    path, so a second run over the same checkpoint resumes (nothing new
    to read) instead of failing on a new basePath, and leaves the index
    as it was."""
    import shutil

    src = str(tmp_path / "docs.parquet")
    shutil.copy(f"{SF_SMOKE}/documents.parquet", src)
    idx, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    cols = ["doc_id", "content_hash"]
    run_corpus_ingest(spark, src, idx, ckpt)
    before = sorted(spark.read.parquet(idx).select(*cols).collect())
    assert before
    run_corpus_ingest(spark, src, idx, ckpt)
    assert sorted(spark.read.parquet(idx).select(*cols).collect()) == before


def test_absent_index_read_emits_no_future_warning(spark, tmp_path):
    """Reading an absent or marker-only index is "no index yet" without
    touching a deprecated error accessor."""
    import warnings

    from meilisync_spark.streaming.corpus_ingest import _read_parquet_if_exists

    markers = tmp_path / "markers"
    markers.mkdir()
    (markers / "_SUCCESS").write_text("")
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        assert _read_parquet_if_exists(spark, str(tmp_path / "absent")) is None
        assert _read_parquet_if_exists(spark, str(markers)) is None
