"""Product quantization: numpy replication of the exact fixed-point
training/encode math, compression contract, and measured ADC/re-rank
recall on the clustered twin corpus."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from meilisync_spark.operators import pq
from meilisync_spark.sources.parquet import load_table
from tests.conftest import SF_SMOKE


def _numpy_pq(X, m, ksub, iters):
    """Independent replication of pq_codebooks/pq_encode (same exact
    int64 fixed-point design, plain loops)."""
    Xq = np.floor(np.asarray(X, dtype=np.float64) * pq.PQ_QUANT).astype(np.int64)
    n, dim = Xq.shape
    dsub = dim // m
    subs = Xq.reshape(n, m, dsub).transpose(1, 0, 2)
    books = subs[:, :ksub, :].copy()
    for _ in range(iters):
        new = books.copy()
        for s in range(m):
            d = ((subs[s][:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            code = d.argmin(axis=1)
            for c in range(ksub):
                sel = subs[s][code == c]
                if len(sel):
                    new[s, c] = sel.sum(axis=0) // len(sel)
        books = new
    codes = np.zeros((n, m), dtype=np.int64)
    for s in range(m):
        d = ((subs[s][:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d.argmin(axis=1)
    return books, codes


def test_pq_training_and_encode_match_numpy(spark):
    """The distributed partial-sum trainer and the streaming encoder
    must equal the straight-line numpy algorithm exactly — int64
    fixed-point math has no summation-order freedom to hide behind."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id)
    X = [r.embedding for r in rows]
    exp_books, exp_codes = _numpy_pq(X, pq.PQ_M, pq.PQ_KSUB, pq.PQ_ITERS)

    books = pq.pq_codebooks(emb)
    assert books.shape == (pq.PQ_M, pq.PQ_KSUB, 64 // pq.PQ_M)
    assert (books == exp_books).all()

    got = {r.vec_id: r.codes for r in pq.pq_encode(emb, books).collect()}
    for i, r in enumerate(rows):
        assert got[r.vec_id] == list(exp_codes[i]), r.vec_id
    # compression contract: m small codes per vector, every code < ksub
    assert all(len(c) == pq.PQ_M and max(c) < pq.PQ_KSUB for c in got.values())


def test_pq_adc_rerank_recall_on_clustered_twin(spark):
    """The production two-stage probe (ADC shortlist over the 32×-
    compressed corpus + exact re-rank of |Q|·shortlist rows) must
    recover the brute-force top-k on data with real cluster structure;
    raw ADC@k is honestly low there (within-cell detail quantizes
    away) — assert the ordering between the two so the trade stays
    measured, not assumed."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    rerank = pq.pq_rerank_recall_clustered(emb).collect()
    assert len(rerank) == pq.N_QUERIES
    mean_rr = sum(r.recall for r in rerank) / len(rerank)
    assert mean_rr >= 0.8, mean_rr

    from meilisync_spark.operators.similarity import clustered_embeddings

    ce = clustered_embeddings(emb)
    books = pq.pq_codebooks(ce)
    from meilisync_spark.operators.similarity import _recall_against_brute

    adc = _recall_against_brute(ce, pq.pq_topk(ce, books, 5), 5).collect()
    mean_adc = sum(r.recall for r in adc) / len(adc)
    assert mean_rr > mean_adc  # re-rank must add real precision


def test_pq_codes_deterministic_across_runs(spark):
    """Same corpus → bit-identical codebooks and codes on a re-run
    (fixed-point lattice, lowest-code tie-break): the property that
    makes an incremental 100-TB encode append-consistent."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    b1, b2 = pq.pq_codebooks(emb), pq.pq_codebooks(emb)
    assert (b1 == b2).all()
    c1 = {r.vec_id: r.codes for r in pq.pq_encode(emb, b1).collect()}
    c2 = {r.vec_id: r.codes for r in pq.pq_encode(emb.repartition(7), b2).collect()}
    assert c1 == c2


def test_pq_driver_and_distributed_trainers_bit_identical(spark):
    """Round-12 driver fast path vs the distributed partial-sum
    trainer: bit-equal codebooks (exact int64 — no order freedom).
    seed_rows pins the distributed form so it stays exercised now that
    smoke-scale corpora default to the driver loop."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    seed = (
        emb.where(f"vec_id < {pq.PQ_KSUB}").select("vec_id", "embedding").collect()
    )
    dist = pq.pq_codebooks(emb, seed_rows=seed)  # distributed trainer
    drv = pq.pq_codebooks(emb)  # driver fast path (smoke corpus < cap)
    assert (dist == drv).all()
    # non-default hyperparameters (the residual-ablation m=16 shape)
    dist16 = pq.pq_codebooks(emb, m=16, seed_rows=seed)
    drv16 = pq.pq_codebooks(emb, m=16)
    assert (dist16 == drv16).all()


def test_ivfpq_composed_probe_recall(spark):
    """The composed IVF+PQ probe (coarse cell prune × 32× code
    compression × exact shortlist re-rank — FAISS IVFPQ shape,
    by_residual=False) must recover brute-force top-k on clustered
    data: both quantizers trained on the twin, recall ≥ 0.8 (measured
    1.0)."""
    from meilisync_spark.operators.ivfpq import ivfpq_recall_clustered

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = ivfpq_recall_clustered(emb).collect()
    assert len(rows) == pq.N_QUERIES
    mean = sum(r.recall for r in rows) / len(rows)
    assert mean >= 0.8, mean


def test_residual_encoding_beats_raw_in_cell_probe(spark):
    """FAISS's by_residual=True, measured: under the SAME
    cell-restricted ADC probe and byte budget, residual codes must
    clearly beat raw-vector codes on clustered data (raw codes collapse
    per cell; residuals spend the budget on within-cell detail).
    Measured 0.275 vs 0.625 on the twin."""
    from meilisync_spark.operators.ivfpq import ivfpq_residual_adc_recall

    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {r.variant: r.mean_recall for r in ivfpq_residual_adc_recall(emb).collect()}
    assert set(got) == {"raw", "residual"}
    assert got["residual"] >= got["raw"] + 0.2, got


def test_ivfpq_persisted_index_probe_recall(spark):
    """The at-rest lifecycle (write cluster-partitioned -> read back ->
    pruned probe -> ADC -> exact re-rank) must match the in-plan probe's
    quality: recall 1.0-ish on the clustered twin, one row per query."""
    from meilisync_spark.operators.ivfpq import ivfpq_persisted_recall

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = ivfpq_persisted_recall(spark, emb).collect()
    assert len(rows) == pq.N_QUERIES
    mean = sum(r.recall for r in rows) / len(rows)
    assert mean >= 0.8, mean


def test_served_index_query_matches_brute_with_refine(spark, tmp_path):
    """save_index + query_index (the ann-build/ann-query path): foreign-
    style routing via stored centroids + pruned probe + exact refine
    recovers the brute-force top-k on the clustered twin (recall 1.0
    expectations as the in-plan probe); nprobe widens the candidate
    pool monotonically."""
    from meilisync_spark.operators.ivfpq import query_index, save_index
    from meilisync_spark.operators.similarity import (
        _recall_against_brute,
        clustered_embeddings,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ce = clustered_embeddings(emb).localCheckpoint(False)
    index = str(tmp_path / "ann")
    save_index(ce, index)
    qs = [
        (r.vec_id, list(r.embedding))
        for r in ce.where(f"vec_id < {pq.N_QUERIES}").collect()
    ]
    refined = query_index(
        spark, index, qs, k=5, nprobe=1,
        refine=ce.select("vec_id", "embedding"),
    ).select("q_id", "neighbor_id", "rank")
    rec = _recall_against_brute(ce, refined, 5)
    mean = sum(r.recall for r in rec.collect()) / pq.N_QUERIES
    assert mean >= 0.8, mean

    adc1 = query_index(spark, index, qs, k=5, nprobe=1).count()
    adc2 = query_index(spark, index, qs, k=5, nprobe=2).count()
    assert adc2 >= adc1


def test_query_index_foreign_ids_not_self_excluded(spark, tmp_path):
    """queries_are_corpus_ids=False: a caller-chosen foreign query id
    that collides with a corpus vec_id must NOT mask that corpus
    vector — it can appear in the results."""
    from meilisync_spark.operators.ivfpq import query_index, save_index
    from meilisync_spark.operators.similarity import clustered_embeddings

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ce = clustered_embeddings(emb).localCheckpoint(False)
    index = str(tmp_path / "ann")
    save_index(ce, index)
    # query VECTOR is corpus row 3's vector, but presented as a foreign
    # query that happens to reuse id 3
    v3 = list(ce.where("vec_id = 3").collect()[0].embedding)
    out = query_index(
        spark, index, [(3, v3)], k=3, queries_are_corpus_ids=False
    ).collect()
    assert 3 in {r.neighbor_id for r in out}  # own row is the top hit
    # and the corpus-id default still excludes it
    out2 = query_index(spark, index, [(3, v3)], k=3).collect()
    assert 3 not in {r.neighbor_id for r in out2}


def test_add_to_index_serves_added_vectors(spark, tmp_path):
    """FAISS add-after-train: vectors added AFTER save_index (stored-
    centroid routing + stored-codebook encoding, no retrain) are served
    by query_index immediately — recall 1.0 against brute force over
    the FULL corpus on the twin, including queries whose own rows were
    among the added batches."""
    from meilisync_spark.operators.ivfpq import (
        add_to_index,
        index_stats,
        query_index,
        retrain_due,
        save_index,
    )
    from meilisync_spark.operators.similarity import (
        _recall_against_brute,
        clustered_embeddings,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ce = clustered_embeddings(emb).localCheckpoint(False)
    index = str(tmp_path / "ann")
    base = ce.where(F.col("vec_id") % 4 != 3)
    save_index(base, index)
    n_base = base.count()
    n1 = add_to_index(spark, index, ce.where(F.col("vec_id") % 8 == 3))
    n2 = add_to_index(spark, index, ce.where(F.col("vec_id") % 8 == 7))
    assert n1 + n2 == ce.count() - n_base
    qs = [
        (r.vec_id, list(r.embedding))
        for r in ce.where(f"vec_id < {pq.N_QUERIES}").collect()
    ]
    topk = query_index(spark, index, qs, k=5, refine=ce)
    rec = _recall_against_brute(ce, topk, 5)
    mean = sum(r.recall for r in rec.collect()) / pq.N_QUERIES
    assert mean >= 0.99, mean

    # replay idempotence: re-adding an already-appended batch is a
    # no-op (the anti-join is pruned to the batch's own cells —
    # deterministic assignment makes that sufficient)
    again = add_to_index(spark, index, ce.where(F.col("vec_id") % 8 == 3))
    assert again == 0
    stats = {r.cluster: r for r in index_stats(spark, index).collect()}
    assert sum(r.added for r in stats.values()) == n1 + n2
    assert all(r.n_rows == r.trained_rows + r.added for r in stats.values())
    # 1/3 growth over the trained 3/4 — under the default 0.5 trigger,
    # over a tight 0.2 one
    assert not retrain_due(spark, index, max_growth=0.5)
    assert retrain_due(spark, index, max_growth=0.2)


def test_add_to_index_dim_mismatch_fails(spark, tmp_path):
    from meilisync_spark.operators.ivfpq import add_to_index, save_index
    from meilisync_spark.operators.similarity import clustered_embeddings
    import pytest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ce = clustered_embeddings(emb).localCheckpoint(False)
    index = str(tmp_path / "ann")
    save_index(ce, index)
    bad = spark.createDataFrame(
        [(999_999, [0.5, 0.25])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim"):
        add_to_index(spark, index, bad)
    # empty batch is a clean no-op
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert add_to_index(spark, index, empty) == 0
    # exact-duplicate ROWS (an at-least-once replay window) collapse
    # silently — a raise would wedge a checkpointed --follow stream
    # forever on the replayed batch
    v = [0.0625] * 64
    v2 = [0.125] * 64
    dup = spark.createDataFrame(
        [(777_001, v), (777_001, v)], "vec_id long, embedding array<double>"
    )
    assert add_to_index(spark, index, dup) == 1
    stored = (
        spark.read.parquet(index)
        .where(F.col("vec_id") == 777_001)
        .count()
    )
    assert stored == 1
    # replaying the identical batch appends nothing (same collapse pick)
    assert add_to_index(spark, index, dup) == 0
    # but the same vec_id with CONFLICTING embeddings is a data bug a
    # replay never produces — refuse loudly instead of silently
    # discarding one of them
    conflict = spark.createDataFrame(
        [(777_002, v2), (777_002, v)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="conflicting"):
        add_to_index(spark, index, conflict)
    assert (
        spark.read.parquet(index).where(F.col("vec_id") == 777_002).count() == 0
    )


def test_add_to_index_null_embedding_raises(spark, tmp_path):
    """A NULL embedding is neither a conflict nor a wrong dim in SQL's
    three-valued logic (size(NULL) = -1), yet the add guard filters it
    out: the batch must raise before anything is written instead of
    dropping the row silently."""
    import os

    import pytest

    from meilisync_spark.operators.ivfpq import add_to_index, save_index
    from meilisync_spark.operators.similarity import clustered_embeddings

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = str(tmp_path / "ann")
    save_index(clustered_embeddings(emb).localCheckpoint(False), index)

    def files():
        return sorted(
            (os.path.relpath(os.path.join(d, f), index), os.path.getsize(os.path.join(d, f)))
            for d, _, fs in os.walk(index) for f in fs
        )

    before = files()
    batch = spark.createDataFrame(
        [(888_001, [0.0625] * 64), (888_002, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL embedding"):
        add_to_index(spark, index, batch)
    assert files() == before


def test_streaming_ann_ingest_drop_dir(spark, tmp_path):
    """run_ann_ingest tails a vector drop dir: two batch files of
    held-out twin vectors fold into the served index (one micro-batch
    each), and query_index returns recall 1.0 afterward; a second run
    over the same dir (fresh checkpoint) appends nothing new."""
    import glob
    import os

    from meilisync_spark.operators.ivfpq import query_index, save_index
    from meilisync_spark.operators.similarity import (
        _recall_against_brute,
        clustered_embeddings,
    )
    from meilisync_spark.streaming.ann_ingest import run_ann_ingest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ce = clustered_embeddings(emb).localCheckpoint(False)
    index = str(tmp_path / "ann")
    save_index(ce.where(F.col("vec_id") % 4 != 3), index)

    drop = str(tmp_path / "incoming")
    os.makedirs(drop)
    for i, m in enumerate((3, 7)):
        out = str(tmp_path / f"stage_{i}")
        ce.where(F.col("vec_id") % 8 == m).select(
            "vec_id", "embedding"
        ).coalesce(1).write.parquet(out)
        part = glob.glob(f"{out}/part-*.parquet")[0]
        os.rename(part, f"{drop}/batch_{i}.parquet")
    run_ann_ingest(
        spark, drop, index, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    qs = [
        (r.vec_id, list(r.embedding))
        for r in ce.where(f"vec_id < {pq.N_QUERIES}").collect()
    ]
    topk = query_index(spark, index, qs, k=5, refine=ce)
    rec = _recall_against_brute(ce, topk, 5)
    mean = sum(r.recall for r in rec.collect()) / pq.N_QUERIES
    assert mean >= 0.99, mean
    n_total = spark.read.parquet(index).count()
    # replay the whole dir under a NEW checkpoint: dedup absorbs it
    run_ann_ingest(
        spark, drop, index, str(tmp_path / "ckpt2"), max_files_per_trigger=1
    )
    assert spark.read.parquet(index).count() == n_total


def test_streaming_ann_retrain_loop(spark, tmp_path):
    """The staleness loop closed: ingest past the growth threshold must
    trigger exactly one quantizer retrain behind an atomic swap —
    recall threshold-holds before, after the rebuild, and for adds that
    RESUME against the new quantizers; the growth monitor resets."""
    import glob
    import os

    from meilisync_spark.operators.ivfpq import (
        index_stats,
        query_index,
        retrain_due,
        save_index,
        seed_index_vectors,
    )
    from meilisync_spark.operators.similarity import (
        _recall_against_brute,
        clustered_embeddings,
    )
    from meilisync_spark.streaming.ann_ingest import run_ann_ingest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ce = clustered_embeddings(emb).localCheckpoint(False)
    index = str(tmp_path / "ann")
    trained = ce.where(F.col("vec_id") % 4 != 3)
    save_index(trained, index)
    seed_index_vectors(trained.select("vec_id", "embedding"), index)

    def mean_recall(corpus) -> float:
        # brute-force oracle over what the index actually HOLDS — the
        # recall contract is "finds the true neighbors among stored
        # vectors", not "knows vectors never ingested"
        qs = [
            (r.vec_id, list(r.embedding))
            for r in ce.where(f"vec_id < {pq.N_QUERIES}").collect()
        ]
        topk = query_index(spark, index, qs, k=5, refine=corpus)
        rec = _recall_against_brute(corpus, topk, 5)
        return sum(r.recall for r in rec.collect()) / pq.N_QUERIES

    # before: with 1/4 of the corpus (many queries' twins) held out,
    # the true NN among STORED vectors is often a non-twin in another
    # cell — single-probe recall drops for those. 0.7 is the structural
    # floor for this fixture split, not a staleness artifact; the
    # strong 0.99 gates below are what the rebuild must restore.
    assert mean_recall(trained.localCheckpoint(False)) >= 0.70

    drop = str(tmp_path / "incoming")
    os.makedirs(drop)
    for i, m in enumerate((3, 7)):
        out = str(tmp_path / f"stage_{i}")
        ce.where(F.col("vec_id") % 8 == m).select(
            "vec_id", "embedding"
        ).coalesce(1).write.parquet(out)
        part = glob.glob(f"{out}/part-*.parquet")[0]
        os.rename(part, f"{drop}/batch_{i}.parquet")
    # held-out 1/4 arrives over two batches of 1/8 each: growth passes
    # 0.30 only after the SECOND batch (1/3 > 0.30 > 1/6) — one retrain
    n_retrains = run_ann_ingest(
        spark, drop, index, str(tmp_path / "ckpt"),
        retrain_max_growth=0.30, max_files_per_trigger=1,
    )
    assert n_retrains == 1
    # the swap left a symlinked, fully-trained index: baseline reset
    assert os.path.islink(index)
    stats = index_stats(spark, index).collect()
    assert sum(r.added for r in stats) == 0
    assert not retrain_due(spark, index, max_growth=0.30)
    assert spark.read.parquet(index).count() == ce.count()
    assert mean_recall(ce) >= 0.99

    # adds RESUME against the retrained quantizers (same stream
    # checkpoint, new file): appended and still servable
    extra = [
        (9_000_000 + j, [float((j * 13 + d) % 7) / 7.0 for d in range(64)])
        for j in range(8)
    ]
    out = str(tmp_path / "stage_extra")
    spark.createDataFrame(
        extra, "vec_id long, embedding array<double>"
    ).coalesce(1).write.parquet(out)
    part = glob.glob(f"{out}/part-*.parquet")[0]
    os.rename(part, f"{drop}/batch_2.parquet")
    run_ann_ingest(
        spark, drop, index, str(tmp_path / "ckpt"),
        retrain_max_growth=0.30, max_files_per_trigger=1,
    )
    assert spark.read.parquet(index).count() == ce.count() + len(extra)
    # the synthetic extras are far from the fixture's twin structure,
    # so the original queries' neighbor sets are what matters: compare
    # against the full original corpus (extras excluded from the brute
    # oracle would be unfair only if they cracked a top-5 — they don't)
    assert mean_recall(ce) >= 0.99


def test_ann_retrain_requires_seeded_sidecar(spark, tmp_path):
    import pytest

    from meilisync_spark.operators.ivfpq import save_index
    from meilisync_spark.operators.similarity import clustered_embeddings
    from meilisync_spark.streaming.ann_ingest import run_ann_ingest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ce = clustered_embeddings(emb).localCheckpoint(False)
    index = str(tmp_path / "ann")
    save_index(ce, index)
    with pytest.raises(FileNotFoundError, match="seed_index_vectors"):
        run_ann_ingest(
            spark, str(tmp_path), index, str(tmp_path / "ckpt"),
            retrain_max_growth=0.5,
        )
    with pytest.raises(ValueError, match="dedup"):
        run_ann_ingest(
            spark, str(tmp_path), index, str(tmp_path / "ckpt"),
            retrain_max_growth=0.5, dedup=False,
        )


def test_ann_ingest_poison_batch_leaves_sidecar_clean(spark, tmp_path):
    """A batch carrying one vec_id with two DIFFERENT embeddings must
    wedge the stream (that's add_to_index's contract) WITHOUT first
    appending the conflicting rows to the raw-vector sidecar — each
    retry would otherwise re-append them, and a later manual
    rebuild_index would silently pick one via read_index_vectors'
    dropDuplicates, the exact choice the ValueError exists to refuse."""
    import glob
    import os

    import pytest

    from meilisync_spark.operators.ivfpq import (
        save_index,
        seed_index_vectors,
        vectors_sidecar_path,
    )
    from meilisync_spark.operators.similarity import clustered_embeddings
    from meilisync_spark.streaming.ann_ingest import run_ann_ingest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ce = clustered_embeddings(emb).localCheckpoint(False)
    index = str(tmp_path / "ann")
    trained = ce.select("vec_id", "embedding")
    save_index(trained, index)
    seed_index_vectors(trained, index)
    n_seeded = spark.read.parquet(vectors_sidecar_path(index)).count()

    v = [float(d) / 64.0 for d in range(64)]
    v2 = [x + 0.5 for x in v]
    drop = str(tmp_path / "incoming")
    os.makedirs(drop)
    out = str(tmp_path / "stage_poison")
    spark.createDataFrame(
        [(666_001, v), (666_001, v2)], "vec_id long, embedding array<double>"
    ).coalesce(1).write.parquet(out)
    part = glob.glob(f"{out}/part-*.parquet")[0]
    os.rename(part, f"{drop}/batch_0.parquet")

    with pytest.raises(Exception, match="conflicting"):
        run_ann_ingest(
            spark, drop, index, str(tmp_path / "ckpt"),
            retrain_max_growth=0.5,
        )
    side = spark.read.parquet(vectors_sidecar_path(index))
    assert side.where(F.col("vec_id") == 666_001).count() == 0
    assert side.count() == n_seeded


def test_ann_ingest_requires_built_index(spark, tmp_path):
    import pytest

    from meilisync_spark.streaming.ann_ingest import run_ann_ingest

    with pytest.raises(FileNotFoundError, match="ann-build"):
        run_ann_ingest(
            spark, str(tmp_path / "nope"), str(tmp_path / "noidx"),
            str(tmp_path / "ckpt"),
        )


def test_ann_nprobe_recall_curve_monotone(spark):
    """The serving knob measured: with the twin over-partitioned into
    20 cells, nprobe=1 misses split-cluster neighbors and 2/4 recover
    them — recall must rise monotonically to >= 0.95."""
    from meilisync_spark.operators.ivfpq import ann_nprobe_recall

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = {r.nprobe: r.mean_recall for r in ann_nprobe_recall(spark, emb).collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1] <= rows[2] <= rows[4]
    assert rows[4] >= 0.95
    assert rows[1] < rows[4]  # the knob genuinely trades IO for recall


def test_ivfpq_incremental_recall_row(spark):
    from meilisync_spark.operators.ivfpq import ivfpq_incremental_recall

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rec = ivfpq_incremental_recall(spark, emb).collect()
    assert len(rec) == pq.N_QUERIES
    assert all(r.recall >= 0.99 for r in rec)


def test_ann_query_served_builds_once(spark, tmp_path):
    """The serving row trains at most once per cache dir: a second
    invocation leaves the index untouched (same meta mtime) and returns
    identical results — the train-once lifecycle the bench row relies
    on to measure the query path alone."""
    import os

    from meilisync_spark.operators.ivfpq import ANN_META_FILE, ann_query_served

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cache = str(tmp_path / "served")
    r1 = {(r.q_id, r.rank): r.neighbor_id
          for r in ann_query_served(spark, emb, cache).collect()}
    mt1 = os.stat(os.path.join(cache, ANN_META_FILE)).st_mtime_ns
    r2 = {(r.q_id, r.rank): r.neighbor_id
          for r in ann_query_served(spark, emb, cache).collect()}
    assert os.stat(os.path.join(cache, ANN_META_FILE)).st_mtime_ns == mt1
    assert r1 == r2


def test_compact_ann_index_preserves_serving(spark, tmp_path):
    """Streaming adds leave one file set per batch; compact_table must
    merge them while preserving BOTH the cluster= partition layout and
    the _ann_meta.json quantizer sidecar — the compacted index still
    serves (recall intact) and still accepts adds."""
    import glob
    import os

    from meilisync_spark.operators.ivfpq import (
        add_to_index,
        query_index,
        save_index,
    )
    from meilisync_spark.operators.refresh import compact_table
    from meilisync_spark.operators.similarity import (
        _recall_against_brute,
        clustered_embeddings,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ce = clustered_embeddings(emb).localCheckpoint(False)
    index = str(tmp_path / "ann")
    save_index(ce.where(F.col("vec_id") % 4 != 3), index)
    for m in (3, 7):  # two appends = extra small file sets
        add_to_index(spark, index, ce.where(F.col("vec_id") % 8 == m))
    before = spark.read.parquet(index).count()

    compact_table(spark, index, target_file_bytes=1 << 30)
    real = os.path.realpath(index)
    assert os.path.isfile(os.path.join(real, "_ann_meta.json"))
    assert glob.glob(os.path.join(real, "cluster=*"))  # layout preserved
    assert spark.read.parquet(index).count() == before

    qs = [
        (r.vec_id, list(r.embedding))
        for r in ce.where(f"vec_id < {pq.N_QUERIES}").collect()
    ]
    topk = query_index(spark, index, qs, k=5, refine=ce)
    rec = _recall_against_brute(ce, topk, 5)
    mean = sum(r.recall for r in rec.collect()) / pq.N_QUERIES
    assert mean >= 0.99, mean
    # and the compacted index still accepts (deduped) adds
    assert add_to_index(spark, index, ce.where(F.col("vec_id") % 8 == 3)) == 0
