"""Product quantization (Jégou et al. 2011) — the compression layer
every billion-scale ANN index sits on, beside the int8 scalar quantizer
(operators/similarity.embedding_quantize) and the IVF cell probe.

A vector is split into ``m`` subspaces of ``dim/m`` components; each
subspace gets its own ``ksub``-centroid codebook (per-subspace k-means),
and a vector is stored as ``m`` code bytes — 8 bytes here vs 256 bytes
of float32, a 32× compression. Queries never decompress the corpus:
asymmetric distance (ADC) precomputes, per query, the ``m × ksub``
table of exact squared distances from the query's sub-vectors to every
sub-centroid, and a corpus row's distance is ``m`` table lookups summed.

Spark shapes (all corpus passes stream; nothing corpus-sized ever sits
on the driver):

- **training** (:func:`pq_codebooks`): one ``mapInPandas`` pass per
  Lloyd iteration emitting per-batch partial sums keyed by
  (subspace, code) — ``m·ksub`` tiny rows per Arrow batch cross the
  shuffle, never vectors; the codebooks (m·ksub·dsub ints) ride in the
  closure, the broadcast pattern. Same exact fixed-point int64 design
  as operators/kmeans.py: floor(x·2^20) once, integer distances, ties
  break to the lowest code — deterministic across runs, partitionings
  and batch heights.
- **encode** (:func:`pq_encode`): one streaming pass, per-batch numpy
  argmin over the broadcast codebooks; output is (vec_id, codes) with
  ``m`` small ints per row — the shape you persist (partitioned by IVF
  cell at 100 TB so probes stay partition-pruned).
- **ADC top-k** (:func:`pq_topk`): the |Q| query table stack is tiny
  (|Q|·m·ksub ints) and broadcast in the closure; scoring is a numpy
  gather+sum per batch, zero corpus shuffle, one |Q|-keyed top-k
  window at the end — identical skeleton to cosine_topk_blas.

Iterative training ⇒ non-SQL-expressible ⇒ rows-only driver checks
(the documented weaker gate); correctness is pinned by numpy
replication and a recall measurement on the clustered twin corpus
(tests/test_pq.py). No reference analogue (north-star extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from meilisync_spark.pin import SER as _SER

PQ_QUANT = 1 << 20  # fixed-point quantum, shared with operators/kmeans.py
PQ_M = 8            # subspaces (64-dim fixture → 8 components each)
PQ_KSUB = 16        # centroids per subspace → 4-bit codes, m bytes/vector
PQ_ITERS = 2
N_QUERIES = 8       # vec_id < 8 is the benchmark query batch


def _quantize(X):
    import numpy as np

    return np.floor(np.asarray(X, dtype=np.float64) * PQ_QUANT).astype(np.int64)


def _split(Xq, m: int):
    """(n, dim) int64 → (m, n, dsub) views, no copy."""
    n, dim = Xq.shape
    dsub = dim // m
    return Xq.reshape(n, m, dsub).transpose(1, 0, 2)


def _worker_helpers():
    """BY-VALUE copies of _quantize/_split for UDF closures. Module-
    level functions pickle by module reference (the worker would have
    to import meilisync_spark — false when the driver launched outside
    the repo); functions nested inside this factory have a non-
    importable qualname, so cloudpickle serializes their code into the
    task itself (session._ship_package is the belt; this is the
    suspenders on the hot paths)."""

    def qz(X, _q=PQ_QUANT):
        import numpy as np

        return np.floor(np.asarray(X, dtype=np.float64) * _q).astype(np.int64)

    def sp(Xq, m):
        n, dim = Xq.shape
        dsub = dim // m
        return Xq.reshape(n, m, dsub).transpose(1, 0, 2)

    return qz, sp


def _pq_driver(corpus_rows, m: int, ksub: int, iters: int):
    """In-process per-subspace Lloyd loop over a collected corpus —
    bit-identical to the distributed partial-sum trainer (exact int64:
    order-free sums, floor division, lowest-code tie-break, empty codes
    keep their previous centroid). The FAISS shape: PQ codebooks train
    in memory over a bounded corpus; only encode streams."""
    import numpy as np

    from meilisync_spark.operators.kmeans import _argmin_chunked

    seeds = sorted(
        (r for r in corpus_rows if r.vec_id < ksub), key=lambda r: r.vec_id
    )
    books = _split(_quantize([r.embedding for r in seeds]), m).transpose(
        0, 1, 2
    ).copy()  # (m, ksub, dsub)
    Xs = _split(_quantize([r.embedding for r in corpus_rows]), m)  # (m, n, dsub)
    for _ in range(iters):
        new = books.copy()
        for s in range(m):
            code = _argmin_chunked(Xs[s], books[s])
            sums = np.zeros((ksub, books.shape[2]), dtype=np.int64)
            np.add.at(sums, code, Xs[s])
            cnt = np.bincount(code, minlength=ksub)
            for c in np.nonzero(cnt)[0]:
                new[s, c] = sums[c] // cnt[c]
        books = new
    return books


def pq_codebooks(
    emb: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS,
    seed_rows=None, corpus_rows=None,
):
    """Train per-subspace codebooks: returns an (m, ksub, dsub) int64
    array (fixed-point lattice). Seeds are the first ``ksub`` vectors'
    sub-slices (deterministic); each Lloyd iteration is ONE corpus pass
    emitting (subspace, code) partial sums; empty codes keep their
    previous centroid (standard k-means practice).

    ``seed_rows``: optionally pass already-collected ``(vec_id,
    embedding)`` rows covering at least ``vec_id < ksub`` so a caller
    training BOTH quantizers over one pinned corpus issues a single
    seed collect instead of one per trainer (identical seeds — the
    rows are filtered and sorted here exactly as the collect would);
    passing them pins the DISTRIBUTED trainer (the caller already
    decided the corpus is over the driver cap). ``corpus_rows``: the
    ENTIRE collected corpus — takes the in-process driver loop
    (:func:`_pq_driver`). With neither, the corpus is probed against
    kmeans.TRAIN_DRIVER_CAP_ROWS and the faster applicable path is
    taken; both paths are bit-identical (tests/test_pq.py)."""
    import numpy as np

    from meilisync_spark.operators.kmeans import collect_corpus_under_cap

    if corpus_rows is None and seed_rows is None:
        corpus_rows = collect_corpus_under_cap(emb)
    if corpus_rows is not None:
        return _pq_driver(corpus_rows, m, ksub, iters)
    seed_rows = sorted(
        (
            (r for r in seed_rows if r.vec_id < ksub)
            if seed_rows is not None
            else emb.where(F.col("vec_id") < ksub)
            .select("vec_id", "embedding")
            .collect()
        ),
        key=lambda r: r.vec_id,
    )
    books = _split(_quantize([r.embedding for r in seed_rows]), m).transpose(
        0, 1, 2
    ).copy()  # (m, ksub, dsub)
    dsub = books.shape[2]

    for _ in range(iters):
        _qz, _sp = _worker_helpers()

        def partials(batches, _books=books, _sp=_sp, _qz=_qz):
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                Xs = _sp(_qz(list(pdf["embedding"])), m)  # (m, n, dsub)
                rows = []
                for s in range(m):
                    # exact int64 squared distances: (n, ksub)
                    d = ((Xs[s][:, None, :] - _books[s][None, :, :]) ** 2).sum(axis=2)
                    code = d.argmin(axis=1)  # lowest index on ties
                    # vectorized per-code partials: one scatter-add
                    # over the batch instead of ksub boolean-mask
                    # passes — exact int64 either way
                    ks = _books.shape[1]
                    sums = _np.zeros((ks, Xs[s].shape[1]), dtype=_np.int64)
                    _np.add.at(sums, code, Xs[s])
                    cnt = _np.bincount(code, minlength=ks)
                    rows.extend(
                        (s, int(c), int(cnt[c]), sums[c].tolist())
                        for c in _np.nonzero(cnt)[0]
                    )
                yield _pd.DataFrame(rows, columns=["sub", "code", "n", "sums"])

        agg = (
            emb.select("embedding")
            .mapInPandas(partials, schema="sub int, code int, n long, sums array<long>")
            .select("sub", "code", "n", F.posexplode("sums").alias("pos", "s"))
            .groupBy("sub", "code", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        new = books.copy()
        acc: dict[tuple[int, int], tuple] = {}
        for r in agg:
            key = (r.sub, r.code)
            vec, _ = acc.get(key, (np.zeros(dsub, dtype=np.int64), 0))
            vec[r.pos] = r.s
            acc[key] = (vec, r.n)
        for (s, c), (vec, n) in acc.items():
            new[s, c] = vec // n  # floor keeps the fixed-point lattice
        books = new
    return books


def pq_encode(emb: DataFrame, books) -> DataFrame:
    """(vec_id, codes array<int>) — the compressed corpus: m codes per
    vector, assigned by exact int64 nearest-sub-centroid. One streaming
    pass, codebooks in the closure."""
    m = books.shape[0]

    _qz, _sp = _worker_helpers()

    def enc(batches, _books=books, _sp=_sp, _qz=_qz):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            Xs = _sp(_qz(list(pdf["embedding"])), m)
            codes = []
            for s in range(m):
                d = ((Xs[s][:, None, :] - _books[s][None, :, :]) ** 2).sum(axis=2)
                codes.append(d.argmin(axis=1))
            yield _pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    # C-level transpose+tolist beats a per-row python
                    # int loop; identical (n, m) int lists
                    "codes": _np.stack(codes, axis=1).tolist(),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        enc, schema="vec_id long, codes array<int>"
    )


def pq_topk(emb: DataFrame, books, k: int = 5) -> DataFrame:
    """(q_id, neighbor_id, rank, adc_dist) — asymmetric-distance top-k:
    exact query sub-vectors against the compressed corpus. The per-query
    distance tables (|Q|, m, ksub) are built driver-side from the tiny
    query batch and broadcast in the closure; corpus scoring is a numpy
    gather+sum per Arrow batch over the (vec_id, codes) frame — the
    compressed corpus is all that streams, which is the entire point of
    PQ at 100 TB. Distances are exact int64 (fixed-point lattice), so
    ranking is deterministic; ties break to the lower neighbor id."""
    import numpy as np

    m = books.shape[0]
    q_rows = sorted(
        emb.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Qs = _split(_quantize([r.embedding for r in q_rows]), m)  # (m, |Q|, dsub)
    # tables[q, s, c] = ||query_q[s] - centroid_{s,c}||² exactly
    tables = np.stack(
        [((Qs[s][:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2) for s in range(m)],
        axis=1,
    )  # (|Q|, m, ksub)

    def score(batches, _tables=tables, _q_ids=q_ids):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            C = _np.array(list(pdf["codes"]), dtype=_np.int64)  # (n, m)
            ids = pdf["vec_id"].to_numpy()
            n = len(ids)
            # gather: dist[n, |Q|] = Σ_s tables[q, s, C[n, s]]
            d = _np.zeros((n, len(_q_ids)), dtype=_np.int64)
            for s in range(C.shape[1]):
                d += _tables[:, s, :][:, C[:, s]].T  # (n, |Q|)
            yield _pd.DataFrame(
                {
                    "q_id": _np.repeat(_q_ids[_np.newaxis, :], n, axis=0).ravel(),
                    "neighbor_id": _np.repeat(ids, len(_q_ids)),
                    "adc_dist": d.ravel(),
                }
            )

    pairs = (
        pq_encode(emb, books)
        .mapInPandas(score, schema="q_id long, neighbor_id long, adc_dist long")
        .where(F.col("neighbor_id") != F.col("q_id"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "adc_dist")
    )


def pq_topk_rerank(
    emb: DataFrame, books, k: int = 5, shortlist: int = 64
) -> DataFrame:
    """(q_id, neighbor_id, rank, cosine) — the production PQ probe:
    ADC over the compressed corpus retrieves a ``shortlist`` of
    candidates per query (cheap, 32×-compressed scan), then ONLY those
    |Q|·shortlist rows are joined back to the full vectors for exact
    cosine re-ranking. This two-stage shape is how PQ is actually
    deployed (coarse ADC recall + fine re-rank precision): quantization
    collapses within-cluster detail — same-cell vectors often share
    every code, making ADC ties arbitrary at small k — and the re-rank
    restores exact ordering at a cost independent of corpus size. The
    shortlist side is broadcast into the corpus-keyed join, so the full
    vectors are touched for |Q|·shortlist ids only."""
    from meilisync_spark.functions.vectors import cosine

    sl = pq_topk(emb, books, k=shortlist).select("q_id", "neighbor_id")
    # NOT rewritten onto the driver re-rank (round 13, measured): this
    # row returns a LAZY frame, so the scheduler overlaps the rerank
    # subtree with its consumer's other subtrees (the recall row's
    # brute pass) inside ONE job — the eager _refine_driver form
    # measured 1.35× (interleaved min-of-2) by serializing them.
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cand = sl.join(F.broadcast(q), "q_id")
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    scored = c.join(F.broadcast(cand), "neighbor_id").withColumn(
        "cosine", cosine(F.col("q_emb"), F.col("c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine")
    )


def pq_rerank_recall_clustered(emb: DataFrame, k: int = 5) -> DataFrame:
    """ADC-shortlist + exact-re-rank recall on the clustered twin: the
    shortlist catches the true cell, the re-rank restores exact order —
    recall 1.0 measured (threshold-asserted in tests), from a corpus
    scan that only ever reads 8-byte codes."""
    from meilisync_spark.operators.similarity import (
        _recall_against_brute,
        clustered_embeddings,
    )

    # pin the twin: every Lloyd pass of both quantizer trainings (and
    # the brute-force recall denominator) re-reads this frame — without
    # the pin each of those jobs replays the scan+map lineage
    ce = clustered_embeddings(emb).localCheckpoint(False, storageLevel=_SER)
    books = pq_codebooks(ce)
    # NOT threaded (round 12, measured): the brute ground truth rides
    # the returned lazy plan, where the scheduler already overlaps its
    # stages with the rerank stages inside the final job — forking it
    # onto a thread + pinning measured 1.05× (interleaved min-of-2)
    return _recall_against_brute(ce, pq_topk_rerank(ce, books, k), k)


def pq_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, codes_csv) — driver-facing form of the compressed corpus
    (train + encode with the default hyperparameters; integer CSV render
    so the comparator sees scalars)."""
    books = pq_codebooks(emb)
    return pq_encode(emb, books).select(
        "vec_id", F.array_join("codes", ",").alias("codes_csv")
    )
