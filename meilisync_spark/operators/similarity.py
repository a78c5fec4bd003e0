"""Similarity search over embedding columns (north-star extension).

Two tiers, same per-pair math (functions/vectors.py — codegen'd fold,
no UDF):

- **brute-force cosine top-k** — the correctness baseline. The query
  set is broadcast; the candidate scan streams the big side, so the
  plan is broadcast-nested-loop with *zero shuffle of the corpus* and
  a per-query top-k window at the end. O(|Q|·N) compute, the right
  baseline shape for small |Q|.
- **IVF-style cell-restricted top-k** — the scale path: candidates are
  restricted to the query's cell (here the ``label`` column plays the
  coarse-quantizer cell id; a production pipeline fills it with a
  k-means assignment). Probing 1/|cells| of the corpus per query is
  the classic IVF recall/latency trade (Jégou et al., PQ/IVF).

At 100 TB: bucket/partition the corpus parquet by cell id so cell
pruning happens at the scan (partition pruning), and broadcast the
query batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from meilisync_spark.functions.vectors import cosine, duck_cosine, duck_dot

TOP_K = 5
N_QUERIES = 8  # vec_id < 8 is the benchmark query batch


def _pairs(emb: DataFrame, same_label_only: bool) -> DataFrame:
    # norms once per ROW before the join — the join then evaluates only
    # the dot fold per pair; the q_nrm*c_nrm division keeps operand
    # order identical to cosine()/the oracle, so values are bit-equal
    from meilisync_spark.functions.vectors import dot_product, l2_norm

    withn = emb.withColumn("nrm", l2_norm(F.col("embedding")))
    q = withn.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        F.col("nrm").alias("q_nrm"),
    )
    c = withn.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("label"),
        F.col("nrm").alias("c_nrm"),
    )
    cond = F.col("neighbor_id") != F.col("q_id")
    if same_label_only:
        joined = c.join(F.broadcast(q), (F.col("label") == F.col("q_label")) & cond)
    else:
        joined = c.crossJoin(F.broadcast(q)).where(cond)
    return joined.withColumn(
        "cosine",
        dot_product(F.col("q_emb"), F.col("c_emb"))
        / (F.col("q_nrm") * F.col("c_nrm")),
    )


def _topk(pairs: DataFrame, k: int, extra_cols: list[str]) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", *extra_cols, "rank", "cosine")
    )


def cosine_topk(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """Brute-force cosine top-k for the benchmark query batch."""
    return _topk(_pairs(emb, same_label_only=False), k, [])


def ann_ivf_label(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """IVF-style ANN: probe only the query's own cell (label)."""
    return _topk(_pairs(emb, same_label_only=True), k, ["label"])


def cosine_topk_blas(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """Brute-force top-k, vectorized: one BLAS matmul per Arrow batch
    (|batch|×dim @ dim×|Q|) instead of a per-pair codegen fold — the
    throughput path when dim×|Q| is large (numpy SIMD beats per-element
    codegen by ~10× on dense float math).

    The query batch is tiny and bounded (|Q|=8), so collecting it to
    ship inside the UDF closure is the broadcast pattern, not a
    driver-side loop; the corpus streams through executors untouched.

    Cosines are rounded to 6 dp *as part of the operator contract*:
    summation order differs between BLAS and a sequential fold, so the
    raw last-ulp is not reproducible — rounding far above the error
    bound (~1e-14) makes results exact across engines and runs.
    """
    import numpy as np

    q_rows = sorted(
        emb.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            C = _np.array(list(pdf["embedding"]), dtype=_np.float64)
            ids = pdf["vec_id"].to_numpy()
            Cn = C / _np.linalg.norm(C, axis=1, keepdims=True)
            S = _np.round(Cn @ Qn.T, 6)  # |batch| × |Q|
            n, m = S.shape
            yield _pd.DataFrame(
                {
                    "q_id": _np.repeat(q_ids[_np.newaxis, :], n, axis=0).ravel(),
                    "neighbor_id": _np.repeat(ids, m),
                    "cosine": S.ravel(),
                }
            )

    pairs = (
        emb.select("vec_id", "embedding")
        .mapInPandas(score, "q_id long, neighbor_id long, cosine double")
        .where(F.col("neighbor_id") != F.col("q_id"))
    )
    return _topk(pairs, k, [])


def cosine_topk_blas_oracle_sql(k: int = TOP_K) -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               round({duck_cosine('q.v', 'c.v')}, 6) AS cosine
        FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs
    )
    SELECT q_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


CENTROID_SCALE = 1073741824.0  # 2^30 — fixed-point quantum


def label_centroid_components(emb: DataFrame) -> DataFrame:
    """(label, idx, mean) — the long form of the per-cell centroid:
    one row per (cell, dimension). This is the shuffle-native shape
    (see :func:`label_centroids` for the mechanics) and the
    driver-facing one: scalar doubles hash identically across engines,
    whereas an assembled array column breaks the driver comparator's
    pandas canonicalization (unhashable ndarray)."""
    ex = emb.select("label", F.posexplode("embedding").alias("idx", "x"))
    return (
        ex.groupBy("label", "idx")
        .agg(
            F.sum(F.floor(F.col("x").cast("double") * F.lit(CENTROID_SCALE)).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "idx",
            (F.col("s").cast("double") / (F.col("n") * F.lit(CENTROID_SCALE))).alias("mean"),
        )
    )


def label_centroid_components_oracle_sql() -> str:
    return f"""
    WITH ex AS (
        SELECT label, i AS idx,
               CAST(floor(CAST(embedding[i+1] AS DOUBLE) * {CENTROID_SCALE}) AS BIGINT) AS xq
        FROM embeddings, UNNEST(range(0, len(embedding))) t(i)
    )
    SELECT label, idx, CAST(sum(xq) AS DOUBLE) / (count(*) * {CENTROID_SCALE}) AS mean
    FROM ex GROUP BY 1, 2
    """


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-cell element-wise mean embedding — the update step of a
    distributed k-means (the IVF coarse quantizer's training loop).

    Determinism at scale: raw double sums depend on partial-agg order,
    so each component is quantized to fixed point (`floor(x·2^30)` —
    exact int64 math, order- and partition-insensitive) before the
    distributed sum; the mean divides once at the end. Resolution 2^-30
    ≈ 1e-9 per component, far below float32 input precision.

    Shape: posexplode → one (label, idx) shuffle with map-side partial
    sums (carries |cells|×dims rows, not |vectors|×dims), then a
    |cells|-row reassembly. At 100 TB this is the only viable shape —
    collect_list of whole vectors per cell would OOM on any hot cell.
    """
    comp = label_centroid_components(emb)
    return (
        comp.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "mean"))).alias("a"))
        .select(
            "label",
            F.transform("a", lambda s: s["mean"]).alias("centroid"),
            F.size("a").alias("dims"),
        )
    )


def _pinned_brute(emb: DataFrame, k: int) -> DataFrame:
    """The brute-force ground truth as a driver-pinned |Q|×k frame.
    Rows that score SEVERAL ANN variants against the same corpus
    (nprobe curve, residual ablation) must compute the brute pass ONCE
    and reuse it — recomputing it per variant re-scans the whole corpus
    each time for an identical 40-row answer (guide §1.2: don't compute
    things twice). |Q|×k is driver-sized by definition, so the pin is a
    collect + createDataFrame, not a checkpoint."""
    b = cosine_topk(emb, k).select("q_id", "neighbor_id")
    return emb.sparkSession.createDataFrame(b.collect(), b.schema)


def _pinned_brute_async(emb: DataFrame, k: int):
    """Start :func:`_pinned_brute` on a driver thread (guide §2.6) so
    the ground-truth corpus pass overlaps the quantizer training /
    index build it never depends on — in every recall row the brute
    pass and the build chain read the same pinned corpus and nothing
    else, so running them back to back leaves the cluster idle during
    the driver-side halves of each. Returns a ``join() -> DataFrame``
    callable; call it only AFTER the pinned ``emb`` has been
    materialized by some action on the caller's side OR accept that
    the two first-touch jobs may both compute the pin (callers here
    all materialize via their own seed/query collects first)."""
    from threading import Thread

    from pyspark import inheritable_thread_target

    holder: dict = {}

    def _run():
        try:
            holder["brute"] = _pinned_brute(emb, k)
        except BaseException as e:  # re-raised on the caller thread
            holder["err"] = e

    t = Thread(target=inheritable_thread_target(_run), daemon=True)
    t.start()

    def _get() -> DataFrame:
        t.join()
        if "err" in holder:
            raise holder["err"]
        return holder["brute"]

    return _get


def _recall_against_brute(
    emb: DataFrame, ann: DataFrame, k: int, brute: DataFrame | None = None
) -> DataFrame:
    """Score any ANN top-k result against the brute-force ground truth.
    Both sides are tiny (|Q|×k rows), so the scoring join costs nothing
    regardless of corpus size. ``brute``: pass a precomputed
    :func:`_pinned_brute` frame when scoring several variants of the
    same corpus so the ground-truth corpus pass runs once."""
    brute = brute if brute is not None else cosine_topk(emb, k).select(
        "q_id", "neighbor_id"
    )
    ann = ann.select(
        F.col("q_id").alias("iq_id"), F.col("neighbor_id").alias("i_neighbor")
    )
    joined = brute.join(
        F.broadcast(ann),
        (brute.q_id == ann.iq_id) & (brute.neighbor_id == ann.i_neighbor),
        "left",
    )
    return joined.groupBy("q_id").agg(
        F.count("i_neighbor").alias("n_hits"),
        F.count(F.lit(1)).alias("n_brute"),
        (F.count("i_neighbor") / F.count(F.lit(1))).alias("recall"),
    )


def ann_recall_at_k(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """(q_id, n_hits, n_brute, recall) — recall@k of the IVF cell-probe
    path against brute-force ground truth, per query. The self-check
    every ANN deployment needs: quantifies what the one-cell probe
    trades for its |corpus|/cells scan reduction."""
    return _recall_against_brute(emb, ann_ivf_label(emb, k), k)


def ann_recall_at_k_oracle_sql(k: int = TOP_K) -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    br AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {duck_cosine('q.v', 'c.v')} DESC, c.vec_id) AS rank
            FROM q JOIN e c ON c.vec_id <> q.vec_id
        ) WHERE rank <= {k}
    ),
    ir AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {duck_cosine('q.v', 'c.v')} DESC, c.vec_id) AS rank
            FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id
        ) WHERE rank <= {k}
    )
    SELECT br.q_id, count(ir.neighbor_id) AS n_hits, count(*) AS n_brute,
           count(ir.neighbor_id) / count(*) AS recall
    FROM br LEFT JOIN ir ON br.q_id = ir.q_id AND br.neighbor_id = ir.neighbor_id
    GROUP BY br.q_id
    """


EMB_DIM = 64


def _text_embedding_cells(docs: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """(doc_id, d, v) — the sparse un-normalized feature-hash cells:
    per word, bucket ``d`` = hash(word) mod dim with an independent ±1
    sign hash; ``v`` sums the signs (exact integer arithmetic in
    double space). The shared core of :func:`text_embeddings` (dense,
    normalized) and :func:`text_embeddings_sparse` (the oracle-checked
    driver shape)."""
    from meilisync_spark.functions.hashing import portable_hash64
    from meilisync_spark.operators.text import words_col
    from meilisync_spark.sources.parquet import spread

    words = spread(docs).select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("word")
    )
    feat = words.select(
        "doc_id",
        F.pmod(
            portable_hash64(F.concat(F.lit("emb:"), F.col("word"))), F.lit(dim)
        ).cast("int").alias("d"),
        F.when(
            F.pmod(
                portable_hash64(F.concat(F.lit("sgn:"), F.col("word"))), F.lit(2)
            )
            == 0,
            F.lit(1.0),
        )
        .otherwise(F.lit(-1.0))
        .alias("s"),
    )
    return feat.groupBy("doc_id", "d").agg(F.sum("s").alias("v"))


def text_embeddings_sparse(docs: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """(doc_id, d, val) — the L2-normalized embedding in sparse long
    form (only touched buckets), the driver-facing twin of
    :func:`text_embeddings`: scalar doubles hash identically across
    engines, where the dense array form's container rendering differs
    (numpy ndarray vs list). All-cancelled docs (ssq = 0) keep raw
    zeros, mirroring the dense form's guard."""
    cells = _text_embedding_cells(docs, dim)
    w = Window.partitionBy("doc_id")
    ssq = F.sum(F.col("v") * F.col("v")).over(w)
    return cells.select(
        "doc_id",
        "d",
        F.when(ssq > 0, F.col("v") / F.sqrt(ssq)).otherwise(F.col("v")).alias("val"),
    )


def text_embeddings_sparse_oracle_sql(dim: int = EMB_DIM) -> str:
    from meilisync_spark.functions.hashing import duck_hash64
    from meilisync_spark.operators.text import duck_words

    return f"""
    WITH w AS (
        SELECT doc_id, unnest({duck_words()}) AS word FROM documents
    ),
    feat AS (
        SELECT doc_id,
               CAST({duck_hash64("'emb:' || word")} % {dim} AS INTEGER) AS d,
               CASE WHEN {duck_hash64("'sgn:' || word")} % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM w
    ),
    cells AS (SELECT doc_id, d, SUM(s) AS v FROM feat GROUP BY 1, 2),
    stats AS (SELECT doc_id, SUM(v * v) AS ssq FROM cells GROUP BY 1)
    SELECT c.doc_id, c.d,
           CASE WHEN s.ssq > 0 THEN c.v / sqrt(s.ssq) ELSE c.v END AS val
    FROM cells c JOIN stats s USING (doc_id)
    """


def text_embeddings(docs: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """(doc_id, embedding array<double>) — deterministic text embedder
    via the feature-hashing trick (Weinberger et al. 2009, "Feature
    Hashing for Large Scale Multitask Learning"): every word hashes to
    one of ``dim`` buckets with an independent ±1 sign hash, counts
    accumulate per bucket, and the vector is L2-normalized. Vocabulary-
    free and pure JVM — no model weights, no UDF — so it is the honest
    scalable stand-in that makes the docs→embeddings→ANN pipeline
    runnable end-to-end; a production deployment swaps in a Pandas-UDF
    model encoder with the same (doc_id, embedding) contract. Docs
    with no word tokens emit no row (nothing to embed).

    Scale: one explode + two hash aggregations keyed on doc_id; cells
    per doc are capped at ``dim``, norms stay exact (±1 integer sums),
    and the two final IEEE ops (sqrt, divide) are applied in the same
    order as the DuckDB oracle (which checks the sparse twin,
    :func:`text_embeddings_sparse` — same cells, same normalization;
    the dense assembly is the only unshared step)."""
    cells = _text_embedding_cells(docs, dim)
    dense = (
        cells.groupBy("doc_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("d", "v"))).alias("m"),
            F.sum(F.col("v") * F.col("v")).alias("ssq"),
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.col("m")[i], F.lit(0.0)),
            ).alias("raw"),
            "ssq",
        )
    )
    return dense.select(
        "doc_id",
        F.when(
            F.col("ssq") > 0,
            F.transform(F.col("raw"), lambda x: x / F.sqrt(F.col("ssq"))),
        )
        .otherwise(F.col("raw"))
        .alias("embedding"),
    )


def embedding_quantize(emb: DataFrame) -> DataFrame:
    """(vec_id, amax, qvec) — symmetric per-vector int8 quantization:
    each component mapped to round(x / max|x| · 127), the standard
    compression step before shipping embeddings to an ANN index (4×
    smaller than float32, 8× smaller than the widened doubles).

    Pure per-row Catalyst (transform + array_max), no shuffle — the
    operator is scan-bound and embarrassingly parallel at any scale.
    Rounding is written as floor(v·127 + 0.5) rather than round() so
    Spark and the DuckDB oracle agree bit-for-bit on .5 boundaries;
    all-zero vectors quantize to zeros (amax guard)."""
    e = F.col("embedding")
    amax = F.array_max(F.transform(e, lambda x: F.abs(x.cast("double"))))
    q = F.when(
        F.col("amax") > 0,
        F.transform(
            e,
            lambda x: F.floor(x.cast("double") / F.col("amax") * 127 + F.lit(0.5)).cast(
                "int"
            ),
        ),
    ).otherwise(F.transform(e, lambda x: F.lit(0)))
    return emb.withColumn("amax", amax).select("vec_id", "amax", q.alias("qvec"))


def embedding_quantize_oracle_sql() -> str:
    return """
    WITH t AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
        FROM embeddings
    )
    SELECT vec_id, amax,
           CASE WHEN amax > 0 THEN
             list_transform(e, x -> CAST(floor(x / amax * 127 + 0.5) AS INTEGER))
           ELSE list_transform(e, x -> 0) END AS qvec
    FROM t
    """


def _duck_base(same_label_only: bool, k: int, label_col: str) -> str:
    join = (
        "JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id"
        if same_label_only
        else "JOIN e c ON c.vec_id <> q.vec_id"
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id, c.label AS label,
               {duck_cosine('q.v', 'c.v')} AS cosine
        FROM q {join}
    ),
    ranked AS (
        SELECT q_id, neighbor_id, label, cosine,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs
    )
    SELECT q_id, neighbor_id, {label_col}rank, cosine FROM ranked WHERE rank <= {k}
    """


def cosine_topk_oracle_sql(k: int = TOP_K) -> str:
    return _duck_base(False, k, "")


def ann_ivf_label_oracle_sql(k: int = TOP_K) -> str:
    return _duck_base(True, k, "label, ")


# ---------------------------------------------------------------------------
# SRP-LSH ANN: signed-random-projection bucketing (Charikar '02) — the
# LSH-bucketed scale path beside the IVF cell probe. No training step
# (unlike IVF's k-means): the hash family is fixed, so it drops into a
# streaming ingest where cells can't be re-trained.
# ---------------------------------------------------------------------------

SRP_BITS = 4    # 2^4 = 16 buckets; real systems size bits ~ log2(N / target)
SRP_DIM = 64    # fixture embedding dim; parameterize for other corpora


def srp_planes(bits: int = SRP_BITS, dim: int = SRP_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, derived from sha256 so
    both engines embed the SAME literal components (values are k/1000,
    k ∈ [-1000, 1000] — identical doubles after literal parsing)."""
    import hashlib

    planes = []
    for b in range(bits):
        row = []
        for j in range(dim):
            h = int(hashlib.sha256(f"srp:{b}:{j}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def _srp_bucket_col(e, planes: list[list[float]]):
    from meilisync_spark.functions.vectors import dot_product

    bucket = F.lit(0)
    for b, p in enumerate(planes):
        w = F.array(*[F.lit(x) for x in p])
        bucket = bucket + F.when(dot_product(e, w) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def srp_ann_topk(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """(q_id, neighbor_id, bucket, rank, cosine) — top-k restricted to
    the query's SRP bucket. Same probe shape as ann_ivf_label with the
    trained cell id replaced by the hash bucket: sign bits of ``bits``
    fixed random projections (cosine-LSH — collision probability
    1 - angle/π per bit). Bucketing is a per-row fold over the scan
    (zero shuffle); the query batch broadcasts; probing touches
    ~1/2^bits of the corpus per query. At 100 TB, partition the corpus
    by bucket so the probe is a partition-pruned scan."""
    planes = srp_planes()
    withb = emb.select(
        "vec_id", "embedding", _srp_bucket_col(F.col("embedding"), planes).alias("bucket")
    )
    q = withb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    c = withb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("neighbor_id") != F.col("q_id")),
    ).withColumn("cosine", cosine(F.col("q_emb"), F.col("c_emb")))
    return _topk(pairs, k, ["bucket"])


def srp_ann_topk_oracle_sql(k: int = TOP_K) -> str:
    planes = srp_planes()
    bits = []
    for b, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        bits.append(f"(CASE WHEN {duck_dot('v', lit)} >= 0 THEN {1 << b} ELSE 0 END)")
    bucket = " + ".join(bits)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    wb AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
    q AS (SELECT * FROM wb WHERE vec_id < {N_QUERIES}),
    pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id, c.bucket AS bucket,
               {duck_cosine('q.v', 'c.v')} AS cosine
        FROM q JOIN wb c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, bucket, cosine,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs
    )
    SELECT q_id, neighbor_id, bucket, rank, cosine FROM ranked WHERE rank <= {k}
    """


def srp_recall_at_k(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """(q_id, n_hits, n_brute, recall) — recall@k of the SRP-LSH bucket
    probe vs brute-force ground truth.

    Honest numbers on THIS corpus: ~0.1, same as the label-cell probe —
    the synthetic embeddings are near-orthogonal (true-neighbor cosines
    sit near 0), so a single-probe 4-bit sketch collides with a true
    neighbor at ~(1-θ/π)^4 ≈ 6%. That is the real physics of cosine-LSH
    on weak-similarity data, not a bug: on corpora with actual near
    neighbors (θ → 0) per-bit agreement → 1 and recall climbs steeply,
    and multi-probe (flipping low-margin bits) is the standard recall
    knob on top. The check exists exactly to surface this trade."""
    return _recall_against_brute(emb, srp_ann_topk(emb, k), k)


def srp_recall_at_k_oracle_sql(k: int = TOP_K) -> str:
    brute = cosine_topk_oracle_sql(k)
    ann = srp_ann_topk_oracle_sql(k)
    return f"""
    WITH br AS (SELECT q_id, neighbor_id FROM ({brute})),
         ann AS (SELECT q_id, neighbor_id FROM ({ann}))
    SELECT br.q_id AS q_id,
           count(ann.neighbor_id) AS n_hits,
           count(*) AS n_brute,
           count(ann.neighbor_id) / count(*) AS recall
    FROM br LEFT JOIN ann
      ON ann.q_id = br.q_id AND ann.neighbor_id = br.neighbor_id
    GROUP BY 1
    """


def srp_multiprobe_topk(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """(q_id, neighbor_id, rank, cosine) — SRP-LSH top-k with
    multi-probe (Lv et al. 2007): each query probes its own bucket PLUS
    every Hamming-1 bucket (one sign bit flipped), 1+bits probes out of
    2^bits. The standard recall knob on top of single-probe LSH: a true
    neighbor that disagrees on exactly one low-margin bit is recovered
    at the cost of probing (1+bits)/2^bits of the corpus instead of
    1/2^bits. Mechanics: the broadcast query batch is exploded into its
    probe-bucket list (|Q|·(1+bits) rows — still tiny), then the same
    bucket-equality join as :func:`srp_ann_topk`; each corpus vector
    lives in exactly one bucket so no candidate dedup is needed. At
    100 TB the corpus stays partitioned by bucket and each probe is a
    partition-pruned scan."""
    planes = srp_planes()
    withb = emb.select(
        "vec_id", "embedding", _srp_bucket_col(F.col("embedding"), planes).alias("bucket")
    )
    probe_list = F.array(
        F.col("q_bucket"),
        *[F.col("q_bucket").bitwiseXOR(F.lit(1 << b)) for b in range(len(planes))],
    )
    q = (
        withb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("bucket").alias("q_bucket"),
        )
        .select("q_id", "q_emb", F.explode(probe_list).alias("probe_bucket"))
    )
    c = withb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("probe_bucket")) & (F.col("neighbor_id") != F.col("q_id")),
    ).withColumn("cosine", cosine(F.col("q_emb"), F.col("c_emb")))
    return _topk(pairs, k, [])


def srp_multiprobe_recall(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """(q_id, n_hits, n_brute, recall) — recall@k of the multi-probe
    SRP path vs brute force on the raw fixture: the measured
    demonstration that probing Hamming-1 buckets lifts recall above
    :func:`srp_recall_at_k`'s single-probe number at a known extra-scan
    cost."""
    return _recall_against_brute(emb, srp_multiprobe_topk(emb, k), k)


def _srp_bucket_sql() -> str:
    planes = srp_planes()
    bits = []
    for b, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        bits.append(f"(CASE WHEN {duck_dot('v', lit)} >= 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(bits)


def srp_multiprobe_topk_oracle_sql(k: int = TOP_K) -> str:
    n_planes = len(srp_planes())
    flips = ", ".join(str(1 << b) for b in range(n_planes))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    wb AS (SELECT vec_id, v, {_srp_bucket_sql()} AS bucket FROM e),
    q AS (
        SELECT vec_id, v, xor(bucket, flip) AS probe_bucket
        FROM wb, UNNEST([0, {flips}]) t(flip)
        WHERE vec_id < {N_QUERIES}
    ),
    pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               {duck_cosine('q.v', 'c.v')} AS cosine
        FROM q JOIN wb c ON c.bucket = q.probe_bucket AND c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs
    )
    SELECT q_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


def srp_multiprobe_recall_oracle_sql(k: int = TOP_K) -> str:
    brute = cosine_topk_oracle_sql(k)
    ann = srp_multiprobe_topk_oracle_sql(k)
    return f"""
    WITH br AS (SELECT q_id, neighbor_id FROM ({brute})),
         ann AS (SELECT q_id, neighbor_id FROM ({ann}))
    SELECT br.q_id AS q_id,
           count(ann.neighbor_id) AS n_hits,
           count(*) AS n_brute,
           count(ann.neighbor_id) / count(*) AS recall
    FROM br LEFT JOIN ann
      ON ann.q_id = br.q_id AND ann.neighbor_id = br.neighbor_id
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Clustered-corpus recall: the positive ANN demonstration. The raw fixture
# vectors are near-orthogonal, so ann_recall_at_k / srp_recall_at_k honestly
# report ~0.1 recall — real cosine-LSH physics on weak-similarity data, but
# no proof the probes FIND neighbors when neighbors exist. These twins derive
# a genuinely clustered corpus deterministically from the fixture and show
# both probe shapes at recall ~1.0 on it.
# ---------------------------------------------------------------------------

CLUSTER_CELLS = 10
CLUSTER_DELTA = 0.125  # exact binary fraction: b + v*0.125 is one multiply
                       # and one add in both engines -> bit-equal twin corpus


def cluster_bases(cells: int = CLUSTER_CELLS, dim: int = SRP_DIM) -> list[list[float]]:
    """Deterministic per-cell base vectors (same sha256-literal scheme as
    :func:`srp_planes`): components k/1000, k in [-1000, 1000], embedded
    as identical literals in the Spark plan and the DuckDB oracle."""
    import hashlib

    bases = []
    for c in range(cells):
        row = []
        for j in range(dim):
            h = int(hashlib.sha256(f"cellbase:{c}:{j}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        bases.append(row)
    return bases


def clustered_embeddings(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, label) — the clustered twin corpus:
    ``v' = base(vec_id % cells) + delta * v``. Each cell is a tight cap
    (base norm ~4.6 vs perturbation norm delta=0.125 on the unit-norm
    fixture, angular radius ~1.5 degrees), cross-cell cosines stay near
    random-base levels (~0.1) — so a query's true top-k genuinely lives
    in its own cell, which is what an ANN probe must exploit. Pure
    per-row Catalyst (literal array-of-arrays + zip_with), zero shuffle,
    scan-bound at any corpus size."""
    bases = cluster_bases()
    blit = F.array(*[F.array(*[F.lit(x) for x in row]) for row in bases])
    cell = (F.col("vec_id") % CLUSTER_CELLS).cast("int")
    base = F.element_at(blit, cell + F.lit(1))
    v = F.zip_with(
        base,
        F.col("embedding"),
        lambda b, x: b + x.cast("double") * F.lit(CLUSTER_DELTA),
    )
    return emb.select(
        "vec_id",
        v.alias("embedding"),
        (F.col("vec_id") % CLUSTER_CELLS).alias("label"),
    )


def ann_recall_clustered(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """(q_id, n_hits, n_brute, recall) — IVF cell-probe recall@k on the
    clustered twin corpus. With real cluster structure the one-cell
    probe recovers the brute-force top-k exactly (recall 1.0) while
    scanning 1/cells of the corpus — the demonstration that the probe
    shape works when neighbors exist (contrast ann_recall_at_k on the
    raw near-orthogonal fixture)."""
    ce = clustered_embeddings(emb)
    return _recall_against_brute(ce, ann_ivf_label(ce, k), k)


def srp_recall_clustered(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """(q_id, n_hits, n_brute, recall) — SRP-LSH bucket-probe recall@k
    on the clustered twin corpus: tight clusters land whole in one
    bucket, so the training-free hash probe also recovers the true
    top-k (modulo cells that straddle a hyperplane — the measured
    residual of single-probe LSH)."""
    ce = clustered_embeddings(emb)
    return _recall_against_brute(ce, srp_ann_topk(ce, k), k)


def _clustered_cte() -> str:
    """DuckDB CTEs deriving the SAME clustered twin: e(vec_id, v, label)."""
    bases = cluster_bases()
    vals = ",\n               ".join(
        "(" + str(c) + ", [" + ", ".join(repr(x) for x in row) + "]::DOUBLE[])"
        for c, row in enumerate(bases)
    )
    return f"""raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS rv FROM embeddings),
    bases(cell, b) AS (VALUES {vals}),
    e AS (
        SELECT raw.vec_id AS vec_id,
               list_transform(range(1, len(rv) + 1), i -> b[i] + rv[i] * {CLUSTER_DELTA}) AS v,
               raw.vec_id % {CLUSTER_CELLS} AS label
        FROM raw JOIN bases ON bases.cell = raw.vec_id % {CLUSTER_CELLS}
    )"""


def ann_recall_clustered_oracle_sql(k: int = TOP_K) -> str:
    return f"""
    WITH {_clustered_cte()},
    q AS (SELECT * FROM e WHERE vec_id < {N_QUERIES}),
    br AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {duck_cosine('q.v', 'c.v')} DESC, c.vec_id) AS rank
            FROM q JOIN e c ON c.vec_id <> q.vec_id
        ) WHERE rank <= {k}
    ),
    ir AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {duck_cosine('q.v', 'c.v')} DESC, c.vec_id) AS rank
            FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id
        ) WHERE rank <= {k}
    )
    SELECT br.q_id, count(ir.neighbor_id) AS n_hits, count(*) AS n_brute,
           count(ir.neighbor_id) / count(*) AS recall
    FROM br LEFT JOIN ir ON br.q_id = ir.q_id AND br.neighbor_id = ir.neighbor_id
    GROUP BY br.q_id
    """


def srp_recall_clustered_oracle_sql(k: int = TOP_K) -> str:
    planes = srp_planes()
    bits = []
    for b, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        bits.append(f"(CASE WHEN {duck_dot('v', lit)} >= 0 THEN {1 << b} ELSE 0 END)")
    bucket = " + ".join(bits)
    return f"""
    WITH {_clustered_cte()},
    wb AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
    q AS (SELECT * FROM wb WHERE vec_id < {N_QUERIES}),
    br AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {duck_cosine('q.v', 'c.v')} DESC, c.vec_id) AS rank
            FROM q JOIN e c ON c.vec_id <> q.vec_id
        ) WHERE rank <= {k}
    ),
    ir AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {duck_cosine('q.v', 'c.v')} DESC, c.vec_id) AS rank
            FROM q JOIN wb c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        ) WHERE rank <= {k}
    )
    SELECT br.q_id, count(ir.neighbor_id) AS n_hits, count(*) AS n_brute,
           count(ir.neighbor_id) / count(*) AS recall
    FROM br LEFT JOIN ir ON br.q_id = ir.q_id AND br.neighbor_id = ir.neighbor_id
    GROUP BY br.q_id
    """


def ann_ivf_kmeans(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """(q_id, neighbor_id, cluster, rank, cosine) — the full IVF loop
    closed: cells come from the trained k-means quantizer
    (operators/kmeans.py, exact fixed-point Lloyd) instead of the
    synthetic ``label`` column, then the probe restricts candidates to
    the query's cell exactly like ann_ivf_label.

    Non-SQL-expressible end to end (the quantizer is iterative), so
    this is a library operator with local tests; the probe mechanics
    are driver-checked via ann_ivf_label and srp_ann_topk. At 100 TB:
    train on a sample, broadcast centroids (they are already in the
    assignment closure), write the corpus partitioned by cluster so
    the probe partition-prunes."""
    from meilisync_spark.operators.kmeans import kmeans_labels

    cells = kmeans_labels(emb)
    withc = emb.join(cells, "vec_id").select(
        "vec_id", "embedding", F.col("cluster")
    )
    q = withc.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("cluster").alias("q_cluster"),
    )
    c = withc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "cluster",
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("cluster") == F.col("q_cluster")) & (F.col("neighbor_id") != F.col("q_id")),
    ).withColumn("cosine", cosine(F.col("q_emb"), F.col("c_emb")))
    return _topk(pairs, k, ["cluster"])


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape): drop near-duplicate embeddings per cell
# ---------------------------------------------------------------------------

SEM_TAU = 0.3  # cosine threshold; production SemDeDup uses ~0.95+ on
               # real embeddings — the synthetic vectors here are
               # near-orthogonal, so the demo threshold sits lower


def semantic_dedup(emb: DataFrame, tau: float = SEM_TAU) -> DataFrame:
    """(vec_id, label, kept) — SemDeDup-shaped semantic deduplication
    (Abbas et al. 2023): within each coarse cell (``label``; a
    production pipeline fills it from the k-means quantizer, see
    ``kmeans_labels``), a vector is dropped when a *smaller-id* vector
    in the same cell sits within cosine >= tau of it. "Smallest id
    survives" is a deterministic, order-free keep rule — unlike the
    greedy chain variant it needs no sequential scan, so it
    parallelizes: one cell-blocked SEMI join (O(cell²) worst case,
    never corpus²; the semi probe short-circuits at the first
    dominating neighbor, and no pair rows materialize), then a cheap
    unique-key join to flag survivors. Norms are computed once per
    ROW before the join — the join condition evaluates only the dot
    fold per pair (the naive form re-derives both norms per pair, 3×
    the flops). The division form of the threshold is kept identical
    to the oracle's so boundary rounding cannot diverge. At 100 TB:
    partition the corpus by cell id so the self-join is
    partition-local, and cap cell sizes via the k-means k (cells are
    ~N/k). No reference analogue."""
    from meilisync_spark.functions.vectors import dot_product, l2_norm

    withn = emb.select(
        "vec_id", "embedding", "label", l2_norm(F.col("embedding")).alias("nrm")
    )
    b = withn.select(
        F.col("vec_id").alias("nb_id"),
        F.col("embedding").alias("nb_emb"),
        F.col("label").alias("nb_label"),
        F.col("nrm").alias("nb_nrm"),
    )
    cond = (
        (F.col("label") == F.col("nb_label"))
        & (F.col("nb_id") < F.col("vec_id"))
        & (
            dot_product(F.col("embedding"), F.col("nb_emb"))
            / (F.col("nrm") * F.col("nb_nrm"))
            >= tau
        )
    )
    dropped = withn.join(b, cond, "left_semi").select("vec_id", F.lit(1).alias("__d"))
    return (
        emb.select("vec_id", "label")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.when(F.col("__d").isNull(), 1).otherwise(0).alias("kept"),
        )
    )


def semantic_dedup_oracle_sql(tau: float = SEM_TAU) -> str:
    cos = duck_cosine("a.v", "b.v")
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    )
    SELECT a.vec_id, a.label,
           CASE WHEN EXISTS (
               SELECT 1 FROM e b
               WHERE b.label = a.label AND b.vec_id < a.vec_id
                 AND {cos} >= {tau}
           ) THEN 0 ELSE 1 END AS kept
    FROM e a
    """
