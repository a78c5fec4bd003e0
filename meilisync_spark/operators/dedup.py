"""Deduplication operators for training-data pipelines.

Four families, each idiomatic Spark (no Python in the hot path):

- **exact**: normalize → sha256 → hash-groupBy. One shuffle on the
  content hash; map-side partial aggregation collapses within-partition
  duplicates before the exchange.
- **MinHash + LSH**: shingle → per-permutation min-hash (computed
  per-row with higher-order array functions — zero shuffle) → band →
  bucket self-join. At 100 TB the band join is the only shuffle, and it
  carries |docs|×BANDS narrow rows, not shingles. Banding follows the
  classic LSH construction (Broder '97 / MMDS ch.3): 16 perms × 8
  bands of 2 rows ⇒ ~50% candidate recall at J≈0.35, >95% at J≥0.7.
- **SimHash**: 32-bit signature per doc (Charikar '02) — bit math kept
  in exact-double range so the DuckDB oracle reproduces it bit-for-bit
  — then 8-bit-band bucketing for Hamming-distance candidate pairs.
- **n-gram Jaccard**: exact verification of LSH candidates via distinct
  word-3-gram set intersection (the classic candidate→verify pattern;
  never all-pairs).

Reference parity note: the reference has no dedup at all (its A5
compaction is pk-dedup, operators/compaction.py); these are the
north-star extensions from BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meilisync_spark.functions.hashing import duck_hash64, portable_hash64
from meilisync_spark.operators.text import (
    duck_shingles,
    duck_words,
    shingles_col,
    words_col,
)
from meilisync_spark.pin import pin
from meilisync_spark.sources.parquet import spread
from meilisync_spark.pin import SER as _SER

NUM_PERM = 16
BANDS = 8  # rows per band = NUM_PERM // BANDS = 2
MH_SHINGLE = 3
SIMHASH_BITS = 60  # stays positive in a signed int64 in both engines
SIM_BANDS = 4      # 15-bit bands over the 60-bit simhash
SIM_BAND_BITS = SIMHASH_BITS // SIM_BANDS  # 32768 values per band
HAMMING_MAX = 6

# minimum estimated Jaccard (matching-signature fraction) for a band
# collision to count as a near-duplicate — shared by the batch curation
# pipeline and the streaming ingest probe (streaming/corpus_ingest.py)
NEAR_DUP_TAU = 0.5

# MinHash universal-hash permutations: sig_p = min((a_p·h + b_p) mod P)
# over one 30-bit base hash h per shingle (a,b < 2^30 ⇒ a·h+b < 2^62,
# exact in int64 in both engines). One sha256 per shingle total — the
# 16 permutations are integer arithmetic, not 16 rehashes.
MH_PRIME = 2147483647  # 2^31 - 1
MH_BASE_MOD = 1 << 30
MH_PERMS: list[tuple[int, int]] = [
    (1042783871, 403871219), (735193049, 918273645),
    (902419057, 71928343), (384179633, 562718239),
    (569854391, 847563029), (268817299, 912837465),
    (1012334597, 231487529), (151285247, 655369981),
    (823974317, 110938417), (477150671, 583927151),
    (96821473, 429381877), (654987323, 761029349),
    (288432901, 53187269), (1009121189, 987654321),
    (419874721, 345678917), (736489117, 192837465),
]

# Mega-bucket guard. A band bucket holding n docs emits O(n²) candidate
# pairs from the band self-join — AQE splits skewed shuffle PARTITIONS,
# not the pair count itself, so a boilerplate-heavy corpus (10^5 docs
# sharing one template ⇒ one bucket) would emit ~10^10 pairs before any
# distinct(). Buckets larger than LSH_BUCKET_CAP collapse to a STAR:
# each member pairs with the bucket REPRESENTATIVE (min doc_id) only —
# O(n) pairs. The connectivity claim is precise about WHERE it holds:
# for UNVERIFIED connected components (dedup_clusters) all bucket
# members are mutual candidates by construction, so the whole bucket
# still merges into one cluster through the representative. In the
# VERIFIED pipelines (ngram_jaccard_pairs → dedup_clusters_verified,
# corpus_pipeline_full's est_jaccard >= TAU filter) the only surviving
# edges inside an over-cap bucket are (rep, member): if the rep's
# exact/estimated Jaccard against a member falls below threshold, a
# genuine member–member duplicate pair is LOST — clusters can split,
# near-dups can survive. That bounded recall loss (over-cap buckets
# only) is the standard cap-or-collapse mitigation (MMDS ch.3
# bucket-size capping); the oracles mirror the guard, so hash-equality
# certifies the GUARDED algorithm, not all-pairs LSH. The incremental
# probe (incremental_neardup) and the streaming probe instead use an
# exactness-preserving per-(bucket, sig) signature-collapse — viable
# there because est_jaccard depends on the signature alone; the batch
# verify paths compare exact shingle sets, which differ within a sig
# group, so no collapse is exact for them and the star is the bound.
# The guard predicate — (bucket_n <= cap) OR (doc_a = bucket_rep),
# applied to the LEFT (smaller-id) side of the a<b self-join — is
# mirrored verbatim in every DuckDB oracle that derives pairs from
# bands, so capped and uncapped corpora alike stay hash-equal.
LSH_BUCKET_CAP = 512


def _cap_left_side(
    bands: DataFrame,
    cap: int = LSH_BUCKET_CAP,
    keys: tuple[str, str] = ("band_idx", "band_hash"),
) -> DataFrame:
    """Restrict ``bands`` to the rows allowed on the LEFT (doc_a) side
    of the band self-join under the mega-bucket guard: every row of a
    bucket with ≤ cap members, only the representative (min doc_id) row
    of a larger one. Star pairs have doc_a = rep automatically because
    rep is the bucket minimum and the join keeps doc_a < doc_b.

    The over-cap bucket list is bounded by |bands| / cap (at 10^9 band
    rows and cap 512 that is ≤ 2M keys ≈ 50 MB), so on realistic
    corpora AQE converts the guard join to broadcast-hash at runtime
    (plan-asserted in tests/test_mega_bucket.py). The hint is NOT
    forced: a pathological corpus where most buckets sit just over the
    cap could push the key list past driver memory, and a forced
    F.broadcast would OOM the driver where a shuffle join (whose
    exchange Catalyst reuses from the groupBy on the same key) degrades
    gracefully — so the join strategy is left to AQE's measured sizes."""
    big = (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("_rep"))
        .where(F.col("_n") > cap)
        .select(*keys, "_rep")
    )
    return (
        bands.join(big, list(keys), "left")
        .where(F.col("_rep").isNull() | (F.col("doc_id") == F.col("_rep")))
        .drop("_rep")
    )


def _duck_pair_guard(stats_alias: str = "s", left_alias: str = "a") -> str:
    """The oracle twin of :func:`_cap_left_side`: SQL predicate to AND
    onto a bands self-join that also joins the ``bstats`` CTE (emitted
    by :func:`_duck_sig_cte`) on the bucket key."""
    return (
        f"({stats_alias}.n <= {LSH_BUCKET_CAP} "
        f"OR {left_alias}.doc_id = {stats_alias}.rep)"
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def normalize_text(text: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Group by content hash of normalized text: canonical doc (min id)
    + group size. ``n_docs > 1`` rows are duplicate clusters."""
    h = F.sha2(normalize_text(F.col("text")), 256)
    return (
        spread(docs).select(h.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def exact_dedup_oracle_sql(source: str = "documents") -> str:
    return rf"""
    SELECT sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
           min(doc_id) AS canonical_id, count(*) AS n_docs
    FROM {source} GROUP BY 1
    """


def source_overlap(docs: DataFrame) -> DataFrame:
    """(source_a, source_b, n_pairs) — how many near-duplicate document
    pairs each unordered source pair shares (source_a <= source_b;
    equal sources count within-source pairs). The provenance question
    every corpus mix starts with: how much of crawl B is already in
    dump A.

    Built on the MinHash-LSH candidate set (exact duplicates share all
    bands, so they are included), then two doc-keyed joins to attach
    provenance and one tiny |sources|² aggregate. Volume is bounded by
    the near-dup pair count — document pairs outside shared LSH buckets
    are never materialized."""
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    src = spread(docs).select("doc_id", "source")
    out = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return out


def source_overlap_oracle_sql() -> str:
    return f"""
    WITH {_duck_sig_cte()},
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        JOIN bstats s
          ON s.band_idx = a.band_idx AND s.band_hash = a.band_hash
        WHERE {_duck_pair_guard()}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs
    FROM pairs
    JOIN documents da ON pairs.doc_a = da.doc_id
    JOIN documents db ON pairs.doc_b = db.doc_id
    GROUP BY 1, 2
    """


def exact_source_overlap(docs: DataFrame) -> DataFrame:
    """(source_a, source_b, n_shared_hashes, n_pairs) — EXACT-duplicate
    provenance matrix computed from per-(content_hash, source) group
    sizes, never from document pairs: one corpus-sized hash groupBy
    (map-side combined), then a self-join of the tiny histogram on the
    near-unique hash key, then a |sources|² aggregate. ``n_pairs``
    counts duplicate doc pairs (``na·nb`` across sources, ``C(n,2)``
    within one), ``n_shared_hashes`` the distinct contents involved.
    This is the cheap exact complement of :func:`source_overlap`, which
    answers the NEAR-duplicate form of the same question from the LSH
    candidate set — at 100 TB this one costs a single shuffle of
    32-byte hashes regardless of duplicate density, while the LSH form
    is bounded by its candidate count."""
    h = spread(docs).select(
        F.sha2(normalize_text(F.col("text")), 256).alias("key"), "source"
    )
    return _histogram_overlap(h)


def _histogram_overlap(keyed: DataFrame) -> DataFrame:
    """(source_a, source_b, n_shared_hashes, n_pairs) from a
    ``(key, source)`` frame: per-(key, source) histogram → self-join on
    the key → |sources|² aggregate. No row pairs materialize; cost is
    one histogram shuffle plus a join bounded by key-collision volume."""
    g = keyed.groupBy("key", "source").agg(F.count(F.lit(1)).alias("n"))
    a = g.select("key", F.col("source").alias("sa"), F.col("n").alias("an"))
    b = g.select("key", F.col("source").alias("sb"), F.col("n").alias("bn"))
    joined = (
        a.join(b, "key")
        .where(F.col("sa") <= F.col("sb"))
        # a same-source histogram row needs ≥2 docs to form a pair;
        # every surviving row contributes ≥1 pair, so count(*) below
        # IS the shared-key count
        .where(~((F.col("sa") == F.col("sb")) & (F.col("an") < 2)))
    )
    pair_count = F.when(
        F.col("sa") == F.col("sb"), F.expr("an * (an - 1) div 2")
    ).otherwise(F.col("an") * F.col("bn"))
    return (
        joined.groupBy(F.col("sa").alias("source_a"), F.col("sb").alias("source_b"))
        .agg(
            F.count(F.lit(1)).alias("n_shared_hashes"),
            F.sum(pair_count).alias("n_pairs"),
        )
    )


_HISTOGRAM_OVERLAP_SQL = """
    g AS (SELECT key, source, count(*) AS n FROM keyed GROUP BY 1, 2)
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared_hashes,
           CAST(sum(CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
                         ELSE a.n * b.n END) AS BIGINT) AS n_pairs
    FROM g a JOIN g b ON a.key = b.key AND a.source <= b.source
    WHERE NOT (a.source = b.source AND a.n < 2)
    GROUP BY 1, 2
"""


def fingerprint_source_overlap(docs: DataFrame) -> DataFrame:
    """(source_a, source_b, n_shared_hashes, n_pairs) — cross-source
    CONTENT-REUSE matrix keyed by winnowing fingerprints
    (operators/text.winnow_fingerprints, the MOSS scheme): two sources
    overlap wherever any selected 5-gram fingerprint appears in both.
    Same pair-free histogram math as :func:`exact_source_overlap` but
    with a key that detects partial reuse (shared passages), not just
    whole-document equality — the matrix a crawl-mix audit actually
    wants. Cost: the winnow scan plus one fingerprint-histogram
    shuffle; the self-join is bounded by fingerprint collision volume,
    and a doc pair sharing k fingerprints is counted k times (reuse
    *mass*, not deduped pair existence — the cheap form; dedup the pair
    list via span_dedup/minhash when identity matters)."""
    from meilisync_spark.operators.text import winnow_fingerprints

    fp = winnow_fingerprints(docs).select(F.col("fp").alias("key"), "doc_id")
    src = spread(docs).select("doc_id", "source")
    return _histogram_overlap(fp.join(src, "doc_id").select("key", "source"))


def exact_source_overlap_oracle_sql() -> str:
    return rf"""
    WITH keyed AS (
        SELECT sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS key,
               source
        FROM documents
    ),
    {_HISTOGRAM_OVERLAP_SQL}
    """


def fingerprint_source_overlap_oracle_sql() -> str:
    from meilisync_spark.operators.text import winnow_fingerprints_oracle_sql

    return f"""
    WITH keyed AS (
        SELECT w.fp AS key, d.source AS source
        FROM ({winnow_fingerprints_oracle_sql()}) w
        JOIN documents d ON d.doc_id = w.doc_id
    ),
    {_HISTOGRAM_OVERLAP_SQL}
    """


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def shingle_rows(docs: DataFrame, n: int, words: str | None = None) -> DataFrame:
    """(doc_id, _sh) — one row per word n-gram shingle, the string
    built per GENERATED row inside whole-stage codegen.

    This is the second half of the explode rebuild (round-12 shingle
    codegen microbenchmark; script and output at git 1e8543b): the
    first half moved the HASH below the explode; the shingle STRING
    build itself was still the interpreted higher-order
    ``transform(sequence, i -> concat_ws(' ', slice(w, i, n)))`` (the
    round-11 fold microbenchmark put it at 41% of the old stage).
    Exploding the INDEX instead and building each shingle with
    ``concat_ws(' ', slice(w, i, n))`` per generated row keeps the
    whole tokenize → shingle → hash chain inside one
    WholeStageCodegen span — measured 2.06× on the minhash shape and
    1.73× on the decon shape at 200k docs (min-of-3 interleaved), with
    byte-identical strings (same expression per index, so every
    downstream hash/signature is bit-identical).

    The words array rides the Generate as a REFERENCE inside the
    codegen stage (rows are consumed by an in-stage aggregate or
    join, never materialized with ``_w`` attached), so the
    O(n²)-bytes warning in operators/text.doc_chunks does not apply.

    Short docs (fewer than ``n`` words) are dropped by an EMPTY
    sequence inside the generator, not by a ``where`` — two reasons:
    a filter on ``size(_w)`` would get the tokenizer regex
    SUBSTITUTED into it by predicate pushdown (one extra full
    tokenize pass per row, the quality_keep gotcha), and the guard
    itself is load-bearing because ``sequence(1, 0)`` DESCENDS
    rather than being empty. Inside the generator ``_w`` is a plain
    attribute from the projection below, so the regex runs exactly
    once per row."""
    w = F.col(words) if words else words_col(F.col("text"))
    idx = F.when(
        F.size("_w") >= n,
        F.sequence(F.lit(1), F.size("_w") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select("doc_id", w.alias("_w"))
        .select("doc_id", "_w", F.explode(idx).alias("_i"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.col("_w"), F.col("_i"), n)).alias("_sh"),
        )
    )


def minhash_signatures(docs: DataFrame, words: str | None = None) -> DataFrame:
    """doc_id + 16-permutation minhash signature.

    Shape chosen for CPU, validated by measurement (SCALE.md,
    MinHash/LSH; rounds 11-12 at git 1e8543b): explode the shingles, hash
    per ROW inside whole-stage codegen, and rebuild the 16-slot
    signature as 16 ``min()`` aggregates under a map-side-combined
    ``groupBy(doc_id)``. Spark's higher-order array functions are
    INTERPRETED, so the per-row fold this replaces (kept as
    ``minhash_signatures_fold``) paid interpreter dispatch per
    shingle×permutation — 1.47× slower on the same input with
    BIT-IDENTICAL output (same base hash, same linear permutations,
    same min). The added exchange is ~|docs| rows of (doc_id,
    16 longs) AFTER partial aggregation — at 10⁹ docs that is the
    same width the band builder ships anyway, and far below the
    shingle row count the map side collapses.

    One sha256 per shingle (the base hash); the 16 permutations are
    int64 arithmetic on it (a,b < 2^30 ⇒ a·h+b < 2^62, exact in both
    engines — the DuckDB oracle twin is unchanged).

    ``words``: name of a pre-tokenized (MATERIALIZED — e.g. pinned or
    stored) word-array column. Composed pipelines that already
    tokenized upstream pass it so neither this function's length
    filter nor its shingle build re-runs the tokenizer regex
    (interleaved A/B at sf0.1: 0.50 → 0.33 s for the signature
    build). Without it, text is tokenized here — twice (filter +
    sig), since a projected alias would be substituted back into a
    pushed-down filter anyway.

    Round-12 second step: the shingle STRING build also moved below
    the explode (see :func:`shingle_rows`) — index explode +
    ``concat_ws(slice)`` per generated row under codegen replaced the
    interpreted per-row ``transform`` build, 2.06× on the signature
    stage at 200k docs with bit-identical strings (the fold twin's
    parity test re-verifies end-to-end signatures)."""
    docs = spread(docs)
    h = F.col("_h")
    return (
        shingle_rows(docs, MH_SHINGLE, words=words)
        .select(
            "doc_id",
            (portable_hash64(F.col("_sh")) % F.lit(MH_BASE_MOD)).alias("_h"),
        )
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    (F.lit(a).cast("long") * h + F.lit(b).cast("long"))
                    % F.lit(MH_PRIME)
                ).alias(f"_m{i}")
                for i, (a, b) in enumerate(MH_PERMS)
            ]
        )
        .select(
            "doc_id",
            F.array(*[F.col(f"_m{i}") for i in range(NUM_PERM)]).alias("sig"),
        )
    )


def minhash_signatures_fold(docs: DataFrame, words: str | None = None) -> DataFrame:
    """The per-row higher-order-function form of ``minhash_signatures``
    (no shuffle: a single left fold over the shingle hashes whose
    accumulator is the 16-slot array). Kept as the measurement twin
    and the bit-parity witness for the explode+codegen rebuild above
    (tests/test_new_dedup.py pins equality); production callers use
    ``minhash_signatures``."""
    docs = spread(docs)
    w = F.col(words) if words else words_col(F.col("text"))
    sh = shingles_col(w, MH_SHINGLE)
    base = F.transform(sh, lambda s: portable_hash64(s) % F.lit(MH_BASE_MOD))
    init = F.array_repeat(F.lit(MH_PRIME).cast("long"), NUM_PERM)
    ab = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in MH_PERMS
        ]
    )
    sig = F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc, ab, lambda m, p: F.least(m, (p["a"] * h + p["b"]) % F.lit(MH_PRIME))
        ),
    )
    return (
        docs.where(F.size(w) >= MH_SHINGLE)
        .select("doc_id", sig.alias("sig"))
    )


def _band_hash(sig: Column, b: Column) -> Column:
    m1 = F.element_at(sig, b * 2 + 1).cast("string")
    m2 = F.element_at(sig, b * 2 + 2).cast("string")
    return portable_hash64(F.concat(F.lit("B"), b.cast("string"), F.lit(":"), m1, F.lit(","), m2))


def lsh_bands(sigs: DataFrame) -> DataFrame:
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda b: F.struct(b.alias("band_idx"), _band_hash(F.col("sig"), b).alias("band_hash")),
    )
    return sigs.select("doc_id", "sig", F.explode(bands).alias("band")).select(
        "doc_id", "sig", F.col("band.band_idx").alias("band_idx"), F.col("band.band_hash").alias("band_hash")
    )


def lsh_bands_slim(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) — the band table WITHOUT the
    signature column, for consumers that join bands against bands and
    only later (or never) need the signatures. At 10⁹ docs the band
    self-join is the widest shuffle in the whole dedup stack; a band
    row carrying its 16-slot sig is ~180 B against ~40 B slim, so
    shipping sigs through that exchange (and holding them in the
    pinned band table BANDS× over) multiplies both shuffle bytes and
    pin heap by ~4-5× for data the join key (the band hash IS the
    band's sig slots) already encodes. Signatures attach afterwards to
    the UNIQUE surviving pairs via two doc_id joins against the
    |docs|-row signature table."""
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda b: F.struct(b.alias("band_idx"), _band_hash(F.col("sig"), b).alias("band_hash")),
    )
    return sigs.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_hash").alias("band_hash"),
    )


def minhash_lsh_pairs(docs: DataFrame, bucket_cap: int = LSH_BUCKET_CAP,
                      words: str | None = None) -> DataFrame:
    """Candidate near-duplicate pairs (≥1 shared LSH band) with the
    signature-estimated Jaccard. Shuffle = one self-join keyed on
    (band_idx, band_hash); buckets over ``bucket_cap`` collapse to the
    representative star (see the guard note above _cap_left_side) so a
    template mega-bucket emits O(n) pairs, never O(n²)."""
    # lazy localCheckpoints: the signature table feeds the band build
    # plus both pair-side sig attachments, and the band table feeds
    # both sides of the self-join — without pins the whole shingle+hash
    # pipeline runs once per consumer (at scale you'd materialize
    # signatures as a table for exactly this reason). NOT .persist():
    # cached plans live in the CacheManager until explicitly
    # unpersisted, and a lazily-returned result frame has no safe
    # unpersist point — repeated calls in a long-lived session would
    # accumulate corpus-sized cache entries. Checkpoint RDDs are
    # released by the ContextCleaner when the frame is garbage
    # collected.
    sigs = pin(minhash_signatures(docs, words=words))
    # SLIM self-join (round 8): the band exchange — the widest shuffle
    # here — moves (doc_id, band_idx, band_hash) rows only; signatures
    # attach AFTER the distinct, once per unique pair, via two doc_id
    # joins against the |docs|-row sig table. vs the sig-carrying join:
    # ~4-5× less band-shuffle payload and pin heap, the pair-dedup
    # shuffle shrinks to 2 longs per row, and est_jaccard is computed
    # once per unique pair instead of once per duplicate band
    # collision. (Subsumes round 7's est-before-distinct ordering.)
    bands = pin(lsh_bands_slim(sigs))
    a = _cap_left_side(bands, bucket_cap).select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_hash"
    )
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    pairs = (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    matched = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    return (
        pairs.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", (matched / F.lit(NUM_PERM)).alias("est_jaccard"))
    )


def _duck_sig_cte(source: str = "documents") -> str:
    # Oracle recomputes the base hash per permutation (fine at oracle
    # scale) — same values as the Spark fold: min((a·h+b) mod P).
    # ``source`` lets composed pipelines band a prior CTE's survivors
    # instead of the raw documents table.
    sh = duck_shingles(duck_words(), MH_SHINGLE)
    h = f"({duck_hash64('s')} % {MH_BASE_MOD})"
    per_perm = ", ".join(
        f"list_aggregate(list_transform(sh, s -> (({a} * {h} + {b}) % {MH_PRIME})), 'min')"
        for a, b in MH_PERMS
    )
    return f"""
    sigs AS (
        SELECT doc_id, [{per_perm}] AS sig
        FROM (SELECT doc_id, {sh} AS sh FROM {source})
        WHERE len(sh) > 0
    ),
    bands AS (
        SELECT doc_id, sig, b AS band_idx,
               {duck_hash64("'B' || b || ':' || sig[2*b+1] || ',' || sig[2*b+2]")} AS band_hash
        FROM sigs, UNNEST(range(0, {BANDS})) t(b)
    ),
    bstats AS (
        SELECT band_idx, band_hash, COUNT(*) AS n, MIN(doc_id) AS rep
        FROM bands GROUP BY 1, 2
    )
    """


def minhash_lsh_pairs_oracle_sql() -> str:
    return f"""
    WITH {_duck_sig_cte()},
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.sig AS sig_a, b.sig AS sig_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        JOIN bstats s
          ON s.band_idx = a.band_idx AND s.band_hash = a.band_hash
        WHERE {_duck_pair_guard()}
    )
    SELECT doc_a, doc_b,
           len(list_filter(list_zip(sig_a, sig_b), z -> z[1] = z[2])) / {NUM_PERM} AS est_jaccard
    FROM pairs
    """


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard over LSH candidates (candidate → verify)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    # pins are lazy localCheckpoints, not .persist() — see
    # minhash_lsh_pairs for the leak rationale. SLIM bands: this path
    # never reads signatures (verification is exact shingle sets), so
    # pinning sig-carrying band rows would hold BANDS copies of every
    # sig in heap for nothing.
    bands = lsh_bands_slim(minhash_signatures(docs)).localCheckpoint(False, storageLevel=_SER)
    cand = (
        _cap_left_side(bands)
        .select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # spread: the exact-shingle build (tokenize + n-gram + distinct per
    # doc) is the CPU-dense verify half — on a one-row-group fixture
    # file it would otherwise run on a single core
    sh = spread(docs).select(
        "doc_id",
        F.array_distinct(shingles_col(words_col(F.col("text")), MH_SHINGLE)).alias("sh"),
    ).localCheckpoint(False, storageLevel=_SER)  # feeds both pair sides
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
    )


def ngram_jaccard_pairs_oracle_sql() -> str:
    dsh = f"list_distinct({duck_shingles(duck_words(), MH_SHINGLE)})"
    return f"""
    WITH {_duck_sig_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        JOIN bstats s
          ON s.band_idx = a.band_idx AND s.band_hash = a.band_hash
        WHERE {_duck_pair_guard()}
    ),
    dsh AS (SELECT doc_id, {dsh} AS sh FROM documents)
    SELECT doc_a, doc_b,
           len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM cand JOIN dsh a ON a.doc_id = doc_a JOIN dsh b ON b.doc_id = doc_b
    """


# ---------------------------------------------------------------------------
# Incremental near-dup: new documents vs the existing corpus index
# ---------------------------------------------------------------------------

DELTA_MOD = 5  # doc is "new" iff hash(doc_id) % DELTA_MOD == 0


def _delta_flag(doc_id: Column) -> Column:
    return portable_hash64(F.concat(F.lit("delta:"), doc_id)) % DELTA_MOD == 0


def incremental_neardup(
    docs: DataFrame, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Near-dup candidates of a *delta* batch against the existing
    corpus — the production dedup shape: a daily ingest is checked
    against the stored band index instead of re-pairing the whole
    corpus (O(|delta|·bucket) work, not O(|corpus|²)).

    The harness splits delta/corpus deterministically by key hash; in
    production the corpus side is the persisted band table of
    `minhash_lsh_pairs` (partitioned by band_hash so the probe join
    co-locates without a corpus shuffle)."""
    sigs = minhash_signatures(docs)
    is_delta = _delta_flag(F.col("doc_id"))
    bands = lsh_bands(sigs).withColumn("is_delta", is_delta).persist()
    delta = bands.where(F.col("is_delta")).select(
        F.col("doc_id").alias("new_doc"), F.col("sig").alias("sig_n"),
        "band_idx", "band_hash",
    )
    # mega-bucket guard on the CORPUS side, signature-collapse form
    # (the streaming probe's scheme, streaming/corpus_ingest.py): a
    # template bucket with 10^5 stored docs would otherwise fan every
    # colliding delta doc out to the whole bucket (O(|delta|·n) rows).
    # est_jaccard depends on the signature ALONE, so corpus rows
    # sharing (bucket, sig) are interchangeable — one representative
    # per distinct sig keeps the probe EXACT (a delta doc verifies
    # against the rep iff it would verify against any member carrying
    # that sig) while an identical-template flood collapses to O(1)
    # witnesses. The star cap then bounds the residual pathological
    # case — a bucket with > cap DISTINCT sigs — where recall can drop
    # (only non-rep sigs are discarded; same cap-or-collapse tradeoff
    # as the batch operator, mirrored in the oracle).
    collapsed = (
        bands.where(~F.col("is_delta"))
        .groupBy("band_idx", "band_hash", "sig")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    corpus = _cap_left_side(collapsed, cap=bucket_cap).select(
        F.col("doc_id").alias("corpus_doc"), F.col("sig").alias("sig_c"),
        "band_idx", "band_hash",
    )
    matched = F.size(
        F.filter(F.zip_with("sig_n", "sig_c", lambda x, y: x == y), lambda m: m)
    )
    # compute-then-distinct (see minhash_lsh_pairs): the dedup shuffle
    # carries a 3-column row, not two sig arrays
    return (
        delta.join(corpus, ["band_idx", "band_hash"])
        .select(
            "new_doc", "corpus_doc", (matched / F.lit(NUM_PERM)).alias("est_jaccard")
        )
        .distinct()
    )


def incremental_neardup_oracle_sql() -> str:
    h = duck_hash64("'delta:' || doc_id")
    flag = f"({h} % {DELTA_MOD} = 0)"
    return f"""
    WITH {_duck_sig_cte()},
    flagged AS (SELECT *, {flag} AS is_delta FROM bands),
    csig AS (
        SELECT band_idx, band_hash, sig, MIN(doc_id) AS doc_id
        FROM flagged WHERE NOT is_delta GROUP BY 1, 2, 3
    ),
    cstats AS (
        SELECT band_idx, band_hash, COUNT(*) AS n, MIN(doc_id) AS rep
        FROM csig GROUP BY 1, 2
    ),
    pairs AS (
        SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc,
                        n.sig AS sig_n, c.sig AS sig_c
        FROM flagged n JOIN csig c
          ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash
         AND n.is_delta
        JOIN cstats s
          ON s.band_idx = c.band_idx AND s.band_hash = c.band_hash
        WHERE {_duck_pair_guard(left_alias="c")}
    )
    SELECT new_doc, corpus_doc,
           len(list_filter(list_zip(sig_n, sig_c), z -> z[1] = z[2])) / {NUM_PERM} AS est_jaccard
    FROM pairs
    """


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components over the candidate
# pair graph (the dedup endgame — pairs alone don't say which docs to
# drop; transitive closure does)
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 25

# Pair count at or under which the propagation loop runs in-process
# over ONE bounded collect of the pair list (the same collect-under-cap
# policy as kmeans.TRAIN_DRIVER_CAP_ROWS / bpe's word-table cap). At the
# cap the Python driver holds 1.1-1.6 GB: tracemalloc peak of 2^21
# collected Rows (656 MB) plus _cc_driver's adjacency and label dicts,
# 1,147 MB for 8-doc clusters (2.4M nodes) and 1,568 MB for disjoint
# pairs (4.2M nodes). Near-dup pair graphs are sparse by construction
# (the LSH band guard bounds fanout), but a 100-TB corpus can still
# exceed this — the distributed loop below is the over-cap path and the
# semantics reference.
CC_DRIVER_CAP_PAIRS = 1 << 21


def _cc_driver(pair_rows, max_iters: int):
    """In-process min-label propagation over a collected pair list —
    ROUND-FOR-ROUND the same schedule as the distributed loop below
    (round 1 = least(doc_a, min(doc_b)); rounds 2..max_iters =
    synchronous min(own, neighbors) over the PREVIOUS labels; a final
    settling probe when the cap was reached), so convergence, the
    non-convergence raise, and every label are identical by
    construction (pinned by
    tests/test_operators.py::test_cc_driver_and_distributed_identical).
    Returns (labels dict, converged bool)."""
    adj: dict = {}
    for a, b in pair_rows:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    converged = False
    labels: dict = {}
    rounds = 0
    if max_iters > 0:
        # round 1 fused into the edge list (same as _first_step)
        changed = 0
        for v, ns in adj.items():
            m = min(v, min(ns))
            labels[v] = m
            if m != v:
                changed += 1
        rounds = 1
        converged = changed == 0
        while not converged and rounds < max_iters:
            prev = labels
            labels = {}
            changed = 0
            for v, ns in adj.items():
                m = prev[v]
                for u in ns:
                    pu = prev[u]
                    if pu < m:
                        m = pu
                labels[v] = m
                if m != prev[v]:
                    changed += 1
            rounds += 1
            converged = changed == 0
    else:
        # degenerate max_iters <= 0 path: identity labels, probe only
        labels = {v: v for v in adj}
    if not converged:
        # settling probe — one extra non-improving round, exactly like
        # the distributed loop's: its stepped labels are DISCARDED,
        # only the changed count decides
        changed = 0
        for v, ns in adj.items():
            m = labels[v]
            for u in ns:
                pu = labels[u]
                if pu < m:
                    m = pu
            if m != labels[v]:
                changed += 1
        converged = changed == 0
    return labels, converged


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iters: int = CC_MAX_ITERS
) -> DataFrame:
    """(doc_id, cluster_id): cluster_id = min doc_id reachable from the
    node over the undirected ``pairs`` graph; isolated nodes label
    themselves.

    Iterative min-label propagation (the Pregel/GraphX "connected
    components" algorithm expressed in DataFrames): each round every
    node takes min(own label, neighbors' labels); converges in
    graph-diameter rounds — near-dup clusters are shallow, so a handful.
    Per round: one shuffle (edge ⨝ label on doc_id) + one groupBy-min;
    `localCheckpoint` pins each round so the loop's lineage (and thus
    task size) stays O(1) instead of O(iterations) — on a cluster this
    is a reliable-checkpoint dir instead. Convergence probe: count of
    labels that changed this round (computed on the checkpointed round
    output, short-circuited via limit(1)) — magnitude-independent, so
    no overflow risk at any id scale, unlike a label-checksum probe.
    Fixpoint is exact and partitioning-independent.

    Contract: every endpoint of ``pairs`` must appear in ``nodes`` (all
    callers derive pairs from the node frame itself)."""
    # Bounded probe first (ONE CollectLimit pass over the pair graph —
    # stops at cap+1 rows): at or under CC_DRIVER_CAP_PAIRS the whole
    # propagation loop runs in-process (_cc_driver — identical rounds,
    # labels and non-convergence raise), replacing one checkpoint job
    # per round + the persist/unpersist pair with a single job. The
    # touched-label frame stays driver-sized by the same bound, so the
    # isolated anti-join below is unchanged. Over the cap the
    # distributed loop runs exactly as before (round 13; the
    # collect-under-cap pattern of kmeans.TRAIN_DRIVER_CAP_ROWS).
    head = pairs.select("doc_a", "doc_b").limit(CC_DRIVER_CAP_PAIRS + 1).collect()
    if len(head) <= CC_DRIVER_CAP_PAIRS:
        labels_map, converged = _cc_driver(
            [(r.doc_a, r.doc_b) for r in head], max_iters
        )
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} "
                "iterations — a component's diameter exceeds the cap; "
                "raise max_iters"
            )
        # the node id type, not a fixed long: both paths must return
        # the same types (string ids included)
        id_type = nodes.schema["doc_id"].dataType
        labels = nodes.sparkSession.createDataFrame(
            sorted(labels_map.items()),
            T.StructType([T.StructField("doc_id", id_type),
                          T.StructField("cluster_id", id_type)]),
        )
        n_labels = len(labels_map)
    else:
        labels, n_labels = _connected_components_distributed(
            nodes, pairs, max_iters
        )
    lab_side = (
        F.broadcast(labels)
        if _cc_fits_broadcast(nodes.sparkSession, n_labels)
        else labels
    )
    isolated = nodes.join(lab_side, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return labels.union(isolated)


def _cc_fits_broadcast(spark, n) -> bool:
    """True when ``n`` (doc_id, cluster_id) rows fit the session's
    broadcast threshold at ~32 B/row (2 longs + unsafe-row overhead).
    The labels checkpoints' origin-stats estimates compound across
    rounds and overshoot the threshold, flipping joins against them to
    sort-merge; the exact materialized count (Observation in the
    distributed loop, len() in the driver form) chooses the strategy
    from runtime truth instead — with the planner's shuffle form as
    the fallback for a genuinely large touched set."""
    if n is None:
        return False
    try:
        thr = int(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        )
    except ValueError:
        return False
    return 0 < n * 32 <= thr


def _connected_components_distributed(
    nodes: DataFrame, pairs: DataFrame, max_iters: int
):
    """The over-cap propagation loop (see :func:`connected_components`).
    Returns (labels frame over touched nodes, exact label count)."""
    # persist pairs first: the symmetric union references it twice, and
    # for the LSH graph each reference would otherwise re-run the whole
    # band self-join
    pairs = pairs.persist()
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()

    from pyspark.sql import Observation

    def _first_step():
        """Round 1 fused into ONE aggregation over the edge list: the
        initial labels are the identity map, so round 1's
        min(own, neighbors) is just least(doc_a, min(doc_b)) grouped by
        doc_a — no labels frame to build, checkpoint, or join. Its key
        set IS the touched-node set, so the |edges|-wide distinct that
        used to materialize ``touched`` (plus the two nodes⨝touched
        joins seeding labels₀/isolated) is gone too: only nodes that
        touch an edge can ever change label, and from here the loop
        iterates on that subgraph alone."""
        obs = Observation()
        stepped = (
            edges.groupBy("doc_a")
            .agg(F.min("doc_b").alias("_nmin"))
            .select(
                F.col("doc_a").alias("doc_id"),
                F.least(F.col("_nmin"), F.col("doc_a")).alias("cluster_id"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("cluster_id") != F.col("doc_id"), 1).otherwise(0)
                ).alias("changed"),
                F.count(F.lit(1)).alias("n"),
            )
            .localCheckpoint(True, storageLevel=_SER)
        )
        return stepped, int(obs.get["changed"] or 0), int(obs.get["n"] or 0)

    def _step(labels: DataFrame):
        """One propagation round. Returns (new labels, changed count,
        label count). The changed-count rides the checkpoint job as an
        observed metric — previously a SEPARATE probe action per
        round, i.e. one extra scan of the labels every iteration.

        Round-12 shape: each node's own label rides the SAME groupBy
        as its neighbors' labels (a union branch with ``own`` set),
        so min(own, neighbors) needs no second labels join — the old
        neigh-groupBy + left-join form shuffled labels twice per
        round; this shuffles them once (min("own") ignores the null
        own-column of neighbor rows and each node contributes its own
        row exactly once, so _prev is recovered exactly).

        A per-round broadcast hint on the labels side (gated on the
        previous round's observed count, like the isolated anti-join
        below) was tried and REVERTED after measuring: interleaved
        min-of-5 read 1.14/1.23 on dedup_clusters/cluster_safe_split —
        each round then pays a driver collect + rebroadcast and the
        contrib groupBy runs over the edge set's natural partitioning,
        which costs more than the sort-merge exchange it removes."""
        contrib = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .select(
                F.col("doc_a").alias("doc_id"),
                F.col("cluster_id"),
                F.lit(None).cast("long").alias("own"),
            )
            .union(
                labels.select(
                    "doc_id", "cluster_id", F.col("cluster_id").alias("own")
                )
            )
        )
        obs = Observation()
        stepped = (
            contrib.groupBy("doc_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min("own").alias("_prev"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("cluster_id") != F.col("_prev"), 1).otherwise(0)
                ).alias("changed"),
                F.count(F.lit(1)).alias("n"),
            )
            # project _prev away BEFORE the checkpoint (the observation
            # still fires — CollectMetrics keeps _prev below the
            # projection): each round pins 2 narrow columns instead of
            # 3, and the final round's checkpoint feeds the isolated
            # anti-join, where the slimmer size estimate lets Catalyst
            # keep the corpus-side-shuffle-free broadcast form
            .select("doc_id", "cluster_id")
            .localCheckpoint(True, storageLevel=_SER)
        )
        return stepped, int(obs.get["changed"] or 0), int(obs.get["n"] or 0)

    converged = False
    labels, n_labels = None, None
    for _ in range(max_iters):
        labels, changed, n_labels = (
            _first_step() if labels is None else _step(labels)
        )
        if changed == 0:
            converged = True
            break
    if labels is None:
        # max_iters <= 0: no improvement round ran; seed the identity
        # labels so the settling probe below has a frame to probe
        # (degenerate path, preserved for contract completeness)
        labels = (
            edges.select(F.col("doc_a").alias("doc_id"))
            .distinct()
            .select("doc_id", F.col("doc_id").alias("cluster_id"))
            .localCheckpoint(True, storageLevel=_SER)
        )
    if not converged:
        # the LAST allowed iteration may have applied the final change:
        # the loop only observes convergence when a full no-change round
        # fits INSIDE the cap, so a component of diameter exactly
        # max_iters would be labeled correctly yet reported as failed.
        # One extra (label-preserving by definition if converged) probe
        # settles it without granting any additional improvement round.
        _, changed, n_labels = _step(labels)
        if changed == 0:
            converged = True
    edges.unpersist()
    pairs.unpersist()
    if not converged:
        # a component with diameter > max_iters would return SPLIT
        # clusters — silently wrong dedup (and a silent divergence from
        # the oracle's exact recursive closure). Min-label propagation
        # converges in O(diameter) rounds; a real corpus needing more
        # than max_iters means a pathological duplicate chain the
        # caller should know about, not paper over.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "iterations — a component's diameter exceeds the cap; "
            "raise max_iters"
        )
    # every round's groupBy preserves the touched-node key set, so the
    # final labels frame IS the touched set; the caller's isolated
    # anti-join self-labels the (overwhelmingly larger) rest, with the
    # join strategy chosen from the EXACT count the Observation
    # measured (see _cc_fits_broadcast).
    return labels, n_labels


def dedup_clusters(docs: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    MinHash-LSH candidate pair graph — cluster_id = min doc_id of the
    component (the canonical copy a cleaning pipeline keeps). The
    oracle replays the fixpoint as a recursive CTE."""
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    return connected_components(docs, pairs, max_iters)


def dedup_clusters_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE {_duck_sig_cte()},
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        JOIN bstats s
          ON s.band_idx = a.band_idx AND s.band_hash = a.band_hash
        WHERE {_duck_pair_guard()}
    ),
    e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    r(id, root) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.v, r.root FROM r JOIN e ON e.u = r.id
    )
    SELECT id AS doc_id, min(root) AS cluster_id FROM r GROUP BY id
    """


VERIFY_JACCARD = 0.5


def dedup_clusters_verified(
    docs: DataFrame,
    threshold: float = VERIFY_JACCARD,
    max_iters: int = CC_MAX_ITERS,
) -> DataFrame:
    """candidate → verify → cluster, the full textbook near-dedup
    pipeline: LSH candidates are re-checked with EXACT shingle Jaccard
    and only pairs ≥ ``threshold`` become edges before connected
    components. Raw LSH candidates over-merge — one low-similarity
    band collision chains two genuine clusters into one, and at corpus
    scale transitive over-merging snowballs (the reason MinHashLSH
    dedup always verifies before clustering).

    Cost over :func:`dedup_clusters` is the verify join only — exact
    Jaccard is computed on the candidate set (bounded by near-dup
    count), never all pairs; the component loop then runs on the
    *smaller* verified edge set."""
    pairs = (
        ngram_jaccard_pairs(docs)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
    )
    return connected_components(docs, pairs, max_iters)


def dedup_clusters_verified_oracle_sql(threshold: float = VERIFY_JACCARD) -> str:
    dsh = f"list_distinct({duck_shingles(duck_words(), MH_SHINGLE)})"
    return f"""
    WITH RECURSIVE {_duck_sig_cte()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        JOIN bstats s
          ON s.band_idx = a.band_idx AND s.band_hash = a.band_hash
        WHERE {_duck_pair_guard()}
    ),
    dsh AS (SELECT doc_id, {dsh} AS sh FROM documents),
    pairs AS (
        SELECT doc_a, doc_b
        FROM cand JOIN dsh a ON a.doc_id = doc_a JOIN dsh b ON b.doc_id = doc_b
        WHERE len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              >= {threshold}
    ),
    e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    r(id, root) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.v, r.root FROM r JOIN e ON e.u = r.id
    )
    SELECT id AS doc_id, min(root) AS cluster_id FROM r GROUP BY id
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_docs(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per document over word tokens (with multiplicity).

    60 bits (not 32): with 15-bit bands, two UNRELATED docs collide in
    a band with p = 2^-15 instead of 2^-8 — at 10^9 docs that is the
    difference between ~30k-doc incidental band buckets (a quadratic
    join on every one) and buckets that only exceed the cap when the
    corpus genuinely floods a template. 60 keeps the value positive in
    a signed int64 in both engines, and the token hash is the shared
    60-bit sha256-derived ``portable_hash64``.

    Bit math is integer-only (lambda-var ``bitwiseAND`` against a
    literal mask array — no float shifts, exact in both engines).
    Same fold shape as minhash_signatures: one sha256 per token, then a
    single left fold whose accumulator is the 60-slot bit-count vector
    (±1 per token per bit). The token-hash array is referenced exactly
    once — an outer loop over bits would re-hash every token 60×."""
    docs = spread(docs)
    w = words_col(F.col("text"))
    th = F.transform(w, lambda t: portable_hash64(F.concat(F.lit("S:"), t)))
    masks = F.array(
        *[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)]
    )
    init = F.array_repeat(F.lit(0), SIMHASH_BITS)
    counts = F.aggregate(
        th,
        init,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    simhash = F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        docs.where(F.size(words_col(F.col("text"))) > 0)
        .select("doc_id", simhash.alias("simhash"))
    )


def _duck_simhash_cte() -> str:
    th = f"list_transform({duck_words()}, t -> {duck_hash64(chr(39) + 'S:' + chr(39) + ' || t')})"
    bit = "((h >> j) & 1)"
    return f"""
    sims AS (
        SELECT doc_id,
               list_reduce(
                   list_transform(range(0, {SIMHASH_BITS}), j ->
                       CASE WHEN list_reduce(
                                list_transform(th, h -> CASE WHEN {bit} = 1 THEN 1 ELSE -1 END),
                                (a, x) -> a + x) > 0
                            THEN (CAST(1 AS BIGINT) << j) ELSE 0 END),
                   (a, x) -> a + x) AS simhash
        FROM (SELECT doc_id, {th} AS th FROM documents
              WHERE len({duck_words()}) > 0)
    )
    """


def simhash_docs_oracle_sql() -> str:
    return f"WITH {_duck_simhash_cte()} SELECT doc_id, simhash FROM sims"


def simhash_neardup_pairs(
    docs: DataFrame, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Hamming-near pairs via 15-bit band bucketing: a pair within
    Hamming ≤ 6 of a 60-bit signature shares ≥1 of 4 bands only
    heuristically (pigeonhole guarantees ≤3) — this is the candidate
    generator; the Hamming filter verifies. Join keyed on
    (band_idx, band_val): the only shuffle.

    Same mega-bucket star guard as the LSH path (a template flood puts
    all n copies in one bucket in all 4 bands — without the cap that is
    an O(n²) join detonation; see the note above ``_cap_left_side``),
    mirrored verbatim in the oracle. The Hamming filter runs BEFORE the
    distinct so the dedup shuffle carries only verified near-pairs, not
    every band collision."""
    sims = simhash_docs(docs)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), SIM_BAND_BITS * b)
                .bitwiseAND(F.lit((1 << SIM_BAND_BITS) - 1))
                .alias("band_val"),
            )
            for b in range(SIM_BANDS)
        ]
    )
    # lazy localCheckpoint, not .persist(): feeds both join sides and
    # the guard's bucket-stats aggregate — see minhash_lsh_pairs.
    banded = (
        sims.select("doc_id", "simhash", F.explode(bands).alias("band"))
        .select("doc_id", "simhash", "band.band_idx", "band.band_val")
        .localCheckpoint(False, storageLevel=_SER)
    )
    a = _cap_left_side(banded, bucket_cap, keys=("band_idx", "band_val")).select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band_idx", "band_val"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band_idx", "band_val"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


def simhash_neardup_pairs_oracle_sql() -> str:
    mask = (1 << SIM_BAND_BITS) - 1
    return f"""
    WITH {_duck_simhash_cte()},
    banded AS (
        SELECT doc_id, simhash, b AS band_idx,
               (simhash >> ({SIM_BAND_BITS} * b)) & {mask} AS band_val
        FROM sims, UNNEST(range(0, {SIM_BANDS})) t(b)
    ),
    bstats AS (
        SELECT band_idx, band_val, count(*) AS n, min(doc_id) AS rep
        FROM banded GROUP BY 1, 2
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)::BIT) AS INTEGER) AS hamming
    FROM banded a
    JOIN bstats s ON a.band_idx = s.band_idx AND a.band_val = s.band_val
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE {_duck_pair_guard()}
      AND CAST(bit_count(xor(a.simhash, b.simhash)::BIT) AS INTEGER) <= {HAMMING_MAX}
    """


# ---------------------------------------------------------------------------
# Decontamination: training corpus vs held-out benchmark n-gram overlap
# (the "did the eval set leak into the training data" check every LLM
# data pipeline runs before training — GPT-3 appendix C / PaLM §7 style
# n-gram collision scan)
# ---------------------------------------------------------------------------

DECON_SHINGLE = 8  # benchmark-overlap n-gram size (long enough to be rare)
EVAL_MOD = 20      # doc plays the "benchmark" role iff hash(doc_id) % 20 == 0


def _eval_flag(doc_id: Column) -> Column:
    return portable_hash64(F.concat(F.lit("eval:"), doc_id)) % EVAL_MOD == 0


def _decon_shingles(frame: DataFrame) -> DataFrame:
    """(doc_id, n_sh, sh) — distinct hashed word-8-grams, exploded.
    Callers filter ``frame`` to their side FIRST, so the shingle
    pipeline (tokenize → 8-gram → hash → distinct → explode) runs only
    on that side's rows — the eval side pays for its few percent, not
    a full-corpus pass."""
    w = words_col(F.col("text"))
    sh = F.array_distinct(
        F.transform(shingles_col(w, DECON_SHINGLE), lambda s: portable_hash64(s))
    )
    return frame.select(
        "doc_id", F.size(sh).alias("n_sh"), F.explode(sh).alias("sh")
    )


def decontaminate(docs: DataFrame, corpus: DataFrame | None = None) -> DataFrame:
    """(corpus_doc, eval_doc, n_shared, eval_frac) — every training
    document sharing ≥1 distinct word-8-gram with a benchmark document,
    with the fraction of the benchmark doc's shingles it covers (the
    contamination score; 1.0 ⇒ the eval doc is fully contained).

    The harness splits eval/corpus deterministically by key hash (like
    incremental_neardup); in production the eval side is the actual
    benchmark suite — a few MB — so it BROADCASTS and the 100-TB corpus
    side never shuffles for the join: one scan computing shingle hashes
    per-row, a broadcast hash join, one small aggregate keyed by doc
    pairs. No all-pairs anywhere.

    ``corpus`` optionally substitutes a pre-filtered ``(doc_id, text)``
    frame for the training side — the composed curation pipeline passes
    its already-pinned survivor set, so contamination is computed off
    the checkpointed stage output instead of a fresh corpus scan (any
    superset of the docs later anti-joined is equivalent: the result is
    only consulted for membership). The eval side always comes from the
    full ``docs`` — a benchmark doc must flag its duplicates even when
    it would itself fail an upstream stage.

    Round-12 corpus-side rebuild: the round's §decon note rejected an
    explode form on the premise that per-doc DISTINCT shingles force a
    corpus-wide (doc_id, hash) exchange — but the corpus side never
    needs a per-doc distinct AT ALL: dedup can move AFTER the broadcast
    join, as ``count(DISTINCT sh)`` over the MATCHED rows only (a set
    bounded by contamination volume, not corpus size). So the corpus
    side is now :func:`shingle_rows` (index explode + codegen string
    build + codegen hash — 1.73× on this stage's shape at 200k docs,
    round-12 shingle codegen microbenchmark) with no ``array_distinct`` and no
    interpreted per-element hash; the matched multiset of
    (corpus_doc, eval_doc, sh) triples is identical to the old
    distinct-both-sides join's set, so ``countDistinct`` returns
    bit-identical ``n_shared``. The eval side (a few percent of docs,
    broadcast) keeps the per-row distinct form — its ``n_sh``
    denominator is a genuine per-doc distinct count.
    """
    docs = spread(docs)
    corpus_base = corpus if corpus is not None else docs
    # coalesce(h, 0): the hash is never null here (the shingle_rows
    # guard keeps only docs with ≥n non-null words), but Catalyst
    # cannot prove it, so the inner join would add isnotnull(sh) —
    # which predicate pushdown SUBSTITUTES below the projection,
    # re-running concat_ws+slice+sha2 per shingle row in a Filter
    # (the quality_keep gotcha). A non-nullable key generates no
    # null-filter at all; plan-asserted by the decon single-sha test.
    corpus_side = shingle_rows(
        corpus_base.where(~_eval_flag(F.col("doc_id"))), DECON_SHINGLE
    ).select(
        F.col("doc_id").alias("corpus_doc"),
        F.coalesce(
            portable_hash64(F.col("_sh")), F.lit(0).cast("long")
        ).alias("sh"),
    )
    eval_side = _decon_shingles(
        docs.where(_eval_flag(F.col("doc_id")))
    ).select(
        F.col("doc_id").alias("eval_doc"), F.col("n_sh").alias("eval_n_sh"), "sh"
    )
    return (
        corpus_side.join(F.broadcast(eval_side), "sh")
        .groupBy("corpus_doc", "eval_doc", "eval_n_sh")
        .agg(F.countDistinct("sh").alias("n_shared"))
        .select(
            "corpus_doc",
            "eval_doc",
            "n_shared",
            (F.col("n_shared") / F.col("eval_n_sh")).alias("eval_frac"),
        )
    )


def decontaminate_oracle_sql() -> str:
    h = duck_hash64("'eval:' || doc_id")
    shingles = duck_shingles(duck_words(), DECON_SHINGLE)
    hashed = f"list_distinct(list_transform({shingles}, s -> {duck_hash64('s')}))"
    return f"""
    WITH t AS (
        SELECT doc_id, {hashed} AS sh, ({h} % {EVAL_MOD} = 0) AS is_eval
        FROM documents
    ),
    ex AS (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sh, is_eval FROM t
    )
    SELECT c.doc_id AS corpus_doc, e.doc_id AS eval_doc,
           count(*) AS n_shared,
           count(*) / any_value(e.n_sh) AS eval_frac
    FROM ex c JOIN ex e ON c.sh = e.sh AND NOT c.is_eval AND e.is_eval
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# Composed curation pipeline: quality gate -> canonical dedup -> decontam
# ---------------------------------------------------------------------------

def corpus_pipeline(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, source, n_tokens) — the documents that survive the
    full curation pipeline a training run actually consumes, composed
    from the individually-verified stages:

    1. quality gate (operators/text.quality_filter keep rule);
    2. exact dedup among the kept docs — canonical = min doc_id per
       content hash (computed on the SURVIVORS: a canonical that was
       itself quality-dropped must not shadow its duplicates);
    3. decontamination — drop any survivor sharing a distinct word
       8-gram with the benchmark side, and the benchmark docs
       themselves (they are eval, not training data).

    One quality-gated scan (the keep rule filters the scan directly,
    operators/text.quality_keep), one content-hash window for the
    canonical pick (min doc_id per hash in a single shuffle — no
    groupBy-then-join-back second pass), and the decontaminate
    broadcast-join — the stages compose without any new shuffle shape;
    every stage is separately oracle-checked, and this query checks the
    composition end-to-end."""
    from pyspark.sql import Window

    from meilisync_spark.operators.text import quality_keep

    docs = spread(docs)
    kept = docs.where(quality_keep(F.col("text"))).select(
        "doc_id", "lang", "source",
        F.size(words_col(F.col("text"))).alias("n_tokens"),
        F.sha2(normalize_text(F.col("text")), 256).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    exact_sur = (
        kept.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "lang", "source", "n_tokens")
    )
    contaminated = (
        decontaminate(docs).select(F.col("corpus_doc").alias("doc_id")).distinct()
    )
    return (
        exact_sur.where(~_eval_flag(F.col("doc_id")))
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_tokens")
    )


def corpus_pipeline_full(docs: DataFrame) -> DataFrame:
    """(lang, shard, seq_id, n_chunks, n_tokens) — the complete
    curation chain a pretraining run consumes, composed end-to-end from
    the individually-verified stages:

    1. quality gate (operators/text.quality_filter keep rule);
    2. exact dedup among the kept docs (canonical = min doc_id per
       content hash, computed on the survivors);
    3. MinHash-LSH near-dedup among the exact survivors — a doc is
       dropped when a band collision with a SMALLER-id doc verifies at
       est_jaccard ≥ NEAR_DUP_TAU (the same pairwise lower-id-wins rule
       as the streaming ingest probe, streaming/corpus_ingest.py);
    4. decontamination — drop survivors sharing a distinct word 8-gram
       with the benchmark side, and the benchmark docs themselves;
    5. pack_sequences over what remains — the actual training-sequence
       manifest.

    Shuffle inventory — nothing new appears by composing: one
    quality-gated scan, one content-hash window (canonical pick in a
    single shuffle), one LSH band self-join (bounded by the
    already-deduped survivor set), the broadcast decontamination join,
    and pack's (lang, shard)-bounded window. Every stage is separately
    oracle-checked; this row checks the composition.

    Scan inventory — each stage consumes the PRIOR stage's output, not
    a re-derivation from the source: the quality gate filters the scan
    directly (operators/text.quality_keep — zero extra passes), the
    exact-dedup canonical pick is a window over that same scan, and
    the post-exact-dedup survivor frame — referenced by the LSH stage,
    the near-dup anti-join, and the packer — is pinned ONCE with
    ``localCheckpoint`` (the batch twin of the streaming ingest's
    stage pinning, streaming/corpus_ingest.py). The corpus parquet is
    read once for the whole quality→dedup chain plus twice inside
    decontaminate (corpus/eval sides) — a constant 3 source scans
    however many stages follow, instead of every downstream stage
    replaying the whole chain's lineage (the 20-scan plan this
    replaced). On a cluster the pin becomes a persisted stage table;
    the plan contract
    (tests/test_plans.py::test_corpus_pipeline_full_scan_budget) holds
    the scan count to the budget."""
    from pyspark.sql import Window

    from meilisync_spark.operators.text import pack_sequences, quality_keep

    docs = spread(docs)
    # tokenize ONCE at the scan (quality gate pass) and pin the WORDS
    # array instead of the text: every downstream per-doc consumer —
    # the minhash filter, the shingle build, the packer's token count —
    # reads the materialized array, so the tokenizer regex runs twice
    # per kept doc total (fused gate + this projection; a projected
    # alias filter would be substituted back by predicate pushdown)
    # instead of five times (gate, minhash filter, minhash sig, pack).
    kept = docs.where(quality_keep(F.col("text"))).select(
        "doc_id", "lang",
        words_col(F.col("text")).alias("_w"),
        F.sha2(normalize_text(F.col("text")), 256).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    exact_sur = (
        kept.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "lang", "_w")
        .localCheckpoint(False, storageLevel=_SER)
    )
    near_drop = (
        minhash_lsh_pairs(exact_sur.select("doc_id", "_w"), words="_w")
        .where(F.col("est_jaccard") >= NEAR_DUP_TAU)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    near_sur = exact_sur.join(near_drop, "doc_id", "left_anti")
    # decontaminate as an INDEPENDENT subtree off the source scan, not
    # off the pinned survivors: its stages then overlap the dedup
    # critical path (window + checkpoint + LSH) instead of queuing
    # behind it — measured 1.5 s faster at sf0.1 than threading the
    # checkpoint through (`corpus=exact_sur`). On a storage-bound
    # cluster where a second corpus scan costs more than it overlaps,
    # pass the pinned survivors via decontaminate's ``corpus=`` knob.
    contaminated = (
        decontaminate(docs).select(F.col("corpus_doc").alias("doc_id")).distinct()
    )
    final = (
        near_sur.where(~_eval_flag(F.col("doc_id")))
        .join(contaminated, "doc_id", "left_anti")
    )
    return pack_sequences(
        final.select("doc_id", "lang", F.size("_w").alias("_n")),
        n_tokens="_n",
    )


def corpus_pipeline_full_oracle_sql() -> str:
    from meilisync_spark.operators.text import (
        PACK_FINAL_SELECT,
        QF_MAX_PUNCT,
        QF_MIN_DISTINCT,
        QF_MIN_TOKENS,
        pack_sequences_oracle_ctes,
    )

    w = duck_words()
    n = f"len({w})"
    punct = r"length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / length(text)"
    distinct = f"CASE WHEN {n} > 0 THEN len(list_distinct({w})) / {n} ELSE 0.0 END"
    eval_hash = duck_hash64("'eval:' || doc_id")
    ev = f"({eval_hash} % {EVAL_MOD} = 0)"
    shingles = duck_shingles(duck_words(), DECON_SHINGLE)
    hashed = f"list_distinct(list_transform({shingles}, s -> {duck_hash64('s')}))"
    return f"""
    WITH k AS (
        SELECT doc_id, lang, text,
               sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash
        FROM documents
        WHERE {n} >= {QF_MIN_TOKENS}
          AND NOT ({punct} > {QF_MAX_PUNCT})
          AND NOT ({distinct} < {QF_MIN_DISTINCT})
    ),
    canon AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY content_hash),
    ex AS (SELECT k.doc_id, k.lang, k.text FROM k JOIN canon USING (doc_id)),
    {_duck_sig_cte(source="ex")},
    near_drop AS (
        SELECT DISTINCT b.doc_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        JOIN bstats s
          ON s.band_idx = a.band_idx AND s.band_hash = a.band_hash
        WHERE {_duck_pair_guard()}
          AND len(list_filter(list_zip(a.sig, b.sig), z -> z[1] = z[2]))
              / {NUM_PERM} >= {NEAR_DUP_TAU}
    ),
    sh AS (
        SELECT doc_id, unnest({hashed}) AS sh, {ev} AS is_eval FROM documents
    ),
    contaminated AS (
        SELECT DISTINCT c.doc_id
        FROM sh c JOIN sh e ON c.sh = e.sh AND NOT c.is_eval AND e.is_eval
    ),
    final AS (
        SELECT doc_id, lang, text FROM ex
        WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
          AND NOT {ev}
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    {pack_sequences_oracle_ctes(source="final")}
    {PACK_FINAL_SELECT}
    """


def corpus_pipeline_oracle_sql() -> str:
    from meilisync_spark.operators.text import (
        QF_MAX_PUNCT,
        QF_MIN_DISTINCT,
        QF_MIN_TOKENS,
    )

    w = duck_words()
    n = f"len({w})"
    punct = r"length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / length(text)"
    distinct = f"CASE WHEN {n} > 0 THEN len(list_distinct({w})) / {n} ELSE 0.0 END"
    eval_hash = duck_hash64("'eval:' || doc_id")
    ev = f"({eval_hash} % {EVAL_MOD} = 0)"
    shingles = duck_shingles(duck_words(), DECON_SHINGLE)
    hashed = f"list_distinct(list_transform({shingles}, s -> {duck_hash64('s')}))"
    return f"""
    WITH k AS (
        SELECT doc_id, lang, source, {n} AS n_tokens,
               sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash
        FROM documents
        WHERE {n} >= {QF_MIN_TOKENS}
          AND NOT ({punct} > {QF_MAX_PUNCT})
          AND NOT ({distinct} < {QF_MIN_DISTINCT})
    ),
    canon AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY content_hash),
    sh AS (
        SELECT doc_id, unnest({hashed}) AS sh, {ev} AS is_eval FROM documents
    ),
    contaminated AS (
        SELECT DISTINCT c.doc_id
        FROM sh c JOIN sh e ON c.sh = e.sh AND NOT c.is_eval AND e.is_eval
    )
    SELECT k.doc_id, k.lang, k.source, k.n_tokens
    FROM k
    JOIN canon USING (doc_id)
    WHERE NOT {ev.replace('doc_id', 'k.doc_id')}
      AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """
