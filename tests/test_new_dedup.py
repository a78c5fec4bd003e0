"""Brute-force reference checks for span_dedup and semantic_dedup on
tiny hand-built inputs — independent of the DuckDB oracle (which runs
in test_oracle_parity), these pin the *semantics* against a plain
Python/numpy reimplementation."""

from __future__ import annotations

import itertools
import re

import numpy as np

from meilisync_spark.operators.similarity import SEM_TAU, semantic_dedup
from meilisync_spark.operators.text import SPAN_LEN, span_dedup


def _py_spans(text: str, k: int = SPAN_LEN) -> set[str]:
    words = re.findall("[a-z]+", text.lower())
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def test_span_dedup_matches_bruteforce(spark):
    words12 = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
        "golf", "hotel", "india", "juliet", "kilo", "lima",
    ]
    base = " ".join(words12)  # 12 distinct words -> 5 spans of 8
    docs = [
        (1, base + " unique one"),
        (2, base + " unique two"),          # shares the 5 base spans with 1
        (3, "totally different text with nothing shared at all here ok"),
        (4, "short doc"),                    # < 8 words -> 0 spans
        (5, ""),                             # empty
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_frac) for r in span_dedup(df).collect()}

    spans = {d: _py_spans(t) for d, t in docs}
    for d, t in docs:
        dup = {
            s for s in spans[d]
            if any(s in spans[o] for o in spans if o != d)
        }
        n, nd = len(spans[d]), len(dup)
        assert got[d][0] == n, (d, got[d])
        assert got[d][1] == nd, (d, got[d])
        assert abs(got[d][2] - (nd / n if n else 0.0)) < 1e-12


def test_span_dedup_within_doc_repeat_not_cross_doc(spark):
    """A span repeated twice INSIDE one doc but in no other doc is not
    'duplicated' — the operator counts distinct documents."""
    base = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, base + " filler " + base)], "doc_id long, text string"
    )
    row = span_dedup(df).collect()[0]
    assert row.n_dup_spans == 0


def test_semantic_dedup_matches_bruteforce(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype("float32")
    # plant exact duplicates and a near-duplicate inside label 0
    vecs[5] = vecs[1]
    vecs[9] = vecs[1] + 1e-4
    rows = [
        (int(i), [float(x) for x in vecs[i]], int(i % 2)) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r.vec_id: r.kept for r in semantic_dedup(df).collect()}

    def cos(a, b):
        a, b = np.asarray(a, dtype="float64"), np.asarray(b, dtype="float64")
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for i, vi, li in rows:
        dominated = any(
            j < i and lj == li and cos(vi, vj) >= SEM_TAU
            for j, vj, lj in rows
        )
        assert got[i] == (0 if dominated else 1), i
    # the planted duplicates of vec 1 (label 1... check: 5%2=1, 9%2=1, 1%2=1)
    assert got[5] == 0 and got[9] == 0


def test_compression_ratio_matches_zlib(spark):
    import zlib

    from meilisync_spark.operators.text import compression_ratio

    docs = [
        (1, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),   # highly compressible
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, ""),                                            # empty -> ratio 0
        (4, None),                                          # null text == empty
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_raw, r.n_compressed, r.ratio)
           for r in compression_ratio(df).collect()}
    for d, t in docs:
        raw = (t or "").encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        assert got[d][0] == len(raw)
        assert got[d][1] == comp
        expect = comp / len(raw) if raw else 0.0
        assert abs(got[d][2] - expect) < 1e-12
    assert got[1][2] < got[2][2]  # repetitive text compresses better


def test_span_dedup_empty_and_degenerate(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert span_dedup(df).collect() == []
    one = spark.createDataFrame([(1, "only seven words here not eight total")],
                                "doc_id long, text string")
    row = span_dedup(one).collect()[0]
    assert (row.n_spans, row.n_dup_spans, row.dup_frac) == (0, 0, 0.0)


def test_semantic_dedup_single_vector_per_cell(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r.vec_id: r.kept for r in semantic_dedup(df).collect()}
    assert got == {1: 1, 2: 1}  # alone in their cells -> both kept


def test_profile_empty_table(spark):
    from meilisync_spark.operators.profile import profile_table

    df = spark.createDataFrame([], "doc_id long, text string")
    rows = profile_table(df, numeric_cols=["doc_id"], string_cols=["text"]).collect()
    got = {(r.col_name, r.metric): r.value for r in rows}
    # aggregates over zero rows: counts are 0, min/max/sum/avg are null
    assert got[("doc_id", "n_distinct")] == 0.0
    assert got[("doc_id", "n_nulls")] is None or got[("doc_id", "n_nulls")] == 0.0
    assert got[("doc_id", "min")] is None


def test_vocab_encode_min_count_cutoff(spark):
    from meilisync_spark.operators.text import vocab_encode

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry"), (3, "cherry cherry")],
        "doc_id long, text string",
    )
    # full vocab: apple=3, cherry=3, banana=1 -> ids apple=1, cherry=2, banana=3
    full = {r.doc_id: list(r.ids) for r in vocab_encode(df).collect()}
    assert full[1] == [1, 1, 3] and full[2] == [1, 2] and full[3] == [2, 2]
    # min_count=2 drops banana; surviving ranks unchanged; doc 1 loses a token
    cut = {r.doc_id: (r.n_tokens, list(r.ids))
           for r in vocab_encode(df, min_count=2).collect()}
    assert cut[1] == (2, [1, 1]) and cut[2] == (2, [1, 2]) and cut[3] == (2, [2, 2])


def test_exact_source_overlap_counts_planted_duplicates(spark):
    """The histogram-overlap math on planted content: src A has 'x' twice
    and 'y'; src B has 'x' once and 'y'; src C is unique. Expected pairs:
    A-A: C(2,1... 'x' twice -> 1 pair; A-B: x 2*1 + y 1*1 = 3; B-B none;
    C appears nowhere."""
    from meilisync_spark.operators.dedup import exact_source_overlap

    docs = spark.createDataFrame(
        [
            (1, "x x x", "A"), (2, "x x x", "A"), (3, "y y", "A"),
            (4, "X  x\tx", "B"),  # normalizes equal to 'x x x'
            (5, "y y", "B"),
            (6, "unique content", "C"),
        ],
        "doc_id long, text string, source string",
    )
    got = {(r.source_a, r.source_b): (r.n_shared_hashes, r.n_pairs)
           for r in exact_source_overlap(docs).collect()}
    assert got == {("A", "A"): (1, 1), ("A", "B"): (2, 3)}


def test_fingerprint_source_overlap_detects_partial_reuse(spark):
    """Fingerprint overlap must fire on a shared PASSAGE inside
    otherwise-different documents (what the exact-hash matrix cannot
    see), and stay silent for unrelated content."""
    from meilisync_spark.operators.dedup import (
        exact_source_overlap,
        fingerprint_source_overlap,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, f"intro alpha beta {shared} closing words one", "A"),
            (2, f"completely different opening {shared} and another ending", "B"),
            (3, "nothing in common with anything else at all here", "C"),
        ],
        "doc_id long, text string, source string",
    )
    fp = {(r.source_a, r.source_b): r.n_pairs
          for r in fingerprint_source_overlap(docs).collect()}
    assert fp.get(("A", "B"), 0) > 0
    assert all(("C" not in k) for k in fp)
    # exact-hash matrix is blind to the same reuse
    assert exact_source_overlap(docs).count() == 0


def test_minhash_explode_rebuild_bit_identical_to_fold(spark):
    """Round-12 perf lever (SCALE.md, MinHash/LSH): the explode+codegen
    signature build must be BIT-IDENTICAL to the HOF fold it replaces
    — same base hash, same permutations, same min — across repeated
    shingles, sub-threshold docs (filtered by both), and single-shingle
    docs (the fold's init value must never survive)."""
    import random

    from meilisync_spark.operators.dedup import (
        MH_SHINGLE,
        minhash_signatures,
        minhash_signatures_fold,
    )

    rng = random.Random(12)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(300):
        n = rng.choice([0, 1, MH_SHINGLE - 1, MH_SHINGLE, 5, 20, 60])
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    rows.append((1000, "dup dup dup dup dup"))  # repeated shingles
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: list(r.sig) for r in minhash_signatures(docs).collect()}
    want = {r.doc_id: list(r.sig)
            for r in minhash_signatures_fold(docs).collect()}
    assert got == want
    assert got  # the filter didn't drop everything
    assert all(len(s) == 16 for s in got.values())


def test_minhash_signatures_plan_shape(spark):
    """The rebuild's contract with the optimizer: shingle hash per row
    under codegen (no interpreted HOF fold), ONE hash exchange on
    doc_id with map-side partial min aggregation before it, and no
    Python anywhere."""
    from meilisync_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(10)],
        "doc_id long, text string",
    )
    plan = minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert "partial_min" in plan  # map-side combine before the exchange
    assert "aggregate(" not in plan  # the interpreted fold is gone


def test_decontaminate_counts_distinct_shared_shingles_once(spark):
    """Round-12 corpus-side rebuild: the corpus side explodes RAW
    (non-distinct) shingles and recovers the distinct-shared count as
    count(DISTINCT sh) AFTER the broadcast join — a corpus doc that
    repeats a contaminated 8-gram must still count it ONCE, and
    eval_frac must use the eval doc's distinct-shingle denominator."""
    from meilisync_spark.operators.dedup import EVAL_MOD, decontaminate
    from meilisync_spark.operators.dedup import _eval_flag
    from pyspark.sql import functions as F

    # find one eval id and one corpus id under the real flag
    ids = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    ).select("doc_id", _eval_flag(F.col("doc_id")).alias("is_eval")).collect()
    eval_id = next(r.doc_id for r in ids if r.is_eval)
    corp_id = next(r.doc_id for r in ids if not r.is_eval)
    gram = "a b c d e f g h"          # one 8-gram
    docs = spark.createDataFrame(
        [
            (eval_id, gram),                       # eval: 1 distinct shingle
            (corp_id, f"{gram} x {gram}"),         # corpus: repeats it
        ],
        "doc_id long, text string",
    )
    rows = decontaminate(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.corpus_doc, r.eval_doc) == (corp_id, eval_id)
    assert r.n_shared == 1            # repeated shared shingle counted once
    assert r.eval_frac == 1.0
