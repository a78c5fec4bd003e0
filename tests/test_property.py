"""Property-based tests (hypothesis): the engine's hand-built operator
semantics checked against independent reference models — pandas
``merge_asof`` for the as-of join, a dict fold for last-wins compaction
(the literal shape of the reference's buffer, meilisync/event.py:10-13).

Spark round-trips are slow, so examples are few but adversarial
(tiny key spaces force collisions, ties, and empty sides).
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from meilisync_spark.operators.asof import asof_join
from meilisync_spark.operators.compaction import compact_last_wins

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# tiny domains on purpose: collisions and ties are the interesting cases
pks = st.integers(min_value=0, max_value=4)
vals = st.integers(min_value=-100, max_value=100)
tss = st.integers(min_value=0, max_value=20)


@given(rows=st.lists(st.tuples(pks, vals), max_size=40))
@settings(**SETTINGS)
def test_compaction_matches_dict_fold(spark, rows):
    """compact_last_wins == the reference's dict-overwrite buffer:
    arrival order (seq) decides, later events replace earlier ones."""
    data = [(pk, seq, v) for seq, (pk, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "pk long, seq long, value long") if data else (
        spark.createDataFrame([], "pk long, seq long, value long")
    )
    got = {
        r.pk: (r.seq, r.value)
        for r in compact_last_wins(df, ["pk"], "seq").collect()
    }
    expected: dict[int, tuple[int, int]] = {}
    for pk, seq, v in data:  # dict overwrite ≡ meilisync/event.py:10-13
        expected[pk] = (seq, v)
    assert got == expected


@given(
    left=st.lists(st.tuples(pks, tss), max_size=25),
    right=st.lists(st.tuples(pks, tss, vals), max_size=25),
)
@settings(**SETTINGS)
def test_asof_matches_pandas_merge_asof(spark, left, right):
    if not left:
        return
    ldata = [(k, t, i) for i, (k, t) in enumerate(left)]
    rdata = [(k, t, seq, float(v)) for seq, (k, t, v) in enumerate(right)]
    ldf = spark.createDataFrame(ldata, "k long, t long, lid long")
    rdf = (
        spark.createDataFrame(rdata, "k long, t long, seq long, quote double")
        if rdata
        else spark.createDataFrame([], "k long, t long, seq long, quote double")
    )
    out = asof_join(
        ldf, rdf, by="k", left_ts="t", right_ts="t",
        right_cols=["quote"], right_seq="seq",
    )
    got = {r.lid: r.quote for r in out.collect()}

    lpd = pd.DataFrame(ldata, columns=["k", "t", "lid"]).sort_values("t")
    rpd = pd.DataFrame(rdata, columns=["k", "t", "seq", "quote"])
    if len(rpd):
        # stable sort by (t) with seq-ascending pre-order ⇒ merge_asof's
        # "last matching row" is the max-seq row — the engine's tie rule
        rpd = rpd.sort_values(["t", "seq"], kind="stable")
        merged = pd.merge_asof(
            lpd, rpd[["k", "t", "quote"]], on="t", by="k",
            direction="backward", allow_exact_matches=True,
        )
        expected = {
            int(r.lid): (None if pd.isna(r.quote) else float(r.quote))
            for r in merged.itertuples()
        }
    else:
        expected = {int(i): None for _, _, i in ldata}
    assert got == expected


@pytest.mark.parametrize("n", [0, 1])
def test_asof_empty_sides(spark, n):
    ldf = spark.createDataFrame([(1, 5, 0)][:n], "k long, t long, lid long")
    rdf = spark.createDataFrame([], "k long, t long, seq long, quote double")
    out = asof_join(
        ldf, rdf, by="k", left_ts="t", right_ts="t",
        right_cols=["quote"], right_seq="seq",
    ).collect()
    assert len(out) == n
    assert all(r.quote is None for r in out)


ops = st.sampled_from(["create", "update", "delete"])


@given(
    batches=st.lists(
        st.lists(st.tuples(pks, ops, st.one_of(st.none(), vals)), min_size=1, max_size=10),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_bucketed_apply_matches_flat_fold(spark, tmp_path_factory, batches):
    """apply_changes_bucketed folded over random micro-batches lands on
    the same final state as the flat apply_changes fold — bucketing is
    a layout choice, never a semantics choice. Adversarial domain: 5
    pks force same-bucket collisions, create/update/delete interleave,
    None values exercise the partial-update coalesce."""
    import os

    from meilisync_spark.operators.apply import apply_changes
    from meilisync_spark.operators.bucketed import apply_changes_bucketed, read_buckets

    index = str(tmp_path_factory.mktemp("bk") / "index")
    seq = 0
    flat = spark.createDataFrame([], "pk long, value long")
    for batch in batches:
        data = []
        for pk, op, v in batch:
            data.append((pk, seq, op, v))
            seq += 1
        df = spark.createDataFrame(data, "pk long, seq long, op string, value long")
        apply_changes_bucketed(
            spark, index, df, pk="pk", payload_cols=["value"], num_buckets=3
        )
        flat_next = apply_changes(flat, df, pk="pk", payload_cols=["value"])
        flat = spark.createDataFrame(flat_next.collect(), flat_next.schema)  # pin
    if os.path.exists(index):
        got = {r.pk: r.value for r in read_buckets(spark, index).collect()}
    else:
        got = {}  # absent path == empty index (reference 404-is-0 contract)
    expected = {r.pk: r.value for r in flat.collect()}
    assert got == expected


# --- span_dedup vs a brute-force set model --------------------------------

_span_words = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=14
)


@given(docs=st.lists(_span_words, min_size=1, max_size=5))
@settings(**SETTINGS)
def test_span_dedup_matches_set_model(spark, docs):
    """Per-doc duplicated-span counts == a brute-force python set model.
    A 4-word alphabet over 3-word spans forces heavy span collisions
    both within and across documents."""
    import meilisync_spark.operators.text as TX

    k = 3
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans)
        for r in TX.span_dedup(df, k=k).collect()
    }
    spans = [
        {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)} for ws in docs
    ]
    for d, sp in enumerate(spans):
        dup = {s for s in sp if any(s in o for j, o in enumerate(spans) if j != d)}
        assert got[d] == (len(sp), len(dup)), d


# --- unigram_freq_score vs a pure-python model ----------------------------

_docs_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta"]), min_size=0, max_size=10
)


@given(docs=st.lists(_docs_words, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_unigram_freq_score_matches_python_model(spark, docs):
    """avg_token_freq == the literal python fold (Counter + the same
    two-division order); tiny alphabet forces heavy frequency overlap,
    empty docs must drop out."""
    from collections import Counter

    from meilisync_spark.operators.text import unigram_freq_score

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.avg_token_freq)
        for r in unigram_freq_score(df).collect()
    }
    cnt = Counter(w for ws in docs for w in ws)
    total = sum(cnt.values())
    expected = {
        i: (len(ws), sum(cnt[w] for w in ws) / len(ws) / total)
        for i, ws in enumerate(docs)
        if ws
    }
    assert got == expected  # exact equality: same IEEE division order


# --- source_overlap vs a brute-force pair count ---------------------------

def test_source_overlap_matches_bruteforce_pairs(spark):
    """Pair counts per (source_a, source_b) == brute-force counting over
    the LSH candidate pairs joined to provenance (sf0.001 corpus)."""
    from collections import Counter

    from meilisync_spark.operators.dedup import minhash_lsh_pairs, source_overlap
    from meilisync_spark.sources.parquet import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    pairs = [
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs).select("doc_a", "doc_b").collect()
    ]
    expected = Counter(
        tuple(sorted((src[a], src[b]))) for a, b in pairs
    )
    got = {
        (r.source_a, r.source_b): r.n_pairs
        for r in source_overlap(docs).collect()
    }
    assert got == dict(expected)


@given(docs=st.lists(_span_words, min_size=1, max_size=5))
@settings(**SETTINGS)
def test_span_removal_matches_set_model(spark, docs):
    """Excision == a brute-force python model: rank every span
    occurrence globally by (doc_id, pos), keep the first occurrence of
    each distinct span, drop the word positions of every later one,
    rebuild the text."""
    import meilisync_spark.operators.text as TX

    k = 3
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_words, r.n_removed, r.cleaned_text)
        for r in TX.span_removal(df, k=k).collect()
    }

    first: dict[str, tuple[int, int]] = {}
    for d, ws in enumerate(docs):
        for p in range(len(ws) - k + 1):
            first.setdefault(" ".join(ws[p : p + k]), (d, p))
    removed: dict[int, set] = {d: set() for d in range(len(docs))}
    for d, ws in enumerate(docs):
        for p in range(len(ws) - k + 1):
            if first[" ".join(ws[p : p + k])] != (d, p):
                removed[d].update(range(p, p + k))
    for d, ws in enumerate(docs):
        cleaned = " ".join(w for i, w in enumerate(ws) if i not in removed[d])
        assert got[d] == (len(ws), len(removed[d]), cleaned), d


# --- envelope normalizer robustness: adversarial payload content ----------

_env_strings = st.text(
    alphabet=st.characters(codec="utf-8",
                           exclude_categories=("Cs",)),  # no lone surrogates
    max_size=12,
)
_env_doubles = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.just(0.0), st.just(-0.0), st.just(1e-308), st.just(1.7e308),
)


@given(rows=st.lists(
    st.tuples(st.integers(0, 3), _env_doubles, _env_strings), min_size=1, max_size=8))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_maxwell_canal_normalizers_roundtrip_any_payload(spark, rows):
    """Whatever the row content — unicode, JSON-escape-worthy strings,
    subnormal/huge/negative-zero doubles — building a real Maxwell or
    Canal envelope and normalizing it must recover exactly the typed
    values (strings byte-equal, doubles bit-equal via shortest-repr
    roundtrip). Guards the JSON escape/parse path that the fixture's
    tame ASCII content never stresses."""
    import json as _json
    import math

    from pyspark.sql import types as T

    from meilisync_spark.sources.cdc_connectors import (
        CANAL_BATCH_SHIFT,
        MAXWELL_POS_FILE_SHIFT,
        normalize_canal,
        normalize_maxwell,
    )

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ])
    expected = {}
    mxw_rows, cnl_data = [], []
    for i, (pk, v, s) in enumerate(rows):
        expected[i] = (pk, v, s)
        mxw_rows.append((_json.dumps(
            {"database": "app", "table": "users", "type": "insert",
             "ts": 1700000000, "position": f"m.000001:{i}",
             "data": {"id": pk, "v": v, "s": s}}),))
        # canal renders values as strings; repr() is python's
        # shortest-roundtrip double form, same contract as Java's
        cnl_data.append({"id": str(pk), "v": repr(v), "s": s})
    mxw = normalize_maxwell(
        spark.createDataFrame(mxw_rows, "value string"), schema, pk="id"
    ).collect()
    got_m = {r.seq - MAXWELL_POS_FILE_SHIFT: (r.payload.id, r.payload.v, r.payload.s)
             for r in mxw}
    cnl = normalize_canal(
        spark.createDataFrame([(_json.dumps(
            {"database": "app", "table": "users", "type": "INSERT",
             "isDdl": False, "id": 7, "es": 1700000000000, "ts": 1700000000500,
             "pkNames": ["id"], "data": cnl_data}),)], "value string"),
        schema, pk="id",
    ).collect()
    got_c = {r.seq - 7 * CANAL_BATCH_SHIFT: (r.payload.id, r.payload.v, r.payload.s)
             for r in cnl}

    def eq(a, b):
        return all(
            (x == y) or (isinstance(x, float) and isinstance(y, float)
                         and math.copysign(1, x) == math.copysign(1, y)
                         and x == y)
            for x, y in zip(a, b))

    assert set(got_m) == set(expected) == set(got_c)
    for i, exp in expected.items():
        assert eq(got_m[i], exp), (got_m[i], exp)
        assert eq(got_c[i], exp), (got_c[i], exp)


@given(rows=st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 2)), min_size=0, max_size=24))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_exact_source_overlap_matches_brute_pair_count(spark, rows):
    """The pair-free histogram math == brute-force pair enumeration:
    for every unordered source pair, n_pairs must equal the count of
    doc pairs with equal normalized content, and n_shared_hashes the
    distinct contents involved. Tiny domains force hash collisions
    within and across sources."""
    from collections import defaultdict
    from itertools import combinations

    from meilisync_spark.operators.dedup import exact_source_overlap

    docs = [(i, f"text {content}", f"s{src}")
            for i, (content, src) in enumerate(rows)]
    df = (spark.createDataFrame(docs, "doc_id long, text string, source string")
          if docs else
          spark.createDataFrame([], "doc_id long, text string, source string"))
    got = {(r.source_a, r.source_b): (r.n_shared_hashes, r.n_pairs)
           for r in exact_source_overlap(df).collect()}

    pairs = defaultdict(int)
    shared = defaultdict(set)
    for (i, ti, si), (j, tj, sj) in combinations(docs, 2):
        if ti == tj:
            key = tuple(sorted((si, sj)))
            pairs[key] += 1
            shared[key].add(ti)
    exp = {k: (len(shared[k]), pairs[k]) for k in pairs}
    assert got == exp


@given(rows=st.lists(
    st.tuples(st.integers(0, 3), _env_doubles, _env_strings), min_size=1, max_size=8))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_wal2json_normalizer_roundtrip_any_payload(spark, rows):
    """Adversarial wal2json payloads — unicode / JSON-escape-worthy
    strings, subnormal/huge/negative-zero doubles, typed JSON values
    rendered by a real JSON encoder — must come back with strings
    byte-equal and doubles bit-equal through normalize_wal2json's
    array<string> decode + per-field cast. Multi-change messages keep
    per-change positions; deletes recover the pk from oldkeys alone."""
    import json as _json
    import math

    from pyspark.sql import types as T

    from meilisync_spark.sources.cdc_connectors import (
        WAL2JSON_CHANGE_SHIFT,
        normalize_wal2json,
    )

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ])
    expected = {}
    changes = []
    for i, (pk, v, s) in enumerate(rows):
        expected[i] = (pk, v, s)
        changes.append({
            "kind": "insert", "schema": "public", "table": "users",
            "columnnames": ["id", "v", "s"],
            "columntypes": ["bigint", "double precision", "text"],
            "columnvalues": [pk, v, s],
        })
    changes.append({
        "kind": "delete", "schema": "public", "table": "users",
        "oldkeys": {"keynames": ["id"], "keytypes": ["bigint"],
                    "keyvalues": [777]},
    })
    msg = _json.dumps({"change": changes, "nextlsn": "2/4F0",
                       "timestamp": "2023-11-14 22:13:20.000123+00"})
    out = normalize_wal2json(
        spark.createDataFrame([(msg,)], "value string"), schema, pk="id"
    ).collect()
    lsn = (2 << 32) + 0x4F0
    got = {r.seq - lsn * WAL2JSON_CHANGE_SHIFT:
           (r.payload.id, r.payload.v, r.payload.s) for r in out if r.op != "delete"}

    def eq(a, b):
        return all(
            (x == y and (not isinstance(x, float)
                         or math.copysign(1, x) == math.copysign(1, y)))
            for x, y in zip(a, b))

    assert set(got) == set(expected)
    for i, exp in expected.items():
        assert eq(got[i], exp), (got[i], exp)
    deletes = [r for r in out if r.op == "delete"]
    assert len(deletes) == 1 and deletes[0].pk == 777
    assert deletes[0].seq == lsn * WAL2JSON_CHANGE_SHIFT + len(rows)


@given(rows=st.lists(
    st.tuples(st.integers(0, 3), _env_doubles, _env_strings), min_size=1, max_size=8))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_wal2json_v2_auto_roundtrip_any_payload(spark, rows):
    """The v2 twin of the adversarial roundtrip, pushed through
    normalize_wal2json on a mixed stream: each payload rendered as its own
    format-v2 message (columns[{name,type,value}] by a real JSON
    encoder) plus one v1 transaction message carrying a delete —
    strings byte-equal, doubles bit-equal, both formats landing in the
    shared lsn·2^12 seq domain."""
    import json as _json
    import math

    from pyspark.sql import types as T

    from meilisync_spark.sources.cdc_connectors import (
        WAL2JSON_CHANGE_SHIFT,
        normalize_wal2json,
    )

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ])
    msgs = []
    expected = {}
    for i, (pk, v, s) in enumerate(rows):
        lsn_lo = 0x100 + i
        expected[lsn_lo] = (pk, v, s)
        msgs.append((_json.dumps({
            "action": "I", "schema": "public", "table": "users",
            "columns": [
                {"name": "id", "type": "bigint", "value": pk},
                {"name": "v", "type": "double precision", "value": v},
                {"name": "s", "type": "text", "value": s},
            ],
            "lsn": f"2/{lsn_lo:X}",
            "timestamp": "2023-11-14 22:13:20.000123+00",
        }),))
    msgs.append((_json.dumps({
        "change": [{"kind": "delete", "schema": "public", "table": "users",
                    "oldkeys": {"keynames": ["id"], "keytypes": ["bigint"],
                                "keyvalues": [777]}}],
        "nextlsn": "2/F",
        "timestamp": "2023-11-14 22:13:20.000123+00",
    }),))
    out = normalize_wal2json(
        spark.createDataFrame(msgs, "value string"), schema, pk="id"
    ).collect()
    base = 2 << 32
    got = {r.seq // WAL2JSON_CHANGE_SHIFT - base:
           (r.payload.id, r.payload.v, r.payload.s)
           for r in out if r.op != "delete"}

    def eq(a, b):
        return all(
            (x == y and (not isinstance(x, float)
                         or math.copysign(1, x) == math.copysign(1, y)))
            for x, y in zip(a, b))

    assert set(got) == set(expected)
    for k, exp in expected.items():
        assert eq(got[k], exp), (got[k], exp)
    deletes = [r for r in out if r.op == "delete"]
    assert len(deletes) == 1 and deletes[0].pk == 777
    assert deletes[0].seq == (base + 0xF) * WAL2JSON_CHANGE_SHIFT


def test_bigram_lm_score_overflow_guard(spark, monkeypatch):
    """c2·10^9 past int64 must raise, not wrap into corrupted scores.
    The real limit (~9.2e9 occurrences of one bigram) can't be built in
    a test, so the guard constant is patched down and the same code
    path asserted."""
    import pytest

    from meilisync_spark.operators import text as text_mod

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    assert text_mod.bigram_lm_score(docs).count() == 2  # under the limit: fine
    monkeypatch.setattr(text_mod, "_BIGRAM_C2_MAX", 2)
    with pytest.raises(Exception, match="overflows"):
        text_mod.bigram_lm_score(docs).collect()  # "a b" occurs 4 times > 2


@given(docs=st.lists(_docs_words, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_bigram_lm_score_matches_python_model(spark, docs):
    """avg_bigram_cond == the literal python fold (Counter over corpus
    bigrams/unigrams + the same fixed-point floor and final division);
    the tiny alphabet forces heavy transition overlap, and docs with
    <2 tokens must score (0, 0.0)."""
    from collections import Counter

    from meilisync_spark.operators.text import BIGRAM_SCALE, bigram_lm_score

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.avg_bigram_cond)
        for r in bigram_lm_score(df).collect()
    }
    c1 = Counter(w for ws in docs for w in ws)
    c2 = Counter((a, b) for ws in docs for a, b in zip(ws, ws[1:]))
    for i, ws in enumerate(docs):
        qs = [c2[(a, b)] * BIGRAM_SCALE // c1[a] for a, b in zip(ws, ws[1:])]
        if qs:
            expected = (len(qs), sum(qs) / len(qs) / float(BIGRAM_SCALE))
        else:
            expected = (0, 0.0)
        assert got[i] == expected, (i, got[i], expected)
