"""Property-based checks (SURVEY §5.3, hypothesis) for the extension
operators: laws that must hold for ANY input, not just the golden fixtures.

Spark sessions are expensive, so hypothesis drives data generation and a
single session evaluates each example; max_examples kept small.
"""

from __future__ import annotations

import pytest
# Full-gate tier: this whole module is heavyweight (hypothesis fuzzing, ~4 min).
# The per-commit smoke tier deselects it: pytest -m "not slow".
# The FULL suite (no -m) remains the green gate for every round.
pytestmark = pytest.mark.slow

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_settings = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

vectors = st.lists(
    st.lists(
        st.floats(min_value=-100.0, max_value=100.0, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ),
    min_size=1,
    max_size=6,
)


@given(vecs=vectors)
@_settings
def test_int8_quantization_error_bound(spark, vecs):
    """For any vector: |q_i| <= 127 (no overflow past saturation) and the
    reconstruction error is bounded by scale/2 (the rounding quantum),
    plus float slack."""
    from epss_spark.operators.similarity import dequantize_error, quantize_int8

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for r in quantize_int8(df).collect():
        assert all(abs(q) <= 127 for q in r.q), r
    for r in dequantize_error(df).collect():
        scale = r.scale
        assert r.recon_err <= scale / 2 + 1e-9, (r.vec_id, r.recon_err, scale)


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60, unique=True),
    rate=st.sampled_from([0.0, 0.25, 0.5, 1.0]),
)
@_settings
def test_stratified_sampling_is_consistent_subset(spark, ids, rate):
    """A lower rate always keeps a subset of a higher rate's picks for the
    same salt (thresholds are nested), rate 1.0 keeps everything, and
    rate 0.0 keeps nothing."""
    from epss_spark.operators.dedup import sample_stratified

    docs = spark.createDataFrame([(i, "t", "s") for i in ids], "doc_id long, text string, source string")
    kept = {r.doc_id for r in sample_stratified(docs, {"s": rate}).collect()}
    full = {r.doc_id for r in sample_stratified(docs, {"s": 1.0}).collect()}
    if rate == 1.0:
        assert kept == set(ids)
    if rate == 0.0:
        assert kept == set()
    assert kept <= full and full == set(ids)


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]), min_size=2, max_size=12),
        min_size=1,
        max_size=6,
    )
)
@_settings
def test_repetition_fractions_well_formed(spark, texts):
    """top_bigram_frac and dup_bigram_frac are in (0, 1]; dup >= top when
    the top bigram repeats; n_bigrams == tokens - 1."""
    from epss_spark.operators.text import repetition_stats

    rows = [(i, " ".join(ws)) for i, ws in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    for i, ws in enumerate(rows):
        n_tok = len(texts[i])
        r = out[i]
        assert r.n_bigrams == n_tok - 1
        assert 0 < r.top_bigram_frac <= 1
        assert 0 <= r.dup_bigram_frac <= 1
        # any repeated top bigram contributes all its occurrences to dup
        if r.top_bigram_frac * r.n_bigrams >= 2:
            assert r.dup_bigram_frac >= r.top_bigram_frac


def test_dedup_corpus_lines_idempotent_and_globally_distinct(spark):
    """Line dedup laws: (1) no eligible line survives twice corpus-wide;
    (2) running the ACTION on its own output is a fixpoint."""
    from pyspark.sql import functions as F

    from epss_spark.operators import dedup

    rows = [
        (0, "a\nb\na"),  # in-doc repeat
        (1, "b\nc\n\n"),
        (2, "c\na\nd"),
        (3, "\n\n"),  # blank-only doc: blanks always survive
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = dedup.dedup_corpus_lines(df)
    ex = once.select(F.explode(F.split("text", "\n")).alias("line")).filter(
        F.length("line") >= 1
    )
    assert ex.groupBy("line").count().filter(F.col("count") > 1).count() == 0
    twice = dedup.dedup_corpus_lines(once.drop("n_lines_kept"))
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_bm25_on_empty_and_termless_corpora(spark):
    from epss_spark.operators import retrieval

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert retrieval.bm25_topk(empty, ["x"]).count() == 0
    nohit = spark.createDataFrame([(0, "nothing here")], "doc_id long, text string")
    assert retrieval.bm25_topk(nohit, ["zzz"]).count() == 0


# corpora: small alphabet + newlines so duplicate lines actually occur
_line = st.sampled_from(["", "aa", "bb", "cc", "aa bb", "x"])
_corpora = st.lists(
    st.lists(_line, min_size=0, max_size=5).map(lambda ls: "\n".join(ls)),
    min_size=1,
    max_size=6,
)


def _lines_reference(texts):
    """Pure-Python spec of dedup_corpus_lines: first occurrence per
    distinct non-empty line in (doc_id, pos) order; empty lines always
    kept; docs with no surviving lines drop."""
    seen = set()
    out = {}
    for doc_id, text in enumerate(texts):
        kept = []
        for line in text.split("\n"):
            if len(line) < 1:
                kept.append(line)
            elif line not in seen:
                seen.add(line)
                kept.append(line)
        if kept:
            out[doc_id] = ("\n".join(kept), len(kept))
    return out


@given(texts=_corpora)
@_settings
def test_dedup_corpus_lines_matches_reference(spark, texts):
    from epss_spark.operators import dedup

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_lines_kept)
        for r in dedup.dedup_corpus_lines(df).collect()
    }
    assert got == _lines_reference(texts)


# token streams from a tiny vocabulary so duplicated k-grams actually occur
_span_corpora = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=10).map(" ".join),
    min_size=1,
    max_size=5,
)


@given(texts=_span_corpora)
@_settings
def test_dedup_spans_matches_reference(spark, texts):
    """dedup_spans == the pure-Python span_dedup_reference spec on fuzzed
    tiny-vocab corpora (the small alphabet makes in-doc and cross-doc
    duplicated 3-grams, overlap chains, and fully-covered docs common)."""
    from epss_spark.operators import dedup

    k = 3
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    toks = {i: [t for t in txt.split(" ") if t] for i, txt in enumerate(texts)}
    for cross in (False, True):
        got = {
            r.doc_id: r.text.split(" ")
            for r in dedup.dedup_spans(df, k=k, cross_doc_only=cross).collect()
        }
        ref = dedup.span_dedup_reference(toks, k, cross_doc_only=cross)
        assert got == {i: t for i, t in ref.items() if t}, f"cross_doc_only={cross}"


@given(texts=_span_corpora)
@_settings
def test_dedup_spans_fixpoint_no_duplicate_gram_survives(spark, texts):
    """The fixpoint's defining invariant on fuzzed corpora: NO k-gram
    appears twice anywhere in the output (the single pass only promises
    it for ORIGINAL adjacencies), and the result equals the iterated
    pure-Python reference."""
    from epss_spark.operators import dedup

    k = 3
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: r.text.split(" ")
        for r in dedup.dedup_spans_fixpoint(df, k=k).collect()
    }
    ref = dedup.span_dedup_fixpoint_reference(
        {i: [t for t in txt.split(" ") if t] for i, txt in enumerate(texts)}, k
    )
    assert got == ref
    seen: set = set()
    for toks in got.values():
        for i in range(len(toks) - k + 1):
            g = tuple(toks[i : i + k])
            assert g not in seen, g
            seen.add(g)


def _raw_span_offsets_reference(texts: dict, k: int) -> dict:
    """Pure-Python spec for dedup_spans_offsets: {id -> raw text} in,
    {id -> [(span_start, span_end, n_tokens)]} out. Raw-run tokens with
    char offsets, the identical keep-first k-gram coverage as
    span_dedup_reference, islands of consecutive covered token positions
    merged into char spans."""
    import re

    tokoff = {
        did: [
            (m.start(), m.end(), m.group(0).lower())
            for m in re.finditer(r"[A-Za-z0-9]+", texts[did] or "")
        ]
        for did in texts
    }
    first: dict = {}
    occs: list = []
    for did in sorted(texts):
        toks = [x[2] for x in tokoff[did]]
        for p in range(len(toks) - k + 1):
            g = tuple(toks[p : p + k])
            occs.append((did, p, g))
            first.setdefault(g, (did, p))
    counts: dict = {}
    for _, _, g in occs:
        counts[g] = counts.get(g, 0) + 1
    covered: dict = {did: set() for did in texts}
    for did, p, g in occs:
        if counts[g] >= 2 and first[g] != (did, p):
            covered[did].update(range(p, p + k))
    out: dict = {}
    for did in texts:
        runs: list = []
        for p in sorted(covered[did]):
            if runs and p == runs[-1][1]:
                runs[-1] = (runs[-1][0], p + 1)
            else:
                runs.append((p, p + 1))
        out[did] = [
            (tokoff[did][a][0], tokoff[did][b - 1][1], b - a) for a, b in runs
        ]
    return out


# separators include multibyte codepoints (é, —, 你) on purpose: offsets
# are CODEPOINT offsets, and the reference (re.finditer on the Python
# str) is codepoint-native — this pins Spark's length/substr semantics
# on non-ASCII text, which the ASCII-only testdata oracles never touch
_raw_sep = st.sampled_from([" ", ", ", "!  ", "\n", " - ", ". ", " é ", "—", "你好 "])
_raw_word = st.sampled_from(["a", "B", "cc", "Dd1"])
_raw_doc = st.lists(
    st.tuples(_raw_word, _raw_sep), min_size=0, max_size=12
).map(lambda ps: "".join(w + s for w, s in ps))
_raw_corpora = st.lists(_raw_doc, min_size=1, max_size=5)


@given(texts=_raw_corpora)
@_settings
def test_dedup_spans_offsets_matches_reference(spark, texts):
    """dedup_spans_offsets == the pure-Python offsets spec on fuzzed
    mixed-case/punctuated corpora, AND dedup_spans_raw == manually
    excising those spans from the raw text — so surviving raw text keeps
    no token position covered by a non-first duplicate k-gram, and keeps
    everything else byte-for-byte."""
    from epss_spark.operators import dedup

    k = 3
    tmap = dict(enumerate(texts))
    df = spark.createDataFrame(list(tmap.items()), "doc_id long, text string")
    ref = _raw_span_offsets_reference(tmap, k)
    got: dict = {did: [] for did in tmap}
    for r in dedup.dedup_spans_offsets(df, k=k).collect():
        got[r.doc_id].append((r.span_start, r.span_end, r.n_tokens))
    assert {d: sorted(v) for d, v in got.items()} == ref

    raw = {
        r.doc_id: (r.text, r.n_spans_removed)
        for r in dedup.dedup_spans_raw(df, k=k).collect()
    }
    for did, txt in tmap.items():
        kept, cur = [], 0
        for s, e, _ in ref[did]:
            kept.append(txt[cur:s])
            cur = e
        kept.append(txt[cur:])
        assert raw[did] == ("".join(kept), len(ref[did]))


# words over a 3-letter alphabet so pair ties and repeated merges occur
_bpe_corpora = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=5), min_size=1, max_size=8
    ).map(" ".join),
    min_size=1,
    max_size=3,
)


@given(texts=_bpe_corpora)
@_settings
def test_bpe_merges_matches_reference(spark, texts):
    """bpe_merges == the pure-Python bpe_reference spec (canonical
    greedy left-to-right merging, (count desc, pair asc) tie-breaks) on
    fuzzed tiny-alphabet corpora."""
    from collections import Counter

    from epss_spark.operators import text as tx

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = [tuple(r) for r in tx.bpe_merges(df, n_merges=4).collect()]
    wc = Counter(w for t in texts for w in t.split())
    assert got == tx.bpe_reference(dict(wc), 4)


_budget_docs = st.lists(
    st.tuples(
        st.sampled_from(["web", "code", "ref"]),
        st.one_of(st.none(), st.text(alphabet="ab ", max_size=12)),
    ),
    min_size=1,
    max_size=25,
)


@given(rows=_budget_docs, budget=st.integers(min_value=0, max_value=40))
@_settings
def test_token_budget_bucketed_equivalence_fuzz(spark, rows, budget):
    """Windowed and bucketed token-budget mixing keep identical doc sets
    on fuzzed corpora — random strata mixes, null texts, zero budgets,
    and bucket_chars=1 (16 coarse buckets) to force the cut bucket onto
    boundaries."""
    from epss_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(rows)],
        "doc_id long, source string, text string",
    )
    budgets = {"web": budget}
    a = sorted(
        tuple(r)
        for r in dedup.sample_token_budget(df, budgets, default_budget=7).collect()
    )
    b = sorted(
        tuple(r)
        for r in dedup.sample_token_budget_bucketed(
            df, budgets, default_budget=7, bucket_chars=1
        ).collect()
    )
    assert a == b


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["web", "code"]), st.integers(0, 50)),
        min_size=1,
        max_size=20,
    ),
    n_max=st.integers(min_value=1, max_value=8),
)
@_settings
def test_cap_bucketed_equivalence_fuzz(spark, rows, n_max):
    """Range-bucketed cap == windowed cap under fuzzed id distributions
    (clustered, duplicated-across-strata, tiny n_max) — approximate cut
    points never change the keep set, only the bucket shapes."""
    from epss_spark.operators import dedup

    data = [(i * 100 + v, s, f"t{v}") for i, (s, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, source string, text string")
    a = sorted(r.doc_id for r in dedup.cap_per_stratum(df, n_max).collect())
    b = sorted(
        r.doc_id for r in dedup.cap_per_stratum_bucketed(df, n_max, n_buckets=4).collect()
    )
    assert a == b


# keep_latest: rows with (small key space, version space forcing ties,
# unique id tiebreak)
_kl_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=3),
        st.text(alphabet="xyz", min_size=0, max_size=3),
    ),
    min_size=1,
    max_size=20,
)


@given(rows=_kl_rows)
@_settings
def test_keep_latest_matches_python_reference(spark, rows):
    """keep_latest == group-wise argmax of (version, tiebreak id) for ANY
    input, including version ties and duplicate (key, version) rows."""
    from epss_spark.operators.dedup import keep_latest

    data = [(k, v, i, p) for i, (k, v, p) in enumerate(rows)]
    df = spark.createDataFrame(data, "k string, v long, id long, payload string")
    got = {
        r.k: (r.v, r.id, r.payload)
        for r in keep_latest(df, "k", "v", tiebreak_col="id").collect()
    }
    want = {}
    for k, v, i, p in data:
        if k not in want or (v, i) > want[k][:2]:
            want[k] = (v, i, p)
    assert got == want


# --- round 11: contamination-audit laws -------------------------------------

_docs_texts = st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=24), min_size=1, max_size=8
)


@_settings
@given(texts=_docs_texts, bench_i=st.integers(min_value=0, max_value=7))
def test_contamination_report_laws(spark, texts, bench_i):
    """For ANY corpus and eval doc: rates are within [0, 1] with the
    corpus size as the denominator; an exact-flagged doc is also
    near-flagged whenever it has >= 1 shingle (identical text ->
    identical signatures -> banded candidate at Jaccard 1.0); and the
    grid always holds exactly 3 rows per benchmark."""
    from epss_spark.operators import dedup

    bench_text = texts[bench_i % len(texts)]
    corpus = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    eval_sets = spark.createDataFrame(
        [("b", 0, bench_text)], "benchmark string, doc_id long, text string"
    )
    rows = dedup.contamination_report(corpus, eval_sets, k=3).collect()
    assert len(rows) == 3
    by_method = {r.method: r for r in rows}
    n = len(texts)
    for r in rows:
        assert 0 <= r.n_contaminated <= n
        assert 0.0 <= r.rate <= 1.0
        assert r.rate == round(r.n_contaminated / n, 6)
    # exact implies near for shingle-bearing texts (>= 3 normalized tokens)
    toks = [t for t in bench_text.lower().split() if t]
    if len(toks) >= 3:
        assert by_method["near"].n_contaminated >= by_method["exact"].n_contaminated
