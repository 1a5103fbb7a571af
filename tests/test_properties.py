"""Property-based checks (SURVEY §5.3, hypothesis): quantization laws that
must hold for ANY score history, not just the golden fixtures.

Spark sessions are expensive, so hypothesis drives data generation and a
single session evaluates each example; max_examples kept small.
"""

from __future__ import annotations

import datetime as dt

import pytest
# Full-gate tier: this whole module is heavyweight (hypothesis fuzzing, ~4 min).
# The per-commit smoke tier deselects it: pytest -m "not slow".
# The FULL suite (no -m) remains the green gate for every round.
pytestmark = pytest.mark.slow

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from epss_spark.operators.quantize import changed_scores, densify
from epss_spark.plans.query import Query, apply_query

D = dt.date(2024, 1, 1)

# a history: per key, a list of daily values (possibly with gaps = None)
histories = st.dictionaries(
    keys=st.sampled_from([f"CVE-{i}" for i in range(6)]),
    values=st.lists(
        st.one_of(st.none(), st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9])),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=6,
)


def _to_rows(hist):
    rows = []
    for cve, vals in hist.items():
        for day, v in enumerate(vals):
            if v is not None:
                rows.append((D + dt.timedelta(days=day), cve, float(v)))
    return rows


_settings = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(hist=histories)
@_settings
def test_quantize_then_densify_reconstructs(spark, hist):
    rows = _to_rows(hist)
    if not rows:
        return
    dense = spark.createDataFrame(rows, "date date, cve string, epss double")
    q = changed_scores(dense).select("date", "cve", "epss")
    all_dates = dense.select("date").distinct()
    back = densify(q, all_dates)
    got = {(r.date, r.cve): r.epss for r in back.collect()}
    # every original observation is reconstructed exactly (forward-fill can
    # also fill gap days — those are supersets, not errors)
    for d, cve, v in rows:
        assert got.get((d, cve)) == v, (d, cve, v, got.get((d, cve)))


@given(hist=histories)
@_settings
def test_quantize_never_grows_and_keeps_first(spark, hist):
    rows = _to_rows(hist)
    if not rows:
        return
    dense = spark.createDataFrame(rows, "date date, cve string, epss double")
    q = changed_scores(dense)
    assert q.count() <= dense.count()
    assert q.select("cve").distinct().count() == dense.select("cve").distinct().count()


@given(hist=histories, lo=st.sampled_from([0.0, 0.2, 0.5]))
@_settings
def test_key_filter_commutes_with_quantization(spark, hist, lo):
    """Filtering on the KEY commutes with quantization (value filters do
    not — that asymmetry is the point of quantize-then-filter ordering)."""
    rows = _to_rows(hist)
    if not rows:
        return
    keep = {k for k in hist if hash(k) % 2 == 0}
    dense = spark.createDataFrame(rows, "date date, cve string, epss double")
    q_then_f = changed_scores(dense).filter(dense.cve.isin(*keep) if keep else dense.cve.isNull())
    f_then_q = changed_scores(dense.filter(dense.cve.isin(*keep) if keep else dense.cve.isNull()))
    a = {(r.date, r.cve, r.epss) for r in q_then_f.collect()}
    b = {(r.date, r.cve, r.epss) for r in f_then_q.collect()}
    assert a == b


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


def test_zero_bound_query_on_quantized(spark):
    """Query with 0.0 bounds composes with quantization (regression for the
    truthiness divergence at the composite level)."""
    rows = [(D, "CVE-0", 0.0), (D + dt.timedelta(days=1), "CVE-0", 0.5), (D, "CVE-1", 0.2)]
    dense = spark.createDataFrame(rows, "date date, cve string, epss double")
    out = apply_query(changed_scores(dense), Query(min_value=0.0, max_value=0.2, value_col="epss"))
    got = {(r.cve, r.epss) for r in out.collect()}
    assert got == {("CVE-0", 0.0), ("CVE-1", 0.2)}


# --- prep operator laws (operators/prep.py) --------------------------------

token_lists = st.lists(
    st.integers(min_value=0, max_value=40),  # per-doc token counts
    min_size=1,
    max_size=25,
)


@given(counts=token_lists, budget=st.sampled_from([8, 16, 40]))
@_settings
def test_pack_sequences_laws(spark, counts, budget):
    """For ANY corpus shape: every doc packed exactly once; no bin exceeds
    the budget unless it holds a single over-budget doc; bins are densely
    numbered; re-running packs identically (pure function of input)."""
    from epss_spark.operators.prep import pack_sequences

    rows = [(i, " ".join(["t"] * n)) for i, n in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, budget=budget, n_buckets=3).collect()
    assert sorted(r.doc_id for r in out) == list(range(len(counts)))
    fills, members = {}, {}
    for r in out:
        assert r.n_tokens == counts[r.doc_id]
        fills[(r.bucket, r.bin)] = fills.get((r.bucket, r.bin), 0) + r.n_tokens
        members.setdefault((r.bucket, r.bin), []).append(r.doc_id)
    for key, f in fills.items():
        assert f <= budget or len(members[key]) == 1
    by_bucket = {}
    for b, bin_ in fills:
        by_bucket.setdefault(b, set()).add(bin_)
    for bins in by_bucket.values():
        assert bins == set(range(len(bins)))


@given(
    texts=st.lists(
        st.text(
            alphabet="ab @.-0123456789x",  # dense in PII-grammar chars
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
@_settings
def test_pii_redact_idempotent(spark, texts):
    """Redaction is a fixpoint: redacting already-redacted text changes
    nothing and reports zero findings (the <TAG> tokens contain no
    redactable grammar)."""
    from epss_spark.operators.prep import pii_redact

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    once = pii_redact(df).withColumnRenamed("text_redacted", "text")
    twice = pii_redact(once.select("doc_id", "text"))
    got = {r.doc_id: r for r in twice.collect()}
    first = {r.doc_id: r.text for r in once.collect()}
    for i in got:
        assert got[i].text_redacted == first[i]
        assert (got[i].n_email, got[i].n_ssn, got[i].n_phone, got[i].n_ipv4) == (0, 0, 0, 0)


@given(
    n_tokens=st.integers(min_value=0, max_value=30),
    chunk_size=st.integers(min_value=2, max_value=8),
)
@_settings
def test_chunk_tokens_covers_stream(spark, n_tokens, chunk_size):
    """Non-overlapping chunking (stride == chunk_size) partitions the token
    stream exactly: concatenating chunks in order reconstructs the doc."""
    from epss_spark.operators.prep import chunk_tokens

    words = " ".join(f"w{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(0, words)], "doc_id long, text string")
    out = sorted(
        chunk_tokens(df, chunk_size=chunk_size, stride=chunk_size).collect(),
        key=lambda r: r.chunk_idx,
    )
    rebuilt = " ".join(r.chunk_text for r in out)
    assert rebuilt == words
    assert all(r.n_tokens <= chunk_size for r in out)
    # all but the last chunk are full
    assert all(r.n_tokens == chunk_size for r in out[:-1])


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


@given(
    n_tokens=st.integers(min_value=0, max_value=40),
    chunk_size=st.integers(min_value=2, max_value=8),
    overlap=st.integers(min_value=1, max_value=6),
)
@_settings
def test_chunk_tokens_overlapping_covers_without_subset_chunks(
    spark, n_tokens, chunk_size, overlap
):
    """Overlapping chunking laws: every token position is covered, and no
    chunk is a strict subset of an earlier one (subset chunks are silent
    training-data duplication)."""
    from epss_spark.operators.prep import chunk_tokens

    stride = max(1, chunk_size - overlap)
    words = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    out = sorted(
        chunk_tokens(df, chunk_size=chunk_size, stride=stride).collect(),
        key=lambda r: r.chunk_idx,
    )
    if n_tokens == 0:
        assert not out
        return
    spans = []
    for r in out:
        toks = r.chunk_text.split(" ")
        start = int(toks[0][1:])
        spans.append((start, start + len(toks) - 1))
    covered = set()
    for a, b in spans:
        covered.update(range(a, b + 1))
    assert covered == set(range(n_tokens))  # full coverage
    ends = [b for _, b in spans]
    assert ends == sorted(ends) and len(set(ends)) == len(ends)  # strictly extending


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
