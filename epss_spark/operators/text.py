"""Text analysis operators for training-data pipelines: normalization,
token/quality stats, language-ID (stopword-overlap heuristic), and document
fingerprinting (md5 + rolling-hash winnowing).

All hot-path ops are built-in Catalyst expressions (no Python UDFs): lower /
regexp_replace / split / higher-order array functions run inside
whole-stage codegen, so a 100 TB documents scan stays JVM-side. The only
Python crossing is winnowing, which is an Arrow-batched mapInPandas.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "for"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est"),
    "es": ("el", "la", "los", "las", "y", "de", "un", "una"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu"),
}
_CJK_RE = "[一-鿿]"  # Java regex; oracle uses RE2's \x{4e00} spelling


def normalize(col: Column | str = "text") -> Column:
    """lower -> strip non-alnum -> squeeze spaces -> trim. Matches the
    `_NORM_SQL` oracle fragment character-for-character."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " "))


def tokens(col: Column | str = "text") -> Column:
    return F.filter(F.split(normalize(col), " "), lambda x: x != "")


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles (n=3); degenerate docs (<n tokens) contribute
    their whole token string as one shingle.

    Implemented as zip_with over three shifted slices rather than
    transform+element_at: element_at(expr, i) inside a higher-order lambda
    re-evaluates `expr` per element (and Catalyst's projection collapsing
    can inline the whole normalize/tokenize tree into `expr`), turning
    shingling into O(tokens^2) regex work per document — ~60x slower on a
    5k-doc corpus. zip_with evaluates its input arrays once per row.
    """
    assert n == 3, "oracle fragment is specialized to 3-grams"
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    s1 = F.slice(toks, 1, cnt)
    s2 = F.slice(toks, 2, cnt)
    s3 = F.slice(toks, 3, cnt)
    make = F.zip_with(
        F.zip_with(s1, s2, lambda a, b: F.concat(a, F.lit(" "), b)),
        s3,
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    return F.when(F.size(toks) >= n, make).otherwise(F.array(F.concat_ws(" ", toks)))


def with_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    # Materialize tokens as a real column BEFORE shingling: inside a
    # higher-order lambda, element_at(expr, i) re-evaluates `expr` per
    # element, so an inlined normalize+split+filter tree turns 3-gram
    # construction into O(tokens^2) regex work per document (~70s for 5k
    # docs). A bound column reference is evaluated once per row.
    toked = docs.select(id_col, tokens(text_col).alias("__toks"))
    return toked.select(id_col, F.array_distinct(shingles(F.col("__toks"))).alias("shingles"))


def text_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: lengths, token counts, stopword fraction,
    punctuation count. Zero shuffles.

    Two stacked projections, deliberately: the tokenize tree
    (normalize-regex + split) is aliased to a column in the inner select
    and CONSUMED BY NAME in the outer one. Inlining it (the one-select
    form) evaluates the regex pipeline once per consumer — measured 2x
    slower at bench scale; codegen subexpression elimination does not
    rescue it because the consumers sit inside higher-order-function
    lambdas. CollapseProject keeps the split because it refuses to
    duplicate non-cheap expressions (pinned by
    tests/test_plans.py::test_text_stats_single_tokenize)."""
    base = docs.select(
        id_col,
        F.length(text_col).alias("n_chars"),
        F.regexp_count(F.col(text_col), F.lit("[.,;:!?]")).alias("n_punct"),
        tokens(text_col).alias("__toks"),
    )
    n_tok = F.size("__toks")
    n_stop = F.size(F.filter("__toks", lambda x: x.isin(*STOPWORDS_EN)))
    return base.select(
        id_col,
        "n_chars",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("n_distinct_tokens"),
        (n_stop.cast("double") / F.greatest(n_tok, F.lit(1))).alias("stopword_frac"),
        "n_punct",
    )


def quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_stopword_frac: float = 0.6,
    min_distinct_frac: float = 0.3,
) -> DataFrame:
    """Heuristic quality gate for training corpora: drop documents that are
    too short, stopword-saturated, or highly repetitive. All signals are
    codegen projections over one pass of the text — zero shuffles. The
    tokenize tree is aliased once in an inner select (stacked-projection
    pattern, see text_stats) so the three gate signals share one
    evaluation instead of inlining three copies of the regex pipeline."""
    base = docs.select("*", tokens(text_col).alias("__toks"))
    n_tok = F.size("__toks")
    n_stop = F.size(F.filter("__toks", lambda x: x.isin(*STOPWORDS_EN)))
    n_distinct = F.size(F.array_distinct("__toks"))
    stop_frac = n_stop.cast("double") / F.greatest(n_tok, F.lit(1))
    distinct_frac = n_distinct.cast("double") / F.greatest(n_tok, F.lit(1))
    return base.filter(
        (n_tok >= min_tokens)
        & (stop_frac <= max_stopword_frac)
        & (distinct_frac >= min_distinct_frac)
    ).drop("__toks")


def c4_line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_lines: int = 3,
    require_terminal_punct: bool = True,
    banned_line_words: tuple[str, ...] = ("javascript",),
    banned_page_words: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """C4-style structural cleaning (Raffel et al. 2020 §2.2) — the
    LINE-grain rules the token-statistic `quality_filter` cannot
    express: keep only lines that end in terminal punctuation ('.', '!',
    '?', '\"'), have >= min_words_per_line words, and avoid the banned
    line words; drop the whole page when it contains a banned page
    marker (lorem ipsum, curly braces = leftover code) or keeps fewer
    than `min_lines` lines. Returns (id, text = kept lines rejoined,
    n_lines_kept); failing pages are absent. Deviations from the paper
    are parameters, not surprises: the English bad-words list is
    `banned_*` (default minimal), C4's >=5-sentence rule is the
    kept-line floor, langid/dedup are separate operators.

    Scale shape: one codegen pass — split to a bound lines array, one
    higher-order filter, re-join; no shuffle, no Python."""
    lines = F.split(F.col(text_col), "\n")
    def _line_ok(l: Column) -> Column:
        t = F.trim(l)
        ok = F.length(t) > 0
        if require_terminal_punct:
            ok = ok & t.rlike('[.!?"]$')
        ok = ok & (
            F.size(F.filter(F.split(t, " +"), lambda w: w != ""))
            >= min_words_per_line
        )
        for w in banned_line_words:
            ok = ok & ~F.lower(l).contains(w.lower())
        return ok

    base = docs.select(id_col, F.col(text_col), F.filter(lines, _line_ok).alias("__kept"))
    page_ok = F.size("__kept") >= min_lines
    for w in banned_page_words:
        page_ok = page_ok & ~F.lower(F.col(text_col)).contains(w.lower())
    return base.filter(page_ok).select(
        id_col,
        F.concat_ws("\n", "__kept").alias(text_col),
        F.size("__kept").cast("long").alias("n_lines_kept"),
    )


def gopher_quality_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
) -> DataFrame:
    """Gopher quality signals (Rae et al. 2021, Table A1) as a REPORT —
    one row per doc with every signal plus the composite `passes`
    verdict, so pipelines can filter (`.filter("passes")`), audit
    per-rule kill rates, or re-threshold without re-scanning. The
    signals the token-statistic `quality_filter` and the line-grain
    `c4_line_filter` don't cover: word-count window, mean word length
    window, symbol-to-word ratio ('#' and '...'), bullet-line /
    ellipsis-line fractions, alphabetic-word fraction. Words here are
    WHITESPACE tokens of the raw text (symbols matter), not the
    normalized stream. Repetition rules live in `repetition_stats`.

    One codegen pass over bound word/line arrays — no shuffle, no
    Python; ratios rounded to 6 dp for cross-engine hashing."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    base = docs.select(
        id_col,
        F.filter(F.split(c, r"\s+"), lambda w: w != "").alias("__w"),
        F.split(c, "\n").alias("__l"),
        (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))).alias("__nhash"),
        (
            (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
        ).cast("long").alias("__nell"),
    )
    n_words = F.size("__w")
    n_lines = F.greatest(F.size("__l"), F.lit(1))
    d_words = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wl = F.round(
        F.aggregate("__w", F.lit(0).cast("long"), lambda a, w: a + F.length(w))
        / d_words,
        6,
    )
    sym = F.round((F.col("__nhash") + F.col("__nell")) / d_words, 6)
    bullet = F.round(
        F.size(
            F.filter("__l", lambda l: F.trim(l).rlike(r"^[-*•‣▪]"))
        )
        / n_lines.cast("double"),
        6,
    )
    ell = F.round(
        F.size(F.filter("__l", lambda l: F.rtrim(l).endswith("...")))
        / n_lines.cast("double"),
        6,
    )
    alpha = F.round(
        F.size(F.filter("__w", lambda w: w.rlike("[A-Za-z]"))) / d_words, 6
    )
    rep = base.select(
        id_col,
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        bullet.alias("bullet_frac"),
        ell.alias("ellipsis_frac"),
        alpha.alias("alpha_frac"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_frac") <= max_bullet_frac)
        & (F.col("ellipsis_frac") <= max_ellipsis_frac)
        & (F.col("alpha_frac") >= min_alpha_frac)
    )
    return rep.withColumn("passes", passes)


def bigrams(toks: Column) -> Column:
    """Word 2-gram arrays via zip_with over shifted slices (same
    O(tokens) construction rationale as `shingles`). Docs with < 2 tokens
    yield an empty array."""
    cnt = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, cnt), F.slice(toks, 2, cnt), lambda a, b: F.concat(a, F.lit(" "), b)
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals for corpus filtering: per document,
    the fraction of word bigrams occupied by the single most frequent
    bigram (top_bigram_frac) and the fraction occupied by any repeated
    bigram (dup_bigram_frac). High values mark boilerplate / templated /
    looping text that length and stopword heuristics miss.

    Scale shape: explode bigrams -> count per (doc, gram) -> fold per doc.
    Two hash exchanges, both with map-side partial aggregation; per-gram
    state is ~(id, hash, count), never the text. The per-row alternative
    (transform over distinct grams x count filter) is O(tokens^2) per
    document — fine for tweets, quadratic death for long documents, which
    are exactly where repetition filtering matters.

    Only documents with at least one bigram (>= 2 tokens) appear in the
    output — a repetition score is undefined on shorter docs."""
    from epss_spark.operators.layout import ensure_parallelism

    # small-file guard: the regex tokenize + explode is CPU-heavy; over a
    # single parquet split it would run on one task (no-op at real scale)
    toked = ensure_parallelism(docs).select(id_col, tokens(text_col).alias("__toks"))
    grams = (
        toked.select(id_col, F.explode_outer(bigrams(F.col("__toks"))).alias("g"))
        # explode_outer + null filter: see _exploded_shingles in dedup.py —
        # avoids the optimizer's inferred Generate filter re-evaluating the
        # tokenize tree pre-exchange
        .where(F.col("g").isNotNull())
    )
    counts = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("__top"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("__dup"),
        )
        .select(
            id_col,
            "n_bigrams",
            (F.col("__top").cast("double") / F.col("n_bigrams")).alias("top_bigram_frac"),
            (F.col("__dup").cast("double") / F.col("n_bigrams")).alias("dup_bigram_frac"),
        )
    )


def langid(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """N-gram-free language ID: stopword-overlap scores per language with a
    CJK codepoint check, fixed precedence for ties (en > fr > es > de).

    The tokenize tree is aliased once in an inner select (same stacked-
    projection pattern as text_stats: the four per-language marker counts
    would otherwise each inline their own copy of the regex pipeline)."""
    base = docs.select("*", tokens(text_col).alias("__toks"))

    def marker_count(markers: tuple[str, ...]):
        # single-arg lambda factory — F.filter dispatches on lambda arity,
        # so the marker tuple must be closed over, not a default arg
        return F.size(F.filter("__toks", lambda x: x.isin(*markers)))

    scores = {lang: marker_count(markers) for lang, markers in LANG_MARKERS.items()}
    has_cjk = F.col(text_col).rlike(_CJK_RE)
    pred = (
        F.when(has_cjk, F.lit("zh"))
        .when(
            (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"]),
            F.lit("en"),
        )
        .when((scores["fr"] >= scores["es"]) & (scores["fr"] >= scores["de"]), F.lit("fr"))
        .when(scores["es"] >= scores["de"], F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return base.withColumn("lang_pred", pred).drop("__toks")


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-dup fingerprint: md5 of the normalized text."""
    return docs.select(id_col, F.md5(normalize(text_col)).alias("fp"))


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-unigram language-model score per document: the mean token
    log-probability avg_t ln(count(t) / total_tokens) under the corpus's
    own unigram distribution — the cheap KenLM-perplexity proxy used to
    rank crawl documents by "typicality" (low scores = rare-token soup:
    OCR noise, lists, non-linguistic text). No smoothing is needed: the
    vocabulary is built from the same corpus it scores, so every token
    has count >= 1.

    Returns (id, n_tokens, avg_logprob) for every document with at least
    one token; avg_logprob is rounded to 6 dp (cross-engine float
    contract, same as similarity.cosine).

    Scale shape: explode tokens -> vocab = groupBy(token) count (one
    exchange, map-side partial so hot tokens collapse per task) -> join
    the token stream back to the vocab (AQE broadcasts the vocab while it
    fits — vocabularies are Zipf-bounded, millions of rows against
    billions of docs; skewed-join splitting covers the sort-merge case)
    -> per-doc mean (one exchange). The total-token scalar is a 1-row
    aggregate of the VOCAB (sum of counts == token count), broadcast —
    never a second pass over the corpus."""
    from epss_spark.operators.layout import ensure_parallelism

    tok = (
        ensure_parallelism(docs)
        .select(id_col, *carry_cols, F.explode_outer(tokens(text_col)).alias("tok"))
        .where(F.col("tok").isNotNull())
    )
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("__cnt"))
    total = vocab.agg(F.sum("__cnt").alias("__total"))
    return (
        tok.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col, *carry_cols)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("__cnt").cast("double") / F.col("__total"))), 6
            ).alias("avg_logprob"),
        )
    )


def ppl_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): per language, split documents into quality
    tertiles — head / middle / tail — by their LM score, here the
    corpus-unigram perplexity proxy `unigram_logprob` (CCNet uses a
    wiki-trained KenLM; the bucketing mechanics are identical). Returns
    (id, lang, n_tokens, avg_logprob, ppl_bucket[1=head..n=tail],
    label[head/middle/tail when n_buckets=3]).

    Scale shape — deliberately NOT ntile: an ntile window would sort
    every document of a language on one task chain (languages are FEW
    and HUGE — the worst window-skew shape there is). Instead the
    per-language quantile CUTOFFS are computed with the exact
    `percentile` aggregate — its state is a (value -> count) map and
    avg_logprob is 6-dp-rounded, so distinct values (and therefore
    state) are bounded regardless of corpus size — and the tiny
    (one row per language) cutoff table is broadcast back; labeling is
    a comparison projection. Cutoffs are rounded to 6 dp so the
    score >= cutoff comparisons are discrete and engine-stable."""
    scored = unigram_logprob(docs, id_col, text_col, carry_cols=(lang_col,))
    qs = [i / n_buckets for i in range(1, n_buckets)]  # ascending
    cuts = scored.groupBy(lang_col).agg(
        *[
            F.round(F.percentile(F.col("avg_logprob"), F.lit(q)), 6).alias(f"__q{i}")
            for i, q in enumerate(qs)
        ]
    )
    out = scored.join(F.broadcast(cuts), lang_col)
    # bucket 1 = head (score >= highest cutoff) ... n = tail
    n_above = sum(
        (F.col("avg_logprob") >= F.col(f"__q{i}")).cast("int") for i in range(len(qs))
    )
    bucket = (F.lit(n_buckets) - n_above).alias("ppl_bucket")
    cols = [id_col, lang_col, "n_tokens", "avg_logprob", bucket]
    if n_buckets == 3:
        cols.append(
            F.when(F.col("avg_logprob") >= F.col("__q1"), "head")
            .when(F.col("avg_logprob") >= F.col("__q0"), "middle")
            .otherwise("tail")
            .alias("label")
        )
    return out.select(*cols)


# Fixed entity-decode table for strip_html: the common named + numeric
# entities crawl text actually contains, applied as literal replaces
# (same chained-replace precedent as the mojibake repair table). &amp;
# MUST stay last — decoding it earlier would re-activate double-escaped
# entities ("&amp;lt;" must yield "&lt;", not "<").
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#34;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&mdash;", "—"),
    ("&ndash;", "–"), ("&hellip;", "…"), ("&lsquo;", "‘"),
    ("&rsquo;", "’"), ("&ldquo;", "“"), ("&rdquo;", "”"),
    ("&copy;", "©"), ("&reg;", "®"), ("&amp;", "&"),
)

# Closing block-level tags (and <br>/<hr>) become newlines so the line
# structure survives for the line-grain operators (c4_line_filter,
# dedup_corpus_lines); every other tag becomes a space.
_HTML_BLOCK_RE = (
    r"(?i)</(?:p|div|li|h[1-6]|tr|table|ul|ol|blockquote)\s*>|<(?:br|hr)\s*/?>"
)


def strip_html(col: Column | str = "text") -> Column:
    """HTML -> text for crawl ingestion, the step upstream of every
    quality/dedup operator when the corpus arrives as raw markup:
    drop comments and script/style blocks (content-free), turn closing
    block tags into newlines (preserving line grain for the line-level
    operators), strip remaining tags to spaces, decode the common
    entities (HTML_ENTITIES — fixed table, &amp; last), and normalize
    whitespace (runs of spaces/tabs to one space, spaces trimmed around
    newlines, blank-line runs collapsed, ends trimmed).

    Deliberately regex/replace-only Catalyst expressions — no parser,
    no Python — and every pattern is RE2-compatible (no backreferences:
    script and style get separate non-greedy patterns), so the DuckDB
    oracle runs the character-identical transformation. A real HTML5
    parser handles pathological markup better; this is the streaming-
    safe 99% path (lxml/bs4 are not in this container, and per-row
    parsing would be a Python crossing on the hottest input path)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    c = F.regexp_replace(c, _HTML_BLOCK_RE, "\n")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def dataset_card(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    approx: bool = False,
) -> DataFrame:
    """The one-row corpus summary a dataset release publishes (the
    quantitative half of a dataset card): document and token volume,
    vocabulary size, slice count, exact-duplicate rate (by normalized
    content fingerprint), and the token-length distribution (mean +
    exact median). The nightly trend of this row is the cheapest
    whole-pipeline health signal — a dup-rate or median-length step
    change means an upstream stage broke.

    Returns one row: (n_docs, n_tokens, vocab_size, n_groups, n_unique,
    dup_rate[6dp], mean_tokens[6dp], median_tokens).

    Scale shape: TWO tokenize passes — (a) a per-doc
    (n_toks, fp, group) projection folded into one scalar aggregate,
    (b) an explode->distinct for vocabulary size (checkpointing the
    token arrays to save the second pass would materialize more bytes
    than the pass costs). No joins beyond the 1-row vocab broadcast, no
    windows. `approx=False` (default) uses exact count-distinct and
    exact percentile — the cross-engine oracle contract; `approx=True`
    is the 100 TB mode: HLL++ approx_count_distinct (no distinct
    shuffle for fp/vocab) and percentile_approx (bounded sketch instead
    of a full sort) — same row shape, ~1-2% error, engine-specific.

    The qualitative companion a release also cites is the per-benchmark
    contamination audit — `dedup.contamination_report(corpus,
    eval_sets)` (exact/spans/near counts + rates per benchmark,
    oracle-checked as `dedup_contamination_report`); publish the two
    tables together."""
    from epss_spark.operators.layout import ensure_parallelism

    cd = F.approx_count_distinct if approx else F.count_distinct
    base = ensure_parallelism(docs)
    per_doc = base.select(
        F.col(group_col).alias("__grp"),
        F.md5(normalize(text_col)).alias("__fp"),
        F.size(tokens(text_col)).cast("long").alias("__nt"),
    )
    vocab_size = base.select(F.explode(tokens(text_col)).alias("t")).agg(
        cd("t").alias("v")
    )
    median = (
        F.percentile_approx(F.col("__nt"), F.lit(0.5)).cast("double")
        if approx
        else F.percentile(F.col("__nt"), F.lit(0.5))
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        cd("__grp").alias("n_groups"),
        cd("__fp").alias("n_unique"),
        F.round(F.avg(F.col("__nt").cast("double")), 6).alias("mean_tokens"),
        median.alias("median_tokens"),
    )
    return stats.crossJoin(F.broadcast(vocab_size)).select(
        "n_docs",
        "n_tokens",
        F.col("v").alias("vocab_size"),
        "n_groups",
        "n_unique",
        F.round(
            F.lit(1.0)
            - F.col("n_unique").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
        "mean_tokens",
        "median_tokens",
    )


def token_divergence(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    materialize: bool = True,
    kl_only: bool = False,
) -> DataFrame:
    """Per-slice token-distribution drift monitor: for each value of
    `group_col` (language, source domain, crawl snapshot, mixture
    component), the KL and Jensen-Shannon divergence between the
    slice's unigram distribution P_g and the whole corpus's P_c. The
    pipeline use: a slice whose divergence jumps between snapshots has
    shifted content (spam influx, scraper drift, encoding regression)
    even when volume and mean-quality metrics look flat; JS is the
    symmetric, bounded ([0, ln 2]) form comparable across slices, KL
    the classic surprise-of-slice-under-corpus. KL(P_g || P_c) is
    always finite here because every slice token is a corpus token.

    Returns (group_col, n_tokens, n_types, kl, js), divergences
    rounded to 6 dp. With `kl_only=True` the js column is omitted.

    Scale shape: ONE tokenize pass -> (group, tok) count aggregate;
    corpus counts, per-group totals, and the corpus total are all
    re-aggregations of that bounded table, never a second corpus scan.
    The JS cross-entropy term needs P_c mass where the slice is absent,
    so the sum runs over the groups x vocab grid — |groups| is small
    (broadcast cross join) and vocab is Zipf-bounded. With THOUSANDS of
    slices (per-domain monitoring) the grid stops being small: pass `kl_only=True`, which
    drops the cross join entirely — KL sums only over the slice's own
    (group, tok) rows (one inner join against corpus counts), so cost
    returns to O(sum of slice vocabularies) regardless of slice count.
    No Python crossing."""
    from epss_spark.operators.layout import ensure_parallelism

    tok = ensure_parallelism(docs).select(
        F.col(group_col).alias("__grp"), F.explode(tokens(text_col)).alias("tok")
    )
    gcnt = tok.groupBy("__grp", "tok").agg(F.count(F.lit(1)).alias("__gc"))
    if materialize:
        # bounded table; stops the tokenize pass re-running under the
        # ccnt / gtot / grid branches of the lazy plan
        gcnt = gcnt.localCheckpoint(eager=True)
    ccnt = gcnt.groupBy("tok").agg(F.sum("__gc").alias("__cc"))
    gtot = gcnt.groupBy("__grp").agg(F.sum("__gc").alias("__gt"))
    ctot = ccnt.agg(F.sum("__cc").alias("__ct"))

    pg = F.col("__gc").cast("double") / F.col("__gt").cast("double")
    pc = F.col("__cc").cast("double") / F.col("__ct").cast("double")

    if kl_only:
        joined = (
            gcnt.join(ccnt, "tok")
            .join(F.broadcast(gtot), "__grp")
            .crossJoin(F.broadcast(ctot))
        )
        return (
            joined.groupBy("__grp")
            .agg(
                F.max("__gt").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_types"),
                F.round(F.sum(pg * F.log(pg / pc)), 6).alias("kl"),
            )
            .withColumnRenamed("__grp", group_col)
        )

    grid = (
        ccnt.crossJoin(F.broadcast(gtot))
        .join(gcnt, ["__grp", "tok"], "left")
        .crossJoin(F.broadcast(ctot))
    )
    m = (F.coalesce(F.col("__gc").cast("double") / F.col("__gt"), F.lit(0.0)) + pc) / 2
    in_slice = F.col("__gc").isNotNull()
    return (
        grid.groupBy("__grp")
        .agg(
            F.max("__gt").alias("n_tokens"),
            F.sum(in_slice.cast("long")).alias("n_types"),
            F.round(F.sum(F.when(in_slice, pg * F.log(pg / pc))), 6).alias("kl"),
            F.round(
                F.lit(0.5) * F.sum(F.when(in_slice, pg * F.log(pg / m)))
                + F.lit(0.5) * F.sum(pc * F.log(pc / m)),
                6,
            ).alias("js"),
        )
        .withColumnRenamed("__grp", group_col)
    )


def _bigram_pairs(toks: Column) -> Column:
    """zip_with-paired (prev, cur) transition structs over a token array."""
    n_tr = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n_tr),
        F.slice(toks, 2, n_tr),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )


def bigram_lm_train(
    docs: DataFrame,
    text_col: str = "text",
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Train the interpolated-bigram LM: two count tables over the
    training corpus — `vocab(tok, cnt)` and `bigrams(prev, cur, cnt)`.
    These ARE the frozen model artifact: plain DataFrames, persistable as
    parquet next to the LSH/IVF-PQ index artifacts, so the real
    CCNet deployment shape — train on a trusted reference corpus once,
    score every crawl batch against it — is `bigram_lm_train(wiki)` +
    `write.parquet` nightly zero times, `bigram_lm_score(batch, ...)`
    per batch.

    Scale shape: two corpus passes, one tokenize each — token explode ->
    vocab aggregate, transition explode -> bigram aggregate, both with
    map-side partials. Both tables are bounded (vocab is Zipf-bounded;
    bigrams bounded by observed transitions, far below |V|^2) and
    localCheckpoint'd under `materialize=True` so downstream consumers
    never re-tokenize the training corpus through Catalyst DAG
    recomputation."""
    from epss_spark.operators.layout import ensure_parallelism

    toked = ensure_parallelism(docs).select(tokens(text_col).alias("__toks"))
    vocab = (
        toked.select(F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bigrams = (
        toked.select(F.explode(_bigram_pairs(F.col("__toks"))).alias("__bg"))
        .select("__bg.prev", "__bg.cur")
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if materialize:
        vocab = vocab.localCheckpoint(eager=True)
        bigrams = bigrams.localCheckpoint(eager=True)
    return vocab, bigrams


def bigram_lm_score(
    docs: DataFrame,
    vocab: DataFrame,
    bigrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score documents under a FROZEN interpolated-bigram LM
    (`bigram_lm_train`, possibly read back from parquet): each transition
    is scored ln(lam * c(prev,cur)/c(prev) + (1-lam) * c(cur)/total) —
    Jelinek-Mercer interpolation of the model's bigram and unigram
    counts. Frozen-model semantics for a corpus the model never saw:
    an unseen (prev, cur) pair contributes only its back-off unigram
    mass (bigram term 0); an unseen `cur` token has NO mass under the
    model and the transition is dropped entirely (reported in n_oov)
    rather than scoring ln(0).

    Returns (id, *carry, n_bigrams, n_oov, avg_logprob): n_bigrams =
    transitions scored, n_oov = transitions dropped for OOV cur,
    avg_logprob rounded to 6 dp. Documents with < 2 tokens, or with all
    transitions OOV, are dropped.

    Scale shape: ONE corpus pass — transition explode, three joins
    against the bounded model tables (AQE broadcasts while they fit,
    skew-split sort-merge beyond), one per-doc aggregate; the
    total-token scalar is a 1-row aggregate of the vocab, broadcast.
    No Python crossing."""
    from epss_spark.operators.layout import ensure_parallelism

    total = vocab.agg(F.sum("cnt").alias("__total"))
    bc = bigrams.select("prev", "cur", F.col("cnt").alias("__bcnt"))
    pvocab = vocab.select(F.col("tok").alias("prev"), F.col("cnt").alias("__pcnt"))
    cvocab = vocab.select(F.col("tok").alias("cur"), F.col("cnt").alias("__ccnt"))

    bg = (
        ensure_parallelism(docs)
        .select(id_col, *carry_cols, tokens(text_col).alias("__toks"))
        .select(id_col, *carry_cols, F.explode(_bigram_pairs(F.col("__toks"))).alias("__bg"))
        .select(id_col, *carry_cols, "__bg.prev", "__bg.cur")
    )
    # left joins so unseen pairs/tokens survive to the OOV accounting;
    # for in-model transitions the coalesces are no-ops and the double
    # arithmetic is identical to the self-trained expression the DuckDB
    # oracle replays
    scored = (
        bg.join(bc, ["prev", "cur"], "left")
        .join(pvocab, "prev", "left")
        .join(cvocab, "cur", "left")
        .crossJoin(F.broadcast(total))
    )
    in_vocab = F.col("__ccnt").isNotNull()
    lp = F.log(
        F.lit(lam)
        * (
            F.coalesce(F.col("__bcnt"), F.lit(0)).cast("double")
            / F.coalesce(F.col("__pcnt"), F.lit(1)).cast("double")
        )
        + F.lit(1.0 - lam)
        * (F.col("__ccnt").cast("double") / F.col("__total").cast("double"))
    )
    return (
        scored.groupBy(id_col, *carry_cols)
        .agg(
            F.sum(in_vocab.cast("long")).alias("n_bigrams"),
            F.sum((~in_vocab).cast("long")).alias("n_oov"),
            F.round(F.avg(F.when(in_vocab, lp)), 6).alias("avg_logprob"),
        )
        .where(F.col("n_bigrams") > 0)
    )


def bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
    carry_cols: tuple[str, ...] = (),
    materialize_model: bool = True,
) -> DataFrame:
    """Interpolated-bigram language-model score per document — the next
    rung up from `unigram_logprob` toward the KenLM filter CCNet actually
    runs (Wenzek et al. 2020): `bigram_lm_train` on the corpus itself,
    `bigram_lm_score` against it. Self-training means every token has
    count >= 1 — no OOV transitions exist, so the n_oov diagnostic is
    dropped from the output. Low scores = documents whose token ORDER is
    atypical even when their vocabulary is not (shuffled boilerplate,
    keyword-stuffed spam, concatenated fragments) — exactly what the
    unigram proxy cannot see.

    Returns (id, *carry, n_bigrams, avg_logprob) for every document with
    >= 2 tokens; avg_logprob rounded to 6 dp (cross-engine float
    contract). Three corpus passes total (two train, one score) — see
    the pair's docstrings for the per-pass shape."""
    vocab, bigrams = bigram_lm_train(docs, text_col, materialize=materialize_model)
    return bigram_lm_score(
        docs, vocab, bigrams, id_col, text_col, lam=lam, carry_cols=carry_cols
    ).drop("n_oov")


def pr_curve(
    scored: DataFrame, label_col: str = "label", score_col: str = "score"
) -> DataFrame:
    """Threshold-sweep classifier evaluation: for every distinct score
    value s — each a candidate decision threshold "predict positive when
    score >= s" — the confusion counts and precision / recall / F1. THE
    table a quality-gate owner reads before picking the cut: every gate
    in this engine (bigram-LM perplexity, stopword fraction,
    Gopher signals) is a threshold on a score, and picking it blind
    costs either yield or contamination.

    Returns (score, tp, fp, fn, prec, rec, f1), floats rounded 6dp and
    derived from exact integer counts in one fixed expression (F1 as
    2TP/(2TP+FP+FN) — a single division, no chained float ops), so both
    engines agree bit-for-bit. Empty-positive inputs yield NULL rec/f1.

    Scale shape: one groupBy(score) aggregate over the scored rows, then
    the cumulative window runs over DISTINCT scores only — the output
    grain. The window is single-partition by construction (a global
    sweep is a total order), so the CONTRACT is a bounded threshold
    domain: quantize continuous scores first (integer millionths — the
    registered query does exactly that), the same bounded-fetch rule the
    funnel histogram documents. The positives total rides a broadcast
    1-row aggregate, never a collect."""
    lab = F.col(label_col).cast("long")
    per = scored.groupBy(score_col).agg(
        F.count(F.lit(1)).alias("__n"), F.sum(lab).alias("__pos")
    )
    tot = scored.agg(F.sum(lab).alias("__P"))
    w = (
        Window.orderBy(F.col(score_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        score_col,
        F.sum("__pos").over(w).alias("tp"),
        (F.sum("__n").over(w) - F.sum("__pos").over(w)).alias("fp"),
    ).crossJoin(F.broadcast(tot))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    fn = (F.col("__P") - F.col("tp")).alias("fn")
    return cum.select(
        score_col,
        "tp",
        "fp",
        fn,
        F.round(d("tp") / (d("tp") + d("fp")), 6).alias("prec"),
        F.when(
            F.col("__P") > 0, F.round(d("tp") / d("__P"), 6)
        ).alias("rec"),
        F.when(
            F.col("__P") > 0,
            F.round(
                F.lit(2.0) * d("tp")
                / (F.lit(2.0) * d("tp") + d("fp") + (d("__P") - d("tp"))),
                6,
            ),
        ).alias("f1"),
    )


def pmi_bigrams(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    min_pmi: float = 0.0,
) -> DataFrame:
    """Collocation mining by pointwise mutual information: word bigrams
    whose observed frequency beats the independence expectation —
    PMI = ln(c_ab * T * T / (c_a * c_b * B)) over corpus unigram counts
    (c, total T) and bigram counts (c_ab, total B). High-PMI pairs are
    multiword units ("machine learning", template phrases); the table
    feeds tokenizer vocab decisions and boilerplate phrase lists. Output
    is membership-filtered (count >= min_count AND pmi >= min_pmi), not
    top-k-limited, so the result set is stable under float ties.

    Returns (w1, w2, n_pair, pmi[6dp]).

    Scale shape: two count aggregates (unigrams, bigrams) with map-side
    partials absorbing stopword skew; the two totals ride broadcast
    1-row aggregates; the unigram side joins the SURVIVING bigram rows
    (already min_count-filtered) twice on the word key. The ln argument
    is assembled from exact integers in one fixed expression — both
    engines evaluate the identical double, and ln parity is already
    pinned by the unigram-logprob oracle."""
    toked = docs.select(tokens(text_col).alias("__toks"))
    uni = (
        toked.select(F.explode_outer("__toks").alias("w"))
        .where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg = (
        toked.select(F.explode_outer(bigrams(F.col("__toks"))).alias("b"))
        .where(F.col("b").isNotNull())
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= int(min_count))
        .select(
            F.split_part(F.col("b"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("b"), F.lit(" "), F.lit(2)).alias("w2"),
            "n_pair",
        )
    )
    t_uni = uni.agg(F.sum("c").alias("__T"))
    # total bigrams must count ALL bigrams, not just surviving ones
    t_bg = (
        toked.select(F.size(bigrams(F.col("__toks"))).alias("nb"))
        .agg(F.sum("nb").alias("__B"))
    )
    ca = uni.select(F.col("w").alias("w1"), F.col("c").alias("__ca"))
    cb = uni.select(F.col("w").alias("w2"), F.col("c").alias("__cb"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pmi = F.round(
        F.log(
            d("n_pair") * d("__T") * d("__T")
            / (d("__ca") * d("__cb") * d("__B"))
        ),
        6,
    )
    return (
        bg.join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(t_bg))
        .withColumn("pmi", pmi)
        .filter(F.col("pmi") >= F.lit(float(min_pmi)))
        .select("w1", "w2", "n_pair", "pmi")
    )


def top_ngrams(
    docs: DataFrame, k: int = 20, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The k most document-frequent word 3-gram shingles corpus-wide —
    boilerplate discovery. This is the diagnostic that TUNES the dedup
    hotspot guards: a shingle near the top with df in the millions is a
    cookie banner / license header, and its df is exactly what
    `max_shingle_df` (ngram_jaccard_pairs) and `max_bucket_size`
    (minhash_lsh_pairs) should be set against.

    Returns (sh, df) ordered df desc, sh asc (deterministic ties).
    Scale shape: explode per-doc-DISTINCT shingles (so df counts
    documents, not occurrences) -> one hash-agg exchange ->
    TakeOrderedAndProject; the hot shingles that make this report
    interesting are precisely the ones map-side partial aggregation
    collapses before the shuffle."""
    from epss_spark.operators.layout import ensure_parallelism

    ex = (
        with_shingles(ensure_parallelism(docs), id_col, text_col)
        .select(F.explode_outer("shingles").alias("sh"))
        .where(F.col("sh").isNotNull())
    )
    return (
        ex.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("sh").asc())
        .limit(k)
    )


def vocab_stats(
    docs: DataFrame, stratum_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-stratum corpus composition report: documents, token volume,
    vocabulary size, and type-token ratio per source/domain — the
    at-a-glance table a corpus-mixing decision starts from (a stratum
    with tiny TTR is templated boilerplate; one with huge TTR is
    OCR/tag soup).

    Returns (stratum, n_docs, n_tokens, vocab_size, type_token_ratio
    [6 dp]). Scale shape: per-doc token counts are codegen projections
    folded in one groupBy(stratum) pass; vocab_size needs the distinct
    (stratum, token) set — one dedup exchange + one count — so the whole
    report is two aggregation exchanges over (stratum, token)-sized
    rows, never the text."""
    per_doc = docs.select(
        F.col(stratum_col).alias("stratum"), tokens(text_col).alias("__toks")
    )
    base = per_doc.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("__toks")).alias("n_tokens"),
    )
    vocab = (
        per_doc.select("stratum", F.explode_outer("__toks").alias("tok"))
        .where(F.col("tok").isNotNull())
        .distinct()
        .groupBy("stratum")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    return base.join(vocab, "stratum", "left").select(
        "stratum",
        "n_docs",
        "n_tokens",
        F.coalesce("vocab_size", F.lit(0)).alias("vocab_size"),
        F.round(
            F.coalesce("vocab_size", F.lit(0)).cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("type_token_ratio"),
    )


def freq_spectrum(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token frequency-of-frequencies (the Zipf/Heaps diagnostic view):
    for each corpus-wide occurrence count `freq`, how many distinct
    token types occur exactly that often, and how much token volume
    they carry. The row at freq=1 is the hapax count — the single
    number that moves first when OCR noise, mojibake, or tag soup
    enters a corpus (junk mints unique types) — and the high-freq tail
    exposes boilerplate. vocab_stats answers "how big"; the spectrum
    answers "shaped like natural language, or like noise".

    Returns (freq, n_types, n_tokens = freq x n_types) — all exact
    integers, so the oracle comparison has no float surface at all.
    Scale shape: one (token) count aggregate, then a count over the
    per-type rows keyed by freq; output is bounded by the number of
    DISTINCT frequencies (~O(sqrt(corpus tokens)) under Zipf), so the
    second exchange is tiny. Map-side partial counts absorb stopword
    skew in the first."""
    tf = (
        docs.select(F.explode_outer(tokens(text_col)).alias("tok"))
        .where(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return tf.groupBy("freq").agg(F.count(F.lit(1)).alias("n_types")).select(
        "freq", "n_types", (F.col("freq") * F.col("n_types")).alias("n_tokens")
    )


def _mojibake_table() -> list[tuple[str, str]]:
    """(mojibake, fixed) pairs for the classic crawl-corpus encoding bug:
    UTF-8 bytes misread as Windows-1252 ("café" -> "cafÃ©",
    "“quoted”" -> "â€œquotedâ€\x9d"). Each pair is derived
    mechanically — fixed.encode('utf-8').decode('cp1252') — over the
    Latin-1 Supplement letters plus the cp1252 punctuation block, sorted
    longest-pattern-first so 3-byte sequences repair before their 2-byte
    substrings could be touched. Codepoints whose UTF-8 bytes hit the
    five undefined cp1252 slots are skipped (they cannot round-trip, so
    that mojibake form cannot occur)."""
    cps = list(range(0xA0, 0x100)) + [
        0x20AC, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021, 0x02C6,
        0x2030, 0x0160, 0x2039, 0x0152, 0x017D, 0x2018, 0x2019, 0x201C,
        0x201D, 0x2022, 0x2013, 0x2014, 0x02DC, 0x2122, 0x0161, 0x203A,
        0x0153, 0x017E, 0x0178,
    ]
    pairs = []
    for cp in cps:
        ch = chr(cp)
        try:
            moji = ch.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            continue
        pairs.append((moji, ch))
    return sorted(pairs, key=lambda p: (-len(p[0]), p[0]))


MOJIBAKE_TABLE = _mojibake_table()


def fix_mojibake(col: Column | str = "text") -> Column:
    """Repair UTF-8-misread-as-cp1252 mojibake (the ftfy staple, as a
    pure codegen replace chain): every (mojibake, fixed) pair from
    MOJIBAKE_TABLE replaced longest-first in one projection — no Python
    crossing, zero shuffle, deterministic and replayable in SQL (the
    text_fix_mojibake oracle runs the identical chain in DuckDB).

    Caveat (shared with every mojibake fixer): text that LEGITIMATELY
    contains a sequence like "Ã©" is rewritten too — the repair assumes
    such sequences are always encoding damage, which on crawl corpora is
    overwhelmingly the right bet. Apply before tokenization so the
    normalizer sees real letters."""
    c = F.col(col) if isinstance(col, str) else col
    for moji, fixed in MOJIBAKE_TABLE:
        c = F.replace(c, F.lit(moji), F.lit(fixed))
    return c


def _bpe_spaced(col: Column) -> Column:
    """Render a word as its per-symbol-delimited form: "abc" -> " a  b  c "
    (every symbol wrapped in its OWN leading+trailing space). This is the
    representation that makes a BPE merge a plain string replace: merging
    (a, b) is replace(" a  b ", " ab "), and because each symbol owns its
    delimiters, left-to-right non-overlapping replace (the semantics of
    both Spark's and DuckDB's replace) is EXACTLY the canonical
    single-pass greedy merge — "aaaa" -> " aa  aa ", not " aa  a  a "
    (a single-space encoding fails there: the match consumes the shared
    delimiter and the scan skips the next occurrence)."""
    return F.regexp_replace(col, "(.)", " $1 ")


def _bpe_symbols(col: Column) -> Column:
    return F.filter(F.split(col, " "), lambda x: x != "")


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_every: int = 64,
) -> DataFrame:
    """Learned byte-pair-encoding vocabulary training (Sennrich et al.
    2016, arXiv:1508.07909): iteratively merge the most frequent adjacent
    symbol pair, starting from characters. Returns the learned merge
    table (rank, lhs, rhs, pair_count) in merge order — the artifact a
    tokenizer consumes (apply with `bpe_segment`). Ties break (count
    desc, pair asc) so the sequence is deterministic across runs and
    engines; the DuckDB oracle re-derives the SAME merge sequence from
    scratch with chained CTEs over the identical spaced-string
    representation.

    Scale shape (the standard BPE trick): training never iterates the
    corpus — ONE distributed pass builds the word-frequency table
    (explode tokens -> groupBy(word) count, map-side partials absorb
    Zipf skew), which is localCheckpoint'd (bounded: vocabularies are
    millions of rows against billions of docs); each merge round is then
    one pair-count aggregate over that bounded frame (adjacent pairs via
    the zip_with bigram kernel over the symbol array) plus a 1-row
    TakeOrdered fetch, and the
    chosen merge applies lazily as a literal string-replace projection.
    Driver state is n_merges (rank, pair) rows — bounded by
    construction. Merges never cross word boundaries (per-word symbol
    sequences, no end-of-word marker). Stops early if no word has >= 2
    symbols left.

    Plan depth stays bounded at realistic vocabulary sizes: every
    `checkpoint_every` merges the accumulated replace chain is flushed
    into a fresh localCheckpoint of the (still bounded) word table, so
    analysis/codegen cost per round is O(checkpoint_every), not O(rank)
    — a 30k-merge training run is 30k/64 cheap materializations of a
    vocabulary-sized frame, never a 30k-deep expression tree."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    wf = (
        docs.select(F.explode_outer(tokens(text_col)).alias("w"))
        .where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(_bpe_spaced(F.col("w")).alias("s"), "cnt")
    )
    # vocabulary-bounded iterative loop: size-based shuffle coalescing
    # (optimization r15, layout.size_coalesced_shuffles) — each merge
    # round is a pair-count aggregate over the bounded word table, so
    # the defaultParallelism floor made every round pay ~32 tasks for a
    # vocabulary that fits in one; size-based coalescing keeps the
    # corpus-scan map side untouched and is size-proportional when the
    # vocabulary is actually large
    from epss_spark.operators.layout import size_coalesced_shuffles

    merges: list[tuple[int, str, str, int]] = []
    with size_coalesced_shuffles(docs.sparkSession):
        cur = wf.localCheckpoint(eager=True)
        for rank in range(1, n_merges + 1):
            top = (
                cur.select(F.explode_outer(bigrams(_bpe_symbols(F.col("s")))).alias("pair"), "cnt")
                .where(F.col("pair").isNotNull())
                .groupBy("pair")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.col("c").desc(), F.col("pair").asc())
                .limit(1)
                .first()
            )
            if top is None:
                break
            lhs, rhs = top["pair"].split(" ")
            merges.append((rank, lhs, rhs, int(top["c"])))
            cur = cur.withColumn(
                "s", F.replace(F.col("s"), F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} "))
            )
            if rank % checkpoint_every == 0:
                cur = cur.localCheckpoint(eager=True)
    return docs.sparkSession.createDataFrame(
        merges, "rank int, lhs string, rhs string, pair_count bigint"
    )


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table (from `bpe_merges`, in rank order)
    to a document stream: tokenize, segment each word by replaying the
    merges, and return (id, bpe_tokens, n_bpe_tokens) with the subword
    symbols flattened in document order. Pure codegen projection — the
    merge table is a plan literal (bounded artifact), so segmentation is
    a zero-shuffle map over the corpus scan; the per-word replay is the
    same spaced-string replace chain the trainer used, so
    train-then-segment is self-consistent by construction (pinned by
    test against a pure-Python BPE reference).

    Scope: the merge table is nested into ONE expression tree, so this
    form is for small-to-moderate tables (≲ a few hundred merges) —
    analysis/codegen cost grows with the table. For realistic 30k-merge
    vocabularies use `bpe_segment_batched` (identical output, pinned by
    test), which replays the table in an Arrow-batched kernel instead."""
    def seg(tok: Column) -> Column:
        s = _bpe_spaced(tok)
        for lhs, rhs in merges:
            s = F.replace(s, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} "))
        return _bpe_symbols(s)

    base = docs.select(id_col, tokens(text_col).alias("__toks"))
    return base.select(
        id_col,
        F.flatten(F.transform("__toks", seg)).alias("bpe_tokens"),
    ).withColumn("n_bpe_tokens", F.size("bpe_tokens"))


def bpe_segment_batched(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """`bpe_segment` for LARGE merge tables: identical semantics and
    output schema, but the rank-ordered replay runs as an Arrow-batched
    mapInPandas kernel instead of an O(n_merges)-deep Catalyst
    expression tree, so a realistic 30k-merge vocabulary costs zero
    analysis/codegen blowup. Still a zero-shuffle map over the corpus
    scan; normalization/tokenization stays JVM-side (the `normalize`
    projection feeds the kernel, so cross-engine lower/regex semantics
    are identical to the expression form — pinned equal by test).

    The kernel replays the table with the EXACT expression-chain
    semantics — each merge is one left-to-right non-overlapping pass, in
    rank order, never the iterative lowest-rank-first apply (the two
    diverge on adversarial tables) — and memoizes per DISTINCT word
    across the partition, so Zipf skew makes the per-row cost amortized
    O(1): a billion-token corpus segments at dictionary speed, not
    corpus speed. Per-merge work is gated on a symbol-set membership
    test, so out-of-vocabulary words skip nearly the whole table."""
    from pyspark.sql.types import ArrayType, IntegerType, StringType

    merge_list = [(str(l), str(r)) for l, r in merges]
    schema = StructType(
        [
            StructField(id_col, docs.schema[id_col].dataType),
            StructField("bpe_tokens", ArrayType(StringType())),
            StructField("n_bpe_tokens", IntegerType()),
        ]
    )
    norm_docs = docs.select(id_col, normalize(text_col).alias("__norm"))

    def _segment(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def seg_word(word: str) -> list[str]:
            hit = cache.get(word)
            if hit is not None:
                return hit
            syms = list(word)
            if len(syms) > 1:
                present = set(syms)
                for lhs, rhs in merge_list:
                    if lhs not in present or rhs not in present:
                        continue
                    out, i, n, changed = [], 0, len(syms), False
                    while i < n:
                        if i + 1 < n and syms[i] == lhs and syms[i + 1] == rhs:
                            out.append(lhs + rhs)
                            i += 2
                            changed = True
                        else:
                            out.append(syms[i])
                            i += 1
                    if changed:
                        syms = out
                        if len(syms) == 1:
                            break
                        present = set(syms)
            cache[word] = syms
            return syms

        for pdf in batches:
            toks_col: list = []
            for s in pdf["__norm"]:
                if s is None or (isinstance(s, float) and pd.isna(s)):
                    # null text stays null, matching the expression form's
                    # null propagation through transform/flatten/size
                    toks_col.append(None)
                    continue
                row: list[str] = []
                for w in s.split(" "):
                    if w:
                        row.extend(seg_word(w))
                toks_col.append(row)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "bpe_tokens": toks_col,
                    "n_bpe_tokens": pd.array(
                        [None if t is None else len(t) for t in toks_col],
                        dtype="Int32",
                    ),
                }
            )

    return norm_docs.mapInPandas(_segment, schema=schema)


def bpe_reference(word_counts: dict, n_merges: int) -> list:
    """Pure-Python executable spec for bpe_merges (the winnow_reference
    pattern): {word -> count} in, [(rank, lhs, rhs, pair_count)] out.
    Canonical single-pass greedy left-to-right merging."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    out = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple, int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        (lhs, rhs), c = best
        out.append((rank, lhs, rhs, c))
        new_vocab: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    merged.append(lhs + rhs)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            t = tuple(merged)
            new_vocab[t] = new_vocab.get(t, 0) + cnt
        vocab = new_vocab
    return out


URL_TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "mc_cid", "mc_eid", "ref",
)


def url_canonicalize(
    col: Column | str = "url",
    strip_params: tuple[str, ...] = URL_TRACKING_PARAMS,
) -> Column:
    """Canonical URL form for crawl dedup/frontier keys: lowercase scheme
    and authority (path case is preserved — paths are case-sensitive),
    strip the default port (:80 http / :443 https), drop the fragment,
    remove tracking query params and SORT the survivors, and trim
    trailing slashes (bare authority keeps "/"). Strings without a
    scheme pass through unchanged. Pure regex/array Catalyst expressions
    — no Python, no java.net parsing — precisely so the DuckDB oracle
    can run the character-identical canonicalization (parse_url has no
    SQL-engine equivalent). Userinfo, when present, lowercases with the
    authority (vanishingly rare in crawl URLs; documented trade)."""
    c = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    path = F.regexp_replace(F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1), "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # defragment BEFORE extracting the query: a '?' whose first appearance
    # is inside the fragment ("…/p#a?b") is fragment text, not a query
    query = F.regexp_extract(F.regexp_replace(c, "#.*$", ""), r"\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~F.element_at(F.split(p, "="), 1).isin(*strip_params),
        )
    )
    qstr = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(scheme == "", c).otherwise(F.concat(scheme, F.lit("://"), auth, path, qstr))


def compression_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Gopher-style compressibility signal: per document, zlib-compressed
    bytes over raw UTF-8 bytes (Rae et al. 2021 use it to drop both
    extremes — near-0 ratios are degenerate repetition, near/over-1
    ratios are random-looking noise that n-gram and stopword heuristics
    miss). Returns (id, n_bytes, ratio[6 dp]); empty/NULL docs get
    ratio NULL.

    The one quality signal here that genuinely needs Python (no zlib in
    SQL engines — deliberately NOT oracle-registered; pinned against
    direct python zlib instead): Arrow-batched mapInPandas, zero
    shuffle, bytes never leave their partition. zlib output is fully
    deterministic for a fixed level, so the signal is reproducible
    across runs and machines (same zlib stream layout since 1998)."""
    from pyspark.sql.types import DoubleType

    schema = StructType(
        [
            # id passes through untouched — keep its REAL type (string doc
            # ids etc.), never assume long
            StructField(id_col, docs.schema[id_col].dataType),
            StructField("n_bytes", LongType()),
            StructField("ratio", DoubleType()),
        ]
    )

    def _ratio(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            ids, sizes, ratios = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                raw = txt.encode("utf-8") if isinstance(txt, str) else b""
                ids.append(did)
                sizes.append(len(raw))
                ratios.append(
                    round(len(zlib.compress(raw, level)) / len(raw), 6) if raw else None
                )
            yield pd.DataFrame({id_col: ids, "n_bytes": sizes, "ratio": ratios})

    return docs.select(id_col, text_col).mapInPandas(_ratio, schema=schema)


def winnow_reference(s: str, k: int = 5, window: int = 4, base: int = 257, mod: int = (1 << 61) - 1):
    """Pure-Python winnowing of ONE string — the executable semantic spec
    for winnow_fingerprints (tests assert the vectorized kernel matches it
    value-for-value). Returns sorted (pos, fp) pairs."""
    if s is None or len(s) < k:
        return []
    h, power, hashes = 0, pow(base, k - 1, mod), []
    for i, ch in enumerate(s):
        h = (h * base + ord(ch)) % mod
        if i >= k:
            h = (h - ord(s[i - k]) * power * base) % mod
        if i >= k - 1:
            hashes.append(h)
    picked: dict[int, int] = {}
    for w0 in range(0, max(0, len(hashes) - window + 1)):
        win = hashes[w0 : w0 + window]
        m = min(win)
        pos = w0 + max(i for i, v in enumerate(win) if v == m)
        picked[pos] = m
    return sorted(picked.items())


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    base: int = 257,
    mod: int = (1 << 61) - 1,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    polynomial rolling hash over character k-grams of the normalized text,
    then the rightmost-minimum hash of each sliding window of `window`
    hashes. Arrow-batched mapInPandas, no shuffle.

    The kernel is numpy-vectorized at BATCH granularity: every document in
    an Arrow batch is concatenated into one codepoint array, the k-gram
    hashes are computed with Mersenne-61 modular arithmetic in uint64
    vector ops, and window minima come from one sliding_window_view pass;
    windows and k-grams that span a document boundary are masked out.
    (The previous per-character Python loop was the engine's slowest
    operator by orders of magnitude at scale.) Value-identical to
    winnow_reference, pinned by tests.
    """
    if mod != (1 << 61) - 1:
        raise ValueError("vectorized winnowing is specialized to the Mersenne prime 2^61-1")
    if not (2 <= base < 2**31):
        raise ValueError("base must be in [2, 2^31) for overflow-free uint64 mulmod")
    # the id keeps its source type (string doc ids — e.g. canonical
    # URLs — must not be nulled by a silent long cast; the _pack_schema
    # rule)
    schema = StructType(
        [
            StructField(id_col, docs.schema[id_col].dataType),
            StructField("pos", LongType()),
            StructField("fp", LongType()),
        ]
    )
    norm_docs = docs.select(id_col, normalize(text_col).alias("__norm"))

    def _winnow(batches):
        import numpy as np
        import pandas as pd

        P = np.uint64(mod)
        S61, S32, S29 = np.uint64(61), np.uint64(32), np.uint64(29)
        M32, M29 = np.uint64(0xFFFFFFFF), np.uint64((1 << 29) - 1)
        B = np.uint64(base)

        def red(x):
            # x < 2^64 -> x mod 2^61-1, exact (two folds + final subtract)
            x = (x & P) + (x >> S61)
            x = (x & P) + (x >> S61)
            return np.where(x >= P, x - P, x)

        def mulmod_base(h):
            # h < p: h*base mod p without 128-bit ints. h = h1*2^32 + h0;
            # h*b = (h1*b)*2^32 + h0*b; fold the *2^32 term through 2^61.
            h1, h0 = h >> S32, h & M32
            a = h1 * B  # < 2^61
            c = h0 * B  # < 2^63
            a1, a0 = a >> S29, a & M29
            return red(a1 + (a0 << S32) + c)

        empty = pd.DataFrame(
            {id_col: pd.Series([], dtype="int64"), "pos": pd.Series([], dtype="int64"),
             "fp": pd.Series([], dtype="int64")}
        )
        for pdf in batches:
            texts = pdf["__norm"].fillna("").tolist()
            ids = pdf[id_col].to_numpy()
            if not texts:
                yield empty
                continue
            lens = np.array([len(s) for s in texts], dtype=np.int64)
            joined = "".join(texts)
            n = len(joined)
            if n < k:
                yield empty
                continue
            codes = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(np.uint64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            docidx = np.repeat(np.arange(len(texts)), lens)

            # k-gram hash at char position g: poly hash of codes[g:g+k]
            nh = n - k + 1
            h = codes[0:nh].copy()
            for m in range(1, k):
                h = red(mulmod_base(h) + codes[m : nh + m])
            # hash validity: k-gram must not cross a document boundary
            hv = docidx[0:nh] == docidx[k - 1 : n]

            nw = nh - window + 1
            if nw <= 0:
                yield empty
                continue
            W = np.lib.stride_tricks.sliding_window_view(h, window)
            mins = W.min(axis=1)
            # rightmost occurrence of the min within each window
            idx = window - 1 - np.argmax(W[:, ::-1] == mins[:, None], axis=1)
            # window validity: first and last hash in the same doc (hash
            # validity is contiguous per doc, so the middle follows)
            wv = hv[0:nw] & hv[window - 1 : nh] & (docidx[0:nw] == docidx[window - 1 : nh])
            pos_g = (np.arange(nw) + idx)[wv]
            if pos_g.size == 0:
                yield empty
                continue
            pos_g = np.unique(pos_g)  # dedup repicked positions, sorted
            d = docidx[pos_g]
            yield pd.DataFrame(
                {
                    id_col: ids[d],
                    "pos": (pos_g - starts[d]).astype("int64"),
                    "fp": h[pos_g].astype("int64"),
                }
            )

    return norm_docs.mapInPandas(_winnow, schema=schema)


def winnow_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    threshold: float = 0.5,
    max_fp_df: int | None = None,
) -> DataFrame:
    """MOSS-style substring-overlap detection: document pairs sharing
    winnowing fingerprints, scored by CONTAINMENT — shared distinct
    fingerprints over the smaller doc's fingerprint count. This is the
    partial-duplication detector whole-document MinHash misses by design:
    a paragraph copied into an otherwise-unrelated document barely moves
    Jaccard but lights up containment (the small side's fingerprints are
    mostly shared). Returns (a_id, b_id, overlap >= threshold).

    Scale shape (same discipline as ngram_jaccard_pairs): fingerprints
    aggregate to one distinct-fp array per doc (one shuffle on id), the
    per-doc count rides the exploded rows as an int and folds into the
    pair groupBy via min() — no per-document size frame, no join-back.
    The discovery join shuffles on fp; pair counts shuffle on the pair.
    max_fp_df (opt-in) drops boilerplate fingerprints shared by more than
    that many docs from discovery — the same quadratic-bucket guard as
    max_shingle_df, with the same lower-bound caveat for affected pairs.
    """
    from pyspark.sql import Window

    fps = winnow_fingerprints(docs, id_col, text_col, k=k, window=window)
    per_doc = fps.groupBy(id_col).agg(F.collect_set("fp").alias("fps"))
    ex = per_doc.select(
        id_col, F.size("fps").alias("n"), F.explode_outer("fps").alias("fp")
    ).where(F.col("fp").isNotNull())
    if max_fp_df is not None:
        wfp = Window.partitionBy("fp")
        ex = (
            ex.withColumn("__df", F.count(F.lit(1)).over(wfp))
            .filter(F.col("__df") <= max_fp_df)
            .drop("__df")
        )
    a = ex.select(F.col(id_col).alias("a_id"), F.col("n").alias("na"), "fp")
    b = ex.select(F.col(id_col).alias("b_id"), F.col("n").alias("nb"), "fp")
    inter = (
        a.join(b, "fp")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    overlap = F.col("inter").cast("double") / F.least(F.col("na"), F.col("nb"))
    return (
        inter.withColumn("overlap", overlap)
        .filter(F.col("overlap") >= threshold)
        .select("a_id", "b_id", "overlap")
    )
