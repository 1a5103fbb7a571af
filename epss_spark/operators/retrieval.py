"""Term-based retrieval over document corpora — the lexical complement to
the embedding ANN operators (operators/similarity.py). A training-data
pipeline uses this for targeted corpus probes ("find the docs about X"),
quality audits, and hybrid (BM25 + dense) retrieval experiments.

Scale design: for a PLAN-TIME-CONSTANT query term list, every per-document
signal (document length, per-term term frequency) is a pure codegen
projection over one pass of the text — no explode, no corpus shuffle. The
corpus-level statistics BM25 needs (N, avgdl, per-term document frequency)
come from one aggregate over those projections, fetched as a single row to
the driver (bounded by construction — the same pattern as the 8-row IVF
centroid fetch) and embedded as plan literals; the top-k is a
TakeOrderedAndProject (no global sort). Zero exchanges of any kind in the
returned plan. Pinned in tests/test_plans.py.
"""

from __future__ import annotations

import re
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from epss_spark.operators.text import tokens


def _eq(term: str):
    # single-arg lambda FACTORY: F.filter dispatches on lambda arity, so a
    # default-arg closure (`lambda x, t=term:`) would be called as the
    # two-arg (element, index) form and silently compare against the index
    # (the minhash_signatures trap, operators/dedup.py).
    return lambda x: x == F.lit(term)


def normalize_term(term: str) -> str:
    """Python mirror of operators/text.py::normalize for a single term."""
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", term.lower())).strip()


def _validate_terms(query_terms: list[str]) -> None:
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct (BM25 is a bag-of-terms sum)")
    bad = [t for t in query_terms if normalize_term(t) != t or " " in t or not t]
    if bad:
        raise ValueError(
            f"query terms must be single normalized tokens (lowercase [a-z0-9]+); "
            f"got {bad!r} — pass e.g. {[normalize_term(t) for t in bad]!r}"
        )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 score for a bag of query terms.

    Uses the Lucene/ATIRE idf variant, which is non-negative for every
    document frequency: idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)).
    Scores are rounded to 6 dp and ties break on ascending id, so the
    selected k and their order are deterministic across engines (same
    contract as similarity.cosine's dp rounding).

    Terms are matched against NORMALIZED tokens (lowercase alphanumeric —
    operators/text.py::normalize), so every query term must already be a
    single normalized token; anything else ("Spark", "don't") can never
    match and raises ValueError instead of silently returning no hits.

    Only documents matching at least one query term are candidates; with
    fewer than k matches, fewer than k rows return.

    Scale shape: term frequencies and document length are codegen
    projections (size/filter over one tokenize of the text — no explode,
    no per-term scan). Corpus stats (N, avgdl, df per term) are computed
    EAGERLY as one 1-row aggregate over a localCheckpoint of the
    int-only per-doc frame and embedded as literals, so the whole query
    tokenizes the corpus exactly ONCE and the returned plan is a pure
    checkpoint-scan -> project -> filter -> TakeOrderedAndProject with
    zero exchanges. Building the plan runs the tokenize + stats job
    up front (the bounded 1-row fetch follows the 8-row IVF-centroid
    precedent); checkpoint blocks are context-cleaned when the returned
    plan is dropped, so long-lived sessions do not accumulate cache."""
    _validate_terms(query_terms)
    base = docs.select(id_col, tokens(text_col).alias("__toks"))
    per_doc = base.select(
        id_col,
        F.size("__toks").alias("__dl"),
        *[
            F.size(F.filter("__toks", _eq(t))).alias(f"__tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    # ONE tokenize pass feeds both the stats aggregate and the scoring
    # scan: localCheckpoint (not persist) materializes the int-only frame
    # — ~8 bytes/column/doc — and, unlike a CacheManager persist, its
    # blocks are context-cleaned once the returned plan is dropped, so
    # repeated calls in a long-lived session do not leak (same lifecycle
    # rationale as connected_components' per-round checkpoints).
    per_doc = per_doc.localCheckpoint(eager=True)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(query_terms))
        ],
    ).first()
    if not stats["__n"] or stats["__avgdl"] is None:
        return per_doc.select(id_col, F.lit(0.0).alias("score")).limit(0)
    n_lit = F.lit(int(stats["__n"]))
    avgdl_lit = F.lit(float(stats["__avgdl"]))
    norm = F.lit(k1) * (
        (F.lit(1.0) - F.lit(b))
        + F.lit(b) * F.col("__dl").cast("double") / avgdl_lit
    )
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        df_lit = F.lit(int(stats[f"__df_{i}"]))
        idf = F.log(F.lit(1.0) + (n_lit - df_lit + F.lit(0.5)) / (df_lit + F.lit(0.5)))
        # (k1 + 1) as a lit-plus-lit, not a Python-folded constant: the
        # oracle SQL spells `({k1} + 1.0)`, and mirroring the IEEE op
        # sequence keeps the 6-dp rounding bit-identical cross-engine
        term_score = idf * tf * (F.lit(k1) + F.lit(1.0)) / (tf + norm)
        score = term_score if score is None else score + term_score
    matched = reduce(or_, [F.col(f"__tf_{i}") > 0 for i in range(len(query_terms))])
    return (
        per_doc.filter(matched)
        .select(id_col, F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Build the persistent lexical index artifacts for repeated BM25
    retrieval — the inverted-index analog of `minhash_index` /
    `line_index`: `bm25_topk` re-tokenizes the corpus per query (right
    for a one-off probe, wrong for a search workload), while a built
    index makes every query a bounded posting-list join. Returns
    (postings, doc_stats):

    - postings: (term, id, tf) — one row per distinct (term, doc), the
      classic inverted index with term frequencies.
    - doc_stats: (id, dl) — per-document token length, INCLUDING
      zero-token docs (N and avgdl must aggregate the whole corpus, or
      indexed scores drift from bm25_topk's).

    Persist-to-parquet is the caller's choice; write postings bucketed
    by `term` (readers.write_bucketed) so a query's posting lists
    partition-prune to the term buckets, and doc_stats bucketed by `id`
    so the candidate join co-locates (DEPLOYMENT.md layout table).
    Nightly appends: union the new batch's postings and doc_stats rows
    (terms are per-doc facts — no cross-doc state to rebuild; the
    bounded N/avgdl/df stats are computed at QUERY time, so they are
    always current).

    Scale shape: ONE tokenize pass shared by both outputs (optimization
    r14): the token frame is persisted (evictable MEMORY_AND_DISK) and
    the postings explode + (term, id) hash aggregate AND the doc_stats
    length projection both read it — the previous shape re-scanned and
    re-tokenized the corpus for doc_stats as its own branch, which
    doubled the dominant cost (the regex tokenize) every time both
    artifacts are materialized together. Map-side partials on the
    (term, id) aggregate still collapse hot terms per task."""
    from epss_spark.operators.layout import ensure_parallelism

    base = ensure_parallelism(docs)
    # localCheckpoint, not persist (optimization r15): eager, so the one
    # tokenize pass runs HERE — the lookup's single stats job then reads
    # settled blocks instead of racing two stages into a lazy cache
    # build (the r14 thread-overlap revert's lock lesson) — and
    # context-cleaned when the returned plans are dropped, so a
    # long-running caller (streaming process_bm25_batch built one cache
    # per micro-batch) no longer accumulates dead MEMORY_AND_DISK
    # entries (ADVICE r14).
    toked = base.select(id_col, tokens(text_col).alias("__tks")).localCheckpoint(
        eager=True
    )
    postings = (
        toked.select(id_col, F.explode_outer("__tks").alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doc_stats = toked.select(id_col, F.size("__tks").alias("dl"))
    return postings, doc_stats


def bm25_lookup(
    postings: DataFrame,
    doc_stats: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 retrieval against a PRE-BUILT index (from `bm25_index`,
    typically read back from its bucketed parquet layout): score-identical
    to `bm25_topk` on the same corpus (pinned by test), but the corpus
    text is never touched — the plan reads only the query terms' posting
    lists plus doc_stats. Same Lucene idf, 6-dp rounding, and ascending-id
    tie-break as bm25_topk.

    Scale shape: the term IN-filter pushes to the postings scan (with a
    term-bucketed layout it prunes to the terms' buckets — plan-pinned in
    tests/test_plans.py); corpus stats are two bounded eager fetches (one
    1-row N/avgdl aggregate over doc_stats, one <= |terms|-row df
    aggregate over the filtered postings) embedded as literals; the
    candidate join against doc_stats broadcasts the bounded posting rows
    under AQE (co-located under a doc-bucketed doc_stats); per-doc term
    frequencies pivot into fixed-order columns via conditional aggregates
    so the score sums in the SAME IEEE order as bm25_topk; top-k is a
    TakeOrderedAndProject. No tokenize, no corpus-wide shuffle."""
    _validate_terms(query_terms)
    p = postings.filter(F.col("term").isin(list(query_terms)))
    # ONE eager stats job (optimization r15, guide §2.6/§1.3): the 1-row
    # N/avgdl aggregate and the <= |terms|-row df aggregate are
    # independent exact aggregates over different frames — a union
    # submits them as one job whose two leaf stages the scheduler runs
    # together, instead of two serial jobs (the r14 thread-overlap
    # attempt was reverted because both jobs raced to materialize the
    # same token cache under block locks; a single job pays the cache
    # build once in whichever stage gets there first and saves the
    # second job's submission + scheduling round trip outright).
    stats_row = doc_stats.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("dl").alias("__avgdl")
    ).select(
        F.lit(None).cast("string").alias("term"),
        "__n",
        "__avgdl",
        F.lit(None).cast("long").alias("__df"),
    )
    df_rows_src = p.groupBy("term").agg(F.count(F.lit(1)).alias("__df")).select(
        "term",
        F.lit(None).cast("long").alias("__n"),
        F.lit(None).cast("double").alias("__avgdl"),
        "__df",
    )
    fetched = stats_row.unionByName(df_rows_src).collect()
    stats = next(r for r in fetched if r["term"] is None)
    df_rows = {r["term"]: r["__df"] for r in fetched if r["term"] is not None}
    if not stats["__n"] or stats["__avgdl"] is None:
        return doc_stats.select(id_col, F.lit(0.0).alias("score")).limit(0)
    n_lit = F.lit(int(stats["__n"]))
    avgdl_lit = F.lit(float(stats["__avgdl"]))
    cand = p.join(doc_stats, id_col).groupBy(id_col).agg(
        F.min("dl").alias("__dl"),
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(0)).alias(f"__tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    norm = F.lit(k1) * (
        (F.lit(1.0) - F.lit(b))
        + F.lit(b) * F.col("__dl").cast("double") / avgdl_lit
    )
    score = None
    for i, t in enumerate(query_terms):
        tf = F.col(f"__tf_{i}").cast("double")
        df_lit = F.lit(int(df_rows.get(t, 0)))
        idf = F.log(F.lit(1.0) + (n_lit - df_lit + F.lit(0.5)) / (df_lit + F.lit(0.5)))
        term_score = idf * tf * (F.lit(k1) + F.lit(1.0)) / (tf + norm)
        score = term_score if score is None else score + term_score
    return (
        cand.select(id_col, F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of bounded candidate lists — the standard
    hybrid-retrieval combiner (lexical BM25 + dense ANN, or any mix):
    score(d) = sum over lists containing d of 1 / (k + rank_in_list(d)).
    Rank-based fusion needs no score calibration between retrievers,
    which is exactly why it is the default hybrid combiner.

    Each input must have exactly two columns: `id_col` and one score
    column (any name); ranks are derived as row_number over
    (score desc, id asc), so fusion is deterministic across engines.
    `rrf_score` is rounded to 6 dp; final ties break on ascending id.

    Scale shape: inputs are TOP-N candidate lists (tens to thousands of
    rows — the output of bm25_topk / cosine_topk), so the global
    rank window and the fusion groupBy run on bounded data by
    construction; this operator is deliberately NOT for ranking a whole
    corpus (rank the corpus with the retrievers' own distributed top-k
    first)."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    ranked = []
    for df in rankings:
        others = [c for c in df.columns if c != id_col]
        if id_col not in df.columns or len(others) != 1:
            raise ValueError(
                f"each ranking needs exactly ({id_col}, <score>); got {df.columns}"
            )
        w = Window.orderBy(F.col(others[0]).desc(), F.col(id_col).asc())
        ranked.append(df.select(id_col, F.row_number().over(w).alias("__r")))
    u = ranked[0]
    for r in ranked[1:]:
        u = u.unionByName(r)
    return (
        u.groupBy(id_col)
        .agg(
            F.round(F.sum(F.lit(1.0) / (F.lit(k) + F.col("__r"))), 6).alias("rrf_score")
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(topk)
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document keyword extraction: the top-k terms of every
    document by TF-IDF — tf(d, t) * (ln((1 + N) / (1 + df(t))) + 1),
    the sklearn smooth-idf form (always positive, defined even for
    df = N). The per-doc complement of bm25_topk (which ranks DOCS for
    one query; this ranks TERMS for every doc): the standard input to
    topic labeling, weak-supervision features, and per-domain keyword
    drift dashboards. Scores rounded to 6 dp; ties break on ascending
    term, so the selected k are deterministic cross-engine.

    Returns (id, term, tf, df, tfidf, rank), rank 1..k per document.

    Scale shape: ONE tokenize pass -> (doc, term) tf aggregate
    (map-side partials); document frequencies are a re-aggregation of
    that bounded table (localCheckpoint'd so the corpus is not
    re-tokenized under the second branch); N is a 1-row broadcast. The
    top-k cut is a row_number window partitioned BY DOCUMENT — maximal
    parallelism, per-partition state bounded by one doc's vocabulary,
    no corpus-wide sort."""
    from epss_spark.operators.layout import ensure_parallelism

    tok = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # bounded (doc, term, tf) table; stops the tokenize re-running under
    # the df re-aggregation branch
    tf = tf.localCheckpoint(eager=True)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.lit(1.0) + F.col("__n"))
                        / (F.lit(1.0) + F.col("df"))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
