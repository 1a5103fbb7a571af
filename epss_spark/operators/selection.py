"""Data-selection operators for training-corpus curation: DSIR-style
importance weighting and deterministic Gumbel top-k resampling.

DSIR (Xie et al. 2023, arXiv:2302.03169, "Data Selection for Language
Models via Importance Resampling") ranks raw-corpus documents by how much
they look like a small trusted TARGET set (wiki/books-grade text) under
bag-of-hashed-n-gram language models: each document scores the mean
log-likelihood ratio ln p_target(f) - ln p_raw(f) over its hashed
unigram+bigram features, and the corpus is resampled with Gumbel-perturbed
top-k (sampling without replacement proportional to the importance
weights). It is the standard "make 100 TB of crawl look like 1 TB of
quality text" selection step that runs AFTER dedup and BEFORE tokenization.

No counterpart exists in the reference (epss/ has no corpus operators);
this extends the engine the same way operators/dedup.py does.

Everything is deterministic and engine-portable: feature hashing is the
md5-prefix integer used across this codebase (operators/dedup.py::
_md5_60bit), the two distributions are exact integer bucket counts, and
the only floats are ln() of integer ratios — same cross-engine contract
as text.unigram_logprob (driver-green), rounded to 6 dp at the output.

Scale shape (the 100 TB story):
- The weight model is TINY by construction (<= n_buckets log-ratios), so
  it is computed by one bucket-count aggregation per corpus (map-side
  partial combine; the shuffle carries <= n_buckets rows per task
  regardless of corpus size), collected (bounded, same class as the IVF
  centroid fetch), and embedded as a literal map — exactly the
  eager-literal-stats pattern retrieval.bm25_topk uses. A lazy dataflow
  formulation instead re-scans and re-tokenizes the corpus once per
  weight subtree (Catalyst does not deduplicate common subplans) —
  measured as 4 extra corpus passes in the first cut of this module.
- Scoring is then a PURE PROJECTION: one tokenize pass, a fold over the
  feature array through the literal map — zero shuffles, zero joins.
  Total corpus passes: 2 (stats + scoring), the information-theoretic
  floor for corpus-relative scoring. Frozen `weights` can be passed in
  to score daily appends in ONE pass (O(append) nightly selection).
- Selection is Gumbel top-k: orderBy+limit compiles to
  TakeOrderedAndProject — per-partition heaps, no global sort.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from epss_spark.operators.dedup import _md5_60bit
from epss_spark.operators.text import bigrams, tokens


def _with_features(docs: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """Projects `keep` columns plus a bound `__feats` array column:
    unigrams + space-joined bigrams over the normalized token stream (the
    DSIR paper's feature space). Two stacked selects so the token tree is
    a REAL column before bigrams' slice/zip_with consume it — an inlined
    tree is re-evaluated once per consuming slice (the element_at trap,
    see text.with_shingles)."""
    toked = docs.select(*keep, tokens(text_col).alias("__toks"))
    t = F.col("__toks")
    return toked.select(*keep, F.concat(t, bigrams(t)).alias("__feats"))


def _bucket(c: Column, n_buckets: int) -> Column:
    return _md5_60bit(c) % n_buckets


def _bucket_rows(docs: DataFrame, n_buckets: int, text_col: str, *keep: str) -> DataFrame:
    """One row per feature OCCURRENCE carrying only the integer bucket id
    (plus `keep` columns). The md5 bucketing runs INSIDE the per-row
    transform, BEFORE the explode — exploding the feature strings and
    hashing per exploded row materializes millions of UTF8 rows and
    measured 5x slower at bench scale (6.3 s vs 1.2 s on 8M features)."""
    f = _with_features(docs, text_col, *keep)
    return f.select(
        *keep,
        F.explode(F.transform(F.col("__feats"), lambda x: _bucket(x, n_buckets))).alias("b"),
    )


def dsir_bucket_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame | None = None,
    n_buckets: int = 1024,
    text_col: str = "text",
    target_pred: Column | None = None,
) -> tuple[dict[int, float], float]:
    """The DSIR importance model: bucket -> add-one-smoothed
    log-likelihood ratio

        ln((target_count[b] + 1) / (target_total + n_buckets))
      - ln((raw_count[b]    + 1) / (raw_total    + n_buckets))

    plus the default weight for buckets unseen in BOTH corpora (count 0
    on each side). The target is EITHER a separate frame (`target_docs`)
    or, when the target is a subset of the raw corpus, a row predicate
    (`target_pred`, e.g. F.col("lang") == "en") — the predicate form
    computes both distributions in ONE corpus pass (a flag column riding
    the bucket stream into a single conditional aggregation) instead of
    tokenizing the corpus twice. <= n_buckets rows collected — the model
    is driver-resident by design (it is the artifact a production run
    persists alongside the codebook/centroid models)."""
    if (target_docs is None) == (target_pred is None):
        raise ValueError("dsir_bucket_weights: pass exactly one of target_docs / target_pred")

    if target_pred is not None:
        staged = raw_docs.withColumn("__is_t", target_pred.cast("long"))
        rows = (
            _bucket_rows(staged, n_buckets, text_col, "__is_t")
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("rc"), F.sum("__is_t").alias("tc"))
            .collect()
        )
        rc = {r.b: r.rc for r in rows}
        tc = {r.b: r.tc for r in rows if r.tc}
    else:
        rc = {
            r.b: r.c
            for r in _bucket_rows(raw_docs, n_buckets, text_col)
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        tc = {
            r.b: r.c
            for r in _bucket_rows(target_docs, n_buckets, text_col)
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
    rt, tt = sum(rc.values()), sum(tc.values())
    weights = {
        b: math.log((tc.get(b, 0) + 1.0) / (tt + n_buckets))
        - math.log((rc.get(b, 0) + 1.0) / (rt + n_buckets))
        for b in set(rc) | set(tc)
    }
    default = math.log(1.0 / (tt + n_buckets)) - math.log(1.0 / (rt + n_buckets))
    return weights, default


def dsir_logratio(
    raw_docs: DataFrame,
    target_docs: DataFrame | None = None,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: tuple[dict[int, float], float] | None = None,
    target_pred: Column | None = None,
) -> DataFrame:
    """Per-document DSIR importance score: the mean, over the document's
    hashed features, of the bucket's log-likelihood ratio. Positive =
    looks more like the target than like the corpus average. Returns
    (id, n_feats, dsir_logratio[6 dp]) for documents with >= 1 feature.

    Pass `weights` (from dsir_bucket_weights) to score with a FROZEN
    model — the one-pass O(append) path for scoring daily crawl
    increments against weights trained once; otherwise the model is
    derived here from raw_docs + target_docs (two bounded stats jobs).

    The scoring plan is a zero-shuffle projection: features fold through
    a plan-time literal map (same eager-literal idiom as
    retrieval.bm25_topk, same bounded-collect class as the IVF centroid
    fetch).

    Optimization r14 (target_pred path — the registry/bench shape): the
    weights pass and the scoring pass used to each tokenize + bigram +
    md5-bucket the corpus from raw text (two full featurize passes).
    Both now read ONE persisted frame of per-doc integer bucket ARRAYS:
    the weights aggregate explodes it, and scoring folds
    element_at(warr, b+1) over the same arrays — the identical
    left-fold double sequence the feature-string form produced
    (w_of(feat) == element_at(warr, bucket(feat)+1) element-for-
    element), so scores are bit-identical (verified 0 mismatches over
    the 20k-doc bench corpus). The empty-doc pre-filter becomes
    size(__bk) > 0 on the materialized arrays — the documented
    equivalent of the normalize(text) != '' pushdown, without the
    inlined-predicate trap because the arrays are real columns."""
    if weights is None and target_pred is not None:
        base = raw_docs.select(
            id_col,
            target_pred.cast("long").alias("__is_t"),
            tokens(text_col).alias("__toks"),
        )
        t = F.col("__toks")
        featd = base.select(
            id_col, "__is_t", F.concat(t, bigrams(t)).alias("__feats")
        )
        bktd = featd.select(
            id_col,
            "__is_t",
            F.transform("__feats", lambda x: _bucket(x, n_buckets)).alias("__bk"),
        ).persist()
        rows = (
            bktd.select("__is_t", F.explode("__bk").alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("rc"), F.sum("__is_t").alias("tc"))
            .collect()
        )
        rc = {r.b: r.rc for r in rows}
        tc = {r.b: r.tc for r in rows if r.tc}
        rt, tt = sum(rc.values()), sum(tc.values())
        wdict = {
            b: math.log((tc.get(b, 0) + 1.0) / (tt + n_buckets))
            - math.log((rc.get(b, 0) + 1.0) / (rt + n_buckets))
            for b in set(rc) | set(tc)
        }
        default = math.log(1.0 / (tt + n_buckets)) - math.log(1.0 / (rt + n_buckets))
        # ONE SQL-text array literal (optimization r15, guide §7.3 — the
        # r14 _d2_sql pattern): the F.array(*[F.lit(w) ...]) spelling
        # cost n_buckets+1 synchronous py4j round trips (~0.3 s of
        # driver time at the registry's 1024 buckets) to build the
        # SAME parsed literal
        from epss_spark.operators.similarity import _dlit

        warr = F.expr(
            "array(" + ", ".join(_dlit(wdict.get(i, default)) for i in range(n_buckets)) + ")"
        )
        n = F.size("__bk")
        total = F.aggregate(
            F.transform(
                F.col("__bk"), lambda b: F.element_at(warr, (b + 1).cast("int"))
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return bktd.where(F.size("__bk") > 0).select(
            id_col,
            n.alias("n_feats"),
            F.round(total / n, 6).alias("dsir_logratio"),
        )
    if weights is None:
        if target_docs is None:
            raise ValueError("dsir_logratio: need target_docs/target_pred or frozen weights=")
        weights = dsir_bucket_weights(
            raw_docs, target_docs, n_buckets, text_col, target_pred=target_pred
        )
    wdict, default = weights
    # dense array literal indexed by bucket id — element_at is O(1) per
    # feature, unlike a literal-map lookup (GetMapValue linear-scans the
    # key array, an O(n_buckets) cost per feature)
    # SQL-text array literal — same rationale as the target_pred branch
    from epss_spark.operators.similarity import _dlit

    warr = F.expr(
        "array(" + ", ".join(_dlit(wdict.get(i, default)) for i in range(n_buckets)) + ")"
    )

    def w_of(feat: Column) -> Column:
        return F.element_at(warr, (_bucket(feat, n_buckets) + 1).cast("int"))
    # Empty docs (0 features) are excluded by pre-filtering on
    # normalize(text) != '' — exactly equivalent to n_feats > 0 (a doc
    # has >= 1 token iff its squeezed normalized text is non-empty, and
    # features >= tokens), and MUCH cheaper than filtering on the
    # computed n_feats: a post-projection `.where(n_feats > 0)` is
    # pushed to the scan with the whole tokenize+bigram tree inlined
    # into the predicate (the token subtree appears 3x inside it),
    # measured 7.3 s vs 1.4 s on the 20k-doc bench corpus. The pushed
    # normalize-only predicate is one regex pass.
    from epss_spark.operators.text import normalize

    toked = _with_features(raw_docs.where(normalize(text_col) != ""), text_col, id_col)
    n = F.size("__feats")
    total = F.aggregate(
        F.transform(F.col("__feats"), w_of), F.lit(0.0), lambda acc, v: acc + v
    )
    return toked.select(
        id_col,
        n.alias("n_feats"),
        F.round(total / n, 6).alias("dsir_logratio"),
    )


def gumbel_key(logw: Column, id_col: Column, seed: str = "dsir") -> Column:
    """Gumbel-perturbed log-weight: logw + Gumbel(0,1) with the noise
    derived deterministically from md5(seed|id) — u in (0,1) from the
    60-bit hash, g = -ln(-ln(u)). Top-k by this key IS sampling without
    replacement proportional to exp(logw) (the Gumbel top-k trick),
    reproducible across runs AND engines."""
    u = (
        _md5_60bit(F.concat(F.lit(f"{seed}|"), id_col.cast("string"))).cast("double") + 0.5
    ) / F.lit(float(1 << 60))
    return logw + -F.log(-F.log(u))


def sample_weighted(
    docs: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "wsample",
) -> DataFrame:
    """Generic weighted sampling WITHOUT replacement, proportional to
    `weight_col` — the Gumbel top-k trick (equivalently Efraimidis &
    Spirakis 2006) over ln(weight), completing the sampling family:
    sample_stratified (rate), cap_per_stratum (count), sample_token_budget
    (tokens), dsir_sample (learned importance), and now an arbitrary
    caller-supplied weight (quality score, recency decay, domain prior).
    Deterministic md5-derived noise, 6-dp-rounded key, id tie-break —
    the selected set is identical across runs and engines (same contract
    as dsir_sample). Rows with NULL or non-positive weight are excluded
    (zero weight = never sampled, and ln needs w > 0). Returns the input
    columns + sample_key; orderBy+limit compiles to
    TakeOrderedAndProject — no global sort at scale."""
    w = F.col(weight_col).cast("double")
    keyed = docs.where(w.isNotNull() & (w > 0)).withColumn(
        "sample_key", F.round(gumbel_key(F.log(w), F.col(id_col), seed), 6)
    )
    return keyed.orderBy(F.col("sample_key").desc(), F.col(id_col)).limit(k)


def dsir_sample(
    raw_docs: DataFrame,
    target_docs: DataFrame | None = None,
    k: int = 1000,
    n_buckets: int = 1024,
    seed: str = "dsir",
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: tuple[dict[int, float], float] | None = None,
    target_pred: Column | None = None,
) -> DataFrame:
    """DSIR selection ACTION: the k documents sampled (without
    replacement, proportionally to their importance weights) via
    deterministic Gumbel top-k over `dsir_logratio`. Returns
    (id, n_feats, dsir_logratio, sample_key[6 dp]) for the selected
    docs. The ordering key is ROUNDED before ranking (ties broken by
    id) so the selected set is identical across engines; orderBy+limit
    compiles to TakeOrderedAndProject — no global sort at scale."""
    scored = dsir_logratio(
        raw_docs, target_docs, n_buckets, id_col, text_col, weights, target_pred=target_pred
    )
    keyed = scored.withColumn(
        "sample_key", F.round(gumbel_key(F.col("dsir_logratio"), F.col(id_col), seed), 6)
    )
    return keyed.orderBy(F.col("sample_key").desc(), F.col(id_col)).limit(k)
