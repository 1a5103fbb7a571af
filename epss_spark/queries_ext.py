"""Extension query registry — the large-scale training-data operators
(SURVEY.md §7 phase 5): dedup (exact / MinHash-LSH / n-gram Jaccard /
SimHash), similarity search over embeddings, and text analysis. These are
first-class engine components for the 100 TB use case; each SQL-expressible
one carries a DuckDB oracle built from the SAME deterministic primitives
(md5, list ops, exact arithmetic) so results match bit-for-bit.

Implementations live in epss_spark.operators.{dedup,similarity,text}; this
module wires them to testdata tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from epss_spark.operators import (
    clustering,
    dedup,
    prep,
    retrieval,
    selection,
    similarity,
    sketches,
    text,
)
from epss_spark.queries_core import T
from epss_spark.registry import ORACLES, register

# Shared SQL fragments for the oracle side. Normalization must match
# operators/text.py::normalize exactly: lower, non-alnum -> space, squeeze.
_NORM_SQL = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
_TOKS_SQL = f"list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '')"
_SHINGLES_SQL = (
    "CASE WHEN len(toks) >= 3 THEN "
    "list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) "
    "ELSE [array_to_string(toks, ' ')] END"
)

# MinHash signature/band SQL, generated to avoid engine-specific list
# comprehensions. Must mirror operators/dedup.py::minhash_lsh_pairs.
_NUM_HASHES, _BANDS, _BAND_ROWS = 12, 4, 3
_SIG_TERMS = ",\n             ".join(
    f"list_aggregate(list_transform(shingles, s -> md5('{h}|' || s)), 'min')"
    for h in range(_NUM_HASHES)
)
_BAND_TERMS = ",\n             ".join(
    f"md5('{b}|' || sig[{3*b+1}] || sig[{3*b+2}] || sig[{3*b+3}])" for b in range(_BANDS)
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    f"""
    WITH base AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
             / greatest(len(toks), 1) AS stopword_frac,
           len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
    FROM base
    """,
)
def text_stats(spark, sf_dir):
    return text.text_stats(T(spark, sf_dir, "documents"))


@register(
    "text_langid",
    f"""
    WITH base AS (SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
        len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','for'))) AS s_en,
        len(list_filter(toks, x -> x IN ('le','la','les','et','de','un','une','est'))) AS s_fr,
        len(list_filter(toks, x -> x IN ('el','la','los','las','y','de','un','una'))) AS s_es,
        len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','eine','zu'))) AS s_de,
        CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 1 ELSE 0 END AS has_cjk
      FROM base
    )
    SELECT doc_id, lang,
           CASE WHEN has_cjk = 1 THEN 'zh'
                WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS lang_pred
    FROM scored
    """,
)
def text_langid(spark, sf_dir):
    return text.langid(T(spark, sf_dir, "documents")).select("doc_id", "lang", "lang_pred")


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    return text.fingerprint(T(spark, sf_dir, "documents")).select("doc_id", "fp")


# Winnowing IS SQL-expressible for k=5, base=257: every 5-gram polynomial
# hash is < 2^57 (codepoint < 2^21 times 257^4 < 2^33, five terms), i.e.
# below the 2^61-1 modulus — so the "rolling hash mod p" is just the plain
# polynomial sum, computable positionally. Window picks = rightmost-min of
# each 4-hash window; DISTINCT collapses repicked positions like the
# kernel's dict does. 257^2=66049, 257^3=16974593, 257^4=4362470401.
_WLEAST = "least(hs[w], hs[w+1], hs[w+2], hs[w+3])"


# Shared winnowing CTE: k-gram polynomial hashes + rightmost-min window
# picks, reused by the per-doc fingerprint query and the pair-overlap query.
_WINNOW_CTE = f"""
    WITH n AS (SELECT doc_id, {_NORM_SQL} AS s FROM documents),
    ok AS (SELECT doc_id, s, length(s) AS L FROM n WHERE s IS NOT NULL AND length(s) >= 5),
    h AS (SELECT doc_id, L - 4 AS nh,
            list_transform(range(1, L - 3), i ->
                unicode(substr(s, CAST(i AS INT), 1)) * 4362470401
              + unicode(substr(s, CAST(i + 1 AS INT), 1)) * 16974593
              + unicode(substr(s, CAST(i + 2 AS INT), 1)) * 66049
              + unicode(substr(s, CAST(i + 3 AS INT), 1)) * 257
              + unicode(substr(s, CAST(i + 4 AS INT), 1))) AS hs
          FROM ok),
    wins AS (SELECT doc_id, hs, unnest(range(1, nh - 2)) AS w FROM h WHERE nh >= 4),
    picks AS (SELECT doc_id, {_WLEAST} AS fp,
                w + (CASE WHEN hs[w+3] = {_WLEAST} THEN 3
                          WHEN hs[w+2] = {_WLEAST} THEN 2
                          WHEN hs[w+1] = {_WLEAST} THEN 1
                          ELSE 0 END) AS pos1
              FROM wins)"""


@register(
    "text_winnow_fingerprint",
    _WINNOW_CTE
    + """
    SELECT DISTINCT doc_id, CAST(pos1 - 1 AS BIGINT) AS pos, CAST(fp AS BIGINT) AS fp
    FROM picks
    """,
)
def text_winnow_fingerprint(spark, sf_dir):
    return text.winnow_fingerprints(T(spark, sf_dir, "documents"), k=5, window=4)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    f"""
    SELECT md5({_NORM_SQL}) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
    FROM documents GROUP BY fp
    """,
)
def dedup_exact_docs(spark, sf_dir):
    return dedup.exact_groups(T(spark, sf_dir, "documents"))


@register(
    "dedup_snapshot_diff",
    f"""
    WITH old AS (
      SELECT doc_id, md5({_NORM_SQL}) AS old_fp
      FROM documents WHERE doc_id % 11 <> 0
    ),
    new AS (
      SELECT doc_id,
             md5({_NORM_SQL.replace("text", "(coalesce(text, '') || CASE WHEN doc_id % 7 = 0 THEN ' revised' ELSE '' END)")}) AS new_fp
      FROM documents WHERE doc_id % 13 <> 0
    )
    SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old_fp IS NULL THEN 'added'
                WHEN new_fp IS NULL THEN 'removed'
                WHEN old_fp <> new_fp THEN 'changed' END AS status,
           old_fp, new_fp
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp <> new_fp
    """,
)
def dedup_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff (operators/dedup.py::snapshot_diff): two
    synthetic crawls of the documents table — the old one missing every
    11th doc, the new one missing every 13th and with every 7th doc's
    text revised — reduced to added/removed/changed rows by id +
    content fingerprint, unchanged majority dropped (the reference's
    drop-unchanged diff semantics at document grain, reference
    epss/client.py:453-462)."""
    docs = T(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 0)
    new = docs.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" revised")).otherwise(F.lit("")),
        ),
    )
    return dedup.snapshot_diff(old, new)


@register(
    "dedup_url_latest",
    """
    WITH snap AS (
      SELECT 'https://site.org/p/' || CAST(doc_id % 97 AS VARCHAR)
             || '?k=' || CAST(doc_id % 97 AS VARCHAR) AS url,
             (doc_id * 7919) % 101 AS version,
             doc_id, lang, n_chars
      FROM documents
    )
    SELECT url, version, doc_id, lang, n_chars FROM (
      SELECT *, row_number() OVER (
        PARTITION BY url ORDER BY version DESC, doc_id DESC) AS rn
      FROM snap
    ) WHERE rn = 1
    """,
)
def dedup_url_latest(spark, sf_dir):
    """Crawl-snapshot compaction (operators/dedup.py::keep_latest over
    operators/text.py::url_canonicalize keys): re-fetched pages —
    synthetic messy URLs (mixed case, default port, tracking params)
    mapping ~97 docs onto each canonical page, each fetch carrying a
    colliding version counter — are compacted to the single newest
    snapshot per canonical URL (max version, doc_id tiebreak). The
    Spark side canonicalizes the messy form; the oracle writes the
    canonical form directly and replays the keep rule with a window —
    vs the engine's windowless one-shuffle max(struct) aggregate."""
    docs = T(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 97).cast("string")
    url = F.concat(
        F.lit("HTTPS://Site.ORG:443/p/"), page,
        F.lit("?utm_campaign=x&k="), page,
    )
    snap = docs.select(
        text.url_canonicalize(url).alias("url"),
        ((F.col("doc_id") * 7919) % 101).alias("version"),
        "doc_id", "lang", "n_chars",
    )
    return dedup.keep_latest(snap, "url", "version", tiebreak_col="doc_id")


# Shared CTE chain for the SCD-2 crawl-history oracles: replays the
# (url, version) tiebreak, the null-safe change flag, the running-sum run
# ids, and the lead() interval close over the same synthetic re-fetch
# stream dedup_url_latest compacts. The three consumers differ only in
# their final filter (full table / as-of point / version window).
_URL_HISTORY_CTES = """
    WITH snap AS (
      SELECT 'https://site.org/p/' || CAST(doc_id % 97 AS VARCHAR)
             || '?k=' || CAST(doc_id % 97 AS VARCHAR) AS url,
             (doc_id * 7919) % 101 AS version,
             doc_id, lang
      FROM documents
    ),
    vers AS (
      SELECT url, version, lang FROM (
        SELECT *, row_number() OVER (
          PARTITION BY url, version ORDER BY doc_id DESC) AS rn
        FROM snap
      ) WHERE rn = 1
    ),
    marked AS (
      SELECT url, version, lang,
             CASE WHEN row_number() OVER (PARTITION BY url ORDER BY version) = 1
                  OR NOT (lang IS NOT DISTINCT FROM
                          lag(lang) OVER (PARTITION BY url ORDER BY version))
                  THEN 1 ELSE 0 END AS chg
      FROM vers
    ),
    runs AS (
      SELECT url, version, lang,
             SUM(chg) OVER (PARTITION BY url ORDER BY version
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM marked
    ),
    agg AS (
      SELECT url, grp, min(lang) AS lang, min(version) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_versions
      FROM runs GROUP BY url, grp
    ),
    final AS (
      SELECT url, lang, valid_from,
             lead(valid_from) OVER (PARTITION BY url ORDER BY valid_from) AS valid_to,
             n_versions
      FROM agg
    )
"""


def _url_history(spark, sf_dir):
    """The synthetic crawl changelog compacted to SCD-2 runs — the Spark
    side shared by the three dedup_url_history* queries."""
    docs = T(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 97).cast("string")
    url = F.concat(
        F.lit("HTTPS://Site.ORG:443/p/"), page,
        F.lit("?utm_campaign=x&k="), page,
    )
    snap = docs.select(
        text.url_canonicalize(url).alias("url"),
        ((F.col("doc_id") * 7919) % 101).alias("version"),
        "doc_id", "lang",
    )
    return dedup.snapshot_history(
        snap, "url", "version", "lang", tiebreak_col="doc_id"
    )


@register(
    "dedup_url_history",
    _URL_HISTORY_CTES
    + """
    SELECT url, lang, valid_from, valid_to, n_versions FROM final
    """,
)
def dedup_url_history(spark, sf_dir):
    """SCD-2 crawl history (operators/dedup.py::snapshot_history): the
    same synthetic re-fetch stream dedup_url_latest compacts to its
    newest row is here compacted to one row per consecutive
    unchanged-content RUN — (url, content class, valid_from, valid_to,
    n_versions), half-open intervals, NULL valid_to marking the live
    revision. `lang` stands in as the content fingerprint so runs are
    nontrivial at every SF. The oracle replays the (url, version)
    tiebreak, the null-safe change flag, the running-sum run ids, and
    the lead() interval close; the engine plans it all inside ONE key
    exchange."""
    return _url_history(spark, sf_dir)


@register(
    "dedup_url_asof",
    _URL_HISTORY_CTES
    + """
    SELECT url, lang, valid_from, valid_to, n_versions FROM final
    WHERE valid_from <= 50 AND (valid_to IS NULL OR valid_to > 50)
    """,
)
def dedup_url_asof(spark, sf_dir):
    """Point-in-time reconstruction from the SCD-2 interval table
    (operators/dedup.py::history_as_of): the crawl snapshot exactly as
    it stood at version 50 — one zero-shuffle filter over the compacted
    runs, the interval-table answer to the reference's
    load-the-whole-date-file get_scores_by_date
    (epss/client.py:239-254). The oracle replays the history CTE chain
    and the half-open containment predicate."""
    return dedup.history_as_of(_url_history(spark, sf_dir), 50)


@register(
    "dedup_url_history_delta",
    _URL_HISTORY_CTES
    + """
    SELECT url, lang, valid_from, valid_to, n_versions FROM final
    WHERE valid_from > 30 AND valid_from <= 70
    """,
)
def dedup_url_history_delta(spark, sf_dir):
    """Changed-revision extraction from the SCD-2 interval table
    (operators/dedup.py::history_changed_between): every run that
    APPEARED in versions (30, 70] — the interval-table form of the
    reference's two-snapshot delta (epss/client.py:453-475
    get_changed_scores), computed from the compacted runs with one
    zero-shuffle filter instead of anti-joining two full snapshots."""
    return dedup.history_changed_between(_url_history(spark, sf_dir), 30, 70)


@register(
    "dedup_history_lookup",
    _URL_HISTORY_CTES
    + """
    , probes AS (
      SELECT 'https://site.org/p/' || CAST(doc_id % 97 AS VARCHAR)
             || '?k=' || CAST(doc_id % 97 AS VARCHAR) AS url,
             doc_id AS probe_id, (doc_id * 31) % 101 AS version
      FROM documents
    )
    SELECT p.url, p.probe_id, p.version,
           f.lang, f.valid_from, f.valid_to, f.n_versions
    FROM probes p JOIN final f ON p.url = f.url
      AND f.valid_from <= p.version
      AND (f.valid_to IS NULL OR f.valid_to > p.version)
    """,
)
def dedup_history_lookup(spark, sf_dir):
    """Per-row point-in-interval lookup (operators/dedup.py::
    history_lookup): each probe (url, version) — a synthetic audit
    stream asking "which revision was live when this request hit" —
    joins to the ONE SCD-2 run containing its point. The
    generalization of dedup_url_asof from a single global as-of
    version to a per-probe point: one equi-join on url with the
    interval containment as a join filter, at-most-one match per probe
    because runs are disjoint by construction. The oracle replays the
    history CTE chain plus the containment join."""
    docs = T(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 97).cast("string")
    url = F.concat(
        F.lit("HTTPS://Site.ORG:443/p/"), page,
        F.lit("?utm_campaign=x&k="), page,
    )
    probes = docs.select(
        text.url_canonicalize(url).alias("url"),
        F.col("doc_id").alias("probe_id"),
        ((F.col("doc_id") * 31) % 101).alias("version"),
    )
    return dedup.history_lookup(
        _url_history(spark, sf_dir), probes, key="url", point_col="version"
    )


@register(
    "dedup_edit_verified",
    """
    WITH b AS (
      SELECT doc_id, text, substr(text, 1, 24) AS blk
      FROM documents WHERE length(text) > 0
    ),
    cand AS (
      SELECT a.doc_id AS a_id, c.doc_id AS b_id, a.text AS a_t, c.text AS b_t
      FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    ),
    scored AS (
      SELECT a_id, b_id,
             round(1.0 - CAST(levenshtein(a_t, b_t) AS DOUBLE)
                   / CAST(greatest(length(a_t), length(b_t)) AS DOUBLE),
                   6) AS edit_sim
      FROM cand
    )
    SELECT a_id, b_id, edit_sim FROM scored WHERE edit_sim >= 0.9
    """,
)
def dedup_edit_verified(spark, sf_dir):
    """Prefix-blocked, edit-distance-verified near-dup pairs
    (operators/dedup.py::prefix_block_pairs + edit_verified_pairs): the
    record-linkage classic — block on the first 24 characters (one
    groupBy on a fixed-width key, no shingling), then keep pairs whose
    normalized Levenshtein similarity 1 - lev/max_len >= 0.9. The
    character-level complement of the Jaccard verifier: exact on
    in-word edits and local reorderings shingle Jaccard blurs. The
    Spark side adds a length-gap pre-filter (levenshtein >= |len
    difference|, so wide-gap pairs provably fail) that the oracle does
    not need — it prunes work, never results."""
    docs = T(spark, sf_dir, "documents")
    cand = dedup.prefix_block_pairs(docs, prefix_len=24)
    return dedup.edit_verified_pairs(cand, docs, threshold=0.9)


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles FROM base),
    ex AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.a_id, p.b_id,
           CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.a_id = sa.doc_id
    JOIN sizes sb ON p.b_id = sb.doc_id
    WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(T(spark, sf_dir, "documents"), threshold=0.6)


# Full MinHash-LSH pair pipeline as a reusable fragment: dedup_minhash
# returns it directly; dedup_minhash_keep anti-joins the corpus against its
# b_id side (the greedy keep-lowest-id dedup action).
_MINHASH_PAIRS_SQL = f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles FROM base),
    sig AS (
      SELECT doc_id,
             [{_SIG_TERMS}] AS sig
      FROM sh
    ),
    bandkeys AS (
      SELECT doc_id,
             [{_BAND_TERMS}] AS band_keys
      FROM sig
    ),
    bands AS (
      SELECT doc_id, b, band_keys[b+1] AS band_key
      FROM bandkeys, range(0, {_BANDS}) t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.b = b.b AND a.doc_id < b.doc_id
    ),
    ex AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.a_id, c.b_id,
           CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard
    FROM cand c
    JOIN sizes sa ON c.a_id = sa.doc_id
    JOIN sizes sb ON c.b_id = sb.doc_id
    LEFT JOIN inter i ON c.a_id = i.a_id AND c.b_id = i.b_id
    WHERE CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.i, 0)) >= 0.5
"""


@register("dedup_minhash", _MINHASH_PAIRS_SQL)
def dedup_minhash(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        T(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        threshold=0.5,
    )


@register(
    "dedup_cc_components",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id AS u, a_id AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    )
    SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    """,
)
def dedup_cc_components(spark, sf_dir):
    """Connected components over the verified near-dup graph — the
    transitive-closure grouping behind dedup_corpus_near(policy=
    'components'). Spark side: iterative min-label propagation over the
    EDGE set only (operators/dedup.py::connected_components, the
    dataframe reduction of large-star/small-star); oracle side: DuckDB
    recursive-CTE reachability with LEAST(u, MIN(v)) — exact closure, so
    the iterative algorithm is value-checked bit-for-bit, not just
    shape-checked."""
    pairs = dedup.minhash_lsh_pairs(
        T(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        threshold=0.5,
    )
    return dedup.connected_components(pairs)


@register(
    "dedup_cc_keep",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id AS u, a_id AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    cc AS (SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u)
    SELECT d.doc_id, d.source, d.n_chars FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM cc WHERE cc.id = d.doc_id AND cc.id <> cc.component)
    """,
)
def dedup_cc_keep(spark, sf_dir):
    """The transitive-closure dedup ACTION: exactly one survivor (the
    min-id doc) per connected component of the verified near-dup graph —
    dedup_corpus_near(policy='components') end-to-end, oracle-checked
    against DuckDB's recursive closure."""
    docs = T(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5
    )
    return dedup.dedup_corpus_near(docs, pairs, policy="components").select(
        "doc_id", "source", "n_chars"
    )


@register(
    "dedup_minhash_incremental",
    f"""
    WITH pairs AS ({_MINHASH_PAIRS_SQL})
    SELECT a_id, b_id, jaccard FROM pairs
    WHERE a_id % 2 = 1 OR b_id % 2 = 1
    """,
)
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental LSH dedup as a daily 100 TB deployment runs it
    (operators/dedup.py::minhash_index/minhash_lookup): the corpus is
    split by id parity into an already-indexed half and a "new batch"
    half; `minhash_lookup` over the prebuilt index bands the batch only
    and broadcast-joins its band rows against the index scan (the index
    side never shuffles or re-shingles), so nightly cost is O(append),
    not O(corpus). The oracle is full-corpus LSH
    restricted to pairs touching a new id — exactly the incremental
    contract (new~indexed and new~new, never indexed~indexed)."""
    docs = T(spark, sf_dir, "documents")
    idx_docs = docs.filter(F.col("doc_id") % 2 == 0)
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    # persisted shingle frames (optimization r14, dedup_spans' evictable
    # fire-and-forget cache contract): each frame has multiple consumers
    # (band rows + the verify join; new_shmap also feeds the re-crawl
    # anti-join) and Spark does not dedupe common subplans, so the
    # unpersisted form re-ran the normalize+shingle scan per consumer.
    # Bench/driver clear caches between runs; long-lived sessions scope
    # the lifecycle with shingle_cache (CLI/streaming callers do).
    idx_bands, idx_sh = dedup.minhash_index(
        idx_docs,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shmap=dedup.shingle_arrays(idx_docs).persist(),
    )
    return dedup.minhash_lookup(
        new_docs,
        idx_bands,
        idx_sh,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        threshold=0.5,
        new_shmap=dedup.shingle_arrays(new_docs).persist(),
    )


@register(
    "dedup_minhash_keep",
    f"""
    WITH pairs AS ({_MINHASH_PAIRS_SQL})
    SELECT d.doc_id, d.source, d.n_chars FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.b_id = d.doc_id)
    """,
)
def dedup_minhash_keep(spark, sf_dir):
    """The near-dup ACTION: corpus minus every doc with a smaller-id
    near-duplicate (greedy keep-lowest-id over the verified LSH pairs)."""
    docs = T(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5
    )
    return dedup.dedup_corpus_near(docs, pairs).select("doc_id", "source", "n_chars")


# Off-surface queries (the driver records only DRIVER_SURFACE's 50): these
# register for library users and are oracle-checked by
# tests/test_oracle_parity.py, which parametrizes over every demoted query.
_SPLIT_LO = int((1 << 60) * 0.8)
_SPLIT_MID = int((1 << 60) * 0.9)


@register(
    "dedup_keep_docs",
    f"""
    WITH fp AS (SELECT *, md5({_NORM_SQL}) AS f FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp)
    SELECT doc_id, text, lang, source, n_chars FROM r WHERE rn = 1
    """,
)
def dedup_keep_docs(spark, sf_dir):
    """The dedup ACTION: the corpus minus exact duplicates."""
    return dedup.dedup_corpus(T(spark, sf_dir, "documents"))


@register(
    "sample_split",
    f"""
    SELECT doc_id, text, lang, source, n_chars,
           CASE WHEN CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     < {_SPLIT_LO} THEN 'train'
                WHEN CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     < {_SPLIT_MID} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def sample_split(spark, sf_dir):
    """Deterministic hash-based train/val/test assignment (stable under
    corpus growth, unlike randomSplit)."""
    return dedup.train_split(T(spark, sf_dir, "documents"), weights=(0.8, 0.1, 0.1))


@register(
    "dedup_decontam_near",
    f"""
    WITH pairs AS ({_MINHASH_PAIRS_SQL})
    SELECT d.doc_id, d.source, d.n_chars FROM documents d
    WHERE d.doc_id % 2 = 0 AND NOT EXISTS (
      SELECT 1 FROM pairs p
      WHERE (p.a_id = d.doc_id AND p.b_id % 2 = 1)
         OR (p.b_id = d.doc_id AND p.a_id % 2 = 1)
    )
    """,
)
def dedup_decontam_near(spark, sf_dir):
    """Near-dup benchmark decontamination (operators/dedup.py::
    decontaminate_near): even-id docs are the training corpus, odd-id
    docs stand in for the benchmark/eval set; every corpus doc with a
    verified near-duplicate (LSH-blocked exact Jaccard >= 0.5) on the
    eval side is dropped — paraphrase-level leakage the exact
    (contamination_bloom) and substring (decontam_spans) tiers miss.
    The asymmetric candidate join means in-corpus near-dups survive
    untouched. Oracle: full-corpus LSH pairs restricted to mixed-parity
    edges — band keys are per-doc content hashes, so the restriction is
    exactly the asymmetric join."""
    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    eval_docs = docs.filter(F.col("doc_id") % 2 == 1)
    # persisted shmap (optimization r14, dedup_spans' fire-and-forget
    # cache contract): decontaminate_near reads the corpus shingles
    # twice (band rows + verify join) — one shingle pass, both read the
    # cache; bench/driver clear caches between runs.
    return dedup.decontaminate_near(
        corpus,
        eval_docs,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        threshold=0.5,
        shmap=dedup.shingle_arrays(corpus).persist(),
    ).select("doc_id", "source", "n_chars")


@register(
    "sample_split_leakage_safe",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id AS u, a_id AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    cc AS (SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u),
    g AS (
      SELECT d.doc_id, d.source, COALESCE(cc.component, d.doc_id) AS split_group
      FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
    )
    SELECT doc_id, source, split_group,
           CASE WHEN CAST(('0x' || substr(md5('split|' || CAST(split_group AS VARCHAR)), 1, 15)) AS BIGINT)
                     < {_SPLIT_LO} THEN 'train'
                WHEN CAST(('0x' || substr(md5('split|' || CAST(split_group AS VARCHAR)), 1, 15)) AS BIGINT)
                     < {_SPLIT_MID} THEN 'val'
                ELSE 'test' END AS split
    FROM g
    """,
)
def sample_split_leakage_safe(spark, sf_dir):
    """Leakage-safe split (operators/dedup.py::train_split_leakage_safe):
    hash the near-dup COMPONENT representative — members of a connected
    component of the verified LSH pair graph land in the same split, so
    eval never contains a near-duplicate of a training doc; singletons
    hash exactly as sample_split does. The oracle replays full-corpus
    LSH + the recursive transitive closure (dedup_cc_keep's CTEs) and
    the same md5 bucket CASE over the coalesced group."""
    docs = T(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5
    )
    return dedup.train_split_leakage_safe(
        docs, pairs, weights=(0.8, 0.1, 0.1)
    ).select("doc_id", "source", "split_group", "split")


@register(
    "json_parse_typed",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    GROUP BY event_type
    """,
)
def json_parse_typed(spark, sf_dir):
    """Schema-full JSON parsing (from_json -> typed struct), the production
    path for structured props: the struct parses ONCE per row and both the
    filter and the aggregation read fields from it — unlike per-path
    get_json_object, which re-parses the string per extraction."""
    from pyspark.sql.types import LongType, StructField as SF_, StructType as ST_

    ev = T(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", ST_([SF_("k", LongType())])))
    return (
        parsed.filter(F.col("p.k") > 50)
        .groupBy("event_type")
        .agg(F.sum("p.k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "event_daily_growth",
    """
    WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    first_day AS (SELECT user_id, MIN(day) AS day FROM d GROUP BY user_id),
    dau AS (SELECT day, COUNT(DISTINCT user_id) AS active_users FROM d GROUP BY day),
    nu AS (SELECT day, COUNT(*) AS new_users FROM first_day GROUP BY day)
    SELECT dau.day, dau.active_users,
           COALESCE(nu.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(nu.new_users, 0)) OVER (
             ORDER BY dau.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumulative_users
    FROM dau LEFT JOIN nu USING (day)
    """,
)
def event_daily_growth(spark, sf_dir):
    """Daily-active / new / cumulative user growth from the events
    stream — the standard product-growth rollup. Shape: one distinct
    (user, day) aggregate for DAU, one min-day-per-user aggregate for
    first-seen, a small per-day join and a running sum over the
    day-count rows (days are few; the window is driver-tiny). All
    exact; at 100 TB swap DAU's count-distinct for the HLL sketch
    tables (sketches.py) merged per day."""
    ev = T(spark, sf_dir, "events")
    d = ev.select("user_id", F.col("ts").cast("date").alias("day"))
    dau = d.groupBy("day").agg(F.count_distinct("user_id").alias("active_users"))
    first_day = d.groupBy("user_id").agg(F.min("day").alias("day"))
    nu = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(nu, "day", "left")
        .select(
            "day",
            "active_users",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .withColumn("cumulative_users", F.sum("new_users").over(w))
    )


@register(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS p90,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` and
    DuckDB `quantile_cont` share the linear-interpolation definition, so
    this is value-checkable — unlike approx_count_distinct/percentile_approx
    whose sketches are engine-specific). The 4-dp round absorbs the one
    float add in the interpolation midpoint."""
    li = T(spark, sf_dir, "lineitem")
    p = lambda q: F.round(  # noqa: E731
        F.percentile(F.col("l_extendedprice").cast("double"), F.lit(q)), 4
    )
    return li.groupBy("l_returnflag").agg(
        p(0.5).alias("p50"), p(0.9).alias("p90"), p(0.99).alias("p99")
    )


@register(
    "text_quality_filter",
    f"""
    WITH t AS (
      SELECT doc_id, text, lang, source, n_chars,
             list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, text, lang, source, n_chars, len(toks) AS n_tok,
             len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
             len(list_distinct(toks)) AS n_distinct
      FROM t
    )
    SELECT doc_id, text, lang, source, n_chars FROM s
    WHERE n_tok >= 5
      AND CAST(n_stop AS DOUBLE) / greatest(n_tok, 1) <= 0.6
      AND CAST(n_distinct AS DOUBLE) / greatest(n_tok, 1) >= 0.3
    """,
)
def text_quality_filter(spark, sf_dir):
    return text.quality_filter(T(spark, sf_dir, "documents"))


@register(
    "ann_normalize",
    """
    SELECT vec_id, label,
           CASE WHEN sqrt(list_sum(list_transform(range(1, 65),
                     i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) = 0
                THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
                ELSE list_transform(embedding, x -> round(CAST(x AS DOUBLE) /
                     sqrt(list_sum(list_transform(range(1, 65),
                          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6))
           END AS embedding
    FROM embeddings
    """,
)
def ann_normalize(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    return similarity.normalize_vectors(emb)


# SimHash majority-vote bit sums and fingerprint fold, generated per bit.
# The token hash is a 60-bit int off the md5 hex prefix — identical in both
# engines (Spark: conv(substr(md5,1,15),16,10); DuckDB: 0x-prefix CAST).
_SIMHASH_BITS = 32
_SIMHASH_BIT_SUMS = ",\n           ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(_SIMHASH_BITS)
)
_SIMHASH_FOLD = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS)
)


@register(
    "dedup_simhash",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
    h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
    bits AS (SELECT doc_id,
           {_SIMHASH_BIT_SUMS}
    FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, CAST({_SIMHASH_FOLD} AS BIGINT) AS simhash FROM bits)
    SELECT simhash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
    FROM fp GROUP BY simhash
    """,
)
def dedup_simhash(spark, sf_dir):
    return dedup.simhash_groups(T(spark, sf_dir, "documents"), bits=32)


_SIMHASH_MAXHAM = 3


@register(
    "dedup_simhash_pairs",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
    h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
    bits AS (SELECT doc_id,
           {_SIMHASH_BIT_SUMS}
    FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, CAST({_SIMHASH_FOLD} AS BIGINT) AS simhash FROM bits)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAXHAM}
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """Manku et al. 2007 near-dup pairs: SimHash Hamming distance <= 3
    via pigeonhole block banding (operators/dedup.py::simhash_pairs).
    The oracle is a BRUTE-FORCE all-pairs comparison, so this checks the
    banding's 100%-recall guarantee, not just the arithmetic."""
    return dedup.simhash_pairs(
        T(spark, sf_dir, "documents"), max_hamming=_SIMHASH_MAXHAM, bits=32
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_DOT_SQL = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
)
_NORM_Q = "sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))"
_NORM_C = "sqrt(list_sum(list_transform(range(1, 65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))"


@register(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM q, c WHERE q.vec_id <> c.vec_id
    )
    SELECT query_id, cand_id, cos, rn AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(queries, emb, k=5)


@register(
    "ann_pair_histogram",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings),
    c AS (SELECT vec_id, embedding FROM embeddings),
    pairs AS (
      SELECT round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM q JOIN c ON c.vec_id = q.vec_id + 1
    )
    SELECT CAST(floor(cos * 20) AS BIGINT) AS bin_idx, COUNT(*) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def ann_pair_histogram(spark, sf_dir):
    """Distance-concentration diagnostic (operators/similarity.py::
    pair_cosine_histogram): the cosine distribution over the
    deterministic (id, id+1) pair sample, bucketed to 0.05 bins. The
    check to run BEFORE trusting an ANN recall number: concentration
    means low recall is geometry, not a bug (the testdata caveat
    PERF.md's recall ladder documents — this query makes that caveat
    measurable in-engine instead of folklore). One equi-join on the
    shifted id, one codegen cosine per pair, a <= 41-bucket groupBy."""
    return similarity.pair_cosine_histogram(T(spark, sf_dir, "embeddings"))


@register(
    "ann_threshold",
    f"""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS a_id, c.vec_id AS b_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM e q JOIN e c ON q.label = c.label AND q.vec_id < c.vec_id
    )
    SELECT a_id, b_id, cos FROM pairs WHERE cos >= 0.4
    """,
)
def ann_threshold(spark, sf_dir):
    # embedding-cosine similar-pairs within label buckets (the bucketed/blocked
    # formulation — at scale the bucket key comes from LSH, here from label)
    emb = T(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_blocked(emb, block_col="label", threshold=0.4)


# The hyperplanes are plan-time constants (seeded numpy, identical floats on
# both engines), so the LSH oracle embeds the SAME plane literals and
# reproduces bucket assignment + in-bucket top-k exactly. Sign flips from
# summation-order float drift are astronomically unlikely (|dot| >> 1e-15)
# and would fail loudly in the hash compare.
_LSH_PLANES = similarity._hyperplanes(64, 8, 42)
_BUCKET_TERMS = " + ".join(
    "(CASE WHEN list_sum(list_transform(range(1, 65), "
    f"j -> CAST(embedding[j] AS DOUBLE) * ([{', '.join(repr(float(x)) for x in p)}])[j]"
    f")) >= 0 THEN {1 << i} ELSE 0 END)"
    for i, p in enumerate(_LSH_PLANES)
)


@register(
    "ann_lsh_bucketed",
    f"""
    WITH e AS (SELECT vec_id, embedding, {_BUCKET_TERMS} AS bucket FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, cand_id, cos, rn AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ann_lsh_bucketed(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_topk(queries, emb, k=5, n_planes=8, seed=42)


# Multiprobe: the probe set is a pure function of the SAME plane-literal
# dot products the bucket bits use (home bucket + the 3 lowest-|margin|
# single-bit flips, ties to the lower plane index), so the oracle replays
# probe selection bit-for-bit.
def _lsh_dot_sql(p) -> str:
    return (
        "list_sum(list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) * "
        f"([{', '.join(repr(float(x)) for x in p)}])[j]))"
    )


_MP_MARGIN_CASE = (
    "CASE t.j "
    + " ".join(f"WHEN {i} THEN abs({_lsh_dot_sql(p)})" for i, p in enumerate(_LSH_PLANES))
    + " END"
)
_MP_J_VALUES = ", ".join(f"({i})" for i in range(len(_LSH_PLANES)))


@register(
    "ann_lsh_multiprobe",
    f"""
    WITH e AS (SELECT vec_id, embedding, {_BUCKET_TERMS} AS bucket FROM embeddings),
    qm AS (
      SELECT e.vec_id, e.bucket, t.j, {_MP_MARGIN_CASE} AS m
      FROM e CROSS JOIN (VALUES {_MP_J_VALUES}) t(j)
      WHERE e.vec_id < 5
    ),
    flips AS (
      SELECT vec_id, xor(bucket, 1 << j) AS bucket,
             row_number() OVER (PARTITION BY vec_id ORDER BY m, j) AS pr
      FROM qm
    ),
    probes AS (
      SELECT vec_id, bucket FROM e WHERE vec_id < 5
      UNION ALL
      SELECT vec_id, bucket FROM flips WHERE pr <= 3
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM probes p
      JOIN embeddings q ON q.vec_id = p.vec_id
      JOIN e c ON c.bucket = p.bucket AND q.vec_id <> c.vec_id
    )
    SELECT query_id, cand_id, cos, rn AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ann_lsh_multiprobe(spark, sf_dir):
    """Query-directed multiprobe LSH (operators/similarity.py::
    lsh_multiprobe_topk, Lv et al. 2007): each query scans its home
    bucket plus the 3 lowest-|margin| single-bit-flip buckets — recall
    back at the same one-bucket-per-vector index layout; only the
    broadcast query side fans out. The oracle replays bucket bits,
    margin ranking, and flip selection from the same plane literals."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_multiprobe_topk(
        queries, emb, k=5, n_planes=8, n_probes=4, seed=42
    )


@register(
    "ann_recall_lsh",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding FROM embeddings),
    ex_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM q, c WHERE q.vec_id <> c.vec_id
    ),
    exact AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
        FROM ex_scored
      ) WHERE rn <= 5
    ),
    e AS (SELECT vec_id, embedding, {_BUCKET_TERMS} AS bucket FROM embeddings),
    ap_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 5
    ),
    approx AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
        FROM ap_scored
      ) WHERE rn <= 5
    )
    SELECT ex.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(CAST(sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS recall
    FROM exact ex
    LEFT JOIN approx ap ON ap.query_id = ex.query_id AND ap.cand_id = ex.cand_id
    GROUP BY ex.query_id
    """,
)
def ann_recall_lsh(spark, sf_dir):
    """Index-health evaluation in-engine (operators/similarity.py::
    topk_recall): per-query recall@5 of the 8-plane sign-LSH index
    against exact brute-force cosine — the monitoring query a deployed
    ANN system runs on a sampled query set every maintenance cycle. The
    oracle replays BOTH tiers (the already-pinned brute and bucketed
    CTE chains) and the hit-join; low recall here is corpus geometry
    (near-iid testdata — PERF.md), measured identically by both
    engines."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = similarity.lsh_topk(queries, emb, k=5, n_planes=8, seed=42)
    exact = similarity.cosine_topk(queries, emb, k=5)
    return similarity.topk_recall(approx, exact)


# Two-stage LSH: stage 1 runs on the 16-dim Matryoshka prefix (planes drawn
# in 16-dim space, truncated-cosine shortlist of r=20), stage 2 re-ranks the
# shortlist by full 64-dim cosine. Same plan-time plane-literal trick as the
# single-stage LSH oracles, at dim 16.
_LSH16_PLANES = similarity._hyperplanes(16, 8, 42)


def _lsh16_dot_sql(p) -> str:
    return (
        "list_sum(list_transform(range(1, 17), j -> CAST(embedding[j] AS DOUBLE) * "
        f"([{', '.join(repr(float(x)) for x in p)}])[j]))"
    )


_BUCKET16_TERMS = " + ".join(
    f"(CASE WHEN {_lsh16_dot_sql(p)} >= 0 THEN {1 << i} ELSE 0 END)"
    for i, p in enumerate(_LSH16_PLANES)
)
_MP16_MARGIN_CASE = (
    "CASE t.j "
    + " ".join(
        f"WHEN {i} THEN abs({_lsh16_dot_sql(p)})" for i, p in enumerate(_LSH16_PLANES)
    )
    + " END"
)
_DOT16_SQL = (
    "list_sum(list_transform(range(1, 17), i -> "
    "CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
)
_NORM16_Q = "sqrt(list_sum(list_transform(range(1, 17), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))"
_NORM16_C = "sqrt(list_sum(list_transform(range(1, 17), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))"


@register(
    "ann_lsh_multiprobe_rerank",
    f"""
    WITH e AS (SELECT vec_id, embedding, {_BUCKET16_TERMS} AS bucket FROM embeddings),
    qm AS (
      SELECT e.vec_id, e.bucket, t.j, {_MP16_MARGIN_CASE} AS m
      FROM e CROSS JOIN (VALUES {_MP_J_VALUES}) t(j)
      WHERE e.vec_id < 5
    ),
    flips AS (
      SELECT vec_id, xor(bucket, 1 << j) AS bucket,
             row_number() OVER (PARTITION BY vec_id ORDER BY m, j) AS pr
      FROM qm
    ),
    probes AS (
      SELECT vec_id, bucket FROM e WHERE vec_id < 5
      UNION ALL
      SELECT vec_id, bucket FROM flips WHERE pr <= 3
    ),
    scored16 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({_DOT16_SQL} / ({_NORM16_Q} * {_NORM16_C}), 6) AS cos
      FROM probes p
      JOIN embeddings q ON q.vec_id = p.vec_id
      JOIN e c ON c.bucket = p.bucket AND q.vec_id <> c.vec_id
    ),
    shortlist AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
        FROM scored16
      ) WHERE rn <= 20
    ),
    rer AS (
      SELECT s.query_id, s.cand_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM shortlist s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.cand_id
    )
    SELECT query_id, cand_id, cos, rn AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      FROM rer
    ) WHERE rn <= 5
    """,
)
def ann_lsh_multiprobe_rerank(spark, sf_dir):
    """The cheap-index two-stage ANN (operators/similarity.py::
    lsh_multiprobe_rerank): multiprobe sign-LSH over the 16-dim
    Matryoshka prefix selects an r=20 shortlist (home bucket + 3
    lowest-|margin| flips, truncated-cosine ordering), then exact 64-dim
    cosine re-ranks just those raw vectors to k=5 — the hash-index
    analog of ann_ivfpq_rerank. The oracle replays 16-dim bucket bits,
    margin flips, the truncated-cosine shortlist window, and the
    full-dim re-rank CTE-for-CTE."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_multiprobe_rerank(
        queries, emb, k=5, r=20, shortlist_dims=16,
        n_planes=8, n_probes=4, seed=42,
    )


# IVF with deterministic sampled-point coarse centers: the centroids are
# the embeddings of 8 fixed vec_ids, so BOTH engines share them exactly and
# the whole index (assignment argmin, probe ranking, in-list top-k) is
# SQL-checkable. The KMeans-trained quantizer (train_ivf_centroids) remains
# the library's scale path, pinned separately by tests/test_queries_domain
# (exact parity at n_probe=n_lists + recall bound).
_IVF_CENT_IDS = [0, 61, 122, 183, 244, 305, 366, 427]
_IVF_CENT_VALUES = ", ".join(f"({i}, {cid})" for i, cid in enumerate(_IVF_CENT_IDS))
_IVF_D2 = (
    "list_sum(list_transform(range(1, 65), j -> "
    "(CAST(e.embedding[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE)) * "
    "(CAST(e.embedding[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE))))"
)


@register(
    "ann_ivf",
    f"""
    WITH cents AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_IVF_CENT_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),
    asg AS (
      SELECT cand_id, embedding, list_id FROM (
        SELECT e.vec_id AS cand_id, e.embedding, c.i AS list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_D2}, c.i) AS arn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    probes AS (
      SELECT e.vec_id AS query_id, e.embedding, c.i AS list_id,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_D2}, c.i) AS pr
      FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, c.cand_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM (SELECT query_id, embedding, list_id FROM probes WHERE pr <= 2) q
      JOIN (SELECT cand_id, embedding, list_id FROM asg) c
        ON q.list_id = c.list_id AND q.query_id <> c.cand_id
    )
    SELECT query_id, cand_id, cos, rn AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ann_ivf(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    by_id = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(_IVF_CENT_IDS)).collect()
    }
    centroids = [by_id[cid] for cid in _IVF_CENT_IDS]
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(queries, emb, k=5, n_lists=8, n_probe=2, centroids=centroids)


_SEM_DOT = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)
_SEM_NA = "sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))"
_SEM_NB = "sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))"


@register(
    "dedup_semantic",
    f"""
    WITH cents AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_IVF_CENT_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),
    asg AS (
      SELECT vec_id, embedding, list_id FROM (
        SELECT e.vec_id, e.embedding, c.i AS list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_D2}, c.i) AS arn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round({_SEM_DOT} / ({_SEM_NA} * {_SEM_NB}), 6) AS cos
      FROM asg a JOIN asg b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.b_id = e.vec_id AND p.cos >= 0.4)
    """,
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup ACTION (operators/similarity.py::
    semantic_dedup): embeddings clustered by the same sampled-point
    centroids as ann_ivf (plan-time constants shared verbatim with the
    oracle), within-cluster cosine pairs >= 0.4 treated as semantic
    duplicates, greedy min-id survivor per group. Returns the deduped
    vector set."""
    emb = T(spark, sf_dir, "embeddings")
    by_id = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(_IVF_CENT_IDS)).collect()
    }
    centroids = [by_id[cid] for cid in _IVF_CENT_IDS]
    return similarity.semantic_dedup(emb, centroids=centroids, threshold=0.4).select(
        "vec_id", "label"
    )


@register(
    "text_tokens_bpe",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_ws_tokens
    FROM documents
    """,
)
def text_tokens_bpe(spark, sf_dir):
    # token counting two ways: whitespace split and a BPE-ish
    # PRE-tokenizer regex (letter runs / digit runs / single punctuation
    # — the split that runs BEFORE learned merges), both pure codegen
    # expressions over the scan. Actual learned BPE lives in
    # operators/text.py::bpe_merges / bpe_segment (see text_bpe_vocab).
    docs = T(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        ).alias("n_bpe_tokens"),
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("n_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# Round-4 additions: repetition quality, decontamination, int8 quantization
# ---------------------------------------------------------------------------


@register(
    "text_repetition",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
               THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
               ELSE [] END) AS g
      FROM base
    ),
    c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
    a AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top,
                 SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
          FROM c GROUP BY doc_id)
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(top AS DOUBLE) / n_bigrams AS top_bigram_frac,
           CAST(dup AS DOUBLE) / n_bigrams AS dup_bigram_frac
    FROM a
    """,
)
def text_repetition(spark, sf_dir):
    # Gopher-style repetition signals (top-bigram / duplicate-bigram
    # fractions) — the boilerplate detector length heuristics miss
    return text.repetition_stats(T(spark, sf_dir, "documents"))


@register(
    "dedup_contamination",
    f"""
    WITH n AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles FROM n),
    bench AS (SELECT DISTINCT unnest(shingles) AS sh FROM sh WHERE doc_id < 10),
    cand AS (SELECT doc_id, unnest(shingles) AS sh FROM sh WHERE doc_id >= 10),
    hits AS (SELECT doc_id, COUNT(*) AS n_contaminated
             FROM cand JOIN bench USING (sh) GROUP BY doc_id),
    sizes AS (SELECT doc_id, len(shingles) AS n_shingles FROM sh WHERE doc_id >= 10)
    SELECT s.doc_id, s.n_shingles,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / s.n_shingles AS contamination_frac
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
)
def dedup_contamination(spark, sf_dir):
    # benchmark decontamination: docs 0-9 stand in for an eval suite; every
    # other doc reports its distinct-3-gram overlap with that suite
    docs = T(spark, sf_dir, "documents")
    return dedup.benchmark_contamination(
        docs.filter(F.col("doc_id") >= 10), docs.filter(F.col("doc_id") < 10)
    )


@register(
    "ann_quantize_int8",
    """
    WITH x AS (SELECT vec_id, label,
                      list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
               FROM embeddings),
    s AS (SELECT vec_id, label, x,
                 list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale FROM x),
    q AS (SELECT vec_id, label, x, scale,
            CASE WHEN scale = 0 THEN list_transform(x, v -> CAST(0 AS BIGINT))
                 ELSE list_transform(x, v -> CAST(floor(v / scale + 0.5) AS BIGINT)) END AS q
          FROM s)
    SELECT vec_id, label, scale,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           len(list_filter(q, v -> abs(v) = 127)) AS n_saturated,
           round(list_max(list_transform(range(1, len(q) + 1), i -> abs(q[i] * scale - x[i]))), 6)
             AS recon_err
    FROM q
    """,
)
def ann_quantize_int8(spark, sf_dir):
    # int8 embedding quantization diagnostics: scale, quantized checksum,
    # saturation count, max reconstruction error — scalar projections of
    # the full quantize/dequantize round trip (floor(x/scale+0.5) rule,
    # engine-identical; see operators/similarity.py::quantize_int8)
    emb = T(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    return similarity.dequantize_error(emb)


@register(
    "ann_mrl_energy",
    """
    WITH x AS (SELECT vec_id,
                      list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
               FROM embeddings),
    n AS (SELECT vec_id,
                 sqrt(list_sum(list_transform(x, v -> v * v))) AS full_n,
                 sqrt(list_sum(list_transform(x[1:16], v -> v * v))) AS n16,
                 sqrt(list_sum(list_transform(x[1:32], v -> v * v))) AS n32
          FROM x)
    SELECT vec_id,
           round(CASE WHEN full_n = 0 THEN NULL ELSE n16 / full_n END, 6) AS energy_16,
           round(CASE WHEN full_n = 0 THEN NULL ELSE n32 / full_n END, 6) AS energy_32
    FROM n
    """,
)
def ann_mrl_energy(spark, sf_dir):
    """Matryoshka-truncation energy report (operators/similarity.py::
    mrl_energy): per vector, ||v[:d]|| / ||v|| for d in (16, 32) — the
    exact cosine a d-dim prefix index preserves for that vector, i.e.
    the evidence to read before serving MRL-truncated embeddings
    (compose truncate_normalize with any ANN operator). One zero-shuffle
    projection."""
    return similarity.mrl_energy(T(spark, sf_dir, "embeddings"))


# Stratified-sampling thresholds shared verbatim by both engines (integer
# literals, computed once here — no float math at comparison time).
_SAMPLE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_SAMPLE_DEFAULT = 0.1
_SAMPLE_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {int((1 << 60) * r)}" for s, r in _SAMPLE_RATES.items())
    + f" ELSE {int((1 << 60) * _SAMPLE_DEFAULT)} END"
)


@register(
    "sample_stratified",
    f"""
    SELECT doc_id, source FROM documents
    WHERE CAST(('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          < {_SAMPLE_CASE}
    """,
)
def sample_stratified(spark, sf_dir):
    # corpus mixing: keep all of src0, half of src1, a quarter of src2, 10%
    # of everything else — decided by a pure hash of the doc id, so the
    # sample is stable under appends and identical in both engines
    return dedup.sample_stratified(
        T(spark, sf_dir, "documents"), _SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Training-data preparation (operators/prep.py)
# ---------------------------------------------------------------------------

# The synthetic documents contain no PII, so the query injects a
# deterministic PII suffix (email/IP/SSN/phone derived from doc_id) on BOTH
# sides before redacting — the redaction actually fires on every row instead
# of trivially matching on zero-hit text.
_PII_INJECT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.0.1 ssn 123-45-6789 tel 555-867-5309'"
)


@register(
    "text_pii_redact",
    f"""
    WITH injected AS (SELECT doc_id, {_PII_INJECT_SQL} AS text FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', 0)) AS INT) AS n_email,
      CAST(len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', 0)) AS INT) AS n_ssn,
      CAST(len(regexp_extract_all(text, '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', 0)) AS INT) AS n_phone,
      CAST(len(regexp_extract_all(text, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', 0)) AS INT) AS n_ipv4,
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
          '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
          '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', '<PHONE>', 'g'),
          '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g') AS text_redacted
    FROM injected
    """,
)
def text_pii_redact(spark, sf_dir):
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1 ssn 123-45-6789 tel 555-867-5309"),
        ).alias("text"),
    )
    return prep.pii_redact(docs)


@register(
    "text_chunk",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    ex AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks) - 8, 1), 24)) AS start
      FROM base
    )
    SELECT doc_id,
           CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, start, start + 31), ' ') AS chunk_text,
           CAST(len(list_slice(toks, start, start + 31)) AS BIGINT) AS n_tokens
    FROM ex
    WHERE len(list_slice(toks, start, start + 31)) > 0
    """,
)
def text_chunk(spark, sf_dir):
    """Context-window chunking: 32-token windows advancing by 24 (8-token
    overlap) — the tokenizer-facing fan-out, map-only at any scale."""
    return prep.chunk_tokens(
        T(spark, sf_dir, "documents"), chunk_size=32, stride=24
    )


_PACK_BUDGET, _PACK_BUCKETS = 128, 32

# shared recursive-CTE replay of the deterministic next-fit-decreasing
# packing; pack_sequences selects the assignment, pack_materialize joins
# the text back and concatenates per (bucket, bin)
_PACK_CTE = f"""
    WITH RECURSIVE sized AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % {_PACK_BUCKETS} AS bucket,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, bucket, n_tokens,
             row_number() OVER (PARTITION BY bucket ORDER BY n_tokens DESC, doc_id) AS rn
      FROM sized
    ),
    packed AS (
      SELECT doc_id, bucket, n_tokens, rn, CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.doc_id, o.bucket, o.n_tokens, o.rn,
             CASE WHEN p.fill + o.n_tokens <= {_PACK_BUDGET} THEN p.bin ELSE p.bin + 1 END AS bin,
             CASE WHEN p.fill + o.n_tokens <= {_PACK_BUDGET} THEN p.fill + o.n_tokens ELSE o.n_tokens END AS fill
      FROM ordered o JOIN packed p ON o.bucket = p.bucket AND o.rn = p.rn + 1
    )
"""


@register(
    "pack_sequences",
    _PACK_CTE
    + """
    SELECT doc_id, bucket, bin, n_tokens FROM packed
    """,
)
def pack_sequences(spark, sf_dir):
    """Greedy next-fit-decreasing sequence packing into 128-token training
    sequences, hash-bucketed 32 ways. The DuckDB oracle replays the exact
    same deterministic packing with a recursive CTE (next-fit is a
    sequential fold — the one prep op a window function can't express)."""
    return prep.pack_sequences(
        T(spark, sf_dir, "documents"), budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS
    )


@register(
    "pack_efficiency",
    _PACK_CTE
    + f"""
    , per_bin AS (
      SELECT bucket, bin, COUNT(*) AS docs, CAST(SUM(n_tokens) AS BIGINT) AS toks
      FROM packed GROUP BY bucket, bin
    )
    SELECT COUNT(*) AS n_bins,
           CAST(SUM(docs) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) * {_PACK_BUDGET} AS BIGINT) AS capacity,
           round(CAST(SUM(least(toks, {_PACK_BUDGET})) AS DOUBLE)
                 / CAST(COUNT(*) * {_PACK_BUDGET} AS DOUBLE), 6) AS fill_rate,
           CAST(SUM(CASE WHEN toks > {_PACK_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlong_bins
    FROM per_bin
    """,
)
def pack_efficiency(spark, sf_dir):
    """Padding-waste report (operators/prep.py::pack_efficiency) over the
    pack_sequences assignment — the metric that decides whether the
    budget/bucketing is right: fill_rate is the fraction of training
    capacity carrying real tokens (the rest is padding the training step
    pays for); overlong single-doc bins are truncation candidates. One
    integer-only aggregate over (bucket, bin) groups; the oracle replays
    the full recursive-CTE packing underneath."""
    a = prep.pack_sequences(
        T(spark, sf_dir, "documents"), budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS
    )
    return prep.pack_efficiency(a, _PACK_BUDGET)


@register(
    "dedup_winnow_pairs",
    _WINNOW_CTE
    + """
    , fps AS (SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM picks),
    sized AS (SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY doc_id) AS n FROM fps),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             COUNT(*) AS inter, MIN(a.n) AS na, MIN(b.n) AS nb
      FROM sized a JOIN sized b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id, CAST(inter AS DOUBLE) / least(na, nb) AS overlap
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / least(na, nb) >= 0.8
    """,
)
def dedup_winnow_pairs(spark, sf_dir):
    """MOSS-style substring-overlap pairs over winnowing fingerprints —
    containment (shared / smaller side), the partial-duplication detector
    whole-doc MinHash misses. Threshold 0.8: the synthetic word-soup
    corpus has massive incidental 5-gram overlap (median pair containment
    ~0.5), so only a high cut yields a selective, checkable pair set."""
    return text.winnow_overlap_pairs(
        T(spark, sf_dir, "documents"), threshold=0.8
    )


# ---------------------------------------------------------------------------
# Round-6 additions: line-level dedup, lexical retrieval, LM scoring,
# per-domain caps
# ---------------------------------------------------------------------------


@register(
    "dedup_lines",
    """
    WITH l AS (
      SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS pos
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)
    ),
    el AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
      FROM l WHERE length(line) >= 1
    ),
    kept AS (
      SELECT doc_id, pos, line FROM el WHERE rn = 1
      UNION ALL
      SELECT doc_id, pos, line FROM l WHERE length(line) < 1
    )
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
           COUNT(*) AS n_lines_kept
    FROM kept GROUP BY doc_id
    """,
)
def dedup_lines(spark, sf_dir):
    """CCNet-style corpus-level line dedup: keep the first occurrence of
    every distinct line corpus-wide, reassemble documents from their
    surviving lines (operators/dedup.py::dedup_corpus_lines). The oracle
    replays first-occurrence selection as a row_number window; the Spark
    plan uses the equivalent min(struct) hash aggregate, which survives
    boilerplate-line skew via map-side partial aggregation."""
    return dedup.dedup_corpus_lines(T(spark, sf_dir, "documents"))


@register(
    "text_unigram_logprob",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT SUM(cnt) AS total FROM vocab)
    SELECT doc_id, COUNT(*) AS n_tokens,
           round(avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS avg_logprob
    FROM tok JOIN vocab USING (tok), tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Corpus-unigram LM scoring (operators/text.py::unigram_logprob):
    mean token log-probability under the corpus's own unigram
    distribution — the cheap perplexity proxy for ranking crawl docs by
    linguistic typicality."""
    return text.unigram_logprob(T(spark, sf_dir, "documents"))


_BM25_TERMS = ("dup", "spark", "window")
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 10
_BM25_TF = ",\n           ".join(
    f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}" for i, t in enumerate(_BM25_TERMS)
)
_BM25_DF = ",\n           ".join(
    f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(len(_BM25_TERMS))
)
_BM25_SCORE = "\n         + ".join(
    f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * CAST(tf{i} AS DOUBLE)"
    f" * ({_BM25_K1} + 1.0)"
    f" / (CAST(tf{i} AS DOUBLE) + {_BM25_K1} * ((1.0 - {_BM25_B})"
    f" + {_BM25_B} * CAST(dl AS DOUBLE) / avgdl))"
    for i in range(len(_BM25_TERMS))
)

# the complete BM25 top-k statement, shared by search_bm25 and the hybrid
# RRF query (which embeds it as its lexical CTE)
_BM25_TOPK_SQL = f"""
    WITH tf AS (
      SELECT doc_id, len(toks) AS dl,
           {_BM25_TF}
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    ),
    stats AS (
      SELECT COUNT(*) AS n, avg(dl) AS avgdl,
           {_BM25_DF}
      FROM tf
    )
    SELECT doc_id,
           round({_BM25_SCORE}, 6) AS score
    FROM tf, stats
    WHERE {" OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))}
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_K}
"""


@register("search_bm25", _BM25_TOPK_SQL)
def search_bm25(spark, sf_dir):
    """BM25 top-k lexical retrieval (operators/retrieval.py::bm25_topk),
    Lucene idf variant, deterministic 6-dp/id tie-breaking. The Spark
    plan has ZERO hash-partitioned exchanges: per-doc tf/dl are codegen
    projections, corpus stats one broadcast 1-row aggregate, top-k a
    TakeOrderedAndProject (pinned in tests/test_plans.py)."""
    return retrieval.bm25_topk(
        T(spark, sf_dir, "documents"),
        list(_BM25_TERMS),
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
    )


_BM25_IDX_TF = ",\n             ".join(
    f"SUM(CASE WHEN p.term = '{t}' THEN p.tf ELSE 0 END) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_IDX_DF = ",\n             ".join(
    f"(SELECT COUNT(*) FROM postings WHERE term = '{t}') AS df{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_TERMS_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "search_bm25_indexed",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    doc_stats AS (SELECT doc_id, len(toks) AS dl FROM base),
    postings AS (
      SELECT tok AS term, doc_id, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
      GROUP BY tok, doc_id
    ),
    stats AS (
      SELECT COUNT(*) AS n, avg(dl) AS avgdl,
             {_BM25_IDX_DF}
      FROM doc_stats
    ),
    piv AS (
      SELECT p.doc_id, MIN(s.dl) AS dl,
             {_BM25_IDX_TF}
      FROM postings p JOIN doc_stats s USING (doc_id)
      WHERE p.term IN ({_BM25_TERMS_IN})
      GROUP BY p.doc_id
    )
    SELECT doc_id,
           round({_BM25_SCORE}, 6) AS score
    FROM piv, stats
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_K}
    """,
)
def search_bm25_indexed(spark, sf_dir):
    """BM25 top-k against the persistent inverted-index artifact
    (operators/retrieval.py::bm25_index + bm25_lookup): same query,
    terms, and scores as search_bm25, but the query plan reads posting
    lists + doc stats instead of re-tokenizing the corpus — the shape a
    repeated-search workload keeps on disk (postings bucketed by term,
    doc_stats by doc_id). The oracle builds the identical index in SQL
    and replays the identical fixed-order scoring."""
    postings, doc_stats = retrieval.bm25_index(T(spark, sf_dir, "documents"))
    return retrieval.bm25_lookup(
        postings,
        doc_stats,
        list(_BM25_TERMS),
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
    )


@register(
    "sample_domain_cap",
    """
    WITH r AS (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, text, lang, source, n_chars FROM r WHERE rn <= 10
    """,
)
def sample_domain_cap(spark, sf_dir):
    """Hard per-domain document cap (operators/dedup.py::cap_per_stratum):
    at most 10 docs per source, deterministically the 10 smallest ids —
    the RefinedWeb/C4-style mega-domain guard that rate-based sampling
    can't express."""
    return dedup.cap_per_stratum(T(spark, sf_dir, "documents"), n_max=10)


# URL canonicalization: synthetic messy URLs built from doc_id in BOTH
# engines, canonicalized by the character-identical regex/array pipeline.
_URL_STRIP_IN = ", ".join(f"'{p}'" for p in (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "mc_cid", "mc_eid", "ref",
))


@register(
    "text_url_canonicalize",
    f"""
    WITH u AS (
      SELECT doc_id,
             'HTTP://Example.COM:80/Mixed/Case/' || CAST(doc_id AS VARCHAR)
             || '/?utm_source=news&z=1&id=' || CAST(doc_id AS VARCHAR)
             || '&fbclid=abc#frag' AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest,
             regexp_extract(regexp_replace(url, '#.*$', ''), '\\?(.*)$', 1) AS query
      FROM u
    ),
    norm AS (
      SELECT doc_id, scheme,
             CASE WHEN scheme = 'http'
                  THEN regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':80$', '')
                  WHEN scheme = 'https'
                  THEN regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':443$', '')
                  ELSE lower(regexp_extract(rest, '^([^/?#]*)', 1)) END AS auth,
             CASE WHEN regexp_replace(regexp_extract(rest, '^[^/?#]*([^?#]*)', 1), '/+$', '') = ''
                  THEN '/' ELSE regexp_replace(regexp_extract(rest, '^[^/?#]*([^?#]*)', 1), '/+$', '') END AS path,
             list_sort(list_filter(string_split(query, '&'),
                       p -> p <> '' AND NOT (string_split(p, '=')[1] IN ({_URL_STRIP_IN})))) AS kept
      FROM parts
    )
    SELECT doc_id,
           scheme || '://' || auth || path ||
           CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS url
    FROM norm
    """,
)
def text_url_canonicalize(spark, sf_dir):
    """URL canonicalization for crawl dedup (operators/text.py::
    url_canonicalize): lowercase scheme/host, default-port and fragment
    strip, tracking params removed, survivors sorted, trailing slashes
    trimmed — on synthetic messy URLs derived from doc_id so both
    engines canonicalize the identical inputs."""
    docs = T(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTP://Example.COM:80/Mixed/Case/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=news&z=1&id="),
        F.col("doc_id").cast("string"),
        F.lit("&fbclid=abc#frag"),
    )
    return docs.select("doc_id", text.url_canonicalize(url).alias("url"))


# Mojibake repair: a fixed corrupted suffix (clean text round-tripped
# through the UTF-8-as-cp1252 bug in Python, the same derivation as the
# repair table) is appended to every doc, then the full repair chain runs
# in BOTH engines; the value hash proves the ~120-entry replace chain is
# byte-identical cross-engine. Only round-trippable codepoints appear in
# the suffix (U+201D etc. hit undefined cp1252 slots and cannot occur as
# this mojibake form at all).
_MOJI_CLEAN = " café — “quoted… naïve™ 100€ niño"
_MOJI_DIRTY = _MOJI_CLEAN.encode("utf-8").decode("cp1252")


def _sqlq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _moji_repair_sql(expr: str) -> str:
    for moji, fixed in text.MOJIBAKE_TABLE:
        expr = f"replace({expr}, {_sqlq(moji)}, {_sqlq(fixed)})"
    return expr


@register(
    "text_fix_mojibake",
    f"""
    SELECT doc_id,
           {_moji_repair_sql(f"coalesce(text, '') || {_sqlq(_MOJI_DIRTY)}")} AS text
    FROM documents
    """,
)
def text_fix_mojibake(spark, sf_dir):
    """UTF-8-misread-as-cp1252 mojibake repair (operators/text.py::
    fix_mojibake, the ftfy staple as a codegen replace chain): every doc
    gets a deterministically corrupted suffix appended, then the repair
    chain must restore it byte-for-byte in both engines."""
    docs = T(spark, sf_dir, "documents")
    dirty = F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(_MOJI_DIRTY))
    return docs.select("doc_id", text.fix_mojibake(dirty).alias("text"))


def _strip_html_sql(expr: str) -> str:
    """DuckDB replay of operators/text.py::strip_html — the identical
    RE2-compatible pattern sequence and entity-replace chain."""
    e = f"regexp_replace({expr}, '(?s)<!--.*?-->', ' ', 'g')"
    e = f"regexp_replace({e}, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g')"
    e = f"regexp_replace({e}, '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g')"
    e = (
        f"regexp_replace({e}, "
        "'(?i)</(?:p|div|li|h[1-6]|tr|table|ul|ol|blockquote)\\s*>|<(?:br|hr)\\s*/?>',"
        " chr(10), 'g')"
    )
    e = f"regexp_replace({e}, '<[^>]+>', ' ', 'g')"
    for ent, ch in text.HTML_ENTITIES:
        e = f"replace({e}, {_sqlq(ent)}, {_sqlq(ch)})"
    e = f"regexp_replace({e}, '[ \\t]+', ' ', 'g')"
    e = f"regexp_replace({e}, ' ?\\n ?', chr(10), 'g')"
    e = f"regexp_replace({e}, '\\n{{2,}}', chr(10), 'g')"
    return f"regexp_replace({e}, '^\\s+|\\s+$', '', 'g')"


_HTML_WRAP_SQL = (
    "'<html><head><style>p{color:red}</style></head><body><!-- ' || lang"
    " || ' --><h1>' || source || ' &amp; co</h1><p>' || coalesce(text, '')"
    " || '</p><br><script>var x=1;</script></body></html>'"
)


@register(
    "text_strip_html",
    f"""
    SELECT doc_id, {_strip_html_sql(_HTML_WRAP_SQL)} AS text
    FROM documents
    """,
)
def text_strip_html(spark, sf_dir):
    """HTML-to-text crawl ingestion (operators/text.py::strip_html):
    every document is wrapped in synthetic markup — comments, style and
    script blocks, headings, block tags, entities including the
    double-escaped &amp;lt; trap — and both engines must produce the
    byte-identical stripped text (tags out, block structure to
    newlines, fixed entity table decoded, whitespace normalized)."""
    docs = T(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><style>p{color:red}</style></head><body><!-- "),
        F.col("lang"),
        F.lit(" --><h1>"),
        F.col("source"),
        F.lit(" &amp; co</h1><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p><br><script>var x=1;</script></body></html>"),
    )
    return docs.select("doc_id", text.strip_html(html).alias("text"))


# q-digest oracle: `levels` chained CTE rounds replaying the bottom-up
# family compression bit-for-bit (integer counts, integer thresholds,
# integer rank arithmetic — classic q-digest has no randomness), then the
# post-order quantile scan. Spark side: operators/sketches.py::qdigest_*.
_QD_LEVELS, _QD_K = 8, 16
_QD_QS = (0.25, 0.5, 0.75, 0.9)


def _qdigest_round_sql(r: int) -> str:
    d = _QD_LEVELS + 1 - r  # round r processes children at depth d
    c_lo, c_hi = 1 << d, 1 << (d + 1)
    return f"""
    fam{r} AS MATERIALIZED (
      SELECT COALESCE(c.pid, p.id) AS pid,
             COALESCE(c.csum, 0) + COALESCE(p.cnt, 0) AS total,
             p.cnt AS pcnt
      FROM (SELECT id // 2 AS pid, SUM(cnt) AS csum FROM m{r - 1}
            WHERE id >= {c_lo} AND id < {c_hi} GROUP BY id // 2) c
      FULL JOIN (SELECT id, cnt FROM m{r - 1}
                 WHERE id >= {c_lo // 2} AND id < {c_lo}) p ON c.pid = p.id
    ),
    m{r} AS MATERIALIZED (
      SELECT id, cnt FROM m{r - 1} WHERE id >= {c_hi} OR id < {c_lo // 2}
      UNION ALL
      SELECT c.id, c.cnt FROM m{r - 1} c JOIN fam{r} f ON c.id // 2 = f.pid
        WHERE c.id >= {c_lo} AND c.id < {c_hi} AND f.total > (SELECT t FROM thr)
      UNION ALL
      SELECT pid AS id, total AS cnt FROM fam{r} WHERE total <= (SELECT t FROM thr)
      UNION ALL
      SELECT pid AS id, pcnt AS cnt FROM fam{r}
        WHERE total > (SELECT t FROM thr) AND pcnt IS NOT NULL
    )"""


_QD_W = f"(1 << ({_QD_LEVELS} - (length(bin(id)) - 1)))"
_QD_HI = f"((id - (1 << (length(bin(id)) - 1))) * {_QD_W} + {_QD_W})"

_QDIGEST_SQL = (
    f"""
    WITH vals AS (
      SELECT CAST(len({_TOKS_SQL}) AS BIGINT) AS v FROM documents
    ),
    vv AS MATERIALIZED (SELECT v FROM vals WHERE v IS NOT NULL),
    tot AS (SELECT COUNT(*) AS n FROM vv),
    thr AS (SELECT GREATEST(1, n // {_QD_K}) AS t FROM tot),
    m0 AS MATERIALIZED (SELECT {1 << _QD_LEVELS} + v AS id, COUNT(*) AS cnt FROM vv GROUP BY v),
    """
    + ",".join(_qdigest_round_sql(r) for r in range(1, _QD_LEVELS + 1))
    + f""",
    ann AS (
      SELECT id, cnt, {_QD_HI} AS hi, {_QD_W} AS w FROM m{_QD_LEVELS}
    ),
    cum AS (
      SELECT *, SUM(cnt) OVER (ORDER BY hi, w, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM ann
    ),
    qf AS (SELECT unnest([{", ".join(str(q) for q in _QD_QS)}]) AS q,
                  unnest([{", ".join(str(int(round(q * 1_000_000))) for q in _QD_QS)}]) AS num)
    SELECT q, CAST(hi - 1 AS BIGINT) AS value FROM (
      SELECT qf.q, c.hi, c.w, c.id,
             row_number() OVER (PARTITION BY qf.q ORDER BY c.hi, c.w, c.id) AS rn
      FROM qf, tot, cum c
      WHERE c.run >= (tot.n * qf.num + 999999) // 1000000
    ) WHERE rn = 1
    """
)


@register("agg_qdigest_quantiles", _QDIGEST_SQL)
def agg_qdigest_quantiles(spark, sf_dir):
    """q-digest quantile sketch (operators/sketches.py::qdigest_build /
    qdigest_quantiles, Shrivastava et al. 2004): token-count quartiles +
    p90 of the corpus answered from a <= 3k-node mergeable sketch. The
    oracle replays the bottom-up family compression as 8 chained CTE
    rounds and the post-order rank scan — the whole structure is
    deterministic integer arithmetic, so like the HLL/Bloom/CMS tier it
    is bit-exact cross-engine (rank arithmetic in integer millionths;
    a float ceil(q*N) differs between DuckDB DECIMAL and Spark DOUBLE
    literals at rank boundaries)."""
    docs = T(spark, sf_dir, "documents")
    sized = docs.select(F.size(text.tokens("text")).alias("n_tokens"))
    dig = sketches.qdigest_build(sized, "n_tokens", levels=_QD_LEVELS, k=_QD_K)
    return sketches.qdigest_quantiles(dig, list(_QD_QS), levels=_QD_LEVELS)


# Learned-BPE oracle: n_merges chained CTE rounds, each deriving the next
# most-frequent adjacent symbol pair from scratch over the same
# per-symbol-delimited word representation the Spark trainer uses
# (operators/text.py::_bpe_spaced — " a  b  c ", so a merge is a plain
# left-to-right string replace in BOTH engines).
_BPE_N = 8


def _bpe_round_sql(r: int) -> str:
    return f"""
    p{r} AS (
      SELECT pair, SUM(cnt) AS c FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
                      i -> syms[i] || ' ' || syms[i+1])) AS pair, cnt
        FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS syms, cnt
              FROM w{r - 1})
      ) GROUP BY pair
    ),
    t{r} AS (SELECT {r} AS rank, pair, c FROM p{r} ORDER BY c DESC, pair LIMIT 1),
    w{r} AS (
      SELECT replace(s, ' ' || replace(pair, ' ', '  ') || ' ',
                     ' ' || replace(pair, ' ', '') || ' ') AS s, cnt
      FROM w{r - 1}, t{r}
    )"""


_BPE_VOCAB_SQL = (
    f"""
    WITH wf AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents) GROUP BY w
    ),
    w0 AS (SELECT regexp_replace(w, '(.)', ' \\1 ', 'g') AS s, cnt FROM wf),
    """
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_N + 1))
    + f"""
    SELECT rank, split_part(pair, ' ', 1) AS lhs, split_part(pair, ' ', 2) AS rhs,
           CAST(c AS BIGINT) AS pair_count
    FROM ({" UNION ALL ".join(f"SELECT * FROM t{r}" for r in range(1, _BPE_N + 1))})
    """
)


@register("text_bpe_vocab", _BPE_VOCAB_SQL)
def text_bpe_vocab(spark, sf_dir):
    """Learned BPE vocabulary training (operators/text.py::bpe_merges,
    Sennrich et al. 2016): the first 8 merge rules derived from the
    corpus word-frequency table, deterministic (count desc, pair asc)
    tie-breaks. The oracle re-derives the identical merge sequence from
    scratch with 8 chained CTE rounds over the same spaced-string
    representation — it checks the TRAINING, not a replay of given
    merges."""
    return text.bpe_merges(T(spark, sf_dir, "documents"), n_merges=_BPE_N)


# train -> apply in one statement: the same t1..t8 merge CTEs, applied to
# every document's tokens as a nested literal-replace chain inside a list
# lambda (the identical spaced-string formulation bpe_segment uses).
def _bpe_apply_expr() -> str:
    expr = r"regexp_replace(tok, '(.)', ' \1 ', 'g')"
    for r in range(1, _BPE_N + 1):
        expr = (
            f"replace({expr}, ' ' || replace(t{r}.pair, ' ', '  ') || ' ', "
            f"' ' || replace(t{r}.pair, ' ', '') || ' ')"
        )
    return f"list_filter(string_split({expr}, ' '), x -> x <> '')"


_BPE_SEGMENT_SQL = (
    f"""
    WITH wf AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents) GROUP BY w
    ),
    w0 AS (SELECT regexp_replace(w, '(.)', ' \\1 ', 'g') AS s, cnt FROM wf),
    """
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_N + 1))
    + f""",
    base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    seg AS (
      SELECT b.doc_id,
             flatten(list_transform(b.toks, tok -> {_bpe_apply_expr()})) AS bpe
      FROM base b, {", ".join(f"t{r}" for r in range(1, _BPE_N + 1))}
    )
    SELECT doc_id, array_to_string(bpe, ' ') AS bpe_text,
           CAST(len(bpe) AS BIGINT) AS n_bpe_tokens
    FROM seg
    """
)


@register("text_bpe_segment", _BPE_SEGMENT_SQL)
def text_bpe_segment(spark, sf_dir):
    """The full BPE cycle — train on the corpus, segment the corpus with
    the learned merges (operators/text.py::bpe_merges + bpe_segment).
    The oracle re-derives the merge sequence AND re-applies it per token
    in one SQL statement, so a drift anywhere in train or apply breaks
    the hash. Output is the space-joined subword stream per doc (arrays
    are normalized to strings for robust cross-engine comparison)."""
    docs = T(spark, sf_dir, "documents")
    merges = [
        (r["lhs"], r["rhs"])
        for r in text.bpe_merges(docs, n_merges=_BPE_N).collect()
    ]
    seg = text.bpe_segment(docs, merges)
    return seg.select(
        "doc_id",
        F.concat_ws(" ", "bpe_tokens").alias("bpe_text"),
        "n_bpe_tokens",
    )


_SPAN_K = 8


@register(
    "dedup_spans",
    f"""
    WITH toked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tokrow AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok
      FROM toked
    ),
    grams AS (
      SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS pos,
             unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
                    i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS fp
      FROM toked WHERE len(toks) >= {_SPAN_K}
    ),
    dup AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY fp) AS cnt
      FROM grams
    ),
    covered AS (
      SELECT DISTINCT doc_id, tpos FROM (
        SELECT doc_id, unnest(range(pos, pos + {_SPAN_K})) AS tpos
        FROM dup WHERE cnt >= 2 AND rn > 1
      )
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tokrow t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.tpos
      WHERE c.doc_id IS NULL
    )
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
           COUNT(*) AS n_tokens_kept
    FROM kept GROUP BY doc_id
    """,
)
def dedup_spans(spark, sf_dir):
    """Exact substring-span dedup (Lee et al. 2022 ExactSubstr,
    operators/dedup.py::dedup_spans): remove every duplicated >= 8-token
    span corpus-wide while keeping the documents — duplicated k-gram
    occurrences (all but the (id, pos)-first) mark covered token
    positions, survivors reassemble in order. The oracle replays the
    identical keep-first coverage semantics with window functions over
    the same md5 k-gram fingerprints."""
    return dedup.dedup_spans(T(spark, sf_dir, "documents"), k=_SPAN_K)


@register(
    "prep_quality_funnel",
    f"""
    WITH base AS (SELECT doc_id, lang, n_chars, {_TOKS_SQL} AS toks FROM documents),
    per AS (
      SELECT CASE
               WHEN NOT COALESCE(n_chars >= 200, FALSE) THEN 1
               WHEN NOT COALESCE(len(toks) >= 30, FALSE) THEN 2
               WHEN NOT COALESCE(
                 (CAST(length(array_to_string(toks, '')) AS DOUBLE)
                  / greatest(len(toks), 1)) BETWEEN 3 AND 10, FALSE) THEN 3
               WHEN NOT COALESCE(lang = 'en', FALSE) THEN 4
               ELSE 5 END AS ff
      FROM base
    ),
    counts AS (SELECT ff, COUNT(*) AS n FROM per GROUP BY ff),
    stages AS (
      SELECT * FROM (VALUES (1, 'min_chars'), (2, 'min_tokens'),
                            (3, 'mean_word_len'), (4, 'lang_en')) AS t(stage, name)
    ),
    tot AS (SELECT COUNT(*) AS total FROM documents),
    funnel AS (
      SELECT CAST(stage AS BIGINT) AS stage, name,
             CAST(total - COALESCE(SUM(COALESCE(n, 0)) OVER (
               ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_in,
             CAST(COALESCE(n, 0) AS BIGINT) AS n_dropped
      FROM stages LEFT JOIN counts ON counts.ff = stages.stage CROSS JOIN tot
    )
    SELECT stage, name, n_in,
           n_in - n_dropped AS n_out,
           n_dropped,
           round(CASE WHEN n_in > 0
                 THEN CAST(n_in - n_dropped AS DOUBLE) / CAST(n_in AS DOUBLE) END,
                 6) AS retention
    FROM funnel ORDER BY stage
    """,
)
def prep_quality_funnel(spark, sf_dir):
    """Gate-by-gate retention report (operators/prep.py::quality_funnel)
    over a realistic 4-gate quality pipeline — min chars, min tokens,
    Gopher-style mean-word-length band, language gate — applied
    cumulatively in pipeline order. ONE corpus pass regardless of gate
    count (each doc maps to its first failing gate in a single chained
    CASE projection); the funnel arithmetic runs over the 4-row count
    table. The tokenize tree is aliased once in a stacked projection so
    the two token-based gates share it."""
    docs = T(spark, sf_dir, "documents")
    base = docs.select("*", text.tokens("text").alias("__toks"))
    mean_wl = F.length(F.concat_ws("", F.col("__toks"))).cast("double") / F.greatest(
        F.size("__toks"), F.lit(1)
    )
    gates = [
        ("min_chars", F.col("n_chars") >= 200),
        ("min_tokens", F.size("__toks") >= 30),
        ("mean_word_len", (mean_wl >= 3) & (mean_wl <= 10)),
        ("lang_en", F.col("lang") == "en"),
    ]
    return prep.quality_funnel(base, gates)


@register(
    "text_gopher_quality",
    r"""
    WITH b AS (SELECT doc_id, coalesce(text, '') AS c FROM documents),
    base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(c, '\s+'), w -> w <> '') AS w,
             string_split(c, chr(10)) AS l,
             length(c) - length(replace(c, '#', '')) AS nhash,
             CAST((length(c) - length(replace(c, '...', ''))) / 3 AS BIGINT) AS nell
      FROM b
    ),
    sig AS (
      SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        round(coalesce(list_sum(list_transform(w, x -> length(x))), 0)
              / CAST(greatest(len(w), 1) AS DOUBLE), 6) AS mean_word_len,
        round((nhash + nell) / CAST(greatest(len(w), 1) AS DOUBLE), 6) AS symbol_ratio,
        round(len(list_filter(l, x -> regexp_matches(trim(x), '^[-*•‣▪]')))
              / CAST(greatest(len(l), 1) AS DOUBLE), 6) AS bullet_frac,
        round(len(list_filter(l, x -> ends_with(rtrim(x), '...')))
              / CAST(greatest(len(l), 1) AS DOUBLE), 6) AS ellipsis_frac,
        round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
              / CAST(greatest(len(w), 1) AS DOUBLE), 6) AS alpha_frac
      FROM base
    )
    SELECT *,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8) AS passes
    FROM sig
    """,
)
def text_gopher_quality(spark, sf_dir):
    """Gopher quality signals as a per-doc report (operators/text.py::
    gopher_quality_report, Rae et al. 2021 Table A1): word-count and
    mean-word-length windows, symbol-to-word ratio, bullet/ellipsis
    line fractions, alphabetic-word fraction, plus the composite
    `passes` verdict — re-thresholdable without re-scanning. 6-dp
    ratios keep both engines hash-identical."""
    return text.gopher_quality_report(T(spark, sf_dir, "documents"))


@register(
    "text_c4_lines",
    """
    WITH l AS (
      SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), ln ->
               length(trim(ln)) > 0
               AND len(list_filter(regexp_split_to_array(trim(ln), ' +'), w -> w <> '')) >= 3
               AND NOT contains(lower(ln), 'javascript')) AS kept
      FROM documents
    )
    SELECT doc_id, array_to_string(kept, chr(10)) AS text,
           CAST(len(kept) AS BIGINT) AS n_lines_kept
    FROM l
    WHERE len(kept) >= 1
      AND NOT contains(lower(text), 'lorem ipsum')
      AND NOT contains(lower(text), '{')
    """,
)
def text_c4_lines(spark, sf_dir):
    """C4-style line-grain structural cleaning (operators/text.py::
    c4_line_filter, Raffel et al. 2020 §2.2): word-count floor, banned
    line/page markers, kept-line page floor, lines rejoined. The
    terminal-punctuation rule is relaxed here because the synthetic
    corpus is single-line prose without sentence punctuation (the rule
    itself is pinned on crafted docs in tests/test_operators_ext.py);
    everything else runs at the paper's shape."""
    return text.c4_line_filter(
        T(spark, sf_dir, "documents"),
        min_words_per_line=3,
        min_lines=1,
        require_terminal_punct=False,
    )


@register(
    "dedup_spans_cross_doc",
    f"""
    WITH toked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tokrow AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok
      FROM toked
    ),
    grams AS (
      SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS pos,
             unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
                    i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS fp
      FROM toked WHERE len(toks) >= {_SPAN_K}
    ),
    gd AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM grams GROUP BY fp),
    dup AS (
      SELECT g.doc_id, g.pos, gd.nd,
             row_number() OVER (PARTITION BY g.fp ORDER BY g.doc_id, g.pos) AS rn,
             count(*) OVER (PARTITION BY g.fp) AS cnt
      FROM grams g JOIN gd USING (fp)
    ),
    covered AS (
      SELECT DISTINCT doc_id, tpos FROM (
        SELECT doc_id, unnest(range(pos, pos + {_SPAN_K})) AS tpos
        FROM dup WHERE cnt >= 2 AND rn > 1 AND nd >= 2
      )
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tokrow t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.tpos
      WHERE c.doc_id IS NULL
    )
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
           COUNT(*) AS n_tokens_kept
    FROM kept GROUP BY doc_id
    """,
)
def dedup_spans_cross_doc(spark, sf_dir):
    """Span dedup with the cross-document exemption
    (operators/dedup.py::dedup_spans(cross_doc_only=True), Lee et al.'s
    primary use case): a k-gram that never leaves one document is exempt
    — a doc's own refrain survives — while cross-document boilerplate
    still keeps only its global first occurrence. The oracle adds an
    exact distinct-doc count per fingerprint to the keep-first replay."""
    return dedup.dedup_spans(
        T(spark, sf_dir, "documents"), k=_SPAN_K, cross_doc_only=True
    )


# Offset-preserving span dedup: tokens are maximal ASCII-alnum runs in the
# RAW text (identity = lower(run)); offsets are 0-based codepoint [start,
# end). The oracle replays the full offset arithmetic: per-token start =
# len(sep_0) + running sum of (token + following separator) lengths, then
# the identical keep-first k-gram coverage, then gaps-and-islands over
# covered token positions.
_RAW_SPAN_BASE_SQL = f"""
    base AS (
      SELECT doc_id, text,
             regexp_extract_all(text, '[A-Za-z0-9]+') AS tr,
             regexp_split_to_array(text, '[A-Za-z0-9]+') AS seps
      FROM documents
    ),
    toked AS (SELECT doc_id, list_transform(tr, t -> lower(t)) AS toks FROM base),
    tokoff AS (
      SELECT doc_id, pos,
             CAST(lead + coalesce(sum(tl + sl) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start,
             tl
      FROM (
        SELECT doc_id, length(seps[1]) AS lead,
               unnest(range(1, len(tr) + 1)) AS pos,
               unnest(list_transform(range(1, len(tr) + 1), i -> length(tr[i]))) AS tl,
               unnest(list_transform(range(1, len(tr) + 1), i -> length(seps[i + 1]))) AS sl
        FROM base
      )
    ),
    grams AS (
      SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS pos,
             unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
                    i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS fp
      FROM toked WHERE len(toks) >= {_SPAN_K}
    ),
    dup AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY fp) AS cnt
      FROM grams
    ),
    covered AS (
      SELECT DISTINCT doc_id, tpos FROM (
        SELECT doc_id, unnest(range(pos, pos + {_SPAN_K})) AS tpos
        FROM dup WHERE cnt >= 2 AND rn > 1
      )
    ),
    spans AS (
      SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
             CAST(max(start + tl) AS BIGINT) AS span_end,
             count(*) AS n_tokens
      FROM (
        SELECT c.doc_id, c.tpos, t.start, t.tl,
               c.tpos - row_number() OVER (PARTITION BY c.doc_id ORDER BY c.tpos) AS g
        FROM covered c JOIN tokoff t ON c.doc_id = t.doc_id AND c.tpos = t.pos
      ) GROUP BY doc_id, g
    )"""


@register(
    "dedup_spans_offsets",
    f"""
    WITH {_RAW_SPAN_BASE_SQL}
    SELECT doc_id, span_start, span_end, n_tokens FROM spans
    """,
)
def dedup_spans_offsets(spark, sf_dir):
    """Offset-preserving exact substring-span dedup
    (operators/dedup.py::dedup_spans_offsets): every maximal removed
    region as 0-based [start, end) codepoint offsets into the RAW text —
    the artifact a production excision job ships (Lee et al. 2022 edit
    raw bytes). The oracle replays the token-offset arithmetic, the
    keep-first k-gram coverage, and the islands merge."""
    return dedup.dedup_spans_offsets(T(spark, sf_dir, "documents"), k=_SPAN_K)


@register(
    "dedup_spans_raw",
    f"""
    WITH {_RAW_SPAN_BASE_SQL},
    bounds AS (
      SELECT doc_id, span_start AS ge,
             coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) AS gs
      FROM spans
    ),
    gaps AS (
      SELECT doc_id, gs, ge FROM bounds
      UNION ALL
      SELECT s.doc_id, max(s.span_end) AS gs, any_value(length(b.text)) AS ge
      FROM spans s JOIN base b USING (doc_id) GROUP BY s.doc_id
    ),
    cutdocs AS (
      SELECT g.doc_id,
             string_agg(substr(b.text, CAST(g.gs + 1 AS INT), CAST(g.ge - g.gs AS INT)),
                        '' ORDER BY g.gs) AS text
      FROM gaps g JOIN base b USING (doc_id) GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CASE WHEN c.doc_id IS NULL THEN d.text ELSE c.text END AS text,
           coalesce(n.n, 0) AS n_spans_removed
    FROM documents d
    LEFT JOIN cutdocs c USING (doc_id)
    LEFT JOIN (SELECT doc_id, count(*) AS n FROM spans GROUP BY doc_id) n USING (doc_id)
    """,
)
def dedup_spans_raw(spark, sf_dir):
    """Span dedup applied to the RAW text
    (operators/dedup.py::dedup_spans_raw): removed regions excised,
    casing/punctuation/layout byte-for-byte intact, every doc kept. The
    oracle reassembles the survivors from the gap complement of the
    removed spans."""
    return dedup.dedup_spans_raw(T(spark, sf_dir, "documents"), k=_SPAN_K)


@register(
    "dedup_paragraphs",
    """
    WITH l AS (
      SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS pos
      FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ls
            FROM documents)
    ),
    el AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
      FROM l WHERE length(line) >= 1
    ),
    kept AS (
      SELECT doc_id, pos, line FROM el WHERE rn = 1
      UNION ALL
      SELECT doc_id, pos, line FROM l WHERE length(line) < 1
    )
    SELECT doc_id, string_agg(line, chr(10) || chr(10) ORDER BY pos) AS text,
           COUNT(*) AS n_lines_kept
    FROM kept GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark, sf_dir):
    """Paragraph-grain corpus dedup (operators/dedup.py::
    dedup_corpus_lines with sep="\\n\\n"): first occurrence of each
    distinct blank-line-separated block corpus-wide — the grain between
    line dedup (strips repeated single lines) and span dedup (edits
    inside blocks); on single-paragraph docs it degrades to exact
    first-occurrence doc dedup, which is what the synthetic corpus
    exercises."""
    return dedup.dedup_corpus_lines(
        T(spark, sf_dir, "documents"), sep="\n\n"
    )


@register(
    "text_span_novelty",
    f"""
    WITH toked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
                    i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS fp
      FROM toked WHERE len(toks) >= {_SPAN_K}
    ),
    flagged AS (
      SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) >= 2 AS dup
      FROM grams
    )
    SELECT doc_id, COUNT(*) AS n_grams,
           round(SUM(CASE WHEN dup THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
             AS dup_frac
    FROM flagged GROUP BY doc_id
    """,
)
def text_span_novelty(spark, sf_dir):
    """Span-grain duplication pressure (operators/dedup.py::
    span_novelty): per doc, the fraction of 8-token gram occurrences
    duplicated corpus-wide — the diagnostic that predicts dedup_spans
    removal volume and flags stitched-from-seen-content docs."""
    return dedup.span_novelty(T(spark, sf_dir, "documents"), k=_SPAN_K)


@register(
    "dedup_spans_incremental",
    f"""
    WITH ctoked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
                    WHERE doc_id % 2 = 0),
    corpus_fp AS (
      SELECT DISTINCT unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
             i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS gram_fp
      FROM ctoked WHERE len(toks) >= {_SPAN_K}
    ),
    btoked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
               WHERE doc_id % 2 = 1),
    btok AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok
      FROM btoked
    ),
    bgrams AS (
      SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS pos,
             unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
                    i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS fp
      FROM btoked WHERE len(toks) >= {_SPAN_K}
    ),
    fresh AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY fp) AS cnt
      FROM bgrams WHERE fp NOT IN (SELECT gram_fp FROM corpus_fp)
    ),
    dup AS (
      SELECT doc_id, pos FROM bgrams
      WHERE fp IN (SELECT gram_fp FROM corpus_fp)
      UNION ALL
      SELECT doc_id, pos FROM fresh WHERE cnt >= 2 AND rn > 1
    ),
    covered AS (
      SELECT DISTINCT doc_id, tpos FROM (
        SELECT doc_id, unnest(range(pos, pos + {_SPAN_K})) AS tpos FROM dup
      )
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM btok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.tpos
      WHERE c.doc_id IS NULL
    )
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
           COUNT(*) AS n_tokens_kept
    FROM kept GROUP BY doc_id
    """,
)
def dedup_spans_incremental(spark, sf_dir):
    """Incremental span dedup exercised the way a nightly job runs it
    (operators/dedup.py::span_index/dedup_batch_spans): even-id docs are
    the indexed corpus, odd-id docs the daily batch; batch k-grams whose
    fingerprint is indexed drop as corpus-first duplicates, batch-fresh
    grams keep-first within the batch, docs reassemble. Per-day cost is
    O(batch grams) — the corpus text is never re-tokenized."""
    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    kept, _new_fps = dedup.dedup_batch_spans(
        batch, dedup.span_index(corpus, k=_SPAN_K), k=_SPAN_K
    )
    return kept


@register(
    "dedup_decontam_spans",
    f"""
    WITH btoked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
                    WHERE doc_id < 10),
    bench_fp AS (
      SELECT DISTINCT unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
             i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS gram_fp
      FROM btoked WHERE len(toks) >= {_SPAN_K}
    ),
    ttoked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
               WHERE doc_id >= 10),
    ttok AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok
      FROM ttoked
    ),
    tgrams AS (
      SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS pos,
             unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
                    i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS fp
      FROM ttoked WHERE len(toks) >= {_SPAN_K}
    ),
    hit AS (
      SELECT doc_id, pos FROM tgrams WHERE fp IN (SELECT gram_fp FROM bench_fp)
    ),
    covered AS (
      SELECT DISTINCT doc_id, tpos FROM (
        SELECT doc_id, unnest(range(pos, pos + {_SPAN_K})) AS tpos FROM hit
      )
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM ttok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.tpos
      WHERE c.doc_id IS NULL
    )
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
           COUNT(*) AS n_tokens_kept
    FROM kept GROUP BY doc_id
    """,
)
def dedup_decontam_spans(spark, sf_dir):
    """Benchmark decontamination by span excision (operators/dedup.py::
    decontaminate_spans, the editing form of the GPT-3 13-gram rule):
    docs 0-9 stand in for an eval suite; every >= 8-token span of the
    remaining corpus that also appears in the benchmark is removed
    while the documents survive. Within-corpus duplication is
    untouched — only the leak goes."""
    docs = T(spark, sf_dir, "documents")
    return dedup.decontaminate_spans(
        docs.filter(F.col("doc_id") >= 10),
        docs.filter(F.col("doc_id") < 10),
        k=_SPAN_K,
    )


# Shared clustering-oracle fragments (used from here down: the semantic
# contamination tier and the whole cluster_* family): the fixed-id seed
# list, its VALUES join, and the sequential-fold squared distance between
# a corpus row aliased `e` and a centroid row aliased `c`.
_KM_IDS = [0, 61, 122, 183, 244, 305, 366, 427]
_KM_VALUES = ", ".join(f"({i}, {cid})" for i, cid in enumerate(_KM_IDS))
_KM_D2 = (
    "list_sum(list_transform(range(1, 65), j -> "
    "(CAST(e.embedding[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE)) * "
    "(CAST(e.embedding[j] AS DOUBLE) - CAST(c.cv[j] AS DOUBLE))))"
)

# Semantic contamination tier oracle fragments: both sides assigned to
# the fixed-id centroid model (no training — the anchors only confine
# the pair scan), then cosine >= threshold within shared cells.
_SEM_CHAIN = f"""
    semc AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_KM_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),
    sem_ca AS (
      SELECT vec_id, embedding, cl FROM (
        SELECT e.vec_id, e.embedding, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN semc c WHERE e.vec_id >= 20
      ) WHERE rn = 1
    ),
    sem_ea AS (
      SELECT vec_id, 'bench' || CAST(vec_id % 2 AS VARCHAR) AS benchmark,
             embedding, cl FROM (
        SELECT e.vec_id, e.embedding, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN semc c WHERE e.vec_id < 20
      ) WHERE rn = 1
    )"""
_SEM_HITS = f"""
      SELECT DISTINCT c.benchmark, q.vec_id AS doc_id
      FROM sem_ca q JOIN sem_ea c ON c.cl = q.cl
      WHERE round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) >= 0.3"""


@register(
    "dedup_contamination_report",
    f"""
    WITH pairs AS ({_MINHASH_PAIRS_SQL}),{_SEM_CHAIN},
    evals AS (
      SELECT doc_id, 'bench' || CAST(doc_id % 2 AS VARCHAR) AS benchmark, text
      FROM documents WHERE doc_id < 20
    ),
    total AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id >= 20),
    cfp AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents WHERE doc_id >= 20),
    efp AS (SELECT DISTINCT benchmark, md5({_NORM_SQL}) AS fp FROM evals),
    exact_hits AS (
      SELECT DISTINCT e.benchmark, c.doc_id FROM cfp c JOIN efp e USING (fp)
    ),
    btoked AS (SELECT benchmark, {_TOKS_SQL} AS toks FROM evals),
    bfp AS (
      SELECT DISTINCT benchmark,
             unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
                    i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS fp
      FROM btoked WHERE len(toks) >= {_SPAN_K}
    ),
    ttoked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id >= 20),
    tg AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(toks) - {_SPAN_K} + 2),
                    i -> md5(array_to_string(toks[i:i+{_SPAN_K}-1], ' ')))) AS fp
      FROM ttoked WHERE len(toks) >= {_SPAN_K}
    ),
    span_hits AS (
      SELECT DISTINCT b.benchmark, t.doc_id FROM tg t JOIN bfp b USING (fp)
    ),
    near_hits AS (
      SELECT DISTINCT e.benchmark, p.b_id AS doc_id
      FROM pairs p JOIN evals e ON e.doc_id = p.a_id
      WHERE p.a_id < 20 AND p.b_id >= 20
    ),
    sem_hits AS ({_SEM_HITS}
    ),
    hits AS (
      SELECT benchmark, doc_id, 'exact' AS method FROM exact_hits
      UNION ALL SELECT benchmark, doc_id, 'spans' AS method FROM span_hits
      UNION ALL SELECT benchmark, doc_id, 'near' AS method FROM near_hits
      UNION ALL SELECT benchmark, doc_id, 'semantic' AS method FROM sem_hits
    ),
    counts AS (
      SELECT benchmark, method, COUNT(DISTINCT doc_id) AS n
      FROM hits GROUP BY benchmark, method
    ),
    grid AS (
      SELECT DISTINCT e.benchmark, m.method
      FROM evals e, (VALUES ('exact'), ('spans'), ('near'), ('semantic')) m(method)
    )
    SELECT g.benchmark, g.method,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_contaminated,
           round(CAST(COALESCE(c.n, 0) AS DOUBLE) / (SELECT n FROM total), 6) AS rate
    FROM grid g LEFT JOIN counts c ON g.benchmark = c.benchmark AND g.method = c.method
    """,
)
def dedup_contamination_report(spark, sf_dir):
    """Per-benchmark contamination audit (operators/dedup.py::
    contamination_report) — the dataset-card artifact over the full
    decontamination ladder: docs 0-19 stand in for TWO benchmarks (id
    parity), the rest are the training corpus; each (benchmark, method)
    row reports how many corpus docs the exact (fingerprint), spans
    (shared >= 8-token gram), near (LSH + verified Jaccard >= 0.5), and
    — round 14 — SEMANTIC (embedding cosine >= 0.3, centroid-confined,
    similarity.semantic_decontam_hits over the same-id embeddings)
    tiers flag, with the rate over the corpus size (6dp). Zero rows
    included — a clean benchmark must read as checked-and-clean. The
    oracle replays all four kernels' CTEs (dedup_keep_docs,
    dedup_decontam_spans, dedup_decontam_near precedents; the semantic
    tier assigns both sides to the fixed-id anchor centroids and
    cosines within shared cells) and the near tier reuses full-corpus
    LSH restricted to eval-corpus pairs (band keys are content hashes,
    so the restriction equals the asymmetric join)."""
    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    corpus = docs.filter(F.col("doc_id") >= 20)
    eval_sets = docs.filter(F.col("doc_id") < 20).withColumn(
        "benchmark", F.concat(F.lit("bench"), (F.col("doc_id") % 2).cast("string"))
    )
    from epss_spark.operators import clustering

    # fixed-id anchor centroids (no training: they only confine the
    # semantic pair scan; the oracle replays them as a VALUES join)
    anchors = clustering.init_centroids_by_id(emb, _KM_IDS)
    # no caller shmap (optimization r15): the kernel now derives the
    # exact fingerprints, span grams, AND shingle arrays from ONE
    # eagerly checkpointed corpus token frame — a caller-built
    # shingle_arrays persist would re-run the regex pass the shared
    # frame exists to eliminate (and r14's fire-and-forget persist had
    # no unpersist path, ADVICE r14).
    return dedup.contamination_report(
        corpus,
        eval_sets,
        k=_SPAN_K,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        threshold=0.5,
        corpus_vecs=emb.filter(F.col("vec_id") >= 20),
        eval_vecs=emb.filter(F.col("vec_id") < 20).withColumn(
            "benchmark", F.concat(F.lit("bench"), (F.col("vec_id") % 2).cast("string"))
        ),
        sem_centroids=anchors,
        sem_threshold=0.3,
    )


@register(
    "dedup_decontam_semantic",
    f"""
    WITH {_SEM_CHAIN},
    hits AS (
      SELECT DISTINCT doc_id AS vec_id FROM ({_SEM_HITS})
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id >= 20 AND e.vec_id NOT IN (SELECT vec_id FROM hits)
    """,
)
def dedup_decontam_semantic(spark, sf_dir):
    """SEMANTIC benchmark decontamination (operators/similarity.py::
    decontaminate_semantic) — the editing half of the ladder's fourth
    rung: drop every corpus vector whose embedding cosine to ANY eval
    item reaches 0.3, with the pair scan confined to shared cells of
    the fixed-id anchor centroids and the benchmark-sized eval side
    broadcast. Catches full rewordings of eval items that share no
    shingle with them — invisible to the exact, spans, and lexical-near
    tiers. The oracle replays both assignments (lowest-index ties), the
    6dp sequential-fold cosine, and the anti-join."""
    emb = T(spark, sf_dir, "embeddings")
    from epss_spark.operators import clustering

    anchors = clustering.init_centroids_by_id(emb, _KM_IDS)
    cleaned = similarity.decontaminate_semantic(
        emb.filter(F.col("vec_id") >= 20),
        emb.filter(F.col("vec_id") < 20),
        anchors,
        threshold=0.3,
    )
    return cleaned.select("vec_id", "label")


@register(
    "dedup_semantic_incremental",
    f"""
    WITH semc AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_KM_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),
    ia AS (
      SELECT vec_id, embedding, cl FROM (
        SELECT e.vec_id, e.embedding, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN semc c WHERE e.vec_id % 2 = 0
      ) WHERE rn = 1
    ),
    ba AS (
      SELECT vec_id, embedding, cl FROM (
        SELECT e.vec_id, e.embedding, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN semc c WHERE e.vec_id % 2 = 1
      ) WHERE rn = 1
    ),
    hits AS (
      SELECT DISTINCT q.vec_id FROM ba q JOIN ia c ON c.cl = q.cl
      WHERE round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) >= 0.3
      UNION
      SELECT DISTINCT q.vec_id FROM ba q JOIN ba c
        ON c.cl = q.cl AND c.vec_id < q.vec_id
      WHERE round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) >= 0.3
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id % 2 = 1 AND e.vec_id NOT IN (SELECT vec_id FROM hits)
    """,
)
def dedup_semantic_incremental(spark, sf_dir):
    """Incremental semantic dedup exercised the way a nightly job runs
    it (operators/similarity.py::semantic_index/dedup_batch_semantic —
    the embedding-space analog of the minhash/line/span incremental
    indexes): even-id vectors are the indexed corpus (assignment
    materialized ONCE, never re-computed), odd-id vectors the daily
    batch; a batch vector drops on any indexed cell-mate at
    cosine >= 0.3 (corpus-first) or a smaller-id in-batch cell-mate
    (greedy), survivors keep their rows and their index rows append.
    Per-day cost is O(batch x cell density) — the corpus never
    re-assigns. The oracle replays both assignments, the cell-confined
    6dp cosines, both drop rules, and the anti-join."""
    emb = T(spark, sf_dir, "embeddings")
    from epss_spark.operators import clustering

    anchors = clustering.init_centroids_by_id(emb, _KM_IDS)
    idx = similarity.semantic_index(emb.filter(F.col("vec_id") % 2 == 0), anchors)
    kept, _appended = similarity.dedup_batch_semantic(
        emb.filter(F.col("vec_id") % 2 == 1), idx, anchors, threshold=0.3
    )
    return kept.select("vec_id", "label")


@register(
    "dedup_lines_incremental",
    """
    WITH corpus_fp AS (
      SELECT DISTINCT md5(line) AS line_fp
      FROM (SELECT unnest(string_split(text, chr(10))) AS line
            FROM documents WHERE doc_id % 2 = 0)
      WHERE length(line) >= 1
    ),
    bl AS (
      SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS pos
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
            FROM documents WHERE doc_id % 2 = 1)
    ),
    fresh AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
      FROM bl
      WHERE length(line) >= 1
        AND md5(line) NOT IN (SELECT line_fp FROM corpus_fp)
    ),
    kept AS (
      SELECT doc_id, pos, line FROM fresh WHERE rn = 1
      UNION ALL
      SELECT doc_id, pos, line FROM bl WHERE length(line) < 1
    )
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
           COUNT(*) AS n_lines_kept
    FROM kept GROUP BY doc_id
    """,
)
def dedup_lines_incremental(spark, sf_dir):
    """Incremental line dedup exercised the way a nightly job runs it
    (operators/dedup.py::line_index/dedup_batch_lines): even-id docs are
    the indexed corpus, odd-id docs the daily batch; batch lines already
    in the index drop regardless of id order, new lines dedup
    first-occurrence within the batch, docs reassemble. Per-day cost is
    O(batch lines) — the corpus text is never re-split."""
    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    kept, _new_fps = dedup.dedup_batch_lines(batch, dedup.line_index(corpus))
    return kept


@register(
    "text_top_ngrams",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles FROM base),
    ex AS (SELECT unnest(shingles) AS sh FROM sh)
    SELECT sh, COUNT(*) AS df
    FROM ex GROUP BY sh
    ORDER BY df DESC, sh ASC
    LIMIT 20
    """,
)
def text_top_ngrams(spark, sf_dir):
    """Boilerplate discovery: the 20 most document-frequent 3-gram
    shingles corpus-wide (operators/text.py::top_ngrams) — the report
    that tunes max_shingle_df / max_bucket_size for the dedup guards."""
    return text.top_ngrams(T(spark, sf_dir, "documents"), k=20)


@register(
    "text_vocab_stats",
    f"""
    WITH base AS (SELECT source AS stratum, {_TOKS_SQL} AS toks FROM documents),
    agg AS (
      SELECT stratum, COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
      FROM base GROUP BY stratum
    ),
    vocab AS (
      SELECT stratum, COUNT(*) AS vocab_size
      FROM (SELECT DISTINCT stratum, unnest(toks) AS tok FROM base)
      GROUP BY stratum
    )
    SELECT a.stratum, a.n_docs, a.n_tokens,
           COALESCE(v.vocab_size, 0) AS vocab_size,
           round(CAST(COALESCE(v.vocab_size, 0) AS DOUBLE)
                 / greatest(a.n_tokens, 1), 6) AS type_token_ratio
    FROM agg a LEFT JOIN vocab v ON a.stratum = v.stratum
    """,
)
def text_vocab_stats(spark, sf_dir):
    """Per-source corpus composition (operators/text.py::vocab_stats):
    docs, token volume, vocabulary size, type-token ratio — the table a
    corpus-mixing decision starts from."""
    return text.vocab_stats(T(spark, sf_dir, "documents"))


@register(
    "text_freq_spectrum",
    f"""
    WITH base AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    tf AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT unnest(toks) AS tok FROM base)
      GROUP BY tok
    )
    SELECT freq, COUNT(*) AS n_types,
           freq * COUNT(*) AS n_tokens
    FROM tf GROUP BY freq
    """,
)
def text_freq_spectrum(spark, sf_dir):
    """Token frequency-of-frequencies (operators/text.py::
    freq_spectrum): per corpus-wide occurrence count, the number of
    distinct token types at that count and the token volume they carry
    — the Zipf/Heaps diagnostic whose freq=1 row (hapax count) moves
    first when OCR noise or tag soup enters a corpus. All exact
    integers: no float surface in the oracle comparison. Two count
    aggregates; the second runs over per-type rows and outputs
    O(distinct frequencies) rows."""
    return text.freq_spectrum(T(spark, sf_dir, "documents"))


@register(
    "text_pr_curve",
    f"""
    WITH base AS (SELECT lang, {_TOKS_SQL} AS toks FROM documents),
    sc AS (
      SELECT CAST(lang = 'en' AS BIGINT) AS label,
             CAST(floor(1000000.0
               * CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
               / greatest(len(toks), 1)) AS BIGINT) AS score
      FROM base
    ),
    per AS (
      SELECT score, COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS pos
      FROM sc GROUP BY score
    ),
    tot AS (SELECT CAST(SUM(label) AS BIGINT) AS p FROM sc),
    cum AS (
      SELECT score,
             CAST(SUM(pos) OVER w AS BIGINT) AS tp,
             CAST(SUM(n) OVER w - SUM(pos) OVER w AS BIGINT) AS fp
      FROM per
      WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT c.score, c.tp, c.fp, t.p - c.tp AS fn,
           round(CAST(c.tp AS DOUBLE)
                 / (CAST(c.tp AS DOUBLE) + CAST(c.fp AS DOUBLE)), 6) AS prec,
           CASE WHEN t.p > 0 THEN
             round(CAST(c.tp AS DOUBLE) / CAST(t.p AS DOUBLE), 6) END AS rec,
           CASE WHEN t.p > 0 THEN
             round(2.0 * CAST(c.tp AS DOUBLE)
                   / (2.0 * CAST(c.tp AS DOUBLE) + CAST(c.fp AS DOUBLE)
                      + (CAST(t.p AS DOUBLE) - CAST(c.tp AS DOUBLE))), 6) END AS f1
    FROM cum c, tot t
    """,
)
def text_pr_curve(spark, sf_dir):
    """Threshold-sweep classifier evaluation (operators/text.py::
    pr_curve) on a concrete gate: "is this document English" predicted
    by stopword fraction (quantized to integer millionths — the
    bounded-threshold-domain contract). One row per candidate
    threshold with exact confusion counts and prec/rec/F1 from a
    single fixed expression; the oracle replays the quantization, the
    cumulative sweep and the arithmetic."""
    docs = T(spark, sf_dir, "documents")
    toked = docs.select(
        (F.col("lang") == "en").alias("label"),
        text.tokens("text").alias("__toks"),
    )
    n_tok = F.size("__toks")
    n_stop = F.size(F.filter("__toks", lambda x: x.isin(*text.STOPWORDS_EN)))
    scored = toked.select(
        "label",
        F.floor(
            F.lit(1000000.0) * n_stop.cast("double") / F.greatest(n_tok, F.lit(1))
        ).cast("long").alias("score"),
    )
    return text.pr_curve(scored)


@register(
    "text_pmi_bigrams",
    f"""
    WITH base AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    uni AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w
    ),
    tu AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
    tb AS (SELECT CAST(SUM(greatest(len(toks) - 1, 0)) AS BIGINT) AS b FROM base),
    bg AS (
      SELECT b AS pair, COUNT(*) AS n_pair
      FROM (SELECT unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS b
            FROM base)
      GROUP BY b HAVING COUNT(*) >= 5
    ),
    scored AS (
      SELECT split_part(pair, ' ', 1) AS w1, split_part(pair, ' ', 2) AS w2,
             n_pair,
             round(ln(CAST(n_pair AS DOUBLE) * CAST(tu.t AS DOUBLE) * CAST(tu.t AS DOUBLE)
                      / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)
                         * CAST(tb.b AS DOUBLE))), 6) AS pmi
      FROM bg, tu, tb
      JOIN uni ca ON split_part(pair, ' ', 1) = ca.w
      JOIN uni cb ON split_part(pair, ' ', 2) = cb.w
    )
    SELECT w1, w2, n_pair, pmi FROM scored WHERE pmi >= 0.0
    """,
)
def text_pmi_bigrams(spark, sf_dir):
    """Collocation mining by PMI (operators/text.py::pmi_bigrams):
    bigrams beating the independence expectation, from corpus unigram
    and bigram counts with broadcast 1-row totals. Membership-filtered
    (count >= 5, pmi >= 0), never top-k-limited, so the result set is
    stable under float ties; the ln argument is one fixed expression
    over exact integers in both engines."""
    return text.pmi_bigrams(T(spark, sf_dir, "documents"))


@register(
    "search_tfidf_topk",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             round(CAST(tf.tf AS DOUBLE)
                   * (ln((1.0 + n) / (1.0 + df)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def search_tfidf_topk(spark, sf_dir):
    """Per-document keyword extraction (operators/retrieval.py::
    tfidf_topk): top-5 terms per document by smooth-idf TF-IDF, ties on
    ascending term — the per-doc complement of BM25's per-query doc
    ranking. One tokenize pass; document frequencies re-aggregate the
    bounded (doc, term) table; the top-k window partitions by document
    (bounded per-partition state, no corpus-wide sort)."""
    return retrieval.tfidf_topk(T(spark, sf_dir, "documents"), k=5)


@register(
    "search_hybrid_rrf",
    f"""
    WITH bm AS (SELECT * FROM ({_BM25_TOPK_SQL}) AS bm_topk),
    bmr AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM bm
    ),
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id, embedding FROM embeddings),
    cs AS (
      SELECT c.vec_id AS doc_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM q, c WHERE c.vec_id <> q.vec_id
      ORDER BY cos DESC, doc_id
      LIMIT 10
    ),
    csr AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r FROM cs
    ),
    u AS (SELECT doc_id, r FROM bmr UNION ALL SELECT doc_id, r FROM csr)
    SELECT doc_id, round(SUM(1.0 / (60 + r)), 6) AS rrf_score
    FROM u GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """,
)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-10 over documents fused with dense
    cosine top-10 around query embedding vec_id=0 via reciprocal-rank
    fusion (operators/retrieval.py::rrf_fuse, k=60 — the standard hybrid
    combiner; vec_id and doc_id share an id space in the testdata). Rank
    fusion needs no score calibration between the two retrievers, which
    is why it beats score mixing in practice."""
    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    bm = retrieval.bm25_topk(docs, list(_BM25_TERMS), k=_BM25_K)
    dense = (
        similarity.cosine_topk(emb.filter(F.col("vec_id") == 0), emb, k=10)
        .select(F.col("cand_id").alias("doc_id"), "cos")
    )
    return retrieval.rrf_fuse([bm, dense], k=60, topk=10)


_SHARD_N = 8


@register(
    "sample_train_shards",
    f"""
    WITH h AS (
      SELECT doc_id, source,
             CAST(CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % {_SHARD_N} AS INT) AS shard,
             md5('shard|pos|' || CAST(doc_id AS VARCHAR)) AS hpos
      FROM documents
    )
    SELECT doc_id, source, shard,
           row_number() OVER (PARTITION BY shard ORDER BY hpos, doc_id) AS pos
    FROM h
    """,
)
def sample_train_shards(spark, sf_dir):
    """Deterministic shuffle-and-shard (operators/dedup.py::train_shards):
    hash-uniform shard assignment + reproducible within-shard order — the
    final training-output step; stable across runs, engines, and salts
    reshuffle without touching data."""
    return dedup.train_shards(
        T(spark, sf_dir, "documents").select("doc_id", "source"), n_shards=_SHARD_N
    )


@register(
    "pack_materialize",
    _PACK_CTE
    + """
    , joined AS (
      SELECT p.bucket, p.bin, p.n_tokens, p.doc_id, d.text
      FROM packed p JOIN documents d USING (doc_id)
    )
    SELECT bucket, bin, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           string_agg(text, chr(10) || chr(10) ORDER BY n_tokens DESC, doc_id) AS text
    FROM joined GROUP BY bucket, bin
    """,
)
def pack_materialize(spark, sf_dir):
    """Materialized training sequences (operators/prep.py::
    materialize_sequences): the pack_sequences assignment joined back to
    the document texts and concatenated per (bucket, bin) in pack order —
    the final artifact a tokenizer consumes."""
    docs = T(spark, sf_dir, "documents")
    packed = prep.pack_sequences(docs, budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS)
    return prep.materialize_sequences(packed, docs)


@register(
    "sample_token_budget",
    f"""
    WITH sized AS (
      SELECT doc_id, text, lang, source, n_chars,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             md5('mix|' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    cum AS (
      SELECT *, SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS c
      FROM sized
    )
    SELECT doc_id, text, lang, source, n_chars, n_tokens
    FROM cum
    WHERE c <= CASE source WHEN 'src0' THEN 600 WHEN 'src1' THEN 150 ELSE 300 END
    """,
)
def sample_token_budget(spark, sf_dir):
    """Token-budgeted corpus mixing (operators/dedup.py::
    sample_token_budget): per-source token quotas consumed in
    deterministic hash order — the way training mixes are actually
    specified (tokens, not rates or doc counts)."""
    return dedup.sample_token_budget(
        T(spark, sf_dir, "documents"),
        budgets={"src0": 600, "src1": 150},
        default_budget=300,
    )


@register(
    "sample_mix_temperature",
    f"""
    WITH c AS (
      SELECT source, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (SELECT source, n_tokens, pow(CAST(n_tokens AS DOUBLE), 0.7) AS wt FROM c),
    s AS (SELECT source, n_tokens, round(wt / sum(wt) OVER (), 6) AS share FROM w)
    SELECT source, n_tokens, share,
           CAST(round(share * 1000000) AS BIGINT) * CAST(100000 AS BIGINT) // 1000000 AS budget
    FROM s
    """,
)
def sample_mix_temperature(spark, sf_dir):
    """Temperature-scaled mixing budgets (operators/dedup.py::
    mix_temperature_budgets, the UniMax/mT5 alpha-sampling rule):
    per-source token budgets proportional to count^0.7 of a 100k-token
    total — the artifact a training-mix spec feeds into
    sample_token_budget. Integer budget arithmetic after 6-dp share
    rounding keeps both engines bit-identical."""
    return dedup.mix_temperature_budgets(
        T(spark, sf_dir, "documents"), total_tokens=100_000, alpha=0.7
    )


# same oracle SQL as sample_token_budget on purpose: the bucketed form is
# a different PHYSICAL plan (two-pass prefix sum over md5-prefix
# sub-buckets) with contractually identical results; pytest additionally
# pins windowed == bucketed on skewed/null-text corpora.
@register("sample_token_budget_bucketed", ORACLES["sample_token_budget"])
def sample_token_budget_bucketed(spark, sf_dir):
    """Skew-safe token-budgeted mixing (operators/dedup.py::
    sample_token_budget_bucketed): identical keep set to
    sample_token_budget, but the hot stratum's running sum spreads over
    256 md5-prefix sub-buckets (in-bucket window + tiny preceding-bucket
    offset join) instead of serializing on one window partition."""
    return dedup.sample_token_budget_bucketed(
        T(spark, sf_dir, "documents"),
        budgets={"src0": 600, "src1": 150},
        default_budget=300,
    )


# ---------------------------------------------------------------------------
# PQ (product quantization) ANN + DSIR data selection
# ---------------------------------------------------------------------------

# PQ sub-distance between embedding sub-slice m of row `e` and sub-slice m
# of centroid `c.cv` (m 0-based, sub-dim 16): same sequential summation
# order as similarity._sub_d2's left-fold.
_PQ_SD2 = (
    "list_sum(list_transform(range(1, 17), j -> "
    "(CAST(e.embedding[s.m*16 + j] AS DOUBLE) - CAST(c.cv[s.m*16 + j] AS DOUBLE)) * "
    "(CAST(e.embedding[s.m*16 + j] AS DOUBLE) - CAST(c.cv[s.m*16 + j] AS DOUBLE))))"
)


@register(
    "ann_pq_topk",
    f"""
    WITH cents AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_IVF_CENT_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),
    sub AS (SELECT unnest(range(0, 4)) AS m),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT e.vec_id, s.m, c.i AS code,
               row_number() OVER (PARTITION BY e.vec_id, s.m ORDER BY {_PQ_SD2}, c.i) AS rn
        FROM embeddings e CROSS JOIN sub s CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    qd AS (
      SELECT e.vec_id AS query_id, s.m, c.i, {_PQ_SD2} AS d2
      FROM embeddings e CROSS JOIN sub s CROSS JOIN cents c
      WHERE e.vec_id < 5
    ),
    scored AS (
      SELECT qd.query_id, enc.vec_id AS cand_id, round(sum(qd.d2), 6) AS ad2
      FROM qd JOIN enc ON qd.m = enc.m AND qd.i = enc.code
      WHERE qd.query_id <> enc.vec_id
      GROUP BY qd.query_id, enc.vec_id
    )
    SELECT query_id, cand_id, ad2, rn AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ad2, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (operators/similarity.py::pq_topk):
    64-dim embeddings compressed to 4 codes (one per 16-dim subspace,
    sampled-point codebooks shared verbatim with the oracle via the same
    fixed vec_ids as ann_ivf), queries scored against the COMPRESSED
    corpus via per-query distance tables. The scan-side representation a
    100 TB embedding store actually keeps (64x less I/O than raw floats).
    No reference counterpart (epss/ has no vector ops); extension tier."""
    emb = T(spark, sf_dir, "embeddings")
    books = similarity.sampled_pq_centroids(emb, _IVF_CENT_IDS, m=4)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.pq_topk(queries, emb, books, k=5)


# Same oracle SQL as the expression forms on purpose (the
# sample_token_budget_bucketed precedent): the batched ADC kernels are a
# different PHYSICAL implementation (Arrow numpy kernel, fold-order-
# matched doubles) with a contractually bit-identical result; pytest
# additionally pins batched == expression directly.
@register("ann_pq_topk_batched", ORACLES["ann_pq_topk"])
def ann_pq_topk_batched(spark, sf_dir):
    """Arrow-batched ADC search (operators/similarity.py::
    pq_topk_batched): the production path for realistic codebooks
    (plan cost independent of m x k — PERF.md round-8 ladder), checked
    here against the identical DuckDB replay at the oracle-checkable
    codebook size."""
    emb = T(spark, sf_dir, "embeddings")
    books = similarity.sampled_pq_centroids(emb, _IVF_CENT_IDS, m=4)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.pq_topk_batched(queries, emb, books, k=5)


# DSIR oracle fragments: hashed unigram+bigram features -> 256 buckets.
_DSIR_B = 256
_DSIR_FEATS = (
    "list_concat(toks, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))"
)
_DSIR_EX = f"""
    base AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
    fe AS (SELECT doc_id, lang, {_DSIR_FEATS} AS feats FROM base),
    ex AS (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(f), 1, 15)) AS BIGINT) % {_DSIR_B} AS bucket
           FROM (SELECT doc_id, lang, unnest(feats) AS f FROM fe)),
    raw AS (SELECT bucket, count(*) AS rc FROM ex GROUP BY bucket),
    tgt AS (SELECT bucket, count(*) AS tc FROM ex WHERE lang = 'en' GROUP BY bucket),
    tot AS (SELECT (SELECT sum(rc) FROM raw) AS rt,
                   (SELECT coalesce(sum(tc), 0) FROM tgt) AS tt),
    w AS (SELECT r.bucket,
            ln((coalesce(t.tc, 0) + 1.0) / (tot.tt + {_DSIR_B}))
          - ln((r.rc + 1.0) / (tot.rt + {_DSIR_B})) AS lw
          FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN tot),
    scored AS (
      SELECT ex.doc_id, count(*) AS n_feats, round(avg(w.lw), 6) AS dsir_logratio
      FROM ex JOIN w USING (bucket)
      GROUP BY ex.doc_id
    )
"""


@register(
    "sample_dsir",
    f"""
    WITH {_DSIR_EX}
    SELECT doc_id, n_feats, dsir_logratio FROM scored
    """,
)
def sample_dsir(spark, sf_dir):
    """DSIR importance scores (operators/selection.py::dsir_logratio):
    every document scored by the mean hashed-n-gram log-likelihood ratio
    against the English subset as the target domain — the data-selection
    signal of Xie et al. 2023. No reference counterpart; extension tier."""
    docs = T(spark, sf_dir, "documents")
    return selection.dsir_logratio(
        docs, n_buckets=_DSIR_B, target_pred=F.col("lang") == "en"
    )


@register(
    "sample_weighted",
    """
    WITH keyed AS (
      SELECT doc_id, text, lang, source, n_chars,
             round(ln(CAST(n_chars AS DOUBLE)) + -ln(-ln(
               (CAST(('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
               / 1152921504606846976.0)), 6) AS sample_key
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, text, lang, source, n_chars, sample_key FROM (
      SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rn FROM keyed
    ) WHERE rn <= 100
    """,
)
def sample_weighted(spark, sf_dir):
    """Generic weighted sampling without replacement (operators/
    selection.py::sample_weighted): 100 docs drawn proportionally to
    n_chars via deterministic Gumbel top-k — the caller-supplied-weight
    member of the sampling family (rate / count / tokens / learned
    importance / arbitrary weight)."""
    return selection.sample_weighted(
        T(spark, sf_dir, "documents"), k=100, weight_col="n_chars"
    )




@register(
    "sample_dsir_topk",
    f"""
    WITH {_DSIR_EX},
    keyed AS (
      SELECT doc_id, n_feats, dsir_logratio,
             round(dsir_logratio + -ln(-ln(
               (CAST(('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
               / 1152921504606846976.0)), 6) AS sample_key
      FROM scored
    )
    SELECT doc_id, n_feats, dsir_logratio, sample_key FROM (
      SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rn FROM keyed
    ) WHERE rn <= 150
    """,
)
def sample_dsir_topk(spark, sf_dir):
    """DSIR selection ACTION (operators/selection.py::dsir_sample): the
    150 documents drawn without replacement proportionally to their
    importance weights via deterministic Gumbel top-k (md5-derived
    noise, reproducible across runs and engines)."""
    docs = T(spark, sf_dir, "documents")
    return selection.dsir_sample(
        docs, k=150, n_buckets=_DSIR_B, target_pred=F.col("lang") == "en"
    )


@register(
    "text_ppl_buckets",
    f"""
    WITH tok AS (SELECT doc_id, lang, unnest({_TOKS_SQL}) AS tok FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT SUM(cnt) AS total FROM vocab),
    scored AS (
      SELECT doc_id, lang, COUNT(*) AS n_tokens,
             round(avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS avg_logprob
      FROM tok JOIN vocab USING (tok), tot
      GROUP BY doc_id, lang
    ),
    cuts AS (
      SELECT lang,
             round(quantile_cont(avg_logprob, {1 / 3!r}), 6) AS q0,
             round(quantile_cont(avg_logprob, {2 / 3!r}), 6) AS q1
      FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.n_tokens, s.avg_logprob,
           3 - (CASE WHEN s.avg_logprob >= c.q0 THEN 1 ELSE 0 END
              + CASE WHEN s.avg_logprob >= c.q1 THEN 1 ELSE 0 END) AS ppl_bucket,
           CASE WHEN s.avg_logprob >= c.q1 THEN 'head'
                WHEN s.avg_logprob >= c.q0 THEN 'middle'
                ELSE 'tail' END AS label
    FROM scored s JOIN cuts c USING (lang)
    """,
)
def text_ppl_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity tertiles (operators/text.py::
    ppl_buckets): head/middle/tail quality strata from the corpus-unigram
    LM proxy, cutoffs via the exact percentile aggregate broadcast back —
    no per-language ntile sort (the worst window-skew shape: few, huge
    partitions)."""
    return text.ppl_buckets(T(spark, sf_dir, "documents"))


@register(
    "text_bigram_ppl",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tok AS (SELECT unnest(toks) AS tok FROM t),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT SUM(cnt) AS total FROM vocab),
    bg AS (
      SELECT doc_id,
             unnest(toks[1:len(toks) - 1]) AS prev,
             unnest(toks[2:len(toks)]) AS cur
      FROM t WHERE len(toks) >= 2
    ),
    bc AS (SELECT prev, cur, COUNT(*) AS bcnt FROM bg GROUP BY prev, cur)
    SELECT bg.doc_id, COUNT(*) AS n_bigrams,
           round(avg(ln(
             0.75 * (CAST(bc.bcnt AS DOUBLE) / CAST(pv.cnt AS DOUBLE))
             + 0.25 * (CAST(cv.cnt AS DOUBLE) / CAST(total AS DOUBLE))
           )), 6) AS avg_logprob
    FROM bg
    JOIN bc ON bc.prev = bg.prev AND bc.cur = bg.cur
    JOIN vocab pv ON pv.tok = bg.prev
    JOIN vocab cv ON cv.tok = bg.cur
    CROSS JOIN tot
    GROUP BY bg.doc_id
    """,
)
def text_bigram_ppl(spark, sf_dir):
    """Interpolated-bigram LM typicality score (operators/text.py::
    bigram_logprob): per-document mean transition log-probability under
    Jelinek-Mercer interpolation (lam=0.75) of corpus bigram and unigram
    counts — the token-ORDER-sensitive upgrade of the unigram perplexity
    proxy, one rung below the KenLM filter CCNet runs."""
    return text.bigram_logprob(T(spark, sf_dir, "documents"))


@register(
    "corpus_dataset_card",
    f"""
    WITH per AS (
      SELECT lang AS grp, md5({_NORM_SQL}) AS fp,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS nt
      FROM documents
    ),
    v AS (
      SELECT COUNT(DISTINCT t) AS v
      FROM (SELECT unnest({_TOKS_SQL}) AS t FROM documents)
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           (SELECT v FROM v) AS vocab_size,
           COUNT(DISTINCT grp) AS n_groups,
           COUNT(DISTINCT fp) AS n_unique,
           round(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6) AS dup_rate,
           round(avg(CAST(nt AS DOUBLE)), 6) AS mean_tokens,
           quantile_cont(nt, 0.5) AS median_tokens
    FROM per
    """,
)
def corpus_dataset_card(spark, sf_dir):
    """One-row dataset-card summary (operators/text.py::dataset_card):
    doc/token volume, vocabulary size, language-slice count,
    exact-duplicate rate by normalized fingerprint, mean + exact-median
    token length — the nightly whole-pipeline health row. Two tokenize
    passes (per-doc stats aggregate; vocab explode-distinct), no joins
    beyond the 1-row vocab broadcast."""
    return text.dataset_card(T(spark, sf_dir, "documents"))


@register(
    "text_token_divergence",
    f"""
    WITH tok AS (SELECT lang AS grp, unnest({_TOKS_SQL}) AS tok FROM documents),
    gcnt AS (SELECT grp, tok, COUNT(*) AS gc FROM tok GROUP BY grp, tok),
    ccnt AS (SELECT tok, CAST(SUM(gc) AS BIGINT) AS cc FROM gcnt GROUP BY tok),
    gtot AS (SELECT grp, CAST(SUM(gc) AS BIGINT) AS gt FROM gcnt GROUP BY grp),
    ctot AS (SELECT CAST(SUM(cc) AS BIGINT) AS ct FROM ccnt),
    grid AS (
      SELECT t.grp, c.tok, c.cc, t.gt, k.gc, ctot.ct
      FROM ccnt c
      CROSS JOIN gtot t
      LEFT JOIN gcnt k ON k.grp = t.grp AND k.tok = c.tok
      CROSS JOIN ctot
    )
    SELECT grp AS lang,
           MAX(gt) AS n_tokens,
           COUNT(gc) AS n_types,
           round(SUM(CASE WHEN gc IS NOT NULL THEN
             (CAST(gc AS DOUBLE) / gt)
             * ln((CAST(gc AS DOUBLE) / gt) / (CAST(cc AS DOUBLE) / ct)) END), 6) AS kl,
           round(
             0.5 * SUM(CASE WHEN gc IS NOT NULL THEN
               (CAST(gc AS DOUBLE) / gt)
               * ln((CAST(gc AS DOUBLE) / gt)
                    / ((COALESCE(CAST(gc AS DOUBLE) / gt, 0) + CAST(cc AS DOUBLE) / ct) / 2)) END)
             + 0.5 * SUM(
               (CAST(cc AS DOUBLE) / ct)
               * ln((CAST(cc AS DOUBLE) / ct)
                    / ((COALESCE(CAST(gc AS DOUBLE) / gt, 0) + CAST(cc AS DOUBLE) / ct) / 2))),
             6) AS js
    FROM grid GROUP BY grp
    """,
)
def text_token_divergence(spark, sf_dir):
    """Corpus-drift monitor (operators/text.py::token_divergence):
    per-language KL and Jensen-Shannon divergence between the slice's
    unigram distribution and the whole corpus's — the signal that
    catches content shift (spam influx, scraper drift) when volume and
    mean-quality metrics stay flat. One tokenize pass; corpus counts,
    slice totals, and the JS grid are all re-aggregations of the
    bounded (group, token) count table."""
    return text.token_divergence(T(spark, sf_dir, "documents"))


@register(
    "text_bigram_frozen",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tr AS (SELECT toks FROM base WHERE doc_id % 2 = 0),
    vocab AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT unnest(toks) AS tok FROM tr) GROUP BY tok
    ),
    tot AS (SELECT SUM(cnt) AS total FROM vocab),
    bgm AS (
      SELECT prev, cur, COUNT(*) AS bcnt FROM (
        SELECT unnest(toks[1:len(toks) - 1]) AS prev,
               unnest(toks[2:len(toks)]) AS cur
        FROM tr WHERE len(toks) >= 2
      ) GROUP BY prev, cur
    ),
    bg AS (
      SELECT doc_id,
             unnest(toks[1:len(toks) - 1]) AS prev,
             unnest(toks[2:len(toks)]) AS cur
      FROM base WHERE doc_id % 2 <> 0 AND len(toks) >= 2
    ),
    sc AS (
      SELECT bg.doc_id,
             cv.cnt IS NOT NULL AS in_vocab,
             ln(0.75 * (CAST(COALESCE(b.bcnt, 0) AS DOUBLE)
                        / CAST(COALESCE(pv.cnt, 1) AS DOUBLE))
                + 0.25 * (CAST(cv.cnt AS DOUBLE) / CAST(total AS DOUBLE))) AS lp
      FROM bg
      LEFT JOIN bgm b ON b.prev = bg.prev AND b.cur = bg.cur
      LEFT JOIN vocab pv ON pv.tok = bg.prev
      LEFT JOIN vocab cv ON cv.tok = bg.cur
      CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) FILTER (WHERE in_vocab) AS n_bigrams,
           COUNT(*) FILTER (WHERE NOT in_vocab) AS n_oov,
           round(avg(CASE WHEN in_vocab THEN lp END), 6) AS avg_logprob
    FROM sc GROUP BY doc_id
    HAVING COUNT(*) FILTER (WHERE in_vocab) > 0
    """,
)
def text_bigram_frozen(spark, sf_dir):
    """FROZEN-model bigram LM scoring (operators/text.py::bigram_lm_train
    + bigram_lm_score): the model is trained on the even-doc_id half of
    the corpus only, then scores the odd half it never saw — the real
    CCNet deployment shape (train on a trusted reference corpus, score
    every crawl batch against the persisted artifact). Exercises the
    frozen-model OOV contract cross-engine: transitions whose cur token
    is outside the model vocabulary carry no mass and are dropped
    (counted in n_oov); unseen (prev, cur) pairs of in-vocab tokens back
    off to their unigram term."""
    docs = T(spark, sf_dir, "documents")
    vocab, bigrams = text.bigram_lm_train(docs.filter(F.col("doc_id") % 2 == 0))
    return text.bigram_lm_score(
        docs.filter(F.col("doc_id") % 2 != 0), vocab, bigrams
    )


# ---------------------------------------------------------------------------
# Mergeable sketches
# ---------------------------------------------------------------------------


@register(
    "agg_hll_distinct",
    """
    WITH h AS (
      SELECT l_returnflag,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM lineitem WHERE l_orderkey IS NOT NULL
    ),
    r AS (
      SELECT l_returnflag, hv >> 51 AS j,
             max(CASE WHEN (hv & 2251799813685247) = 0 THEN 52
                      ELSE 52 - length(bin(hv & 2251799813685247)) END) AS M
      FROM h GROUP BY l_returnflag, hv >> 51
    ),
    a AS (
      SELECT l_returnflag,
             sum(CAST(1 AS BIGINT) << (52 - M)) AS s, count(*) AS nz
      FROM r GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round(CASE WHEN (CAST(188686.82445861166 AS DOUBLE) * 4503599627370496e0
                            / CAST(s + (512 - nz) * CAST(4503599627370496 AS BIGINT) AS DOUBLE)) <= 1280.0
                       AND nz < 512
                 THEN 512e0 * ln(512e0 / (512 - nz))
                 ELSE CAST(188686.82445861166 AS DOUBLE) * 4503599627370496e0
                      / CAST(s + (512 - nz) * CAST(4503599627370496 AS BIGINT) AS DOUBLE) END, 4) AS hll_distinct
    FROM a
    """,
)
def agg_hll_distinct(spark, sf_dir):
    """Engine-portable HyperLogLog distinct (operators/sketches.py):
    md5-derived registers, integer-exact harmonic sum — an approximate
    aggregate that is nonetheless bit-for-bit oracle-checkable (see the
    module docstring). Distinct orderkeys per returnflag at b=9
    (m=512 registers, ~4.6%% expected error, verified against the exact
    count in tests/test_sketches.py)."""
    return sketches.hll_distinct(
        T(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_orderkey", b=9
    )


@register(
    "dedup_contamination_bloom",
    f"""
    WITH n AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles FROM n),
    bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < 10),
    bpos AS (
      SELECT CAST(('0x' || substr(md5('bloom' || i || '|' || s), 1, 15)) AS BIGINT) % 16384 AS p
      FROM bench CROSS JOIN (VALUES (0), (1), (2)) t(i)
    ),
    sketch AS (
      -- DuckDB raises on 1::BIGINT << 63 (signed overflow); Spark's
      -- shiftleft wraps to the sign bit — spell that value explicitly
      SELECT p >> 6 AS w,
             bit_or(CASE WHEN p % 64 = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                         ELSE CAST(1 AS BIGINT) << CAST(p % 64 AS INT) END) AS bits
      FROM bpos GROUP BY p >> 6
    ),
    cand AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    cpos AS (
      SELECT doc_id, s,
             CAST(('0x' || substr(md5('bloom' || i || '|' || s), 1, 15)) AS BIGINT) % 16384 AS p
      FROM cand CROSS JOIN (VALUES (0), (1), (2)) t(i)
    ),
    checks AS (
      SELECT c.doc_id, c.s,
             min(CASE WHEN (COALESCE(k.bits, 0) >> CAST(c.p % 64 AS INT)) & 1 = 1
                 THEN 1 ELSE 0 END) AS member
      FROM cpos c LEFT JOIN sketch k ON (c.p >> 6) = k.w
      GROUP BY c.doc_id, c.s
    )
    SELECT ch.doc_id, len(sh.shingles) AS n_shingles,
           round(CAST(sum(ch.member) AS DOUBLE) / len(sh.shingles), 6) AS bloom_frac
    FROM checks ch JOIN sh ON ch.doc_id = sh.doc_id
    GROUP BY ch.doc_id, len(sh.shingles)
    """,
)
def dedup_contamination_bloom(spark, sf_dir):
    """Bloom-sketch decontamination (operators/sketches.py::
    bloom_contamination): the benchmark shingle set compressed to a
    2 KB bit array folded into the plan; the corpus pass is a pure
    zero-shuffle projection (fold over each doc's shingle array). Upper
    bound of dedup_contamination's exact fraction (no false negatives —
    pinned by test); flag-then-verify at 100 TB."""
    docs = T(spark, sf_dir, "documents")
    return sketches.bloom_contamination(docs, docs.filter(F.col("doc_id") < 10))


_CMS_CANDS = ("the", "a", "of", "and", "to", "in", "is", "it", "dup", "spark")
_CMS_CAND_VALUES = ", ".join(f"('{t}')" for t in _CMS_CANDS)


@register(
    "agg_cms_counts",
    f"""
    WITH tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
    pos AS (
      SELECT t.i,
             CAST(('0x' || substr(md5('cm' || t.i || '|' || tok), 1, 15)) AS BIGINT) % 1024 AS j
      FROM tok CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)
    ),
    cms AS (SELECT i, j, count(*) AS c FROM pos GROUP BY i, j),
    cand AS (SELECT DISTINCT tok FROM (VALUES {_CMS_CAND_VALUES}) c(tok)),
    cc AS (
      SELECT cand.tok, t.i,
             CAST(('0x' || substr(md5('cm' || t.i || '|' || cand.tok), 1, 15)) AS BIGINT) % 1024 AS j
      FROM cand CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)
    )
    SELECT cc.tok, min(COALESCE(cms.c, 0)) AS cms_count
    FROM cc LEFT JOIN cms ON cc.i = cms.i AND cc.j = cms.j
    GROUP BY cc.tok
    """,
)
def agg_cms_counts(spark, sf_dir):
    """Count-Min frequency estimates (operators/sketches.py::cms_build/
    cms_estimate): token occurrence counts from a 4x1024-cell sketch —
    bounded-memory hot-token counting, deterministic and engine-identical
    (all-integer md5 arithmetic), overestimate-only (pinned vs the exact
    vocabulary in tests/test_sketches.py)."""
    tok = (
        T(spark, sf_dir, "documents")
        .select(F.explode(text.tokens("text")).alias("tok"))
    )
    sketch = sketches.cms_build(tok, "tok", d=4, w=1024)
    cand = spark.createDataFrame([(t,) for t in _CMS_CANDS], "tok string")
    return sketches.cms_estimate(sketch, cand, "tok", d=4, w=1024)


@register(
    "ann_ivfpq_topk",
    f"""
    WITH cents AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_IVF_CENT_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),
    sub AS (SELECT unnest(range(0, 4)) AS m),
    asg AS (
      SELECT cand_id, list_id FROM (
        SELECT e.vec_id AS cand_id, c.i AS list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_D2}, c.i) AS arn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT e.vec_id, s.m, c.i AS code,
               row_number() OVER (PARTITION BY e.vec_id, s.m ORDER BY {_PQ_SD2}, c.i) AS rn
        FROM embeddings e CROSS JOIN sub s CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, list_id FROM (
        SELECT e.vec_id AS query_id, c.i AS list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_D2}, c.i) AS pr
        FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5
      ) WHERE pr <= 2
    ),
    qd AS (
      SELECT e.vec_id AS query_id, s.m, c.i, {_PQ_SD2} AS d2
      FROM embeddings e CROSS JOIN sub s CROSS JOIN cents c
      WHERE e.vec_id < 5
    ),
    scored AS (
      SELECT p.query_id, a.cand_id, round(sum(qd.d2), 6) AS ad2
      FROM probes p
      JOIN asg a ON p.list_id = a.list_id
      JOIN enc e ON e.vec_id = a.cand_id
      JOIN qd ON qd.query_id = p.query_id AND qd.m = e.m AND qd.i = e.code
      WHERE p.query_id <> a.cand_id
      GROUP BY p.query_id, a.cand_id
    )
    SELECT query_id, cand_id, ad2, rn AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ad2, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composite search (operators/similarity.py::ivfpq_topk):
    coarse inverted-list pruning (n_probe=2 of 8 lists) over PQ-compressed
    codes (4 sub-codes per 64-dim vector) — the billion-scale ANN index
    shape; sampled-point centroids shared verbatim with the oracle for
    both quantizers."""
    emb = T(spark, sf_dir, "embeddings")
    by_id = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(_IVF_CENT_IDS)).collect()
    }
    coarse = [by_id[cid] for cid in _IVF_CENT_IDS]
    books = similarity.sampled_pq_centroids(emb, _IVF_CENT_IDS, m=4)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivfpq_topk(queries, emb, coarse, books, k=5, n_probe=2)


# Re-ranked IVF-PQ: the same composite index produces an ADC shortlist of
# r=20, then the raw vectors of just those 20 candidates are scored with
# exact cosine (Jegou et al. 2011 SDC->ADC->rerank pipeline). The oracle
# replays the full ADC stage CTE-for-CTE, then the exact-cosine window.
_IVFPQ_SHORTLIST_SQL = """
    shortlist AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ad2, cand_id) AS rn
        FROM scored
      ) WHERE rn <= 20
    )"""


@register(
    "ann_ivfpq_rerank",
    f"""
    WITH cents AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_IVF_CENT_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),
    sub AS (SELECT unnest(range(0, 4)) AS m),
    asg AS (
      SELECT cand_id, list_id FROM (
        SELECT e.vec_id AS cand_id, c.i AS list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_D2}, c.i) AS arn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT e.vec_id, s.m, c.i AS code,
               row_number() OVER (PARTITION BY e.vec_id, s.m ORDER BY {_PQ_SD2}, c.i) AS rn
        FROM embeddings e CROSS JOIN sub s CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, list_id FROM (
        SELECT e.vec_id AS query_id, c.i AS list_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_D2}, c.i) AS pr
        FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5
      ) WHERE pr <= 2
    ),
    qd AS (
      SELECT e.vec_id AS query_id, s.m, c.i, {_PQ_SD2} AS d2
      FROM embeddings e CROSS JOIN sub s CROSS JOIN cents c
      WHERE e.vec_id < 5
    ),
    scored AS (
      SELECT p.query_id, a.cand_id, round(sum(qd.d2), 6) AS ad2
      FROM probes p
      JOIN asg a ON p.list_id = a.list_id
      JOIN enc e ON e.vec_id = a.cand_id
      JOIN qd ON qd.query_id = p.query_id AND qd.m = e.m AND qd.i = e.code
      WHERE p.query_id <> a.cand_id
      GROUP BY p.query_id, a.cand_id
    ),
    {_IVFPQ_SHORTLIST_SQL},
    rer AS (
      SELECT s.query_id, s.cand_id,
             round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 6) AS cos
      FROM shortlist s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.cand_id
    )
    SELECT query_id, cand_id, cos, rn AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      FROM rer
    ) WHERE rn <= 5
    """,
)
def ann_ivfpq_rerank(spark, sf_dir):
    """Production ANN shape (operators/similarity.py::rerank_exact over
    ivfpq_topk): the compressed IVF-PQ scan selects an ADC shortlist of
    r=20 >> k=5, then exactly re-ranks just those raw vectors by cosine —
    the Jegou et al. 2011 two-stage pipeline that recovers the recall the
    24-bit codes lose (PERF.md round-8 recall table). The bounded
    shortlist broadcasts against the raw-vector point lookups; the
    oracle replays ADC CTE-for-CTE and the exact-cosine window."""
    emb = T(spark, sf_dir, "embeddings")
    by_id = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(_IVF_CENT_IDS)).collect()
    }
    coarse = [by_id[cid] for cid in _IVF_CENT_IDS]
    books = similarity.sampled_pq_centroids(emb, _IVF_CENT_IDS, m=4)
    queries = emb.filter(F.col("vec_id") < 5)
    shortlist = similarity.ivfpq_topk(queries, emb, coarse, books, k=20, n_probe=2)
    return similarity.rerank_exact(shortlist, queries, emb, k=5)


@register("ann_ivfpq_topk_batched", ORACLES["ann_ivfpq_topk"])
def ann_ivfpq_topk_batched(spark, sf_dir):
    """Arrow-batched IVF-PQ search (operators/similarity.py::
    ivfpq_topk_batched): list pruning pushed to the scan + the batched
    ADC kernel (same oracle SQL as ann_ivfpq_topk — the batched form is
    a different physical implementation with a contractually
    bit-identical result, additionally pinned batched == expression by
    pytest)."""
    emb = T(spark, sf_dir, "embeddings")
    by_id = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(_IVF_CENT_IDS)).collect()
    }
    coarse = [by_id[cid] for cid in _IVF_CENT_IDS]
    books = similarity.sampled_pq_centroids(emb, _IVF_CENT_IDS, m=4)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivfpq_topk_batched(queries, emb, coarse, books, k=5, n_probe=2)


# ---------------------------------------------------------------------------
# Deterministic Lloyd k-means + cluster-balanced curation sampling
# (operators/clustering.py). The reference engine has no clustering; this is
# the DataComp/SemDeDup-style cluster-then-balance curation stage. The
# oracle unrolls the SAME two Lloyd iterations in chained CTEs: quantized
# BIGINT per-dimension sums (order-free exact arithmetic), the identical
# two-division centroid update, sequential-fold distances, lowest-index
# argmin ties — so every float in the output matches bit-for-bit.

# _KM_IDS / _KM_VALUES / _KM_D2 are defined above the contamination
# report section (the semantic tier's oracle uses the same fixed-id
# centroid CTE and distance fragment).


def _km_iter(t: int, prev: str, nxt: str, weight: str = "1", src: str = "embeddings") -> str:
    """One unrolled Lloyd iteration as SQL CTEs: assign to nearest `prev`
    centroid, exact quantized per-dim means (each row counted `weight`
    times — integer, so exactness is unchanged), empty clusters keep
    their previous centroid (coalesce). `src` is the training relation —
    the full corpus by default, or a deterministic md5-coin sample CTE
    for the sampled-trainer oracle."""
    return f"""
    a{t} AS (
      SELECT vec_id, embedding, cl FROM (
        SELECT e.vec_id, e.embedding, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM {src} e CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    s{t} AS (
      SELECT cl, j,
             CAST(sum(CAST(({weight}) AS BIGINT) * CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(({weight}) AS BIGINT)) AS BIGINT) AS n
      FROM a{t}, range(1, 65) r(j)
      GROUP BY cl, j
    ),
    u{t} AS (
      SELECT cl AS i, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 ORDER BY j) AS cv
      FROM s{t} GROUP BY cl
    ),
    {nxt} AS (
      SELECT p.i, coalesce(u.cv, list_transform(p.cv, x -> CAST(x AS DOUBLE))) AS cv
      FROM {prev} p LEFT JOIN u{t} u ON u.i = p.i
    )"""


_KM_CHAIN = f"""
    c0 AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_KM_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),{_km_iter(1, "c0", "c1")},{_km_iter(2, "c1", "c2")}"""


@register(
    "cluster_kmeans",
    f"""
    WITH {_KM_CHAIN},
    af AS (
      SELECT vec_id, cl, d2 FROM (
        SELECT e.vec_id, c.i AS cl, {_KM_D2} AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    g AS (
      SELECT cl AS cluster_id, count(*) AS n_points,
             CAST(sum(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qs
      FROM af GROUP BY cl
    )
    SELECT g.cluster_id, g.n_points,
           CAST(qs AS DOUBLE) / CAST(n_points AS DOUBLE) / 1000000.0 AS avg_d2,
           sqrt(list_sum(list_transform(c2.cv, x -> x * x))) AS centroid_norm
    FROM g JOIN c2 ON c2.i = g.cluster_id
    """,
)
def cluster_kmeans(spark, sf_dir):
    """Deterministic Lloyd k-means over the embedding corpus
    (operators/clustering.py::kmeans_fit + kmeans_stats): k=8 centroids
    seeded from fixed vec_ids, TWO exact-arithmetic Lloyd updates, then
    per-cluster diagnostics (size, mean squared distance, centroid norm)
    over the final assignment. Training is n_iter map-side-combinable
    aggregates collecting only the k-row model; assignment is pure
    codegen. The oracle re-runs both iterations CTE-for-CTE."""
    emb = T(spark, sf_dir, "embeddings")
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(emb, init, n_iter=2, dim=64)
    return clustering.kmeans_stats(emb, cents)


@register(
    "sample_cluster_balanced",
    f"""
    WITH {_KM_CHAIN},
    af AS (
      SELECT vec_id, cl FROM (
        SELECT e.vec_id, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN c2 c
      ) WHERE rn = 1
    )
    SELECT vec_id, cl AS cluster_id, pr AS pick_rank FROM (
      SELECT vec_id, cl,
             row_number() OVER (PARTITION BY cl ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pr
      FROM af
    ) WHERE pr <= 16
    """,
)
def sample_cluster_balanced(spark, sf_dir):
    """Cluster-balanced curation sample (operators/clustering.py::
    cluster_balanced_sample): the k-means model trained by cluster_kmeans
    partitions the embedding space; each cell yields at most 16 rows,
    picked by the engine-portable md5-of-id coin — so dense regions
    cannot dominate the curated mix (DataComp-style). Assignment is
    codegen; the pick is one window over k partitions."""
    emb = T(spark, sf_dir, "embeddings")
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(emb, init, n_iter=2, dim=64)
    return clustering.cluster_balanced_sample(emb, cents, per_cluster=16)


@register(
    "cluster_purity",
    f"""
    WITH {_KM_CHAIN},
    af AS (
      SELECT vec_id, cl FROM (
        SELECT e.vec_id, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    lc AS (
      SELECT a.cl AS cluster_id, e.label, count(*) AS n_label
      FROM af a JOIN embeddings e ON e.vec_id = a.vec_id
      GROUP BY a.cl, e.label
    ),
    mj AS (
      SELECT cluster_id, label AS majority_label, n_label AS n_majority FROM (
        SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY n_label DESC, label) AS rn
        FROM lc
      ) WHERE rn = 1
    ),
    tot AS (
      SELECT cluster_id, CAST(sum(n_label) AS BIGINT) AS n_points
      FROM lc GROUP BY cluster_id
    )
    SELECT t.cluster_id, t.n_points, m.majority_label, m.n_majority,
           CAST(m.n_majority AS DOUBLE) / CAST(t.n_points AS DOUBLE) AS purity
    FROM tot t JOIN mj m ON m.cluster_id = t.cluster_id
    """,
)
def cluster_purity(spark, sf_dir):
    """External clustering evaluation (operators/clustering.py::
    cluster_label_purity): the cluster_kmeans model's final assignment
    scored against the embeddings' label column — per cell, the majority
    label, its count, and purity = n_majority / n_points (ties on the
    lowest label). The oracle replays the full two-iteration training
    chain, then the same label-count grid and single double division."""
    emb = T(spark, sf_dir, "embeddings")
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(emb, init, n_iter=2, dim=64)
    return clustering.cluster_label_purity(emb, cents)


# Farthest-first (Gonzalez) init, oracle-checked end-to-end: the oracle
# replays all k-1 deterministic picks (min-distance-to-chosen, farthest
# next, ties on lowest id) in unrolled CTEs, then the same per-cluster
# stats as cluster_kmeans over the resulting model. No RNG anywhere, no
# averaging — distances are sequential folds, so no quantization is even
# needed for bit-exactness.
_FF_K = 8
_FF_STEPS = "".join(
    f""",
    d{t} AS (
      SELECT e.vec_id, e.embedding, min({_KM_D2}) AS md
      FROM embeddings e CROSS JOIN f{t} c
      GROUP BY e.vec_id, e.embedding
    ),
    p{t} AS (
      SELECT vec_id, embedding FROM d{t} ORDER BY md DESC, vec_id ASC LIMIT 1
    ),
    f{t + 1} AS (
      SELECT i, cv FROM f{t}
      UNION ALL
      SELECT {t} AS i, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM p{t}
    )"""
    for t in range(1, _FF_K)
)


@register(
    "cluster_ff_init",
    f"""
    WITH f1 AS (
      SELECT 0 AS i, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id = 0
    ){_FF_STEPS},
    af AS (
      SELECT vec_id, cl, d2 FROM (
        SELECT e.vec_id, c.i AS cl, {_KM_D2} AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN f{_FF_K} c
      ) WHERE rn = 1
    ),
    g AS (
      SELECT cl AS cluster_id, count(*) AS n_points,
             CAST(sum(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qs
      FROM af GROUP BY cl
    )
    SELECT g.cluster_id, g.n_points,
           CAST(qs AS DOUBLE) / CAST(n_points AS DOUBLE) / 1000000.0 AS avg_d2,
           sqrt(list_sum(list_transform(c.cv, x -> x * x))) AS centroid_norm
    FROM g JOIN f{_FF_K} c ON c.i = g.cluster_id
    """,
)
def cluster_ff_init(spark, sf_dir):
    """Gonzalez farthest-first traversal init (operators/clustering.py::
    farthest_first_init): k=8 deterministic picks from vec_id 0, scored
    with the same per-cluster stats as cluster_kmeans. The k-center
    2-approximation init that rescues kmeans_fit from the clumped-seed
    local optimum (PERF.md round 11); every pick is a codegen
    min-distance projection + TakeOrdered(1), zero shuffle."""
    emb = T(spark, sf_dir, "embeddings")
    cents = clustering.farthest_first_init(emb, k=_FF_K, start_id=0)
    return clustering.kmeans_stats(emb, cents)


# k-means|| (Bahmani et al. 2012) oracle: each oversampling round is one
# min-distance scan + an exact-BIGINT round cost + the shared md5 coin
# against a per-row probability threshold, all replayed verbatim; the
# local fit is two weighted Lloyd iterations over the driver-sized
# candidate set (weights = corpus cell counts under the full candidate
# set). 2^60 and the oversample factor appear as exact double literals.
_KMPP_L = "16.0"
_KMPP_2POW60 = "1152921504606846976.0"


def _kmpp_round(r: int, prev: str, nxt: str) -> str:
    """One k-means|| oversampling round as SQL CTEs: quantized min-d2 to
    the current candidate set, exact BIGINT round cost, the md5 coin vs
    floor(least(1, (qd2/phi) * l) * 2^60), picks appended in id order
    with consecutive candidate indices."""
    return f"""
    rd{r} AS (
      SELECT e.vec_id, e.embedding,
             CAST(floor(min({_KM_D2}) * 1000000.0 + 0.5) AS BIGINT) AS qd2
      FROM embeddings e CROSS JOIN {prev} c
      GROUP BY e.vec_id, e.embedding
    ),
    rp{r} AS (
      SELECT vec_id, embedding FROM rd{r}
      WHERE CAST('0x' || substr(md5('kmpp|{r}|' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
          < CAST(floor(least(1.0, (CAST(qd2 AS DOUBLE) / (SELECT CAST(sum(qd2) AS DOUBLE) FROM rd{r})) * {_KMPP_L}) * {_KMPP_2POW60}) AS BIGINT)
    ),
    {nxt} AS (
      SELECT i, cv FROM {prev}
      UNION ALL
      SELECT CAST((SELECT max(i) FROM {prev}) + row_number() OVER (ORDER BY vec_id) AS INTEGER) AS i,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM rp{r}
    )"""


def _kmpp_local_iter(t: int, prev: str, nxt: str) -> str:
    """One weighted Lloyd iteration over the candidate relation `lw`
    (vec_id = candidate index, embedding = cv, w = corpus cell count) —
    _km_iter's exact arithmetic with the weight column carried through
    the assignment instead of injected as an expression."""
    return f"""
    la{t} AS (
      SELECT vec_id, embedding, w, cl FROM (
        SELECT e.vec_id, e.embedding, e.w, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM lw e CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    ls{t} AS (
      SELECT cl, j,
             CAST(sum(CAST(w AS BIGINT) * CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(w AS BIGINT)) AS BIGINT) AS n
      FROM la{t}, range(1, 65) r(j)
      GROUP BY cl, j
    ),
    lu{t} AS (
      SELECT cl AS i, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 ORDER BY j) AS cv
      FROM ls{t} GROUP BY cl
    ),
    {nxt} AS (
      SELECT p.i, coalesce(u.cv, list_transform(p.cv, x -> CAST(x AS DOUBLE))) AS cv
      FROM {prev} p LEFT JOIN lu{t} u ON u.i = p.i
    )"""


_KMPP_CHAIN = f"""
    k0 AS (
      SELECT 0 AS i, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id = 0
    ),{_kmpp_round(1, "k0", "k1")},{_kmpp_round(2, "k1", "k2")},
    wts AS (
      SELECT cl AS i, CAST(count(*) AS BIGINT) AS w FROM (
        SELECT e.vec_id, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN k2 c
      ) WHERE rn = 1 GROUP BY cl
    ),
    lw AS (
      SELECT k.i AS vec_id, k.cv AS embedding, w.w
      FROM k2 k JOIN wts w ON w.i = k.i
    ),
    f0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS i,
             embedding AS cv
      FROM lw ORDER BY vec_id LIMIT 8
    ),{_kmpp_local_iter(1, "f0", "f1")},{_kmpp_local_iter(2, "f1", "f2")}"""


@register(
    "cluster_kmpp_init",
    f"""
    WITH {_KMPP_CHAIN},
    af AS (
      SELECT vec_id, cl, d2 FROM (
        SELECT e.vec_id, c.i AS cl, {_KM_D2} AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN f2 c
      ) WHERE rn = 1
    ),
    g AS (
      SELECT cl AS cluster_id, count(*) AS n_points,
             CAST(sum(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qs
      FROM af GROUP BY cl
    )
    SELECT g.cluster_id, g.n_points,
           CAST(qs AS DOUBLE) / CAST(n_points AS DOUBLE) / 1000000.0 AS avg_d2,
           sqrt(list_sum(list_transform(c.cv, x -> x * x))) AS centroid_norm
    FROM g JOIN f2 c ON c.i = g.cluster_id
    """,
)
def cluster_kmpp_init(spark, sf_dir):
    """k-means|| oversampled seeding (operators/clustering.py::
    kmeans_parallel_init, Bahmani et al. 2012): TWO oversampling rounds
    from vec_id 0 — each round ONE corpus scan sampling points with
    probability least(1, l * d2/phi) by the engine-portable md5 coin
    (l = 16) — then a 2-iteration WEIGHTED Lloyd fit of the driver-sized
    candidate set (weights = corpus cell counts) down to k = 8, scored
    with the same per-cluster stats as cluster_ff_init. The
    production-scale init: O(n_rounds) corpus scans total vs
    farthest-first's k sequential scans. The oracle replays both
    sampling rounds (quantized BIGINT round costs, the identical
    division-multiply-clamp threshold chain, the shared coin spelling),
    the weight assignment, and both weighted local iterations
    CTE-for-CTE."""
    emb = T(spark, sf_dir, "embeddings")
    cents = clustering.kmeans_parallel_init(
        emb, k=8, start_id=0, n_rounds=2, oversample=16.0, n_iter_local=2, dim=64
    )
    return clustering.kmeans_stats(emb, cents)


@register(
    "cluster_outliers",
    f"""
    WITH {_KM_CHAIN},
    af AS (
      SELECT vec_id, cl, d2 FROM (
        SELECT e.vec_id, c.i AS cl, {_KM_D2} AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN c2 c
      ) WHERE rn = 1
    )
    SELECT vec_id, cl AS cluster_id, d2, dist_rank FROM (
      SELECT vec_id, cl, d2,
             row_number() OVER (PARTITION BY cl ORDER BY d2 DESC, vec_id ASC) AS dist_rank,
             count(*) OVER (PARTITION BY cl) AS n
      FROM af
    ) WHERE dist_rank <= CAST(floor(0.05 * CAST(n AS DOUBLE)) AS BIGINT)
    """,
)
def cluster_outliers(spark, sf_dir):
    """Per-cluster distance-tail outlier flags (operators/clustering.py::
    cluster_distance_outliers): the 5% of each k-means cell farthest
    from its centroid — the embedding-space junk filter a curation
    pipeline runs before the expensive prep tiers. Rank-based (integer
    logic over cross-engine-identical distances), so the oracle needs no
    quantile-interpolation matching; it replays training CTE-for-CTE and
    the same two windows."""
    emb = T(spark, sf_dir, "embeddings")
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(emb, init, n_iter=2, dim=64)
    return clustering.cluster_distance_outliers(emb, cents, frac=0.05)


_KMW_WEIGHT = "(vec_id % 5) + 1"
_KMW_CHAIN = f"""
    c0 AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_KM_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),{_km_iter(1, "c0", "c1", weight=_KMW_WEIGHT)},{_km_iter(2, "c1", "c2", weight=_KMW_WEIGHT)}"""


@register(
    "cluster_kmeans_weighted",
    f"""
    WITH {_KMW_CHAIN},
    af AS (
      SELECT vec_id, cl, d2 FROM (
        SELECT e.vec_id, c.i AS cl, {_KM_D2} AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    g AS (
      SELECT cl AS cluster_id, count(*) AS n_points,
             CAST(sum(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qs
      FROM af GROUP BY cl
    )
    SELECT g.cluster_id, g.n_points,
           CAST(qs AS DOUBLE) / CAST(n_points AS DOUBLE) / 1000000.0 AS avg_d2,
           sqrt(list_sum(list_transform(c.cv, x -> x * x))) AS centroid_norm
    FROM g JOIN c2 c ON c.i = g.cluster_id
    """,
)
def cluster_kmeans_weighted(spark, sf_dir):
    """WEIGHTED Lloyd training (operators/clustering.py::kmeans_fit with
    weight_col): each vector counts weight times in the centroid update —
    the post-dedup shape, where a representative carries its near-dup
    family size so removing duplicates doesn't erase the density signal.
    Weights here are the deterministic stand-in (vec_id % 5) + 1; integer
    weights times integer quantized sums keep the update exact, and the
    oracle replays both weighted iterations CTE-for-CTE. Output is the
    same per-cluster stats shape as cluster_kmeans, over the weighted
    model's final assignment."""
    emb = T(spark, sf_dir, "embeddings")
    weighted = emb.withColumn("__w", (F.col("vec_id") % 5 + 1).cast("long"))
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(weighted, init, n_iter=2, dim=64, weight_col="__w")
    return clustering.kmeans_stats(emb, cents)


@register(
    "cluster_drift",
    f"""
    WITH {_KM_CHAIN},
    af AS (
      SELECT vec_id, cl FROM (
        SELECT e.vec_id, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN c2 c
      ) WHERE rn = 1
    )
    SELECT a1.cl AS cluster_before, af.cl AS cluster_after, count(*) AS n
    FROM a1 JOIN af ON af.vec_id = a1.vec_id
    GROUP BY a1.cl, af.cl
    """,
)
def cluster_drift(spark, sf_dir):
    """Assignment-drift contingency (operators/clustering.py::
    assignment_drift): cell moves between the sampled-point init model
    and the 2-iteration trained model — the matrix a deployment reads
    before promoting a refreshed model over the frozen one (a
    near-diagonal table = safe; a reshuffle = rebuild the per-cell
    artifacts). The oracle reuses the training chain's OWN intermediate
    (a1 is the init-model assignment) joined to the final assignment;
    the Spark side computes both argmins in one projection over a
    single corpus scan."""
    emb = T(spark, sf_dir, "embeddings")
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(emb, init, n_iter=2, dim=64)
    return clustering.assignment_drift(emb, init, cents)


_KMS_THRESH = int((1 << 60) * 0.5)
_KMS_CHAIN = f"""
    emb_s AS (
      SELECT * FROM embeddings
      WHERE CAST('0x' || substr(md5('kmeans|' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) < {_KMS_THRESH}
    ),
    c0 AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_KM_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),{_km_iter(1, "c0", "c1", src="emb_s")},{_km_iter(2, "c1", "c2", src="emb_s")}"""


@register(
    "cluster_kmeans_sampled",
    f"""
    WITH {_KMS_CHAIN},
    af AS (
      SELECT vec_id, cl, d2 FROM (
        SELECT e.vec_id, c.i AS cl, {_KM_D2} AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    g AS (
      SELECT cl AS cluster_id, count(*) AS n_points,
             CAST(sum(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qs
      FROM af GROUP BY cl
    )
    SELECT g.cluster_id, g.n_points,
           CAST(qs AS DOUBLE) / CAST(n_points AS DOUBLE) / 1000000.0 AS avg_d2,
           sqrt(list_sum(list_transform(c2.cv, x -> x * x))) AS centroid_norm
    FROM g JOIN c2 ON c2.i = g.cluster_id
    """,
)
def cluster_kmeans_sampled(spark, sf_dir):
    """The production training shape as one first-class call
    (operators/clustering.py::kmeans_fit with sample_frac +
    sample_vectors): TRAIN the Lloyd model on the deterministic md5-coin
    half-sample (engine-portable — stable across runs, partitionings,
    and corpus appends, unlike RNG sampling), then ASSIGN and audit the
    FULL corpus with the sampled-trained centroids. This is the 100-TB
    recipe DEPLOYMENT.md prescribes — at scale the trainer's n_iter
    scans touch only the sample while per-cluster stats still cover
    everything. The oracle replays the identical coin
    (CAST('0x' || substr(md5('kmeans|' || id), 1, 15) AS BIGINT) <
    floor(frac * 2^60)) and both weighted iterations CTE-for-CTE over
    the sampled relation, then the full-corpus assignment."""
    emb = T(spark, sf_dir, "embeddings")
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(emb, init, n_iter=2, dim=64, sample_frac=0.5)
    return clustering.kmeans_stats(emb, cents)


@register(
    "cluster_top_terms",
    f"""
    WITH {_KM_CHAIN},
    af AS (
      SELECT vec_id, cl FROM (
        SELECT e.vec_id, c.i AS cl,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    tok AS (
      SELECT af.cl AS cluster_id, unnest({_TOKS_SQL}) AS term
      FROM documents d JOIN af ON af.vec_id = d.doc_id
    ),
    cnt AS (
      SELECT cluster_id, term, count(*) AS n
      FROM tok WHERE length(term) >= 4
      GROUP BY cluster_id, term
    )
    SELECT cluster_id, term, n, term_rank FROM (
      SELECT cluster_id, term, n,
             row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, term ASC) AS term_rank
      FROM cnt
    ) WHERE term_rank <= 10
    """,
)
def cluster_top_terms(spark, sf_dir):
    """Cluster interpretation report (operators/clustering.py::
    cluster_top_terms): the 10 most frequent >= 4-char normalized tokens
    of each k-means cell's member documents — the dataset-card artifact
    that tells an operator what a cell IS before capping or dropping it
    (pairs with cluster_balanced_sample / cluster_distance_outliers,
    which decide how MUCH of the cell survives). The oracle replays
    training CTE-for-CTE, the same id join, the shared normalize/
    tokenize fragment, and the same (count desc, term asc) tie rule."""
    emb = T(spark, sf_dir, "embeddings")
    docs = T(spark, sf_dir, "documents")
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(emb, init, n_iter=2, dim=64)
    return clustering.cluster_top_terms(emb, docs, cents)


_KM4_VALUES = ", ".join(f"({i}, {cid})" for i, cid in enumerate(_KM_IDS[:4]))
# second training chain (k=4 nested seed prefix) with non-colliding CTE
# names: d* for the centroid models, iteration indices 3/4 for a/s/u
_ELBOW_CHAIN4 = f"""
    d0 AS (
      SELECT t.i, e.embedding AS cv
      FROM (VALUES {_KM4_VALUES}) t(i, cid)
      JOIN embeddings e ON e.vec_id = t.cid
    ),{_km_iter(3, "d0", "d1")},{_km_iter(4, "d1", "d2")}"""


@register(
    "cluster_elbow",
    f"""
    WITH {_KM_CHAIN},{_ELBOW_CHAIN4},
    af8 AS (
      SELECT vec_id, d2 FROM (
        SELECT e.vec_id, {_KM_D2} AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    af4 AS (
      SELECT vec_id, d2 FROM (
        SELECT e.vec_id, {_KM_D2} AS d2,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
        FROM embeddings e CROSS JOIN d2 c
      ) WHERE rn = 1
    )
    SELECT k, n_points, CAST(qs AS DOUBLE) / 1000000.0 AS total_inertia FROM (
      SELECT 4 AS k, count(*) AS n_points,
             CAST(sum(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qs
      FROM af4
      UNION ALL
      SELECT 8 AS k, count(*) AS n_points,
             CAST(sum(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qs
      FROM af8
    )
    """,
)
def cluster_elbow(spark, sf_dir):
    """Model-selection elbow curve (operators/clustering.py::
    kmeans_elbow): total quantized inertia for k=4 and k=8 models, each
    trained with two Lloyd updates from the SAME nested id-seed list
    (the first k of _KM_IDS), so the curve varies only k. The oracle
    replays BOTH training chains CTE-for-CTE (non-colliding CTE names)
    and the same order-free integer inertia sums."""
    emb = T(spark, sf_dir, "embeddings")
    return clustering.kmeans_elbow(emb, ks=[4, 8], init_ids=_KM_IDS, n_iter=2, dim=64)


@register(
    "embedding_dim_drift",
    """
    WITH sa AS (
      SELECT CAST(j - 1 AS INTEGER) AS dim_idx, count(*) AS n_a,
             CAST(sum(CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(floor(CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s2
      FROM embeddings, range(1, 65) r(j) WHERE vec_id % 2 = 0
      GROUP BY j
    ),
    sb AS (
      SELECT CAST(j - 1 AS INTEGER) AS dim_idx, count(*) AS n_b,
             CAST(sum(CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(floor(CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s2
      FROM embeddings, range(1, 65) r(j) WHERE vec_id % 2 = 1
      GROUP BY j
    ),
    m AS (
      SELECT sa.dim_idx, n_a, n_b,
             CAST(sa.s AS DOUBLE) / CAST(n_a AS DOUBLE) / 1000000.0 AS mean_a,
             CAST(sb.s AS DOUBLE) / CAST(n_b AS DOUBLE) / 1000000.0 AS mean_b,
             CAST(sa.s2 AS DOUBLE) / CAST(n_a AS DOUBLE) / 1000000.0 AS ex2_a,
             CAST(sb.s2 AS DOUBLE) / CAST(n_b AS DOUBLE) / 1000000.0 AS ex2_b
      FROM sa JOIN sb ON sb.dim_idx = sa.dim_idx
    ),
    v AS (
      SELECT dim_idx, n_a, n_b, mean_a, mean_b,
             mean_b - mean_a AS delta,
             greatest(ex2_a - mean_a * mean_a, 0.0) AS var_a,
             greatest(ex2_b - mean_b * mean_b, 0.0) AS var_b
      FROM m
    )
    SELECT dim_idx, n_a, n_b, mean_a, mean_b, delta, var_a, var_b,
           var_b - var_a AS var_delta,
           CASE WHEN var_a > 0.0 THEN abs(delta) / sqrt(var_a) END AS effect_size
    FROM v
    """,
)
def embedding_dim_drift(spark, sf_dir):
    """Model-free embedding distribution drift (operators/clustering.py::
    embedding_dim_drift): per-dimension mean AND variance deltas plus
    the |delta|/sigma_ref effect size between two batches — here the
    deterministic even/odd vec_id split standing in for yesterday's and
    today's embedding drops. The encoder-regression monitor that needs
    no model: a mean step across many dimensions, or a variance step
    with flat means (a scale/temperature encoder change — the failure
    mode a mean-only monitor cannot see), says the ANN index / k-means
    model / SemDeDup thresholds are about to stop matching the data.
    Same quantized-sum exactness as the centroid update, one more
    additive BIGINT (sum of floor(x*x*quant + 0.5)) per dimension; the
    oracle replays both sides' sums, the identical division chains, the
    variance clamp, and the guarded abs/sqrt/divide effect size."""
    emb = T(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    return clustering.embedding_dim_drift(a, b)


@register(
    "cluster_silhouette",
    f"""
    WITH {_KM_CHAIN},
    r AS (
      SELECT e.vec_id, c.i, {_KM_D2} AS d,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
      FROM embeddings e CROSS JOIN c2 c
    ),
    ab AS (
      SELECT vec_id,
             max(CASE WHEN rn = 1 THEN i END) AS cluster_id,
             max(CASE WHEN rn = 1 THEN d END) AS a,
             max(CASE WHEN rn = 2 THEN d END) AS b
      FROM r WHERE rn <= 2 GROUP BY vec_id
    ),
    q AS (
      SELECT cluster_id,
             CAST(floor((CASE WHEN greatest(a, b) = 0 THEN 0.0
                              ELSE (b - a) / greatest(a, b) END) * 1000000.0 + 0.5) AS BIGINT) AS qs
      FROM ab
    )
    SELECT cluster_id, count(*) AS n_points,
           CAST(CAST(sum(qs) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS avg_silhouette
    FROM q GROUP BY cluster_id
    """,
)
def cluster_silhouette(spark, sf_dir):
    """Simplified-silhouette model quality (operators/clustering.py::
    cluster_silhouette): per-cluster mean of (b - a) / max(a, b) over
    own-centroid vs second-nearest-centroid squared distances, for the
    cluster_kmeans trained model — the across-k-comparable companion to
    cluster_elbow's always-falling inertia. The oracle replays training
    CTE-for-CTE, takes the two nearest centroids by the identical
    (d, i) rank, and folds the same quantized silhouette sums."""
    emb = T(spark, sf_dir, "embeddings")
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(emb, init, n_iter=2, dim=64)
    return clustering.cluster_silhouette(emb, cents)


@register(
    "cluster_boundary",
    f"""
    WITH {_KM_CHAIN},
    r AS (
      SELECT e.vec_id, c.i, {_KM_D2} AS d,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY {_KM_D2}, c.i) AS rn
      FROM embeddings e CROSS JOIN c2 c
    ),
    ab AS (
      SELECT vec_id,
             max(CASE WHEN rn = 1 THEN i END) AS cluster_id,
             max(CASE WHEN rn = 1 THEN d END) AS a,
             max(CASE WHEN rn = 2 THEN d END) AS b
      FROM r WHERE rn <= 2 GROUP BY vec_id
    ),
    q AS (
      SELECT cluster_id,
             CAST(floor((b - a) * 1000000.0 + 0.5) AS BIGINT) AS qm,
             CASE WHEN b - a < 0.05 THEN 1 ELSE 0 END AS bd
      FROM ab
    )
    SELECT cluster_id, count(*) AS n_points,
           CAST(sum(bd) AS BIGINT) AS n_boundary,
           CAST(CAST(sum(qm) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS avg_margin
    FROM q GROUP BY cluster_id
    """,
)
def cluster_boundary(spark, sf_dir):
    """Per-cluster boundary-mass churn-risk report (operators/
    clustering.py::cluster_boundary): how many of each cell's points sit
    within 0.05 squared-L2 margin of the SECOND-nearest centroid — the
    points any model refresh will reshuffle, predicting
    assignment_drift's churn BEFORE a refresh happens. Rides the same
    dual-path two-nearest projection as cluster_silhouette; the oracle
    replays training CTE-for-CTE, the (d, i)-ranked two-nearest pick,
    the margin flag, and the quantized mean-margin fold."""
    emb = T(spark, sf_dir, "embeddings")
    init = clustering.init_centroids_by_id(emb, _KM_IDS)
    cents = clustering.kmeans_fit(emb, init, n_iter=2, dim=64)
    return clustering.cluster_boundary(emb, cents, threshold=0.05)
