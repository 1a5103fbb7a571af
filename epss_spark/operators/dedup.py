"""Deduplication operators for training-data pipelines.

Scale design notes (the point of each algorithm, not just its output):

- exact_groups: hash-groupBy on a fingerprint — one shuffle of (fp, id)
  pairs, never the full text. At 100 TB the shuffle payload is ~40 bytes/doc.
- minhash_lsh_pairs: shingle -> k minhashes -> banding -> bucket join.
  The candidate join is on band_key (a hash) — uniformly distributed, so no
  skew; cost is O(candidate pairs), not O(n^2).
- ngram_jaccard_pairs: exact Jaccard via a shingle-equality self-join with
  map-side distinct. Quadratic only within identical-shingle groups; used as
  the verifier behind LSH candidates (and standalone at moderate scale).
- simhash_groups: 1-shuffle near-dup clustering by a 32-63-bit majority-vote
  fingerprint of token hashes.
- minhash_index / minhash_lookup: incremental dedup for daily appends —
  the indexed corpus never re-shingles and its band rows never shuffle
  (the batch's band rows broadcast-join against the index scan), so
  per-day cost is O(append), not O(corpus).
- connected_components / dedup_corpus_near(policy='components'):
  transitive-closure grouping via iterative min-label propagation over
  the EDGE set only (O(diameter) rounds, lineage truncated per round).
- dedup_corpus_lines / line_index / dedup_batch_lines: CCNet-style
  corpus-level line dedup — first occurrence per distinct line via a
  min(struct) hash aggregate (map-side partials absorb boilerplate-line
  skew), with an O(batch-lines) incremental path against a persistent
  fingerprint index.
- cap_per_stratum: hard per-domain document caps (the mega-domain guard
  rate-based sample_stratified cannot express).
- Hotspot guards (opt-in): max_bucket_size skips boilerplate mega-clique
  buckets; max_shingle_df drops corpus-wide shingles from the n-gram
  discovery join.

All hashes are md5-derived by default (bit-identical across engines, so
every dedup op is oracle-checked); simhash also offers xxhash64
(JVM-vectorized, engine-specific) as its scale mode.

Note on caching: minhash_lsh_pairs / ngram_jaccard_pairs persist the
shared shingle-array frame for the lifetime of the returned (lazy) plan —
Spark gives a library function no sound point to unpersist it. Sessions
running many dedup passes should scope the cache themselves:

    with shingle_cache(docs) as shmap:
        pairs = minhash_lsh_pairs(docs, shmap=shmap).collect()
    # the shingle cache is released here

Passing `shmap` makes the caller the owner of the persist lifecycle; the
default (shmap=None) keeps the old fire-and-forget behavior.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from epss_spark.operators.text import normalize, tokens, with_shingles


def _md5_60bit(c) -> "Column":
    """60-bit integer from an md5 hex prefix — the engine-portable hash
    shared by train_split / sample_stratified / simhash. The DuckDB oracle
    spelling is CAST('0x' || substr(md5(x), 1, 15) AS BIGINT); changing
    the width or derivation here requires changing every oracle too."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup groups: md5(normalized text) -> representative (min id)
    + duplicate count."""
    return (
        docs.select(F.md5(normalize(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def keep_latest(
    df: DataFrame,
    key_cols,
    version_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Snapshot compaction: keep exactly ONE row per key — the one with
    the greatest `version_col`. With a `tiebreak_col`, the winner is
    picked by max_by over (version, tiebreak) ONLY — the payload never
    enters the ordering, so map-typed (and other unorderable) payload
    columns are supported; pass a UNIQUE tiebreak for determinism
    (max_by is free to pick either row on a full (version, tiebreak)
    tie). Without a tiebreak, ties are broken by the greatest payload
    struct — fully deterministic, but every payload column must then be
    orderable (maps are not). The crawl-pipeline shape this
    serves: re-fetched pages keyed by canonical URL (url_canonicalize)
    with a fetch sequence/timestamp — compacting N snapshots per page
    down to the newest before any content-level dedup runs. Also the
    generic SCD-1 / changelog-compaction primitive (latest record per
    entity id).

    Scale shape: ONE aggregate shuffle of (key, max/max_by) with
    map-side partial merge — hot keys (pages recrawled millions of times)
    collapse to one row per map partition before the exchange. No
    window (no full per-key materialization), no join-back (the payload rides inside
    the aggregate). Extension operator (no reference analogue — the
    reference's per-date files are already one-row-per-cve); standard
    crawl/CDC compaction."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    payload = [c for c in df.columns if c not in keys]
    pstruct = F.struct(*[F.col(c) for c in payload])
    if tiebreak_col is not None:
        # ordering key excludes the payload: maps etc. stay un-compared
        okey = F.struct(
            F.col(version_col).alias("__v"), F.col(tiebreak_col).alias("__t")
        )
        won = df.groupBy(*keys).agg(F.max_by(pstruct, okey).alias("__p"))
        out = won.select(*keys, *[F.col(f"__p.{c}").alias(c) for c in payload])
    else:
        packed = F.struct(F.col(version_col).alias("__v"), pstruct.alias("__p"))
        won = df.groupBy(*keys).agg(F.max(packed).alias("__m"))
        out = won.select(*keys, *[F.col(f"__m.__p.{c}").alias(c) for c in payload])
    return out.select(*df.columns)


def snapshot_history(
    snapshots: DataFrame,
    key_cols,
    version_col: str,
    fp_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """SCD-2 interval compaction — the history-keeping sibling of
    `keep_latest` (SCD-1) and `snapshot_diff` (two-snapshot delta): from
    a changelog of keyed snapshots, emit one row per CONSECUTIVE run of
    unchanged content — (keys..., fp, valid_from, valid_to, n_versions)
    with valid_from = the run's first version, valid_to = the next run's
    first version (NULL for the current run, the half-open [from, to)
    convention), and n_versions = how many fetches saw that content.
    The crawl shape this serves: "when did this page last change, and
    how long did each revision live?" — the audit/history table a
    compliance or freshness pipeline keeps NEXT TO the keep_latest
    serving view. `fp_col` defines sameness (e.g. md5 of normalized
    text); NULL fps compare null-safely (two missing fetches are the
    same run). With `tiebreak_col`, duplicate (key, version) rows
    compact to the greatest tiebreak first.

    Scale shape: ONE hash exchange on the key (plan-pinned) — the
    tiebreak dedup, the change-flag lag, the run-numbering running sum,
    the per-run aggregate, and the lead() for valid_to all reuse the
    same key partitioning (the tiebreak filter even shares the main
    window's sort: ordering by (version asc, tiebreak desc) makes
    "first row per version" the tiebreak winner AND is a sorted prefix
    for the version-ordered lag); no joins, no per-key array
    materialization (windows stream + spill). Extension operator (the
    reference's per-date score files are the already-exploded form of
    exactly this table — epss/client.py:453-475 reconstructs changes
    FROM it)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if tiebreak_col is not None:
        wv = Window.partitionBy(*keys).orderBy(
            F.col(version_col).asc(), F.col(tiebreak_col).desc()
        )
        # row_number guards the first row per key: its lag is NULL, and a
        # NULL version would null-safe-equal it — dropping the key's
        # entire NULL-version history instead of keeping one row
        snapshots = (
            snapshots.withColumn(
                "__dup",
                (F.row_number().over(wv) > 1)
                & F.lag(version_col).over(wv).eqNullSafe(F.col(version_col)),
            )
            .filter(~F.col("__dup"))
            .drop("__dup")
        )
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).asc())
    prev_fp = F.lag(F.col(fp_col)).over(w)
    chg = (
        (F.row_number().over(w) == 1)
        | ~F.col(fp_col).eqNullSafe(prev_fp)
    ).cast("int")
    run = F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    runs = (
        snapshots.withColumn("__run", run)
        .groupBy(*keys, "__run")
        .agg(
            F.min(fp_col).alias(fp_col),
            F.min(version_col).alias("valid_from"),
            F.count(F.lit(1)).alias("n_versions"),
        )
    )
    w2 = Window.partitionBy(*keys).orderBy(F.col("valid_from").asc())
    return runs.select(
        *keys,
        fp_col,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_versions",
    )


def history_as_of(history: DataFrame, version) -> DataFrame:
    """Point-in-time reconstruction from an SCD-2 interval table
    (`snapshot_history` output): the rows whose half-open
    [valid_from, valid_to) interval contains `version` — i.e. the
    snapshot exactly as it stood at that version, WITHOUT re-reading
    the raw changelog. The reason a 100 TB pipeline keeps the interval
    table at all: the reference answers the same question by loading
    the whole per-date file for the requested date
    (epss/client.py:239-254 get_scores_by_date); here it is ONE
    zero-shuffle filter over the compacted runs, partition/zone
    prunable when the table is stored sorted by valid_from.

    Keys whose history began after `version` drop out (valid_from >
    version); NULL-valid_from runs (NULL-version histories) are
    unorderable against any as-of point and are excluded."""
    v = F.lit(version)
    return history.filter(
        (F.col("valid_from") <= v)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > v))
    )


def history_changed_between(history: DataFrame, v_from, v_to) -> DataFrame:
    """Revisions that APPEARED in the half-open version window
    (v_from, v_to], straight from the SCD-2 interval table: every run
    whose valid_from lands in the window is a content change observed
    there (a key's first-ever run reads as its appearance). The
    interval-table form of the reference's two-snapshot delta
    (epss/client.py:453-475 get_changed_scores) — but computed from
    the compacted runs with ONE zero-shuffle filter instead of loading
    and anti-joining two full snapshots; at crawl scale the runs table
    is orders of magnitude smaller than any snapshot pair."""
    lo, hi = F.lit(v_from), F.lit(v_to)
    return history.filter(
        (F.col("valid_from") > lo) & (F.col("valid_from") <= hi)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff: compare two crawls/dumps by id and content
    fingerprint (md5 of normalized text, same identity as exact_groups)
    and emit one row per DIFFERENCE — status 'added' (id only in new),
    'removed' (id only in old), 'changed' (both present, fingerprint
    differs). Unchanged documents produce no row: the document-grain
    analogue of the reference's drop-unchanged score diff
    (epss/client.py:453-462 get_changed_scores, :38 drop_unchanged_scores
    — diffs keep only rows whose value moved), and the input a nightly
    pipeline feeds to its
    incremental index maintenance (added+changed -> index/dedup ingest,
    removed -> tombstones).

    Returns (id, status, old_fp, new_fp); the absent side's fp is NULL.

    Scale shape: each side is one fingerprint projection (text never
    survives past md5) followed by a single id-equi full outer join —
    sort-merge on id, co-partitioned for free when both snapshots are
    bucketed by id (the DEPLOYMENT.md layout); the unchanged majority
    is filtered AFTER the join without materializing anything per-row
    beyond the two 16-byte fps."""
    o = old.select(F.col(id_col), F.md5(normalize(text_col)).alias("old_fp"))
    n = new.select(F.col(id_col), F.md5(normalize(text_col)).alias("new_fp"))
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
    )
    return (
        j.select(F.col(id_col), status.alias("status"), "old_fp", "new_fp")
        .where(F.col("status").isNotNull())
    )


def _exploded_shingles(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    from epss_spark.operators.layout import ensure_parallelism

    # explode_outer, NOT explode: plain explode makes the optimizer infer a
    # `size(shingles) > 0 AND isnotnull(shingles)` filter and push it below
    # the repartition exchange — with the whole normalize/tokenize/zip_with
    # tree inlined, re-evaluating ~8 copies of the regex pipeline on the
    # single pre-shuffle task (measured 5x the cost of the explode itself).
    # Shingle arrays are never null/empty by construction, so the cheap
    # post-Generate null filter is a semantic no-op. No distinct() either:
    # with_shingles already array_distinct's per doc, so (id, sh) pairs are
    # unique by construction — a dedup exchange here would buy nothing.
    return (
        with_shingles(ensure_parallelism(docs), id_col, text_col)
        .select(id_col, F.explode_outer("shingles").alias("sh"))
        .where(F.col("sh").isNotNull())
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shmap: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing >= 1 shingle.

    Same single-artifact design as minhash_lsh_pairs: one persisted
    shingle-array frame feeds the exploded discovery join (inherent here —
    pairs are DEFINED by shared shingles). Set sizes RIDE the exploded
    rows as a 4-byte int and fold into the intersection groupBy via min()
    (every row of a doc carries the same size), so there is no separate
    per-document size frame and no join-back at all — the previous
    formulation joined two one-row-per-document frames back with forced
    F.broadcast hints, which at corpus scale is a broadcast of billions
    of rows (the same anti-pattern removed from the star joins in r4).
    Pass `shmap` (e.g. from `shingle_cache`) to own the persist
    lifecycle.

    max_shingle_df (opt-in scale guard): drop shingles whose document
    frequency exceeds the cap from the DISCOVERY join. The join is
    quadratic per shared shingle — one boilerplate shingle in 1M docs
    alone yields 5x10^11 candidate rows and kills the stage. Capped
    shingles are excluded from the intersection COUNT but not from the
    set sizes, so reported jaccard is a LOWER BOUND for affected pairs
    (a pair whose only shared shingles are boilerplate disappears —
    usually the intent). The df count rides a window over the same
    hash(sh) partitioning the discovery join needs, so the cap adds no
    extra shuffle of the exploded set. Default None = exact."""
    if shmap is None:
        shmap = shingle_arrays(docs, id_col, text_col).persist()
    ex = (
        shmap.select(
            id_col, F.size("shingles").alias("n"), F.explode_outer("shingles").alias("sh")
        )
        .where(F.col("sh").isNotNull())
    )
    if max_shingle_df is not None:
        wsh = Window.partitionBy("sh")
        ex = (
            ex.withColumn("__df", F.count(F.lit(1)).over(wsh))
            .filter(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    a = ex.select(F.col(id_col).alias("a_id"), F.col("n").alias("na"), "sh")
    b = ex.select(F.col(id_col).alias("b_id"), F.col("n").alias("nb"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def train_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    salt: str = "split",
) -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment: bucket by
    the first 15 hex chars of md5(salt|id) — stable across runs, engines,
    partitionings, and appends (a doc's split never changes when the
    corpus grows, unlike sample()/randomSplit). Pure projection, no
    shuffle, no RNG state."""
    return docs.withColumn("split", _split_expr(F.col(id_col), weights, salt))


def _split_expr(group_col, weights, salt: str):
    """The shared hash-split expression: bucket by the first 15 hex chars
    of md5(salt|group) — used by train_split (group = doc id) and
    train_split_leakage_safe (group = near-dup component rep), so the
    two agree exactly on singleton docs."""
    lo = int((1 << 60) * weights[0])
    mid = int((1 << 60) * (weights[0] + weights[1]))
    h = _md5_60bit(F.concat(F.lit(f"{salt}|"), group_col.cast("string")))
    return (
        F.when(h < lo, F.lit("train")).when(h < mid, F.lit("val")).otherwise(F.lit("test"))
    )


def train_split_leakage_safe(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    salt: str = "split",
    max_iterations: int = 20,
    on_max_iterations: str = "raise",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: hash the near-dup
    COMPONENT representative instead of the document id, so every
    member of a connected component of the verified similar-pair graph
    lands in the SAME split — eval can never contain a near-duplicate
    of a training document, the contamination mode that per-doc
    hashing (train_split) cannot prevent and that silently inflates
    benchmark scores. Docs untouched by any pair are singleton
    components hashed by their own id — BIT-IDENTICAL to train_split
    for them, so switching split functions reassigns only the docs
    that were leaking.

    Returns docs + `split_group` (the component rep the hash keyed on —
    the audit column) + `split`.

    Scale shape: connected_components runs O(log diameter) rounds over
    the PAIR set only (pairs << corpus after LSH blocking); the corpus
    sees one left join against the component labels (AQE broadcasts
    while the labeled-vertex set is small) and the same zero-shuffle
    hash projection as train_split."""
    cc = connected_components(
        pairs, max_iterations=max_iterations, on_max_iterations=on_max_iterations
    )
    labeled = docs.join(
        cc.select(F.col("id").alias(id_col), "component"), id_col, "left"
    )
    group = F.coalesce(F.col("component"), F.col(id_col))
    return (
        labeled.withColumn("split_group", group)
        .withColumn("split", _split_expr(F.col("split_group"), weights, salt))
        .drop("component")
    )


def dedup_corpus_near(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    policy: str = "greedy",
    max_iterations: int = 20,
    on_max_iterations: str = "raise",
) -> DataFrame:
    """The near-dup ACTION: given verified similar pairs (a_id < b_id, e.g.
    from minhash_lsh_pairs), return the corpus minus near-duplicates.

    policy="greedy" (default): drop every doc that has a smaller-id
    near-duplicate — one-pass, the standard LSH dedup policy. NOT
    transitive closure: a chain 1~3, 3~5 with 1!~5 drops both 3 and 5.
    Rarely differs from closure on near-dup graphs, which are
    overwhelmingly cliques of boilerplate.

    policy="components": full transitive closure — keep exactly the
    min-id doc of each connected component (a chain 1~3, 3~5 keeps only
    1), via the iterative min-label propagation in `connected_components`.
    Costs O(diameter) shuffle rounds over the PAIR set only (the corpus
    still sees just the final anti-join), so it's cheap whenever pairs
    << corpus.

    Scale shape: the drop set is usually orders of magnitude smaller than
    the corpus, but on boilerplate-heavy crawls (30-60% duplication) it is
    corpus-scale — so NO forced broadcast hint: a plain left_anti lets AQE
    broadcast while the set is small and fall back to a shuffled anti-join
    when it is not (executors would OOM under a forced corpus-scale
    broadcast)."""
    if policy == "greedy":
        drop = pairs.select(F.col("b_id").alias(id_col)).distinct()
    elif policy == "components":
        cc = connected_components(
            pairs, max_iterations=max_iterations, on_max_iterations=on_max_iterations
        )
        drop = cc.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        raise ValueError(f"unknown policy {policy!r}")
    return docs.join(drop, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    on_max_iterations: str = "raise",
) -> DataFrame:
    """Connected components over an undirected similarity graph given as
    (a_id, b_id) edge pairs. Returns (id, component) where component is
    the MINIMUM id reachable from `id` — one row per distinct vertex.

    Algorithm: min-label propagation accelerated with pointer jumping
    (the dataframe-native reduction of large-star/small-star a la Kiveris
    et al., "Connected Components in MapReduce and Beyond"): each round
    every vertex first adopts the smallest label among itself and its
    neighbors (one hop), then shortcuts to its LABEL'S label (pointer
    jump). Jumping doubles the effective propagation distance per round,
    so a path graph of n vertices converges in O(log n) rounds instead of
    O(n) — 20 rounds cover chains ~2^20 long. Labels are always vertex
    ids within the vertex's own component and only ever decrease, so the
    fixpoint (a full round with zero changes) is exactly the min-id
    component labeling.

    If `max_iterations` is exhausted before the fixpoint (pathological at
    the default cap), the labels are a valid refinement — every labeled
    group IS within one true component, but a component may be split.
    That must never pass silently: `on_max_iterations` is "raise"
    (default — RuntimeError), "warn" (RuntimeWarning, return the
    refinement), or "ignore".

    Scale shape: every round is two self-equi-joins + one groupBy shuffle
    over the EDGE/VERTEX sets (never the corpus) plus a localCheckpoint to
    truncate the growing iterative lineage — the standard Spark
    iterative-algorithm pattern. Convergence is detected with a 1-row
    count aggregate per round."""
    if on_max_iterations not in ("raise", "warn", "ignore"):
        raise ValueError(
            f"unknown on_max_iterations {on_max_iterations!r}: "
            "expected 'raise', 'warn', or 'ignore'"
        )
    from epss_spark.operators.layout import size_coalesced_shuffles

    with size_coalesced_shuffles(pairs.sparkSession):
        return _connected_components_loop(pairs, max_iterations, on_max_iterations)


def _connected_components_loop(
    pairs: DataFrame, max_iterations: int, on_max_iterations: str
) -> DataFrame:
    """connected_components' iterative body. Runs inside
    size_coalesced_shuffles (optimization r15): the per-round
    label/edge shuffles are bounded by the VERTEX/EDGE sets, so AQE's
    size-based coalescing collapses them to size-proportional task
    counts instead of the defaultParallelism floor — measured 32 tasks
    -> 1 per round at bench scale with identical labels."""
    edges = (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .union(pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # labels: every vertex starts as its own component
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        # 1. propagate: candidate label for v = min over neighbors u of label(u)
        neighbor_min = (
            edges.join(labels, edges["u"] == labels["id"])
            .select(F.col("v").alias("id"), F.col("component").alias("nc"))
            .groupBy("id")
            .agg(F.min("nc").alias("nc"))
        )
        propagated = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(F.col("component"), F.coalesce(F.col("nc"), F.col("component"))).alias(
                "component"
            ),
        )
        # 2. pointer jump: component -> label(component). Every label is a
        # vertex id (labels start as ids and least() only picks existing
        # labels), so the self-join always matches; the coalesce is
        # belt-and-braces. label(c) <= c by monotonicity, so least() is
        # redundant but keeps the invariant explicit.
        parent = propagated.select(
            F.col("id").alias("component"), F.col("component").alias("pc")
        )
        new_labels = (
            propagated.join(parent, "component", "left")
            .select("id", F.least(F.col("component"), F.coalesce("pc", "component")).alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components did not converge within {max_iterations} "
            "iterations: the returned labels are a refinement (components may "
            "be split). Raise max_iterations, or pass on_max_iterations="
            "'warn'/'ignore' to accept the refinement."
        )
        if on_max_iterations == "raise":
            raise RuntimeError(msg)
        if on_max_iterations == "warn":
            import warnings

            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def sample_stratified(
    docs: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "sample",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling — the corpus-mixing primitive
    (e.g. keep 100% of books, 10% of web crawl): a row survives iff the
    60-bit md5 hash of (salt|id) falls under its stratum's threshold.

    Unlike df.sampleBy, the decision is a pure function of (salt, id):
    stable across runs, engines, partitionings, and corpus appends (a
    kept doc stays kept when data grows), with no RNG state. Thresholds
    are integer literals computed once at plan time, so the whole thing
    is a codegen filter projection — no shuffle, pushes to the scan's
    surviving-row stream. Same hash family as train_split, different salt
    domain, so sampling and splitting are independent."""
    h = _md5_60bit(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    thr = None
    for s, r in rates.items():
        lit = F.lit(int((1 << 60) * r))
        thr = F.when(F.col(stratum_col) == s, lit) if thr is None else thr.when(
            F.col(stratum_col) == s, lit
        )
    default_lit = F.lit(int((1 << 60) * default_rate))
    thr = thr.otherwise(default_lit) if thr is not None else default_lit
    return docs.filter(h < thr)


def shingle_arrays(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc distinct shingle ARRAYS: (id, shingles). The array form keeps
    minhash/verification shuffle-free — signatures become per-row
    array_min(transform(...)) projections and pairwise Jaccard becomes
    size(array_intersect(...)), with no exploded self-join."""
    from epss_spark.operators.layout import ensure_parallelism

    return with_shingles(ensure_parallelism(docs), id_col, text_col)


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination scan: for each training document, how many of
    its distinct word 3-gram shingles also occur anywhere in the benchmark
    corpus — the standard decontamination signal before training on scraped
    data (a doc overlapping an eval set must be dropped or down-weighted).

    Returns (id, n_shingles, n_contaminated, contamination_frac) for EVERY
    doc, zero-hit docs included.

    Scale shape: the benchmark shingle set is tiny relative to the corpus
    (eval suites are MBs, corpora are TBs) — distinct it and broadcast-join
    against the exploded corpus shingles, so the 100 TB side never
    shuffles; the only exchange is the per-doc hit count groupBy."""
    doc_sh = shingle_arrays(docs, id_col, text_col)
    bench_sh = (
        shingle_arrays(benchmark, id_col, text_col)
        .select(F.explode_outer("shingles").alias("sh"))
        .where(F.col("sh").isNotNull())
        .distinct()
    )
    ex = doc_sh.select(id_col, F.explode_outer("shingles").alias("sh")).where(
        F.col("sh").isNotNull()
    )
    hits = ex.join(F.broadcast(bench_sh), "sh").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    sizes = doc_sh.select(id_col, F.size("shingles").alias("n_shingles"))
    n_hit = F.coalesce(F.col("n_contaminated"), F.lit(0))
    return sizes.join(hits, id_col, "left").select(
        id_col,
        "n_shingles",
        n_hit.alias("n_contaminated"),
        (n_hit.cast("double") / F.col("n_shingles")).alias("contamination_frac"),
    )


@contextmanager
def shingle_cache(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
    """Scope the persisted shingle-array frame to a `with` block:

        with shingle_cache(docs) as shmap:
            pairs = minhash_lsh_pairs(docs, shmap=shmap).collect()
            verified = ngram_jaccard_pairs(docs, shmap=shmap).collect()
        # cache released here — repeated dedup passes in one long-lived
        # session no longer accumulate executor storage

    Actions on the returned plans must happen INSIDE the block; after exit
    the plans still compute, but re-scan instead of hitting the cache."""
    shmap = shingle_arrays(docs, id_col, text_col).persist()
    try:
        yield shmap
    finally:
        shmap.unpersist()


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shmap: DataFrame | None = None,
    hash_mode: str = "md5",
) -> DataFrame:
    """MinHash signature per doc: for permutation h, min(hash('h|' || shingle)),
    plus the shingle-set size as `n_shingles`.

    A pure per-row projection over the shingle arrays — array_min over
    transform — with NO shuffle at all (the previous formulation exploded
    shingles and ran a num_hashes-way min groupBy; the grouping exchange was
    pure overhead since every shingle of a doc is already in its row).

    hash_mode (same split as simhash):
    - "md5" (default): engine-portable — oracle parity via DuckDB
      list_aggregate(list_transform(...), 'min'). Signatures are hex
      strings.
    - "xxhash64": Spark's native 64-bit hash with the permutation index
      as seed. Signatures are 8-byte LONGS instead of 32-char hex
      strings, so the banding exchange and the signature frame shrink
      ~5x — the scale mode when cross-engine checkability isn't needed
      (local CPU is regex/shingle-bound either way, measured at parity;
      the win is shuffle/memory bytes). Min-hash collision probability
      is the same Jaccard estimator (any uniform hash family works).

    Pass a persisted `shmap` (from shingle_arrays) to share the normalized
    shingle scan with verification AND to put a materialization barrier
    before the num_hashes transforms — without it, projection collapsing
    inlines num_hashes copies of the regex/shingle tree.
    """
    if shmap is None:
        shmap = shingle_arrays(docs, id_col, text_col).persist()
    # single-arg lambda FACTORY, not a default-arg closure: F.transform
    # dispatches on lambda arity, so `lambda s, h=h:` would be called as a
    # TWO-arg (element, index) lambda — h silently becomes the index Column
    # and f"{h}|" stringifies its auto-generated variable name, which varies
    # per plan build (same trap documented at text.py::langid). That made
    # signatures plan-unique garbage: self-consistent within one execution
    # (so pairs still verified) but different across executions.
    if hash_mode == "md5":
        def _perm(h: int):
            prefix = f"{h}|"
            return lambda s: F.md5(F.concat(F.lit(prefix), s))
    elif hash_mode == "xxhash64":
        def _perm(h: int):
            return lambda s: F.xxhash64(s, F.lit(h))
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}: expected 'md5' or 'xxhash64'")

    sig_cols = [
        F.array_min(F.transform("shingles", _perm(h))).alias(f"sig_{h}")
        for h in range(num_hashes)
    ]
    return shmap.select(id_col, *sig_cols, F.size("shingles").alias("n_shingles"))


def _band_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    hash_mode: str,
    shmap: DataFrame,
) -> DataFrame:
    """(id, b, band_key) — one row per document per band; the shared
    banding step behind minhash_lsh_pairs and minhash_index."""
    rows = num_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, shmap=shmap, hash_mode=hash_mode)
    if hash_mode == "xxhash64":
        band_cols = [
            F.xxhash64(F.lit(b), *[F.col(f"sig_{b * rows + r}") for r in range(rows)]).alias(
                f"band_{b}"
            )
            for b in range(bands)
        ]
    else:
        band_cols = [
            F.md5(
                F.concat(F.lit(f"{b}|"), *[F.col(f"sig_{b * rows + r}") for r in range(rows)])
            ).alias(f"band_{b}")
            for b in range(bands)
        ]
    # Defensive guard, on SIGNATURE nullity so it covers BOTH hash modes:
    # a doc with NULL shingles has NULL sigs; in md5 mode the band key
    # would be NULL (concat null-propagates) and groupBy would put every
    # such doc in ONE NULL bucket per band (quadratic; the oracle's SQL
    # band equi-join drops NULLs instead), while in xxhash64 mode
    # xxhash64 SKIPS null inputs and would give them all the same
    # CONSTANT band key — the same mega-bucket with a non-NULL name,
    # which a band_key-nullity filter cannot catch. Unreachable today
    # (even NULL/empty text yields the single "" whole-token shingle, so
    # sigs are never NULL), but a future normalize/shingle change must
    # not be able to re-open the mega-bucket in either mode. Degenerate
    # SAME-content docs (all empty docs share the "" shingle) are a
    # different hazard: genuine Jaccard-1 exact cliques — that is what
    # max_bucket_size and the run-exact-dedup-first guidance are for.
    banded = sig.filter(F.col("sig_0").isNotNull()).select(id_col, *band_cols)
    return (
        banded.select(
            id_col,
            # explode_outer: avoids the optimizer's inferred size/notnull
            # Generate filter, which would duplicate the 4 band-md5
            # expressions (see _exploded_shingles). Never null here.
            F.explode_outer(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("b"), F.col(f"band_{b}").alias("band_key"))
                        for b in range(bands)
                    ]
                )
            ).alias("e"),
        )
        .where(F.col("e").isNotNull())
        .select(id_col, F.col("e.b").alias("b"), F.col("e.band_key").alias("band_key"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    prune_verification: bool = True,
    shmap: DataFrame | None = None,
    max_bucket_size: int | None = None,
    hash_mode: str = "md5",
) -> DataFrame:
    """MinHash + LSH banding near-dup detection, with exact-Jaccard
    verification of candidates. Returns (a_id, b_id, jaccard >= threshold).

    hash_mode: "md5" (default, engine-portable/oracle-checked) or
    "xxhash64" (native vectorized hashes for signatures AND band keys —
    the scale mode; same candidate-recall estimator, different concrete
    buckets). Verification is exact Jaccard either way, so the THRESHOLD
    semantics are identical; only borderline candidate recall differs.

    The exploded (doc, shingle) set feeds three consumers (signatures,
    verification join, sizes) — persist it once; regex-normalizing and
    re-shingling the corpus per consumer is the difference between one
    scan and six at 100 TB. Pass `shmap` (e.g. from `shingle_cache`) to
    own the persist lifecycle across repeated passes.

    max_bucket_size (opt-in scale guard): skip LSH buckets holding more
    than this many docs. Bucket pair expansion is quadratic — one
    boilerplate mega-clique of 1M identical-banded docs is 5x10^11
    candidate pairs, i.e. job death — and such cliques are near-exact
    duplicates that the (linear) exact_groups/fingerprint pass should
    collapse FIRST. Pairs are lost only if two docs co-occur in NO
    other under-cap bucket. Default None = expand every bucket."""
    # ONE materialized artifact feeds everything: per-doc shingle arrays.
    # Signatures project off it row-wise (no groupBy), verification
    # array_intersects it pair-wise (no exploded self-join). The persist is
    # also the barrier that stops projection collapsing from inlining
    # num_hashes copies of the normalize/shingle tree into the signatures.
    if shmap is None:
        shmap = shingle_arrays(docs, id_col, text_col).persist()
    melted = _band_rows(docs, id_col, text_col, num_hashes, bands, hash_mode, shmap)
    # Candidate pairs per bucket via groupBy + in-bucket pair expansion
    # (nested array transform) instead of a self-join: one shuffle on
    # band_key, no duplicate scan of the banded side. Bucket pair counts
    # are quadratic in bucket size by definition of LSH; buckets are
    # hash-keyed so the groupBy has no skewed reducers.
    buckets = (
        melted.groupBy("b", "band_key")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "ids",
                lambda x: F.transform("ids", lambda y: F.struct(x.alias("a_id"), y.alias("b_id"))),
            )
        ),
        lambda p: p["a_id"] < p["b_id"],
    )
    # explode_outer again: with plain explode the inferred Generate filter
    # re-evaluates the nested pair-expansion transform (quadratic in bucket
    # size) once more per bucket just to test non-emptiness.
    # NO distinct() here: a pair agreeing in multiple bands appears up to
    # `bands` times, but deduplicating ALL candidate pairs costs a full
    # exchange of the candidate set. The duplicates ride through the final
    # assembly (joins against aggregated inter/sizes are unaffected) and
    # are dropped AFTER the threshold filter, where the survivor set is
    # orders of magnitude smaller than the candidate set.
    cand = (
        buckets.select(F.explode_outer(pair_structs).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.a_id", "p.b_id")
    )

    # Verify candidates with exact Jaccard via array_intersect on the
    # per-doc shingle arrays: join each pair to its two arrays (equi-joins
    # on unique doc ids — broadcast when small, sort-merge at scale), then
    # a codegen size(array_intersect) per pair. This replaces the previous
    # corpus-wide shingle-equality self-join + count groupBy: verification
    # cost is now O(candidate pairs x shingles/doc) with zero quadratic
    # bucket terms, and only candidate docs are ever joined (the equi-join
    # IS the pruning that prune_verification used to do via a semi-join).
    del prune_verification  # retained in the signature for API stability
    return _verify_pairs(cand, shmap, id_col, threshold)


def _verify_pairs(
    cand: DataFrame, shingle_frame: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (a_id, b_id) pairs against
    a (id, shingles) frame — the shared tail of minhash_lsh_pairs and
    minhash_lookup. Equi-joins pull shingle arrays only for candidate ids
    (AQE broadcasts the candidate side while small, sort-merges at scale);
    band-duplicate candidates collapse post-filter, where the survivor set
    is orders of magnitude smaller than the candidate set (jaccard is
    identical per pair, so the dropDuplicates is deterministic)."""
    a_sh = shingle_frame.select(F.col(id_col).alias("a_id"), F.col("shingles").alias("__a_sh"))
    b_sh = shingle_frame.select(F.col(id_col).alias("b_id"), F.col("shingles").alias("__b_sh"))
    inter = F.size(F.array_intersect("__a_sh", "__b_sh"))
    jac = inter.cast("double") / (F.size("__a_sh") + F.size("__b_sh") - inter)
    return (
        cand.join(a_sh, "a_id")
        .join(b_sh, "b_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
        .dropDuplicates(["a_id", "b_id"])
    )


def decontaminate_near(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    hash_mode: str = "md5",
    shmap: DataFrame | None = None,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: drop every corpus doc
    whose text is a verified near-duplicate (exact shingle Jaccard >=
    threshold, LSH-blocked) of ANY eval/benchmark doc — completing the
    contamination family's ladder: `decontaminate_spans` catches
    verbatim substrings, and this catches paraphrased/lightly-edited
    leakage that defeats it (the
    contamination mode Lee et al. 2022 / GPT-3's dedup postmortem flag
    as the score-inflating one). Unlike `minhash_lookup` the candidate
    join is ASYMMETRIC — corpus bands against eval bands only — so
    in-corpus near-dups are never collateral damage: deduplicate those
    separately with the dedup tier.

    Returns the cleaned corpus (same columns); ids may overlap between
    the two frames (they are independent tables — matching is by
    CONTENT, and identical content matches at Jaccard 1.0 regardless).

    Scale shape: the eval set is benchmark-sized, so its band rows and
    shingle arrays broadcast (AQE); the corpus is shingled ONCE, its
    band rows equi-join the broadcast eval bands on (b, band_key) — the
    corpus never shuffles and there is no in-corpus bucket expansion —
    and verification pulls shingle arrays for candidate ids only. The
    final drop is one left_anti on the (small) contaminated-id set.

    Pass `shmap` (e.g. from `shingle_cache(corpus)`) to own the corpus
    shingle persist lifecycle — same contract as minhash_lsh_pairs; the
    default persists fire-and-forget."""
    corpus_sh = shmap if shmap is not None else shingle_arrays(corpus, id_col, text_col).persist()
    eval_sh = shingle_arrays(eval_docs, id_col, text_col)
    c_bands = _band_rows(
        corpus, id_col, text_col, num_hashes, bands, hash_mode, corpus_sh
    )
    e_bands = _band_rows(
        eval_docs, id_col, text_col, num_hashes, bands, hash_mode, eval_sh
    )
    cand = (
        c_bands.select(F.col(id_col).alias("__c_id"), "b", "band_key")
        .join(
            e_bands.select(F.col(id_col).alias("__e_id"), "b", "band_key"),
            ["b", "band_key"],
        )
        .select("__c_id", "__e_id")
        .dropDuplicates(["__c_id", "__e_id"])
    )
    c_side = corpus_sh.select(F.col(id_col).alias("__c_id"), F.col("shingles").alias("__c_sh"))
    e_side = eval_sh.select(F.col(id_col).alias("__e_id"), F.col("shingles").alias("__e_sh"))
    inter = F.size(F.array_intersect("__c_sh", "__e_sh"))
    jac = inter.cast("double") / (F.size("__c_sh") + F.size("__e_sh") - inter)
    contaminated = (
        cand.join(c_side, "__c_id")
        .join(e_side, "__e_id")
        .filter(jac >= F.lit(float(threshold)))
        .select(F.col("__c_id").alias(id_col))
        .distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


def contamination_report(
    corpus: DataFrame,
    eval_sets: DataFrame,
    bench_col: str = "benchmark",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    hash_mode: str = "md5",
    shmap: DataFrame | None = None,
    corpus_vecs: DataFrame | None = None,
    eval_vecs: DataFrame | None = None,
    sem_centroids: list[list[float]] | None = None,
    sem_threshold: float = 0.99,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-benchmark contamination AUDIT over the whole decontamination
    ladder — the table a dataset card cites before anyone trains:
    `eval_sets` carries (bench_col, id, text) for every benchmark; the
    report has one row per (benchmark, method) with the number and rate
    of corpus docs each tier flags:

    - 'exact': normalized-text fingerprint equality (the dedup_exact
      kernel) — verbatim copies of an eval doc;
    - 'spans': the doc shares >= 1 leaked >= k-token span with the
      benchmark (the GPT-3 13-gram rule's detection half — the docs
      `decontaminate_spans` would edit);
    - 'near': LSH-blocked, exact-Jaccard-verified near-duplicate of an
      eval doc at `threshold` (the docs `decontaminate_near` would
      drop — paraphrase leakage the other two tiers miss);
    - 'semantic' (optional — pass corpus_vecs + eval_vecs +
      sem_centroids): embedding-cosine near-duplicate of an eval item
      at `sem_threshold`, centroid-confined
      (similarity.semantic_decontam_hits) — the full-rewording leakage
      no lexical tier can see. `corpus_vecs` carries the corpus
      embeddings keyed by the SAME ids as `corpus` (vec_id_col values
      == id_col values); `eval_vecs` carries (bench_col, vec_id_col,
      vec_col) for the eval items. Rows without an embedding are
      invisible to this tier only (the lexical tiers still see them).

    Zero-hit (benchmark, method) combinations are present with
    n_contaminated = 0 — an audit that silently omits a clean benchmark
    reads as "not checked". rate = n_contaminated / |corpus|, rounded
    6dp (cross-engine float contract).

    Scale shape: everything eval-sided is benchmark-sized and
    broadcasts (fingerprints, span fps, band rows, shingle arrays); the
    corpus is fingerprinted / tokenized / shingled once each, never
    shuffles on its own grain, and each tier reduces to one bounded
    (benchmark, method) aggregate. The corpus row count rides a
    broadcast 1-row aggregate — no driver collect. Pass `shmap` (e.g.
    from `shingle_cache(corpus)`) to own the corpus shingle persist
    lifecycle; the default persists fire-and-forget."""
    hits = _contamination_hits(
        corpus, eval_sets, bench_col, id_col, text_col, k, num_hashes,
        bands, threshold, hash_mode, shmap,
    )
    methods = ["exact", "spans", "near"]
    if corpus_vecs is not None or eval_vecs is not None or sem_centroids is not None:
        if corpus_vecs is None or eval_vecs is None or sem_centroids is None:
            raise ValueError(
                "contamination_report: the semantic tier needs all of "
                "corpus_vecs, eval_vecs, and sem_centroids"
            )
        from epss_spark.operators.similarity import semantic_decontam_hits

        # composite eval id (benchmark|id), like the near tier: the same
        # item id in two benchmarks stays two eval vectors
        e_vecs = eval_vecs.select(
            F.col(bench_col).alias("benchmark"),
            F.concat_ws(
                "|", F.col(bench_col).cast("string"), F.col(vec_id_col).cast("string")
            ).alias("__eid"),
            F.col(vec_col),
        )
        sem = semantic_decontam_hits(
            corpus_vecs, e_vecs, sem_centroids, threshold=sem_threshold,
            id_col=vec_id_col, vec_col=vec_col, eval_id_col="__eid",
        )
        sem_hits = (
            sem.join(
                F.broadcast(e_vecs.select("benchmark", F.col("__eid").alias("eval_id")).distinct()),
                "eval_id",
            )
            .select("benchmark", F.col("corpus_id").alias("__cid"))
            .withColumn("method", F.lit("semantic"))
        )
        hits = hits.unionByName(sem_hits)
        methods.append("semantic")
    counts = hits.groupBy("benchmark", "method").agg(
        F.countDistinct("__cid").alias("__n")
    )
    grid = _contamination_grid(eval_sets, bench_col, methods)
    n_corpus = corpus.agg(F.count(F.lit(1)).alias("__total"))
    return (
        grid.join(counts, ["benchmark", "method"], "left")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "benchmark",
            "method",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("__n"), F.lit(0)).cast("double") / F.col("__total"), 6
            ).alias("rate"),
        )
    )


def _contamination_grid(
    eval_sets: DataFrame,
    bench_col: str = "benchmark",
    methods: list[str] | None = None,
) -> DataFrame:
    """All (benchmark, method) combinations for the audit — zero rows
    must be PRESENT (a silently omitted benchmark reads as unchecked)."""
    methods = methods or ["exact", "spans", "near"]
    return (
        eval_sets.select(F.col(bench_col).alias("benchmark")).distinct()
        .crossJoin(
            eval_sets.sparkSession.createDataFrame(
                [(m,) for m in methods], "method string"
            )
        )
    )


def _contamination_hits(
    corpus: DataFrame,
    eval_sets: DataFrame,
    bench_col: str = "benchmark",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    hash_mode: str = "md5",
    shmap: DataFrame | None = None,
) -> DataFrame:
    """The audit's shared detection core: one (benchmark, __cid, method)
    row per corpus doc each ladder tier flags (NOT distinct across
    tiers; contamination_report and the streaming monitor aggregate it
    their own way). Scale shape per contamination_report's docstring —
    every eval-side artifact broadcasts, the corpus never shuffles on
    its own grain."""
    from epss_spark.operators.layout import ensure_parallelism
    from epss_spark.operators.text import shingles, tokens

    # ONE corpus text pass (optimization r15, guide §1.3): the exact,
    # spans, and near tiers each re-ran the normalize/tokenize regex
    # pipeline over the full corpus (md5(normalize(text)), a second
    # tokens(text), and the shingle build respectively). All three now
    # derive from one eagerly checkpointed token frame:
    #   - exact: md5(concat_ws(' ', __toks)) == md5(normalize(text)) for
    #     every non-null text — normalize emits single-space-separated
    #     trimmed tokens, so rejoining the token array reproduces it
    #     character-for-character (NULL text keeps a NULL fingerprint
    #     via the guard, matching md5(NULL));
    #   - spans: the gram rows read the same frame;
    #   - near: the shingle arrays are a zip_with over the cached
    #     tokens, no regex.
    # localCheckpoint (not persist): eager, and context-cleaned when the
    # returned plans drop — the streaming monitor calls this per
    # micro-batch and must not accumulate cache entries (ADVICE r14).
    toked = (
        ensure_parallelism(corpus)
        .select(id_col, tokens(text_col).alias("__toks"))
        .localCheckpoint(eager=True)
    )
    corpus_sh = (
        shmap
        if shmap is not None
        else toked.select(
            id_col, F.array_distinct(shingles(F.col("__toks"))).alias("shingles")
        )
    )
    bench = F.col(bench_col).alias("benchmark")
    cid = F.col(id_col).alias("__cid")

    # exact: normalized-text fingerprint equality
    c_fp = toked.select(
        cid,
        F.when(
            F.col("__toks").isNotNull(), F.md5(F.concat_ws(" ", "__toks"))
        ).alias("__fp"),
    )
    e_fp = eval_sets.select(bench, F.md5(normalize(text_col)).alias("__fp")).distinct()
    exact_hits = c_fp.join(F.broadcast(e_fp), "__fp").select("benchmark", "__cid")

    # spans: >= 1 shared >= k-token gram fingerprint (decontaminate_spans'
    # detection stage, grouped by benchmark instead of editing)
    e_toked = eval_sets.select(F.col(bench_col).alias("__b"), tokens(text_col).alias("__toks"))
    _, e_grams = _span_rows(e_toked, k, "__b", "__toks")
    e_fps = e_grams.select(F.col("__b").alias("benchmark"), "fp").distinct()
    _, c_grams = _span_rows(toked, k, id_col, "__toks")
    span_hits = (
        c_grams.select(cid, "fp")
        .join(F.broadcast(e_fps), "fp")
        .select("benchmark", "__cid")
    )

    # near: decontaminate_near's asymmetric candidate join + exact-Jaccard
    # verify, labeled by benchmark. Eval rows get a composite id
    # (benchmark|id) so the same doc id appearing in two benchmarks stays
    # two eval docs — deterministic, unlike a generated row id.
    e_docs = eval_sets.withColumn(
        "__eid", F.concat_ws("|", F.col(bench_col).cast("string"), F.col(id_col).cast("string"))
    )
    eval_sh = shingle_arrays(e_docs, "__eid", text_col)
    c_bands = _band_rows(corpus, id_col, text_col, num_hashes, bands, hash_mode, corpus_sh)
    e_bands = _band_rows(e_docs, "__eid", text_col, num_hashes, bands, hash_mode, eval_sh)
    cand = (
        c_bands.select(cid, "b", "band_key")
        .join(e_bands.select("__eid", "b", "band_key"), ["b", "band_key"])
        .select("__cid", "__eid")
        .dropDuplicates(["__cid", "__eid"])
    )
    inter = F.size(F.array_intersect("__c_sh", "__e_sh"))
    jac = inter.cast("double") / (F.size("__c_sh") + F.size("__e_sh") - inter)
    near_hits = (
        cand.join(
            corpus_sh.select(cid, F.col("shingles").alias("__c_sh")), "__cid"
        )
        .join(eval_sh.select("__eid", F.col("shingles").alias("__e_sh")), "__eid")
        .filter(jac >= F.lit(float(threshold)))
        .join(
            e_docs.select("__eid", bench).distinct(), "__eid"
        )
        .select("benchmark", "__cid")
    )

    return (
        exact_hits.withColumn("method", F.lit("exact"))
        .unionByName(span_hits.withColumn("method", F.lit("spans")))
        .unionByName(near_hits.withColumn("method", F.lit("near")))
    )


def prefix_block_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 24,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Prefix-blocking candidate generation: docs sharing their first
    `prefix_len` characters become candidate near-dup pairs. The
    cheapest blocker in the record-linkage family — no shingling, no
    signatures, one groupBy on a fixed-width key — and the right one
    when duplication is template-ish (boilerplate clones, re-crawls,
    mirrored pages keep their openings). Complements MinHash-LSH, which
    catches edits anywhere but prices a signature pass; compose either
    blocker with a verify stage (`_verify_pairs` for Jaccard,
    `edit_verified_pairs` for normalized edit distance).

    Empty texts are excluded (an empty prefix would clique every empty
    doc). Same scale shape as the LSH bucket expansion: one shuffle on
    the block key, in-bucket pair expansion (quadratic per bucket by
    definition of blocking), `max_bucket_size` guarding boilerplate
    mega-buckets."""
    blocked = docs.filter(F.length(text_col) > 0).select(
        F.col(id_col), F.substring(F.col(text_col), 1, int(prefix_len)).alias("__blk")
    )
    buckets = (
        blocked.groupBy("__blk")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "ids",
                lambda x: F.transform("ids", lambda y: F.struct(x.alias("a_id"), y.alias("b_id"))),
            )
        ),
        lambda p: p["a_id"] < p["b_id"],
    )
    return (
        buckets.select(F.explode_outer(pair_structs).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.a_id", "p.b_id")
    )


def edit_verified_pairs(
    cand: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
) -> DataFrame:
    """Normalized-edit-distance verification of candidate (a_id, b_id)
    pairs from ANY blocking stage (prefix_block_pairs, minhash_lsh_pairs
    candidates, simhash bands): keeps pairs with
    1 - levenshtein(a, b) / max(len(a), len(b)) >= threshold, returning
    (a_id, b_id, edit_sim[6dp]). The character-level complement of the
    Jaccard verifier (`_verify_pairs`): shingle Jaccard is blind to
    small in-word edits and local reorderings that edit distance prices
    exactly, which is why record-linkage pipelines verify on edit
    distance once a blocker has tamed the pair count.

    Scale shape: two equi-joins pull the candidate ids' texts (AQE
    broadcasts the candidate side while small), then a length pre-filter
    runs BEFORE the O(len_a x len_b) levenshtein kernel: since
    levenshtein >= |len_a - len_b|, any pair whose length gap exceeds
    (1 - threshold) x max_len (+1 slack so float rounding can never
    exclude a borderline survivor) provably fails the threshold and is
    dropped for the price of two ints. Both the pre-filter and the
    kernel are JVM codegen (F.levenshtein) — no Python crossing.
    Duplicate candidates (a pair surfacing from several blocks) collapse
    after the filter, where survivors are few."""
    a_t = docs.select(F.col(id_col).alias("a_id"), F.col(text_col).alias("__a_t"))
    b_t = docs.select(F.col(id_col).alias("b_id"), F.col(text_col).alias("__b_t"))
    max_len = F.greatest(F.length("__a_t"), F.length("__b_t"))
    len_gap = F.abs(F.length("__a_t") - F.length("__b_t"))
    sim = F.round(
        F.lit(1.0)
        - F.levenshtein("__a_t", "__b_t").cast("double") / max_len.cast("double"),
        6,
    )
    return (
        cand.join(a_t, "a_id")
        .join(b_t, "b_id")
        .filter(
            len_gap.cast("double")
            <= (F.lit(1.0) - F.lit(float(threshold))) * max_len.cast("double") + F.lit(1.0)
        )
        .withColumn("edit_sim", sim)
        .filter(F.col("edit_sim") >= F.lit(float(threshold)))
        .select("a_id", "b_id", "edit_sim")
        .dropDuplicates(["a_id", "b_id"])
    )


def history_lookup(
    history: DataFrame,
    probes: DataFrame,
    key: str = "url",
    point_col: str = "version",
    suffix: str = "_hist",
) -> DataFrame:
    """Per-row point-in-interval lookup against an SCD-2 interval table
    (`snapshot_history` output): each probe row (key, point) is joined
    to the ONE history run whose half-open [valid_from, valid_to)
    interval contains its point — "which revision was live when THIS
    event happened", the generalization of `history_as_of` from one
    global as-of version to a per-probe point. Probes whose point
    precedes the key's first run (or whose key has no history) drop out
    — inner semantics, auditable by comparing counts.

    Scale shape: ONE equi-join on the key with the interval containment
    as a join-side filter — the runs table is the compacted history
    (orders of magnitude smaller than the changelog), so the join
    broadcasts when the history is small and sort-merges on the key
    otherwise; because intervals per key are disjoint by construction,
    the join is at-most-one-match and never expands rows.

    History-side payload columns that collide with a probe column name
    come back suffixed (`suffix`, default `_hist`) — mirroring
    asof_join's suffix handling — so a probe table that itself carries
    e.g. `fp` or `valid_from` never yields duplicate output names that
    poison downstream name-based selects."""
    p = probes.alias("p")
    h = history.alias("h")
    pt = F.col(f"p.{point_col}")
    joined = p.join(
        h,
        (F.col(f"p.{key}") == F.col(f"h.{key}"))
        & (F.col("h.valid_from") <= pt)
        & (F.col("h.valid_to").isNull() | (F.col("h.valid_to") > pt)),
        "inner",
    )
    return joined.select(
        "p.*",
        *[
            F.col(f"h.{c}").alias(f"{c}{suffix}" if c in probes.columns else c)
            for c in history.columns
            if c != key
        ],
    )


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    hash_mode: str = "md5",
    shmap: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistent LSH index for INCREMENTAL dedup: returns
    (band_rows, shingle_arrays) — the two artifacts `minhash_lookup` needs
    to dedup daily appends without re-shingling the corpus.

    - band_rows: (id, b, band_key), one row per doc per band. Write it
      bucketed by band_key (readers.write_bucketed) so daily lookups join
      co-located.
    - shingle_arrays: (id, shingles), for exact-Jaccard verification.

    Both are plain DataFrames: persist-to-parquet is the caller's choice
    of path/format. At 100 TB this is the difference between an O(corpus)
    nightly job and an O(append) one — the LSH analog of
    quantize.incremental_changed_scores.

    The shared shingle frame runs the expensive normalize/shingle scan
    once for BOTH returned artifacts. Pass `shmap` (e.g. from
    `shingle_cache(docs)`) to own the persist lifecycle — same contract
    as minhash_lsh_pairs; the default (shmap=None) persists
    fire-and-forget."""
    if shmap is None:
        shmap = shingle_arrays(docs, id_col, text_col).persist()
    return _band_rows(docs, id_col, text_col, num_hashes, bands, hash_mode, shmap), shmap


def minhash_lookup(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    hash_mode: str = "md5",
    max_bucket_size: int | None = None,
    new_shmap: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: verified pairs TOUCHING the new
    batch — new~indexed and new~new, never indexed~indexed (those were
    reported when their batch arrived). Equals
    minhash_lsh_pairs(corpus ∪ new) restricted to pairs with a new side
    (pinned by tests/test_operators_ext.py).

    num_hashes/bands/hash_mode must match the index build — band keys are
    only comparable within one scheme. If an id appears in BOTH the index
    and the batch (a re-crawled doc), its stale index rows — band keys AND
    shingles — are anti-joined away up front, so both its CANDIDATES and
    its verification come from the NEW content only: the result is
    identical to removing re-crawled ids from the index before lookup
    (pinned by tests/test_operators_ext.py).

    Pass `new_shmap` (e.g. from `shingle_cache(new_docs)`) to own the
    persist lifecycle — the documented daily loop otherwise accumulates
    one fire-and-forget persisted frame per invocation (same default
    behavior as minhash_lsh_pairs with shmap=None).

    Scale shape (default, no max_bucket_size): the corpus band rows NEVER
    shuffle. new~indexed candidates come from an equi-join of the index
    band rows against the (daily-batch-sized, AQE-broadcast) new band
    rows on (b, band_key) — one map-side pass over the index scan;
    new~new candidates come from bucket expansion over the new bands
    alone. Per-day exchange volume is O(append). With max_bucket_size set
    the exact total-bucket-size cap needs the union view, so that mode
    falls back to a union + groupBy over ALL band rows — an O(corpus)
    nightly exchange; prefer collapsing exact-dup mega-cliques with the
    linear fingerprint pass before indexing instead. Either way the
    corpus never re-shingles and verification joins pull shingle arrays
    only for candidate ids."""
    if new_shmap is None:
        new_shmap = shingle_arrays(new_docs, id_col, text_col).persist()
    new_bands = _band_rows(new_docs, id_col, text_col, num_hashes, bands, hash_mode, new_shmap)
    # Re-crawl hygiene: drop the index's band rows for any id also present
    # in the batch, so stale band keys cannot source candidates — candidate
    # generation and verification then both see only the NEW content.
    # The anti-join's right side is the (small) daily-batch id set, so AQE
    # broadcasts it over the index scan that was happening anyway.
    index_bands = index_bands.join(new_shmap.select(id_col), id_col, "left_anti")
    if max_bucket_size is None:
        # scale path: idx~new via equi-join (index side stays put), new~new
        # via in-batch bucket expansion. The two sources are disjoint by
        # construction (anti-join above guarantees index ids ∉ batch ids),
        # and band-duplicate candidates collapse post-verification as in
        # minhash_lsh_pairs.
        idx = index_bands.select(F.col(id_col).alias("__i_id"), "b", "band_key")
        nb = new_bands.select(F.col(id_col).alias("__n_id"), "b", "band_key")
        cross = idx.join(nb, ["b", "band_key"]).select(
            F.least("__i_id", "__n_id").alias("a_id"),
            F.greatest("__i_id", "__n_id").alias("b_id"),
        )
        nn_buckets = (
            new_bands.groupBy("b", "band_key")
            .agg(F.collect_list(id_col).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        nn_pairs = F.filter(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x: F.transform(
                        "ids", lambda y: F.struct(x.alias("a_id"), y.alias("b_id"))
                    ),
                )
            ),
            lambda p: p["a_id"] < p["b_id"],
        )
        nn = (
            nn_buckets.select(F.explode_outer(nn_pairs).alias("p"))
            .where(F.col("p").isNotNull())
            .select("p.a_id", "p.b_id")
        )
        cand = cross.unionByName(nn)
    else:
        tagged = index_bands.select(
            id_col, "b", "band_key", F.lit(False).alias("is_new")
        ).unionByName(new_bands.select(id_col, "b", "band_key", F.lit(True).alias("is_new")))
        buckets = (
            tagged.groupBy("b", "band_key")
            .agg(F.collect_list(F.struct(F.col(id_col).alias("id"), "is_new")).alias("entries"))
            .filter(F.size("entries") >= 2)
            # all-indexed buckets never expand
            .filter(F.exists("entries", lambda e: e["is_new"]))
            .filter(F.size("entries") <= max_bucket_size)
        )
        pair_structs = F.filter(
            F.flatten(
                F.transform(
                    "entries",
                    lambda x: F.transform(
                        "entries",
                        lambda y: F.struct(
                            x["id"].alias("a_id"),
                            y["id"].alias("b_id"),
                            (x["is_new"] | y["is_new"]).alias("touches_new"),
                        ),
                    ),
                )
            ),
            lambda p: (p["a_id"] < p["b_id"]) & p["touches_new"],
        )
        cand = (
            buckets.select(F.explode_outer(pair_structs).alias("p"))
            .where(F.col("p").isNotNull())
            .select(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
        )
    # deterministic overlap policy: an id present in both frames keeps its
    # NEW shingles (stale index rows would otherwise fan candidate pairs
    # out to two jaccard values and dropDuplicates would pick arbitrarily)
    all_sh = (
        index_shingles.select(id_col, "shingles")
        .join(new_shmap.select(id_col), id_col, "left_anti")
        .unionByName(new_shmap.select(id_col, "shingles"))
    )
    return _verify_pairs(cand, all_sh, id_col, threshold)


def drop_batch_duplicates(
    batch: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The batch-side incremental-dedup ACTION: given `minhash_lookup`
    pairs (a_id < b_id, every pair touching the batch), drop each batch
    doc that has (a) ANY verified duplicate already in the indexed corpus
    — the accepted copy wins regardless of id order — or (b) a
    smaller-id twin inside the batch (greedy, same policy as
    dedup_corpus_near). Returns the surviving batch rows; append them to
    the corpus and extend the index with their band rows/shingles.

    A pair side absent from the batch is by construction an indexed doc
    (lookup never reports indexed~indexed), so no index frame is needed.
    Scale shape: three semi/anti joins against the (small) batch id set —
    AQE broadcasts it; the pair set is the only other input."""
    batch_ids = batch.select(id_col)
    # batch docs that lose to a smaller-id partner (batch twin or indexed)
    b_hits = pairs.join(
        batch_ids.withColumnRenamed(id_col, "b_id"), "b_id", "left_semi"
    ).select(F.col("b_id").alias(id_col))
    # batch docs on the SMALL side of a pair whose partner is indexed:
    # the partner is already accepted, so the batch doc drops anyway
    a_vs_indexed = (
        pairs.join(batch_ids.withColumnRenamed(id_col, "b_id"), "b_id", "left_anti")
        .select(F.col("a_id").alias(id_col))
        .join(batch_ids, id_col, "left_semi")
    )
    drop = b_hits.unionByName(a_vs_indexed).distinct()
    return batch.join(drop, id_col, "left_anti")


def dedup_corpus_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
    preserve_other_columns: bool = False,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style corpus-level line deduplication: split every document
    into lines, keep only the FIRST occurrence of each distinct line
    corpus-wide (ordered by (id, line position)), and reassemble the
    surviving lines in original order. The standard pre-training pass that
    strips navigation menus, cookie banners, and license headers that
    repeat across a crawl while document-level dedup sees only unique
    docs.

    Lines shorter than `min_line_chars` (default 1 — i.e. only empty
    lines) bypass dedup and are always kept: blank separator lines repeat
    by design, and hashing them into one global group would both destroy
    formatting and concentrate a corpus's worth of blank lines onto a
    single aggregation key.

    Returns (id, text, n_lines_kept); a document whose every line was
    seen earlier disappears (its surviving line set is empty). NULL-text
    documents also drop — they have no lines.
    `preserve_other_columns=True` additionally joins the input's
    non-text columns back onto the surviving docs (one id-equi join —
    metadata would otherwise ride every exploded line through both
    shuffles, which costs more than the join whenever lines >> docs),
    so the ACTION composes into pipelines that filter on source/lang
    downstream.

    Scale shape: first-occurrence selection is a groupBy(line fp) with
    min(struct(id, pos, line)) — a HASH AGGREGATE with map-side partial
    aggregation, NOT a row_number window, so a boilerplate line repeated
    a billion times collapses per-task before the exchange instead of
    melting one window partition. Bypass lines ride the SAME aggregate
    under a per-row sentinel fingerprint (singleton groups), so the
    corpus is scanned and split exactly once — a separate bypass branch
    would be a second full pass (Spark does not dedupe common subplans).
    Reassembly is one groupBy(id) building the sorted line array. Two
    exchanges total, both carrying (fp, id, pos, line) — bounded by
    corpus line bytes, shuffled once each."""
    first = (
        _fingerprinted_lines(docs, id_col, text_col, min_line_chars, sep)
        .groupBy("__fp")
        .agg(F.min(F.struct(id_col, "pos", "line")).alias("s"))
        .select("s.*")
    )
    out = _reassemble_lines(first, id_col, text_col, sep)
    if preserve_other_columns:
        out = out.join(docs.drop(text_col), id_col, "left")
    return out


# Sentinel prefix for dedup-EXEMPT lines (shorter than min_line_chars):
# they get a per-(id, pos) fingerprint so they form singleton groups in
# the first-occurrence aggregate instead of needing a second corpus scan.
# "\x00" cannot appear in an md5 hex digest, so collision with a real
# line fingerprint is impossible; these sentinels are filtered out of
# every index artifact (line_index / dedup_batch_lines new_fps).
_LINE_BYPASS = "\x00bypass"


def _fingerprinted_lines(
    docs: DataFrame, id_col: str, text_col: str, min_line_chars: int, sep: str = "\n"
) -> DataFrame:
    """(id, pos, line, __fp): one row per line with its dedup fingerprint —
    md5 for dedup-eligible lines, a unique sentinel for bypass lines.
    `sep` is the unit separator — "\n" for lines, "\n\n" for paragraphs
    (it doubles as a Java regex in the split, so keep it metachar-free)."""
    lines = docs.select(
        id_col, F.posexplode_outer(F.split(F.col(text_col), sep)).alias("pos", "line")
    ).where(F.col("line").isNotNull())
    fp = F.when(F.length("line") >= min_line_chars, F.md5("line")).otherwise(
        F.concat_ws("|", F.lit(_LINE_BYPASS), F.col(id_col).cast("string"), F.col("pos").cast("string"))
    )
    return lines.withColumn("__fp", fp)


def _reassemble_lines(
    kept: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Rebuild documents from surviving (id, pos, line) rows in original
    line order: (id, text, n_lines_kept)."""
    return (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("ls"))
        .select(
            id_col,
            F.concat_ws(sep, F.transform("ls", lambda s: s["line"])).alias(text_col),
            F.size("ls").alias("n_lines_kept"),
        )
    )


def line_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
) -> DataFrame:
    """Build the persistent line-fingerprint index for INCREMENTAL line
    dedup: the distinct md5 of every dedup-eligible line in the corpus,
    as a 1-column (line_fp) frame. The line analog of `minhash_index` —
    at 100 TB the nightly job must not re-split the corpus to decide
    which batch lines are new.

    Persist-to-parquet is the caller's choice; write it bucketed by
    line_fp (readers.write_bucketed) so nightly `dedup_batch_lines`
    anti-joins co-located instead of shuffling the (corpus-scale) index.
    Appending a batch's kept_fps after each run keeps it current."""
    return (
        _fingerprinted_lines(docs, id_col, text_col, min_line_chars)
        .where(~F.col("__fp").startswith(_LINE_BYPASS))
        .select(F.col("__fp").alias("line_fp"))
        .distinct()
    )


def dedup_batch_lines(
    batch: DataFrame,
    index_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Incremental line-level dedup of a daily batch against a line-
    fingerprint index (from `line_index`): drop every batch line whose
    fingerprint is already indexed (the corpus saw it first — regardless
    of id order), keep the first occurrence of each line that is new,
    and reassemble the batch documents. Returns (kept_docs, new_fps):

    - kept_docs: (id, text, n_lines_kept) — batch docs rebuilt from their
      surviving lines; a doc with no surviving lines drops.
    - new_fps: the distinct line_fp values this batch contributes —
      append them to the index so tomorrow's batch sees them.

    Equals `dedup_corpus_lines(corpus ∪ batch)` restricted to batch ids
    whenever corpus ids precede batch ids (pinned by test); when ids
    interleave, the incremental semantics ("the index was seen first")
    are the arrival-order-correct ones.

    Scale shape: per-day cost is O(batch lines), not O(corpus) — ONE
    anti-join of the batch's exploded lines against the index scan
    (bucketed index layout makes it co-located; otherwise AQE broadcasts
    the batch side of the join where planners allow, or sort-merges), the
    same min(struct) first-occurrence aggregate as dedup_corpus_lines
    over surviving batch lines only, and per-doc reassembly. The corpus
    text itself is never touched."""
    # single pass over the batch (same sentinel-fp scheme as
    # dedup_corpus_lines): bypass lines carry unique sentinel fps, which
    # can never match an index fp (md5 hex cannot contain "\x00"), so the
    # anti-join keeps them and they form singleton first-occurrence groups
    fresh = _fingerprinted_lines(batch, id_col, text_col, min_line_chars).join(
        index_fps.select(F.col("line_fp").alias("__fp")), "__fp", "left_anti"
    )
    first = (
        fresh.groupBy("__fp")
        .agg(F.min(F.struct(id_col, "pos", "line")).alias("s"))
        .select("s.*")
    )
    kept_docs = _reassemble_lines(first, id_col, text_col)
    new_fps = (
        fresh.where(~F.col("__fp").startswith(_LINE_BYPASS))
        .select(F.col("__fp").alias("line_fp"))
        .distinct()
    )
    return kept_docs, new_fps


def span_dedup_reference(texts: dict, k: int, cross_doc_only: bool = False) -> dict:
    """Pure-Python executable spec for `dedup_spans` (the winnow_reference
    pattern): given {id -> token list}, return {id -> surviving token
    list}. A k-gram occurrence (id, pos) is a DUPLICATE iff the same
    k-token sequence occurs elsewhere in the corpus and (id, pos) is not
    its first occurrence in (id, pos) order; every token position covered
    by a duplicate occurrence is removed. With cross_doc_only, a k-gram
    that never leaves one document is exempt (its within-doc repeats all
    survive); a cross-doc-duplicated k-gram still keeps only its global
    first occurrence. Tests assert the distributed plan matches this
    value-for-value on fuzzed corpora."""
    first: dict[tuple, tuple] = {}
    occs: list[tuple] = []
    for did in sorted(texts):
        toks = texts[did]
        for p in range(len(toks) - k + 1):
            g = tuple(toks[p : p + k])
            occs.append((did, p, g))
            first.setdefault(g, (did, p))
    counts: dict[tuple, int] = {}
    docs_of: dict[tuple, set] = {}
    for did, _, g in occs:
        counts[g] = counts.get(g, 0) + 1
        docs_of.setdefault(g, set()).add(did)
    covered: dict = {did: set() for did in texts}
    for did, p, g in occs:
        if counts[g] >= 2 and first[g] != (did, p):
            if cross_doc_only and len(docs_of[g]) < 2:
                continue
            covered[did].update(range(p, p + k))
    return {
        did: [t for i, t in enumerate(texts[did]) if i not in covered[did]]
        for did in texts
    }


def dedup_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    preserve_other_columns: bool = False,
    cross_doc_only: bool = False,
) -> DataFrame:
    """Exact substring-span deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): remove every
    duplicated >= k-token SPAN from the corpus while KEEPING the documents
    — the operation between line dedup (drops exact repeated lines) and
    pair flagging (winnow_overlap_pairs reports but does not edit). The
    paper uses a suffix array on one machine; the distributed equivalent
    is k-gram fingerprint grouping: a span duplicated verbatim anywhere
    contains a duplicated k-gram at every offset, so removing all token
    positions covered by non-first duplicate k-gram occurrences removes
    exactly the duplicated spans (the maximal duplicated region around
    each occurrence, matching the paper's span semantics).

    Semantics (keep-first, in (id, token-position) order): operate on the
    NORMALIZED token stream (operators/text.py::tokens — span identity is
    token-level, as in the paper). For each doc and each 1-based position
    p <= n-k+1, the k-gram is toks[p..p+k-1], fingerprinted md5 of the
    space-joined tokens (engine-portable). An occurrence is a duplicate
    iff its fingerprint occurs >= 2 times corpus-wide and it is not the
    min(struct(id, pos)) first occurrence. Token positions covered by any
    duplicate occurrence drop; survivors are re-joined with single spaces.
    Returns (id, text, n_tokens_kept); a doc whose every token is covered
    — and any doc with no tokens at all — disappears (same contract as
    dedup_corpus_lines). Docs with < k tokens have no k-grams and pass
    through (normalized). Note the output text is the normalized token
    stream, not the raw input: span identity and reassembly both live in
    token space. As in the paper, removal can abut previously-distant
    tokens; the new adjacencies are NOT re-deduplicated (single pass —
    iterate to a fixpoint if required).

    Scale shape: gram fingerprinting is an O(tokens x k) array projection
    (slice over a BOUND token column — see with_shingles for the inline-
    tree O(n^2) trap); duplicate detection is one groupBy(fp) with
    min(struct)+count (map-side partials absorb boilerplate-span skew,
    same aggregate as dedup_corpus_lines); the occurrence->first join
    shuffles on fp against the (duplicated-only) group table; coverage
    expands each duplicate occurrence to k (id, pos) rows — bounded by
    k x duplicate occurrences, not by the corpus — and the final
    anti-join + reassembly shuffle on id. Spark does not dedupe common
    subplans (the winnow_overlap_pairs precedent), so the shared token
    frame is persisted here (see below); a 100 TB run that has the
    token frame materialized as an artifact anyway should pass it
    through `dedup_spans_on_tokens` below.

    cross_doc_only: exempt k-grams that never leave one document (a
    doc's own refrain survives; Lee et al.'s primary use case is
    cross-document boilerplate) — see _span_dup_occurrences for the
    exact rule and its two-aggregate shape.

    Optimization r14: the token frame is PERSISTED (evictable
    MEMORY_AND_DISK cache) — the token branch and the gram branch are
    separate subplans, so without it the corpus is scanned and
    regex-tokenized twice per run (the double tokenize the old
    docstring documented as the caller's problem). One tokenize, both
    branches read the cache; ~1.3 s off the 4.6 s bench row. The cache
    is bounded by the token arrays (not the raw text), evicts under
    memory pressure, and the bench/driver clear caches between runs."""
    toked = docs.select(id_col, tokens(text_col).alias("__toks")).persist()
    return dedup_spans_on_tokens(
        toked,
        k=k,
        id_col=id_col,
        text_col=text_col,
        toks_col="__toks",
        other=docs.drop(text_col) if preserve_other_columns else None,
        cross_doc_only=cross_doc_only,
    )


def dedup_spans_on_tokens(
    toked: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    toks_col: str = "toks",
    other: DataFrame | None = None,
    cross_doc_only: bool = False,
) -> DataFrame:
    """dedup_spans over a pre-tokenized (id, token-array) frame — the
    entry point for pipelines that already materialized tokens (skips the
    double tokenize noted in dedup_spans). Same semantics and output."""
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 would drop every repeated token)")
    tok_rows, gram_rows = _span_rows(toked, k, id_col, toks_col)
    dup_occ = _span_dup_occurrences(gram_rows, id_col, cross_doc_only)
    out = _remove_covered_tokens(tok_rows, dup_occ, k, id_col, text_col)
    if other is not None:
        out = out.join(other, id_col, "left")
    return out


def _span_dup_occurrences(
    gram_rows: DataFrame, id_col: str, cross_doc_only: bool
) -> DataFrame:
    """Non-first duplicate k-gram occurrences (id, pos, fp) — the shared
    detection stage of dedup_spans_on_tokens / dedup_spans_offsets.

    Default: ONE groupBy(fp) hash aggregate (min(struct) + count,
    map-side partials absorb boilerplate skew — the pinned plan shape).
    cross_doc_only (Lee et al.'s primary use case — a k-gram that never
    leaves one document is exempt, so a doc's own refrain survives):
    the aggregate splits into a (fp, id) pre-aggregate + an fp rollup,
    which counts distinct docs EXACTLY without a distinct-expand and
    keeps the same keep-first rule for cross-doc-duplicated grams (the
    global first occurrence survives, including its in-first-doc
    repeats' exemption only if the gram never left that doc — it did,
    so they drop). Two hash aggregates on a shared key prefix; the
    second input is |distinct (fp, id)| rows, never the corpus."""
    if not cross_doc_only:
        dup_groups = (
            gram_rows.groupBy("fp")
            .agg(F.min(F.struct(id_col, "pos")).alias("__first"), F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") >= 2)
        )
    else:
        per_doc = gram_rows.groupBy("fp", id_col).agg(
            F.count(F.lit(1)).alias("__c"), F.min("pos").alias("__mp")
        )
        dup_groups = (
            per_doc.groupBy("fp")
            .agg(
                F.min(F.struct(F.col(id_col), F.col("__mp").alias("pos"))).alias("__first"),
                F.sum("__c").alias("__cnt"),
                F.count(F.lit(1)).alias("__nd"),
            )
            .filter((F.col("__cnt") >= 2) & (F.col("__nd") >= 2))
            .drop("__nd")
        )
    return gram_rows.join(dup_groups, "fp").filter(
        ~((F.col(id_col) == F.col(f"__first.{id_col}")) & (F.col("pos") == F.col("__first.pos")))
    )


def _span_rows(toked: DataFrame, k: int, id_col: str, toks_col: str):
    """(tok_rows, gram_rows) for span dedup, both 1-based positions.

    Token rows via posexplode_outer + null filter (the _exploded_shingles
    rationale: plain explode makes the optimizer push an inferred
    size()>0 filter below the generate with the tokenize tree inlined).
    Gram fingerprints via transform+slice over the BOUND toks_col column
    — O(k) per position. sequence() is bidirectional (sequence(1, 0) ==
    [1, 0]), so short docs must be gated by when(), not by an empty
    sequence."""
    toks = F.col(toks_col)
    tok_rows = (
        toked.select(id_col, F.posexplode_outer(toks).alias("__p0", "tok"))
        .where(F.col("tok").isNotNull())
        .select(id_col, (F.col("__p0") + 1).alias("pos"), "tok")
    )
    n_grams = F.size(toks) - (k - 1)
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram_rows = (
        toked.select(id_col, F.posexplode_outer(grams).alias("__p0", "fp"))
        .where(F.col("fp").isNotNull())
        .select(id_col, (F.col("__p0") + 1).alias("pos"), "fp")
    )
    return tok_rows, gram_rows


def span_index(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Build the persistent k-gram fingerprint index for INCREMENTAL span
    dedup: the distinct md5 of every k-token gram in the corpus, as a
    1-column (gram_fp) frame — the span analog of `line_index` /
    `minhash_index`. Write it bucketed by gram_fp (readers.write_bucketed)
    so the nightly `dedup_batch_spans` join co-locates; append each
    batch's new_fps after the run. Index over the ACCEPTED (already
    span-deduped) corpus so indexed grams are exactly the grams a reader
    of the corpus can still see."""
    toked = docs.select(id_col, tokens(text_col).alias("__toks"))
    _, gram_rows = _span_rows(toked, k, id_col, "__toks")
    return gram_rows.select(F.col("fp").alias("gram_fp")).distinct()


def dedup_batch_spans(
    batch: DataFrame,
    index_fps: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact-substring-span dedup of a daily batch against a
    gram-fingerprint index (from `span_index`): every batch k-gram whose
    fingerprint is indexed is a duplicate occurrence (the corpus saw the
    span first — its covered positions drop); batch-fresh fingerprints
    keep their (id, pos)-first occurrence and cover the rest, exactly as
    in `dedup_spans`. Returns (kept_docs, new_fps):

    - kept_docs: (id, text, n_tokens_kept) — batch docs reassembled from
      surviving tokens; fully-covered and token-free docs drop.
    - new_fps: the distinct batch-fresh gram fingerprints — append to
      the index so tomorrow's batch sees them (appended regardless of
      later clipping by overlapping removals: the gram was published in
      this batch's accepted output or covered by an overlap of it).

    Equals `dedup_spans(corpus ∪ batch)` restricted to batch ids
    whenever corpus ids precede batch ids (pinned by test) — and the
    restriction needs NO assumption about corpus-internal duplication:
    any indexed fp makes every batch occurrence non-first, and fresh
    fps' within-batch counts equal their corpus∪batch counts.

    Scale shape: per-day cost is O(batch grams), not O(corpus) — one
    left join of the batch's gram rows against the index scan (bucketed
    layout co-locates; otherwise AQE handles it), the same min(struct)
    first-occurrence aggregate over FRESH grams only, coverage
    expansion bounded by k x duplicate occurrences, reassembly on id.
    The corpus text is never touched."""
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 would drop every repeated token)")
    toked = batch.select(id_col, tokens(text_col).alias("__toks"))
    tok_rows, gram_rows = _span_rows(toked, k, id_col, "__toks")
    flagged = gram_rows.join(
        index_fps.select(F.col("gram_fp").alias("fp")).withColumn("__ix", F.lit(1)),
        "fp",
        "left",
    )
    indexed_occ = flagged.filter(F.col("__ix").isNotNull()).select(id_col, "pos", "fp")
    fresh = flagged.filter(F.col("__ix").isNull()).select(id_col, "pos", "fp")
    fresh_groups = (
        fresh.groupBy("fp")
        .agg(F.min(F.struct(id_col, "pos")).alias("__first"), F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
    )
    fresh_dup = fresh.join(fresh_groups, "fp").filter(
        ~((F.col(id_col) == F.col(f"__first.{id_col}")) & (F.col("pos") == F.col("__first.pos")))
    )
    dup_occ = indexed_occ.unionByName(fresh_dup.select(id_col, "pos", "fp"))
    kept_docs = _remove_covered_tokens(tok_rows, dup_occ, k, id_col, text_col)
    new_fps = fresh.select(F.col("fp").alias("gram_fp")).distinct()
    return kept_docs, new_fps


def decontaminate_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination by SPAN EXCISION — the editing form of
    the GPT-3 13-gram rule (Brown et al. 2020 removed leaked spans plus
    a margin; Lee et al. 2022 §5 argue span edits over doc drops):
    every >= k-token span of a training document that also appears
    (normalized) in the benchmark is removed; the document survives
    minus the leak. `benchmark_contamination` is the doc-grain
    DROP-decision diagnostic; this is the EDIT
    action. Within-corpus duplication is deliberately untouched — only
    benchmark-overlapping spans go (run dedup_spans separately for
    that).

    Returns (id, text, n_tokens_kept) over the normalized token stream
    (the dedup_spans contract); fully-covered and token-free docs drop.

    Scale shape: the benchmark's distinct gram-fp set is tiny relative
    to the corpus (an eval suite, not a crawl) — the hit join
    broadcasts it in practice; one pass over the corpus gram rows,
    coverage expansion bounded by k x leaked occurrences, reassembly on
    id. The corpus is tokenized once."""
    if k < 2:
        raise ValueError("k must be >= 2")
    bench_fps = span_index(
        benchmark,
        k=k,
        id_col=bench_id_col or id_col,
        text_col=bench_text_col or text_col,
    )
    toked = docs.select(id_col, tokens(text_col).alias("__toks"))
    tok_rows, gram_rows = _span_rows(toked, k, id_col, "__toks")
    hits = gram_rows.join(
        bench_fps.select(F.col("gram_fp").alias("fp")), "fp"
    ).select(id_col, "pos", "fp")
    return _remove_covered_tokens(tok_rows, hits, k, id_col, text_col)


def span_novelty(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplication pressure at span grain: the fraction of a
    doc's k-gram occurrences whose fingerprint occurs >= 2 times
    corpus-wide. (id, n_grams, dup_frac[6 dp]); dup_frac 0 = fully novel
    text, 1 = every span duplicated somewhere. This is the DIAGNOSTIC
    for `dedup_spans`: its corpus-weighted mean predicts how many tokens
    span dedup would strip, per-source aggregation of it finds the
    templated domains, and a near-1 doc is a pure stitch-up of seen
    content (memorization-risk flag). Docs with < k tokens have no
    k-grams and are absent.

    Scale shape: the same _span_rows gram pass as dedup_spans, one
    groupBy(fp) count (map-side partials), the duplicated-fp set joined
    back (AQE-handled), one groupBy(id) fold. No text joins, no
    windows."""
    toked = docs.select(id_col, tokens(text_col).alias("__toks"))
    _, gram_rows = _span_rows(toked, k, id_col, "__toks")
    dup_fps = (
        gram_rows.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("fp")
        .withColumn("__dup", F.lit(1))
    )
    return (
        gram_rows.join(dup_fps, "fp", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                F.sum(F.coalesce("__dup", F.lit(0))).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def dedup_spans_fixpoint(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rounds: int = 16,
    cross_doc_only: bool = False,
) -> DataFrame:
    """`dedup_spans` iterated to a FIXPOINT: the single pass removes
    every duplicated k-gram occurrence, but excision can abut
    previously-distant tokens and mint NEW duplicated k-grams (the
    paper's single-pass caveat, noted in dedup_spans' contract);
    iterating until a round removes nothing yields a corpus with NO
    duplicated k-gram at all — the invariant tests pin. Same output
    schema as dedup_spans.

    Termination: every non-final round strictly decreases the corpus
    token total, so the fixpoint arrives in <= total_tokens/k rounds and
    in practice 2-3 (new duplicates need removals to splice matching
    contexts). Each round localCheckpoints the shrinking corpus
    (truncating lineage exactly like connected_components) and spends
    one bounded count action; raises RuntimeError past max_rounds rather
    than silently returning a non-fixpoint."""
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    cur = docs.select(id_col, tokens(text_col).alias("__toks")).localCheckpoint(
        eager=True
    )
    prev_total = cur.agg(F.sum(F.size("__toks"))).first()[0] or 0
    for _ in range(max_rounds):
        out = dedup_spans_on_tokens(
            cur, k=k, id_col=id_col, text_col=text_col, toks_col="__toks",
            cross_doc_only=cross_doc_only,
        ).localCheckpoint(eager=True)
        total = out.agg(F.sum("n_tokens_kept")).first()[0] or 0
        if total == prev_total:
            return out
        prev_total = total
        cur = out.select(id_col, tokens(text_col).alias("__toks")).localCheckpoint(
            eager=True
        )
    raise RuntimeError(
        f"dedup_spans_fixpoint: no fixpoint within {max_rounds} rounds"
    )


def span_dedup_fixpoint_reference(texts: dict, k: int) -> dict:
    """Pure-Python spec for dedup_spans_fixpoint: iterate
    span_dedup_reference until stable."""
    cur = dict(texts)
    while True:
        nxt = span_dedup_reference(cur, k)
        if nxt == cur:
            return {d: t for d, t in nxt.items() if t}
        cur = nxt


def _raw_span_rows(docs: DataFrame, k: int, id_col: str, text_col: str):
    """(tok_rows_with_offsets, gram_rows) for OFFSET-PRESERVING span
    dedup. Token = maximal ASCII-alnum run in the RAW text (identity =
    lower(run)) — identical to the normalize-based token stream except
    for exotic case mappings where lower() turns a non-alnum codepoint
    into an alnum one (U+212A KELVIN SIGN etc.); raw-run tokenization is
    the RIGHT identity here because only it has well-defined offsets.

    Offsets are 0-based codepoint offsets [start, end) into the raw
    text. The separator table comes from split(text, '[A-Za-z0-9]+', -1)
    — always exactly n_tokens+1 segments (leading/trailing empties
    included), so token i's start = len(sep_0) + sum_{j<i}(len(tok_j) +
    len(sep_{j+1})), computed with one per-doc cumulative window (the
    same per-doc grain the reassembly aggregate already assumes)."""
    # persisted (optimization r14): the gram branch (via __toks) and the
    # offsets branch (__tr/__seps zip) are separate subplans — without
    # the cache each re-runs BOTH regex passes over the full raw text.
    # Evictable MEMORY_AND_DISK, bounded by the extracted runs/separators.
    base = docs.select(
        id_col,
        F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z0-9]+"), 0).alias("__tr"),
        F.split(F.col(text_col), "[A-Za-z0-9]+", -1).alias("__seps"),
    ).persist()
    toked = base.select(id_col, F.transform("__tr", F.lower).alias("__toks"))
    _, gram_rows = _span_rows(toked, k, id_col, "__toks")
    z = base.select(
        id_col,
        F.length(F.get("__seps", 0)).alias("__lead"),
        F.posexplode(
            F.zip_with(
                F.col("__tr"),
                F.slice("__seps", 2, F.size("__tr")),
                lambda t, s: F.struct(
                    F.length(t).alias("tl"), F.length(s).alias("sl")
                ),
            )
        ).alias("__p0", "__z"),
    )
    wcum = (
        Window.partitionBy(id_col)
        .orderBy("__p0")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.col("__lead")
        + F.coalesce(
            F.sum(F.col("__z.tl") + F.col("__z.sl")).over(wcum), F.lit(0)
        )
    ).cast("long")
    tok_rows = z.select(
        id_col,
        (F.col("__p0") + 1).alias("pos"),
        start.alias("start"),
        (start + F.col("__z.tl")).cast("long").alias("end"),
    )
    return tok_rows, gram_rows


def dedup_spans_offsets(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    cross_doc_only: bool = False,
) -> DataFrame:
    """`dedup_spans` that gives the answer back AGAINST THE RAW TEXT:
    one row per maximal removed region, (id, span_start, span_end,
    n_tokens) with 0-based codepoint offsets [start, end) into the
    original text — so casing, punctuation, and markup survive excision
    (Lee et al. 2022 edit raw bytes; the normalized-stream `dedup_spans`
    cannot). Duplicate detection is identical keep-first k-gram coverage
    over the lowered raw-run token stream (see `_raw_span_rows` for the
    tokenizer delta vs `tokens()`); a removed region spans from the
    first covered token's first char to the last covered token's last
    char, swallowing the separators BETWEEN covered tokens and nothing
    outside them. Docs with nothing to remove are absent. Apply with
    `dedup_spans_raw` (or any byte editor — offsets are the artifact a
    production excision job actually ships).

    Scale shape: everything dedup_spans does plus one per-doc cumulative
    window for offsets and one gaps-and-islands window to merge adjacent
    covered tokens — both partition by id (the grain the reassembly
    aggregate already shuffles on); coverage stays bounded by
    k x duplicate occurrences, never the corpus."""
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 would drop every repeated token)")
    tok_rows, gram_rows = _raw_span_rows(docs, k, id_col, text_col)
    dup_occ = _span_dup_occurrences(gram_rows, id_col, cross_doc_only)
    covered = dup_occ.select(
        id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("pos")
    ).distinct()
    cov_tok = covered.join(tok_rows, [id_col, "pos"])
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        cov_tok.withColumn("__isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "__isl")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(id_col, "span_start", "span_end", "n_tokens")
    )


def dedup_spans_raw(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    cross_doc_only: bool = False,
) -> DataFrame:
    """Apply `dedup_spans_offsets` to the corpus: (id, text,
    n_spans_removed) where text is the RAW text with every removed
    region excised and everything else — casing, punctuation, layout —
    byte-for-byte intact. EVERY doc survives (contrast dedup_spans'
    drop-empty contract): a fully-covered doc keeps its non-token
    scaffolding, an untouched doc passes through unchanged
    (n_spans_removed = 0). Single pass, as in the paper: excision can
    abut previously-distant text; new adjacencies are not re-deduped.

    The cut itself is a per-doc fold over the (bounded, sorted) span
    array — pure JVM string ops, no Python crossing."""
    spans = dedup_spans_offsets(docs, k, id_col, text_col, cross_doc_only=cross_doc_only)
    agg = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_end"))).alias("__sp"),
        F.count(F.lit(1)).alias("__n"),
    )
    joined = docs.select(id_col, text_col).join(agg, id_col, "left")
    txt = F.col(text_col)
    cut_state = F.aggregate(
        "__sp",
        F.struct(F.lit(0).cast("long").alias("cur"), F.lit("").alias("acc")),
        lambda a, s: F.struct(
            s["span_end"].alias("cur"),
            F.concat(
                a["acc"],
                F.substr(
                    txt,
                    (a["cur"] + 1).cast("int"),
                    (s["span_start"] - a["cur"]).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"],
            F.substr(
                txt,
                (a["cur"] + 1).cast("int"),
                (F.length(txt).cast("long") - a["cur"]).cast("int"),
            ),
        ),
    )
    return joined.select(
        id_col,
        F.when(F.col("__sp").isNull(), txt).otherwise(cut_state).alias(text_col),
        F.coalesce("__n", F.lit(0)).cast("long").alias("n_spans_removed"),
    )


def _remove_covered_tokens(
    tok_rows: DataFrame, dup_occ: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """Expand duplicate k-gram occurrences (id, pos) to their covered
    token positions, drop those tokens, reassemble (id, text,
    n_tokens_kept) — the shared tail of dedup_spans_on_tokens and
    dedup_batch_spans."""
    covered = dup_occ.select(
        id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("pos")
    ).distinct()
    kept = tok_rows.join(covered, [id_col, "pos"], "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("ls"))
        .select(
            id_col,
            F.concat_ws(" ", F.transform("ls", lambda s: s["tok"])).alias(text_col),
            F.size("ls").alias("n_tokens_kept"),
        )
    )


def cap_per_stratum(
    docs: DataFrame,
    n_max: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum document cap: keep at most `n_max` documents per value
    of `stratum_col`, chosen deterministically as the n_max smallest ids.
    The corpus-mixing guard a crawl pipeline runs per DOMAIN (RefinedWeb /
    C4 style): without it a handful of mega-domains dominate the training
    mix no matter what the per-stratum sampling rates say. Complements
    sample_stratified (rate-based, unbounded count) with a hard count
    bound.

    Scale shape: one row_number window on the stratum key — the
    balanced-mix default. A hot stratum sorts on one task
    (a per-stratum row count diagnoses it); when that chain is the
    critical path, use `cap_per_stratum_bucketed` — identical keep set,
    range-bucketed two-pass plan (PERF.md round-7 probe: 2x at an
    8M-doc 95%-hot corpus)."""
    w = Window.partitionBy(stratum_col).orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_max)
        .drop("__rn")
    )


def sample_token_budget(
    docs: DataFrame,
    budgets: dict[str, int],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
    default_budget: int = 0,
) -> DataFrame:
    """Token-budgeted corpus mixing: per stratum, keep documents — in a
    deterministic hash order — until the stratum's TOKEN quota is
    reached ("200B tokens of web, 50B of code"), the way real training
    mixes are specified. Complements sample_stratified (rate-based) and
    cap_per_stratum (document-count-based) with the token-count bound
    that actually matters to a training run.

    A doc is kept iff the cumulative token count up to and including it
    (in md5(salt|id) order — stable across runs/engines, reshuffled by
    salt) stays <= the stratum budget; the first over-budget doc and
    everything after it drop, so the realized total is the largest
    hash-prefix sum <= budget (never overshoots). Returns the input
    columns plus n_tokens.

    Scale shape: one running-sum window per stratum (hash order) — the
    small-corpus/balanced-mix default. A hot stratum sorts on ONE task;
    when the per-stratum window is the critical path (PERF.md round-7
    probe: 7x at 20M 1-token docs), use `sample_token_budget_bucketed`
    — bit-identical results, 256-way-spread sort."""
    n_tok = F.size(tokens(text_col))
    h = F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = None
    for stratum, quota in budgets.items():
        lit = F.lit(int(quota))
        budget = (
            F.when(F.col(stratum_col) == stratum, lit)
            if budget is None
            else budget.when(F.col(stratum_col) == stratum, lit)
        )
    default_lit = F.lit(int(default_budget))
    budget = budget.otherwise(default_lit) if budget is not None else default_lit
    return (
        docs.withColumn("n_tokens", n_tok)
        .withColumn("__cum", F.sum("n_tokens").over(w))
        .filter(F.col("__cum") <= budget)
        .drop("__cum")
    )


def mix_temperature_budgets(
    docs: DataFrame,
    total_tokens: int,
    alpha: float = 0.7,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixing budgets — the standard way a
    multi-source/multilingual training mix is ACTUALLY specified (UniMax
    / mT5 family): budget_s = total * c_s^alpha / sum_t c_t^alpha where
    c_s is the stratum's token count. alpha=1 reproduces the natural
    distribution, alpha=0 is uniform, ~0.7 is the usual compromise that
    up-samples small sources without flattening big ones. Returns
    (stratum, n_tokens, share[6dp], budget) — feed `budget` straight
    into `sample_token_budget` / `sample_token_budget_bucketed` as the
    per-stratum quota, closing the loop from "I have this corpus and a
    2e11-token budget" to a deterministic keep set.

    Cross-engine determinism: the only transcendental is pow(count,
    alpha); shares round to 6 dp before integer budget arithmetic
    (share6 * total div 1e6 — all-bigint, no double division), the same
    discipline as the cosine/ln oracles. The stratum table is tiny, so
    the global-sum window is a single-partition plan over n_strata rows
    on top of one corpus token-count aggregate."""
    if total_tokens < 0:
        raise ValueError("total_tokens must be >= 0")
    counts = docs.groupBy(stratum_col).agg(
        F.sum(F.size(tokens(text_col))).alias("n_tokens")
    )
    wt = F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
    share = F.round(wt / F.sum(wt).over(Window.partitionBy()), 6)
    return (
        counts.withColumn("share", share)
        .withColumn("__share6", F.round(F.col("share") * 1_000_000, 0).cast("bigint"))
        .withColumn(
            "budget",
            F.expr(f"__share6 * CAST({int(total_tokens)} AS BIGINT) div 1000000"),
        )
        .drop("__share6")
    )


def sample_token_budget_bucketed(
    docs: DataFrame,
    budgets: dict[str, int],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
    default_budget: int = 0,
    bucket_chars: int = 2,
) -> DataFrame:
    """sample_token_budget for a PATHOLOGICALLY hot stratum — identical
    keep set (pinned by test), different physical plan.

    Why: the windowed form runs ONE running-sum chain per stratum, so
    the realistic "90% of the corpus is `web`" mix sorts ~the whole
    corpus on a single window task. Here the stratum's hash order is
    split into 16^bucket_chars SUB-BUCKETS by the md5 prefix — a prefix
    of the ORDER KEY, so bucket order is consistent with hash order by
    construction (no sampling, no boundary ambiguity):

      1. per-(stratum, bucket) token subtotals via one hash aggregate
         (map-side partials, no sort), prefixed over the tiny
         strata x 256 frame to give each bucket the sum of all
         PRECEDING buckets — the cut bucket is located without ordering
         any corpus-scale data;
      2. in-bucket running sum over Window.partitionBy(stratum, bucket)
         — the hot stratum's sort now spreads over 256 tasks with
         1/256th the rows each;
      3. the bounded offsets broadcast-join back on (stratum, bucket);
         a doc keeps iff its in-bucket cumulative + its bucket's offset
         stays within the stratum budget — bit-identical to the
         windowed form's single prefix sum.

    Cost: the subtotal branch re-scans and re-tokenizes the corpus
    (common subplans are not deduplicated), so this is ~2x the map work
    for 1/256th the serial sort — only worth it under real skew
    (PERF.md probe); diagnose with a per-key row count first."""
    n_tok = F.size(tokens(text_col))
    h = F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    sized = (
        docs.withColumn("n_tokens", n_tok)
        .withColumn("__h", h)
        .withColumn("__b", F.substring("__h", 1, bucket_chars))
    )
    # Offsets branch: per-bucket token subtotals via a HASH AGGREGATE
    # (map-side partials, no sort — a second corpus window here would
    # re-pay the full sort just to read one row per bucket), then the
    # preceding-bucket prefix over the tiny strata x 256 frame. This
    # branch re-scans + re-tokenizes the corpus (Spark does not dedupe
    # common subplans), which is why the windowed form stays the default
    # for balanced strata.
    totals = sized.groupBy(stratum_col, "__b").agg(F.sum("n_tokens").alias("__tot"))
    w_off = (
        Window.partitionBy(stratum_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        stratum_col, "__b", F.sum("__tot").over(w_off).alias("__off")
    )
    w_in = (
        Window.partitionBy(stratum_col, "__b")
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = sized.withColumn("__cum_in", F.sum("n_tokens").over(w_in))
    budget = None
    for stratum, quota in budgets.items():
        lit = F.lit(int(quota))
        budget = (
            F.when(F.col(stratum_col) == stratum, lit)
            if budget is None
            else budget.when(F.col(stratum_col) == stratum, lit)
        )
    default_lit = F.lit(int(default_budget))
    budget = budget.otherwise(default_lit) if budget is not None else default_lit
    # null semantics must mirror the windowed form bit-for-bit: its
    # prefix sum ignores null n_tokens (null-text docs cost nothing) and
    # is NULL only while every doc so far in stratum order is null-text
    # (those rows fail `null <= budget` and drop). cum_in/off are each
    # null exactly when their span has no non-null tokens, so the
    # combined cumulative is null iff BOTH are.
    cum = F.when(
        F.col("__cum_in").isNull() & F.col("__off").isNull(), F.lit(None).cast("long")
    ).otherwise(F.coalesce("__cum_in", F.lit(0)) + F.coalesce("__off", F.lit(0)))
    return (
        tagged.join(F.broadcast(offsets), [stratum_col, "__b"], "left")
        .filter(cum <= budget)
        .select(*docs.columns, "n_tokens")  # the windowed form's column order
    )


def cap_per_stratum_bucketed(
    docs: DataFrame,
    n_max: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    quantile_accuracy: int = 10_000,
) -> DataFrame:
    """cap_per_stratum for a PATHOLOGICALLY hot stratum — identical keep
    set (pinned by test), skew-spread physical plan (the same two-pass
    prefix-sum model as sample_token_budget_bucketed, with counts for
    token sums).

    The cap's order key is the raw id, so sub-buckets cannot come from a
    hash prefix; instead the per-stratum id range is split at
    percentile_approx cut points (one bounded aggregate, strata rows,
    broadcast back) — Spark's own range-exchange sampling idea. The cut
    points only need to be monotone and roughly balanced: correctness
    comes from the exact per-bucket counts and prefix offsets, never
    from the approximate quantiles themselves. In-bucket row_number over
    (stratum, bucket) + preceding-bucket count offsets == the windowed
    form's global row_number, bit-for-bit.

    Non-numeric ids (percentile_approx needs a number): cut points are
    estimated on an ORDER-PRESERVING numeric surrogate — the first 15 hex
    digits (60 bits) of the id's UTF-8 bytes, right-padded with the
    smallest digit. UTF-8 byte order equals codepoint order, so
    id1 <= id2 implies surrogate1 <= surrogate2 and bucket assignment
    stays monotone in the raw id — the exact-count correctness argument
    is untouched (and the in-bucket order key is still the RAW id). Only
    bucket BALANCE degrades when ids share a >7-char common prefix; the
    degenerate everything-in-one-bucket case just reproduces the windowed
    form's performance, never a wrong keep set."""
    from pyspark.sql.types import NumericType

    if isinstance(docs.schema[id_col].dataType, NumericType):
        key = F.col(id_col)
    else:
        key = F.conv(
            F.rpad(F.substring(F.hex(F.col(id_col).cast("binary")), 1, 15), 15, "0"),
            16,
            10,
        ).cast("long")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = docs.groupBy(stratum_col).agg(
        F.percentile_approx(key, qs, quantile_accuracy).alias("__cuts")
    )
    # bucket = number of cut points strictly below the (surrogate) key:
    # monotone non-decreasing in id regardless of ties/duplicates in cuts
    tagged = (
        docs.join(F.broadcast(cuts), stratum_col)
        .withColumn("__b", F.size(F.filter("__cuts", lambda c: c < key)))
        .drop("__cuts")
    )
    # per-bucket counts via hash aggregate (no corpus sort), prefix over
    # the tiny per-stratum bucket frame — same two-branch shape as
    # sample_token_budget_bucketed
    totals = tagged.groupBy(stratum_col, "__b").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.partitionBy(stratum_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        stratum_col, "__b", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = Window.partitionBy(stratum_col, "__b").orderBy(F.col(id_col).asc())
    counted = tagged.withColumn("__rn", F.row_number().over(w_in))
    return (
        counted.join(F.broadcast(offsets), [stratum_col, "__b"], "left")
        .filter(F.col("__rn") + F.col("__off") <= n_max)
        .select(*docs.columns)  # cap_per_stratum's column order
    )


def train_shards(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Deterministic shuffle-and-shard — the final step of a training-data
    pipeline: every document gets a shard (uniform by the 60-bit md5 of
    salt|id, same engine-portable family as train_split) and a position
    within its shard (ascending by a SECOND salt domain of the same
    hash), so reading shards 0..n-1 in pos order yields a reproducible
    global permutation of the corpus. Stable under re-runs and engines;
    changing `salt` reshuffles without touching the data.

    Returns the input plus (shard, pos). Scale shape: shard assignment is
    a pure projection; pos is a row_number window per shard — hash
    partitioning makes every shard the same size (corpus/n_shards), so
    there is no skew by construction, and n_shards sized to the cluster
    bounds the per-task sort. The writer path at scale is
    `repartition(n_shards, "shard")` + `sortWithinPartitions("pos")` +
    partitioned write — no global sort anywhere."""
    h_shard = _md5_60bit(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    h_pos = F.md5(F.concat(F.lit(f"{salt}|pos|"), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy(F.col("__h").asc(), F.col(id_col).asc())
    return (
        docs.withColumn("shard", (h_shard % n_shards).cast("int"))
        .withColumn("__h", h_pos)
        .withColumn("pos", F.row_number().over(w))
        .drop("__h")
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    hash_mode: str = "md5",
) -> DataFrame:
    """Per-doc SimHash fingerprint: majority vote over per-token hash bits.

    Stays fully JVM-side: explode tokens -> one hash per token -> `bits`
    conditional-sum aggregates -> recombine. One shuffle on doc_id.

    hash_mode:
    - "md5" (default): 60-bit int from the md5 hex prefix — identical in
      every engine (DuckDB: CAST('0x'||substr(md5(t),1,15) AS BIGINT)),
      so results are oracle-checkable bit-for-bit. CEILING: only 60
      hash bits exist, so bits > 60 would silently zero the top
      fingerprint bits (constant -1 votes) — rejected loudly instead;
      use hash_mode="xxhash64" for 64-bit fingerprints.
    - "xxhash64": Spark's native vectorized hash — faster (no hex
      round-trip), engine-specific; the scale mode when cross-engine
      reproducibility isn't needed.
    """
    from epss_spark.operators.layout import ensure_parallelism

    if hash_mode == "md5" and bits > 60:
        raise ValueError(
            f"bits={bits} exceeds the md5 hash's 60 usable bits (bits 60+ "
            "would be constant 0); use hash_mode='xxhash64' for wider "
            "fingerprints"
        )
    if bits > 63:
        # fingerprints are positive BIGINTs: bit 63 is the sign bit and
        # 1 << 63 overflows the long literal — 63 is the ceiling
        raise ValueError(f"bits={bits} must be <= 63 (positive-long fingerprint)")

    # explode_outer + null filter: keeps the optimizer from inferring a
    # pre-exchange Generate filter that re-runs the tokenize regex twice
    tok = (
        ensure_parallelism(docs)
        .select(id_col, F.explode_outer(tokens(text_col)).alias("tok"))
        .where(F.col("tok").isNotNull())
    )
    if hash_mode == "md5":
        h = _md5_60bit("tok")
    elif hash_mode == "xxhash64":
        h = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    bit_aggs = [
        F.sum(
            F.when(F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bit_{i}")
        for i in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*bit_aggs)
    fp = reduce(
        lambda acc, i: acc + F.when(F.col(f"bit_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)),
        range(1, bits),
        F.when(F.col("bit_0") > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return per_doc.select(id_col, fp.cast("long").alias("simhash"))


def simhash_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    hash_mode: str = "md5",
) -> DataFrame:
    """Cluster docs by identical SimHash fingerprint (near-dup buckets)."""
    return (
        simhash(docs, id_col, text_col, bits, hash_mode=hash_mode)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "md5",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """EXACT near-duplicate pairs by SimHash Hamming distance (Manku,
    Jain & Sarma, WWW 2007 — the web-crawl dedup design): every document
    pair whose `bits`-bit SimHash fingerprints differ in at most
    `max_hamming` bits, found WITHOUT an all-pairs comparison.
    `simhash_groups` only merges identical fingerprints; this is the
    operator that catches the 1-3-bit neighbors a small edit produces.
    Returns (a_id, b_id, hamming), a_id < b_id.

    How (pigeonhole banding): the fingerprint splits into
    `max_hamming + 1` bit-blocks; two fingerprints within `max_hamming`
    Hamming distance MUST agree exactly on at least one block, so
    block-equality buckets are a lossless candidate generator (the same
    guarantee Manku et al. get from table permutations). Candidates are
    verified with bit_count(xor) <= max_hamming — an exact filter, so
    recall is 100% by construction (pinned against a brute-force
    oracle).

    Scale shape: one simhash pass (one id-shuffle of bit-sums), then per
    block a bucket self-join keyed on (block index, block value) —
    uniformly distributed hash keys, candidate cost O(pairs in buckets),
    never O(n^2); duplicate candidates from multi-block agreement
    collapse in the final distinct. `max_bucket_size` (opt-in) skips
    degenerate buckets the way minhash_lsh_pairs does — near-identical
    boilerplate floods a block bucket quadratically; run exact dedup
    first, as ever. The verify is a 2-long-column comparison — no text
    is ever joined."""
    if max_hamming < 1:
        raise ValueError("max_hamming must be >= 1 (use simhash_groups for exact-fp dups)")
    n_blocks = max_hamming + 1
    if bits % n_blocks:
        raise ValueError(f"bits={bits} must be divisible by n_blocks={n_blocks}")
    bs = bits // n_blocks
    mask = (1 << bs) - 1
    fps = simhash(docs, id_col, text_col, bits, hash_mode=hash_mode)
    blocks = fps.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("blk"),
                        F.shiftrightunsigned("simhash", j * bs).bitwiseAND(F.lit(mask)).alias("val"),
                    )
                    for j in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.blk", "b.val")
    if max_bucket_size is not None:
        w = Window.partitionBy("blk", "val")
        blocks = (
            blocks.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter(F.col("__n") <= max_bucket_size)
            .drop("__n")
        )
    a = blocks.select(
        F.col(id_col).alias("a_id"), F.col("simhash").alias("fa"), "blk", "val"
    )
    b = blocks.select(
        F.col(id_col).alias("b_id"), F.col("simhash").alias("fb"), "blk", "val"
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(ham <= max_hamming)
        .select("a_id", "b_id", ham.alias("hamming"))
        .distinct()
    )
