"""Similarity search over an embedding column (array<float>).

Three tiers, trading recall for scale:
- cosine_topk: brute-force exact top-k. Query side is broadcast; the scan
  over candidates is embarrassingly parallel, no shuffle except the final
  per-query top-k (a tiny TakeOrdered). Baseline + verifier.
- cosine_pairs_blocked: all-pairs within a blocking key (label / LSH bucket /
  cluster id) — the O(n^2) is confined to blocks.
- lsh_topk: random-hyperplane (sign) LSH — candidates share the query's
  bucket, turning the scan into a bucket-pruned join. The scale path.

Dot products run as zip_with + aggregate — higher-order built-ins inside
codegen, not Python UDFs. Scores are computed in float64 and rounded to 6 dp
so results are stable across engines and summation strategies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column, dp: int = 6) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), dp)


def _cosine_pre(a: Column, b: Column, na: Column, nb: Column, dp: int = 6) -> Column:
    """cosine() with the norms HOISTED to pre-join projections
    (optimization r15, guide §1.3 don't recompute): in a pairwise join,
    inline _norm folds re-run once per PAIR — O(block) times per vector
    in the blocked quadratic scan. The hoisted columns are the
    identical _norm expression evaluated on the identical input, and
    the division multiplies them in the same order, so every IEEE
    intermediate — and the 6-dp round — is bit-identical."""
    return F.round(_dot(a, b) / (na * nb), dp)


def normalize_vectors(
    vectors: DataFrame, vec_col: str = "embedding", out_col: str | None = None, dp: int = 6
) -> DataFrame:
    """L2-normalize an embedding column (the standard pre-index step: after
    this, cosine == dot product and index structures need no norm term).
    Pure projection via transform — no shuffle, no UDF. Zero vectors pass
    through unchanged (norm 0 guard). Components rounded to `dp` for
    cross-engine stability."""
    c = F.col(vec_col)
    n = _norm(c)
    # one-arg lambda (a two-arg lambda would receive the element INDEX as
    # its second argument); closing over the outer norm column is fine —
    # this is plan construction, not worker-side pickling
    normed = F.when(
        n == 0, c.cast("array<double>")
    ).otherwise(F.transform(c, lambda x: F.round(x.cast("double") / n, dp)))
    return vectors.withColumn(out_col or vec_col, normed)


def truncate_normalize(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    out_col: str | None = None,
    dp: int = 6,
) -> DataFrame:
    """Matryoshka (MRL, Kusupati et al. 2022) truncation: keep the first
    `dim` components and L2-renormalize — the standard storage/compute
    dial for MRL-trained embeddings (a 64-dim prefix of a 768-dim
    vector is a working embedding at 1/12 the scan cost). Pure
    projection (slice + transform), no shuffle, no Python; zero-norm
    prefixes pass through as zeros. Components rounded to `dp` (the
    normalize_vectors contract).

    Compose with any of the ANN operators: cosine over the truncated
    column approximates full cosine with energy `mrl_energy` reports."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    c = F.slice(F.col(vec_col), 1, dim)
    n = _norm(c)
    normed = F.when(n == 0, c.cast("array<double>")).otherwise(
        F.transform(c, lambda x: F.round(x.cast("double") / n, dp))
    )
    return vectors.withColumn(out_col or vec_col, normed)


def mrl_energy(
    vectors: DataFrame,
    dims: tuple[int, ...] = (16, 32),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dp: int = 6,
) -> DataFrame:
    """Per-vector retained energy of Matryoshka prefixes:
    energy_d = ||v[:d]|| / ||v||, which IS cos(v, v[:d] zero-padded) —
    the exact similarity a truncated index preserves for this vector.
    The tuning report to read before choosing an MRL serving dim: if
    energy_64's p5 is 0.98 the 64-dim index is safe; if it's 0.6 the
    embeddings were not MRL-trained and truncation will shred recall.
    One zero-shuffle projection; (id, energy_<d>...) rounded to `dp`."""
    full = _norm(F.col(vec_col))
    cols = [F.col(id_col)]
    for d in dims:
        pre = _norm(F.slice(F.col(vec_col), 1, d))
        cols.append(
            F.round(
                F.when(full == 0, F.lit(None)).otherwise(pre / full), dp
            ).alias(f"energy_{d}")
        )
    return vectors.select(*cols)


def quantize_int8(
    vectors: DataFrame, vec_col: str = "embedding", out_col: str = "q", scale_col: str = "scale"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4x storage /
    bandwidth reduction for embedding indexes (reconstruct x ~= q * scale).

    q_i = floor(x_i / scale + 0.5) with scale = max|x| / 127: explicit
    floor(+0.5) instead of round() so the rule is identical in every
    engine (round() half-tie behavior differs across implementations).
    All-zero vectors quantize to all-zero with scale 0.

    Pure per-row projection, no shuffle, no UDF. The inputs are bound as
    real columns BEFORE the transform — inlining the max-abs tree into the
    per-element lambda would re-evaluate it once per element (the
    element_at trap documented at operators/text.py::shingles)."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    staged = vectors.withColumn("__x", x).withColumn(
        scale_col, F.array_max(F.transform(F.col("__x"), F.abs)) / F.lit(127.0)
    )
    s = F.col(scale_col)
    q = F.when(
        s == 0, F.transform(F.col("__x"), lambda v: F.lit(0).cast("long"))
    ).otherwise(F.transform(F.col("__x"), lambda v: F.floor(v / s + F.lit(0.5))))
    return staged.withColumn(out_col, q).drop("__x")


def dequantize_error(
    vectors: DataFrame, vec_col: str = "embedding", dp: int = 6
) -> DataFrame:
    """Quantization round-trip diagnostics: per vector, the saturation
    count (|q| == 127) and the max absolute reconstruction error
    |q * scale - x|, rounded to `dp` for cross-engine stability. Used to
    validate that int8 is safe for a given embedding distribution before
    converting an index."""
    staged = quantize_int8(vectors, vec_col=vec_col)
    err = F.array_max(
        F.zip_with(
            F.col("q"),
            F.col(vec_col),
            lambda qi, xi: F.abs(qi * F.col("scale") - xi.cast("double")),
        )
    )
    return staged.select(
        *[c for c in vectors.columns if c != vec_col],
        F.col("scale"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, v: a + v.cast("long")).alias("q_sum"),
        F.size(F.filter("q", lambda v: F.abs(v) == 127)).alias("n_saturated"),
        F.round(err, dp).alias("recon_err"),
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per query (excluding self)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cosine_pre(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def pair_cosine_histogram(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stride: int = 1,
    bins_per_unit: int = 20,
) -> DataFrame:
    """Distance-concentration diagnostic: the cosine distribution over a
    deterministic O(n) pair sample (each id paired with id + stride),
    bucketed to 1/bins_per_unit-wide bins — (bin_idx, n_pairs) with the
    bin covering [bin_idx/bins_per_unit, (bin_idx+1)/bins_per_unit).
    THE check to run before trusting any ANN recall number: a histogram
    massed in a narrow band means pairwise distances concentrate (the
    near-iid regime where every index degrades and low recall is
    geometry, not a bug — the caveat PERF.md's recall ladder documents);
    a spread or multimodal histogram means the space is clusterable and
    index tuning is worth the effort.

    Scale shape: one equi-join on the shifted id (a deterministic
    sample, never an all-pairs product), one codegen cosine per pair,
    one bounded groupBy (at most 2 x bins_per_unit + 1 buckets). The
    bin index floors cos x bins_per_unit — an identical double
    expression in both engines, so bucket membership is bit-stable."""
    a = vectors.select(F.col(id_col).alias("__pid"), F.col(vec_col).alias("__a"))
    b = vectors.select(
        (F.col(id_col) - F.lit(int(stride))).alias("__pid"),
        F.col(vec_col).alias("__b"),
    )
    pairs = a.join(b, "__pid").select(
        cosine(F.col("__a"), F.col("__b")).alias("cos")
    )
    return (
        pairs.select(
            F.floor(F.col("cos") * F.lit(int(bins_per_unit))).cast("long").alias("bin_idx")
        )
        .groupBy("bin_idx")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def cosine_pairs_blocked(
    vectors: DataFrame,
    block_col: str,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine >= threshold within each block (near-dup detection).
    The equi-join on the block key keeps the quadratic cost inside blocks."""
    a = vectors.select(
        F.col(block_col).alias("__blk"), F.col(id_col).alias("a_id"), F.col(vec_col).alias("__av"),
        _norm(F.col(vec_col)).alias("__an"),
    )
    b = vectors.select(
        F.col(block_col).alias("__blk"), F.col(id_col).alias("b_id"), F.col(vec_col).alias("__bv"),
        _norm(F.col(vec_col)).alias("__bn"),
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            _cosine_pre(
                F.col("__av"), F.col("__bv"), F.col("__an"), F.col("__bn")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _derive_dim(df: DataFrame, vec_col: str, op: str) -> int:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row.d is None:
        raise ValueError(f"{op}: cannot derive embedding dim (empty input); pass dim=")
    return int(row.d)


def _dim_guard(vec: Column, dim: int, op: str) -> Column:
    """Adds 0 when `vec` has the expected length; raises AT EXECUTION on a
    mismatch. Without this, zip_with against fixed-dim plane/centroid
    constants null-pads, every dot product null-poisons, and the operator
    silently degrades (e.g. all vectors landing in LSH bucket 0 = an
    un-pruned brute-force join)."""
    return F.when(
        F.size(vec) != F.lit(dim),
        F.raise_error(
            F.concat(
                F.lit(f"{op}: embedding dim "),
                F.size(vec).cast("string"),
                F.lit(f" != expected {dim}"),
            )
        ).cast("int"),
    ).otherwise(F.lit(0))


def _dot_lit_sql(vec_sql: str, vals: list[float]) -> str:
    """Dot product against a constant vector as SQL text — the exact
    op-for-op spelling of _dot (CAST both sides, sequential left fold
    acc + v from 0.0D); one string instead of ~140 py4j round-trips per
    plane at plan-build time (same rationale as _d2_sql)."""
    arr = "array(" + ", ".join(_dlit(x) for x in vals) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def lsh_bucket(vec_sql: str, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = (vec . plane_i >= 0). Plan-time constant
    planes — the dot products are codegen'd expressions, no UDF. Takes
    the vector expression as SQL TEXT (see _d2_sql for why); the summed
    CASE terms are the same integer adds the Column chain built."""
    if not planes:
        return F.lit(0)
    terms = " + ".join(
        f"(CASE WHEN {_dot_lit_sql(vec_sql, p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return F.expr(terms)


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    At scale the candidate side is bucketed/partitioned by `bucket`, so a
    query touches 1/2^n_planes of the data.

    `dim` defaults to the candidates' observed embedding length (one
    first() probe); rows whose vectors differ from it raise at execution
    instead of silently collapsing into one bucket (see _dim_guard)."""
    if dim is None:
        dim = _derive_dim(candidates, vec_col, "lsh_topk")
    planes = _hyperplanes(dim, n_planes, seed)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        (lsh_bucket(_qcol(vec_col), planes) + _dim_guard(F.col(vec_col), dim, "lsh_topk")).alias(
            "bucket"
        ),
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("__cv"),
        (lsh_bucket(_qcol(vec_col), planes) + _dim_guard(F.col(vec_col), dim, "lsh_topk")).alias(
            "bucket"
        ),
    )
    # no norm hoist here (optimization r15): the bucket join is
    # SELECTIVE — a candidate scores only against queries sharing its
    # bucket (usually < 1 match per row), so a pre-join norm for every
    # corpus row costs MORE folds than the per-pair form; the hoist
    # lives only in the expanding joins (cosine_pairs_blocked,
    # cosine_topk, the cell-confined semantic scans)
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", cosine(F.col("__qv"), F.col("__cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def lsh_multiprobe_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_probes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Query-directed multiprobe sign-LSH top-k (Lv et al., VLDB 2007):
    each query scans its home bucket PLUS the n_probes-1 single-bit-flip
    buckets with the smallest |hyperplane margin| — the bits most likely
    to have split true neighbors across the boundary. This buys back the
    recall single-bucket LSH sheds (PERF.md round-8 recall table: at 8
    planes the single bucket holds ~1/256 of the corpus and recall
    collapses; probing the 3 lowest-margin flips quadruples the scanned
    fraction and multiplies recall) WITHOUT touching the index: the
    candidate side keeps exactly lsh_topk's one-bucket-per-vector layout
    (partition/bucket the persistent table by `bucket` once), only the
    broadcast query side fans out x n_probes.

    Deterministic given (dim, n_planes, seed) — margins are the same
    codegen'd dot products the bucket bits use, so the DuckDB oracle
    replays probe selection exactly (ties on |margin| break to the lower
    plane index). n_probes=1 degrades to lsh_topk identically (pinned)."""
    if dim is None:
        dim = _derive_dim(candidates, vec_col, "lsh_multiprobe_topk")
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError("n_probes must be in [1, n_planes + 1]")
    planes = _hyperplanes(dim, n_planes, seed)
    guard = _dim_guard(F.col(vec_col), dim, "lsh_multiprobe_topk")
    # per-plane dots as SQL text (_dot_lit_sql rationale): each dot tree
    # is spelled op-for-op like _dot; the integer bucket adds and the
    # (|margin|, index, mask) struct array are value-identical to the
    # previous Column-chain form
    d_sqls = [_dot_lit_sql(_qcol(vec_col), p) for p in planes]
    bucket = guard + F.expr(
        " + ".join(
            f"(CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END)"
            for i, d in enumerate(d_sqls)
        )
    )
    # the flip mask rides in the sorted struct (shiftleft needs a plan-
    # time int); sort is (|margin| asc, plane index asc) — ties to the
    # lower plane, mirrored by the oracle's ORDER BY m, j
    margins = F.expr(
        "array_sort(array("
        + ", ".join(
            f"named_struct('m', abs({d}), 'i', {i}, 'mask', {1 << i})"
            for i, d in enumerate(d_sqls)
        )
        + "))"
    )
    flips = F.transform(
        F.slice(margins, 1, n_probes - 1),
        lambda s: bucket.bitwiseXOR(s["mask"]),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(F.concat(F.array(bucket), flips)).alias("bucket"),
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("__cv"),
        (lsh_bucket(_qcol(vec_col), planes) + _dim_guard(F.col(vec_col), dim, "lsh_multiprobe_topk")).alias(
            "bucket"
        ),
    )
    # selective bucket join — no norm hoist (see lsh_topk)
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", cosine(F.col("__qv"), F.col("__cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def topk_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Index-health evaluation: per-query recall of an approximate
    top-k result against the exact one — the number a production ANN
    deployment monitors continuously (recall collapse = the index needs
    retraining/re-probing; PERF.md's recall ladder is this operator run
    over a parameter grid). Both inputs are (query_id, cand_id [,...])
    frames — compose with any tier: `topk_recall(lsh_topk(...),
    cosine_topk(...))`. Returns (query_id, n_exact, n_hit,
    recall[6dp]); aggregate mean(recall) for the dashboard scalar.

    Scale shape: both sides are bounded (n_queries x k id pairs) — one
    equi-join and one per-query count; at monitoring scale the exact
    side comes from a SAMPLED query set, never the full corpus."""
    ex = exact.select("query_id", "cand_id")
    ap = approx.select("query_id", "cand_id").withColumn("__hit", F.lit(1))
    return (
        ex.join(ap, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_exact").cast("double"), 6
            ).alias("recall"),
        )
    )


def lsh_multiprobe_rerank(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    r: int = 40,
    shortlist_dims: int | None = None,
    n_planes: int = 8,
    n_probes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Two-stage cheap-index ANN — the LSH analog of
    `rerank_exact(ivfpq_topk(...))` (Jegou et al. 2011 §V applied to the
    hash index): stage 1 selects an r >> k shortlist with query-directed
    multiprobe sign-LSH (`lsh_multiprobe_topk`, Lv et al. 2007); stage 2
    fetches the raw vectors of JUST the shortlist and re-ranks them by
    exact full-dim cosine (`rerank_exact`).

    `shortlist_dims=d' < dim` makes stage 1 genuinely cheap: planes are
    drawn in d'-dim space and the shortlist is ordered by the cosine of
    the d'-dim Matryoshka prefix (truncation is all stage 1 ever reads —
    a serving index stores d'/dim of the vector bytes; MRL, Kusupati et
    al. 2022), and stage 2 restores the full-dim ordering the truncated
    scores blur. recall@k then measures only whether true neighbors
    reached the shortlist — >= the truncated multiprobe's recall at
    equal scan fraction (PERF.md recall ladder). With
    `shortlist_dims=None` stage 1 already scores exact cosine, so the
    composition is an order-preserving truncation of
    `lsh_multiprobe_topk` (pinned in tests) — correct, but pointless at
    scale; pass d' in production.

    Output schema == cosine_topk (query_id, cand_id, cos, rank).

    Scale shape: stage 1 is the multiprobe broadcast-bucket join over
    prefix bytes only; the bounded shortlist (n_queries x r ids)
    broadcasts against the raw-vector point lookups; the full-width
    corpus never shuffles in either stage."""
    if shortlist_dims is None:
        sq, sc, sdim = queries, candidates, dim
    else:
        if shortlist_dims < 1:
            raise ValueError("shortlist_dims must be >= 1")
        cut = F.slice(F.col(vec_col), 1, shortlist_dims)
        sq = queries.withColumn(vec_col, cut)
        sc = candidates.withColumn(vec_col, cut)
        sdim = shortlist_dims
    shortlist = lsh_multiprobe_topk(
        sq, sc, k=r, n_planes=n_planes, n_probes=n_probes, seed=seed,
        id_col=id_col, vec_col=vec_col, dim=sdim,
    )
    return rerank_exact(
        shortlist, queries, candidates, k=k, id_col=id_col, vec_col=vec_col
    )


def _dlit(x: float) -> str:
    """Double literal as Spark SQL text: repr() is the shortest
    round-trip decimal, and the D suffix makes the parser produce the
    exact same DoubleType literal as F.lit(float(x)). Non-finite values
    have no literal spelling ('nanD'/'infD' are parse errors), so they
    are rendered as the CAST the parser does accept — the same
    DoubleType NaN/Infinity constant F.lit(float(x)) built before the
    SQL-text builders replaced the Column API (optimization r14)."""
    x = float(x)
    if x != x:  # NaN (never equal to itself)
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _qcol(name: str) -> str:
    """Backtick-quote a column name for SQL-text expressions."""
    return "`" + name.replace("`", "``") + "`"


def _d2_sql(vec_sql: str, cent: list[float]) -> str:
    """Squared-L2 fold as SQL text — the exact op-for-op spelling of the
    previous F.zip_with/F.aggregate Column form (CAST-then-subtract,
    sequential left fold acc + v*v from 0.0D), so the parsed expression
    tree and every IEEE intermediate are identical. Built as ONE string
    because constructing the same tree through the Column API costs
    hundreds of py4j round-trips PER CENTROID (optimization r14, guide
    §7.3 driver-side planning: measured ~1.1 s -> ~0.02 s to build the
    k=8 x dim=64 assignment expression; results pinned bit-identical)."""
    arr = "array(" + ", ".join(_dlit(x) for x in cent) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (a, b) -> CAST(a AS DOUBLE) - b), "
        "0.0D, (acc, v) -> acc + v * v)"
    )


def _probe_lists_sql(
    vec_col: str, centroids: list[list[float]], n_probe: int
) -> Column:
    """The n_probe nearest coarse-list ids for a query vector, as ONE
    SQL-text expression: slice(array_sort(array(named_struct('d', d2,
    'i', i), ...)), 1, n_probe) then transform to the ids — the exact
    struct-ordering spelling the previous Column-API loop built, minus
    its per-centroid py4j construction cost (_d2_sql)."""
    structs = ", ".join(
        f"named_struct('d', {_d2_sql(_qcol(vec_col), cent)}, 'i', {i})"
        for i, cent in enumerate(centroids)
    )
    return F.expr(
        f"transform(slice(array_sort(array({structs})), 1, {int(n_probe)}), s -> s.i)"
    )


def _centroid_assign(vec_sql: str, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid by squared L2 distance. Plan-time
    constant centroids -> pure codegen expressions; argmin via array_min
    over (distance, index) structs (struct ordering is field-order).
    `vec_sql` is the vector expression as SQL TEXT (e.g. '`embedding`'
    or 'slice(`embedding`, 1, 16)') — see _d2_sql for why text."""
    structs = ", ".join(
        f"named_struct('d', {_d2_sql(vec_sql, cent)}, 'i', {i})"
        for i, cent in enumerate(centroids)
    )
    return F.expr(f"array_min(array({structs})).i")


def train_ivf_centroids(
    vectors: DataFrame,
    n_lists: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    max_iter: int = 10,
) -> list[list[float]]:
    """Coarse quantizer for IVF: seeded KMeans over the corpus (or a sample
    at scale). The centroid table is a tiny model that lives on the driver
    and compiles into the assignment expression."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def semantic_dedup(
    vectors: DataFrame,
    centroids: list[list[float]] | None = None,
    n_lists: int = 8,
    seed: int = 42,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    policy: str = "greedy",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space so the quadratic pair
    scan stays inside clusters, treat within-cluster pairs with
    cosine >= threshold as semantic duplicates, and keep the min-id
    representative per duplicate group — policy='greedy' (drop every
    vector with a smaller-id duplicate) or 'components' (transitive
    closure, exactly one survivor per connected component).

    Scale shape: centroid assignment is a pure codegen projection
    (plan-time-constant centroids, same argmin as ivf_topk); the pair
    join is an equi-join on the cluster id (quadratic confined to
    clusters — the SemDeDup containment); the final drop is a plain
    left_anti over the corpus (AQE broadcasts the drop set while small).
    Returns the input frame minus semantic near-duplicates, schema
    unchanged. With `centroids=None` a seeded KMeans trains the
    quantizer; pass explicit centroids for cross-engine-checkable runs."""
    if centroids is None:
        centroids = train_ivf_centroids(vectors, n_lists, seed, vec_col)
    from epss_spark.operators.dedup import dedup_corpus_near

    from epss_spark.operators.clustering import assign_clusters

    # dual-path coarse assignment (clustering.assign_clusters): identical
    # expression argmin at small k, the bit-identical Arrow kernel above
    # BATCHED_ASSIGN_CELLS — production n_lists never builds the
    # interpreted O(k*dim) HOF tree (PERF.md round-12 ladder)
    assigned = assign_clusters(vectors, centroids, vec_col=vec_col, cluster_col="__list")
    pairs = cosine_pairs_blocked(assigned, "__list", threshold, id_col, vec_col)
    return dedup_corpus_near(vectors, pairs, id_col=id_col, policy=policy)


def semantic_decontam_hits(
    corpus_vecs: DataFrame,
    eval_vecs: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str | None = None,
    impl: str = "auto",
) -> DataFrame:
    """SEMANTIC (embedding-space) benchmark-contamination detection —
    the third rung of the decontamination ladder: `decontaminate_spans`
    catches verbatim substrings, `decontaminate_near` lexical paraphrase
    (shared shingles) — and this catches the leakage both miss: a full
    rewording of an eval item that preserves meaning but not n-grams,
    visible only as embedding cosine. Returns (corpus id, eval id, cos)
    for every corpus vector whose cosine to ANY eval vector reaches
    `threshold`.

    Scale shape — the asymmetric SemDeDup containment
    (`semantic_dedup`'s architecture pointed across two frames): BOTH
    sides take the dual-path nearest-centroid assignment
    (clustering.assign_clusters — codegen at small k, the Arrow kernel
    above BATCHED_ASSIGN_CELLS), the pair join is an equi-join on the
    cell id with the benchmark-sized eval side BROADCAST, so the corpus
    never shuffles and the quadratic scan is confined to
    corpus-cell x eval-cell co-members. Like SemDeDup, a pair
    straddling a cell boundary is out of scope by construction — at
    production scale tighten that by unioning hits over two models (or
    a coarser k), exactly as SemDeDup runs multiple shards.

    Deterministic: the cosine is the shared sequential-fold dot/norm
    rounded 6dp (the cross-engine float contract), assignment ties
    break on the lowest centroid index."""
    from epss_spark.operators.clustering import assign_clusters

    eval_id_col = eval_id_col or id_col
    c_asg = assign_clusters(
        corpus_vecs.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("__cv")),
        centroids, vec_col="__cv", cluster_col="__cell", impl=impl,
    )
    e_asg = assign_clusters(
        eval_vecs.select(F.col(eval_id_col).alias("eval_id"), F.col(vec_col).alias("__ev")),
        centroids, vec_col="__ev", cluster_col="__cell", impl=impl,
    )
    c_asg = c_asg.withColumn("__cn", _norm(F.col("__cv")))
    e_asg = e_asg.withColumn("__en", _norm(F.col("__ev")))
    return (
        c_asg.join(F.broadcast(e_asg), "__cell")
        .select(
            "corpus_id",
            "eval_id",
            _cosine_pre(
                F.col("__cv"), F.col("__ev"), F.col("__cn"), F.col("__en")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(float(threshold)))
    )


def decontaminate_semantic(
    corpus_vecs: DataFrame,
    eval_vecs: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Drop every corpus vector that is a semantic near-duplicate
    (cosine >= threshold, centroid-confined — see semantic_decontam_hits)
    of ANY eval/benchmark vector; returns the cleaned corpus frame with
    its columns unchanged. The editing half of the semantic rung, shaped
    like decontaminate_near: detection broadcasts the eval side, the
    final drop is one left_anti on the (small) contaminated-id set."""
    hits = (
        semantic_decontam_hits(
            corpus_vecs, eval_vecs, centroids, threshold, id_col, vec_col,
            eval_id_col, impl,
        )
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus_vecs.join(hits, id_col, "left_anti")


def semantic_index(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "auto",
) -> DataFrame:
    """Build the persistent index for INCREMENTAL semantic dedup: one
    (cell, id, vector) row per corpus vector, the coarse assignment
    materialized once so nightly batches never re-assign the corpus —
    the embedding-space analog of `dedup.minhash_index` (the lexical
    incremental family's missing sibling until round 14). Write it
    bucketed by `cell` (`DataFrameWriter.bucketBy`) so daily lookups join
    co-located; the centroid model is the index's scheme and must be
    FROZEN for the index's lifetime (a re-trained model re-cells the
    space — rebuild the index with it, exactly like changing LSH
    planes). Assignment rides the dual-path dispatch, so production-k
    schemes never build the interpreted expression tree."""
    from epss_spark.operators.clustering import assign_clusters

    return assign_clusters(
        vectors.select(F.col(id_col), F.col(vec_col)),
        centroids, vec_col=vec_col, cluster_col="cell", impl=impl,
    ).select("cell", id_col, vec_col)


def semantic_lookup(
    new_vecs: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "auto",
) -> DataFrame:
    """Incremental semantic near-dup detection: cosine >= threshold
    pairs TOUCHING the new batch — new~indexed and new~new, never
    indexed~indexed (those were reported when their batch arrived).
    Returns (a_id, b_id, cos) with the batch side always `b_id` for
    new~indexed pairs and a_id < b_id for new~new pairs. If an id
    appears in BOTH the index and the batch (a re-embedded/re-crawled
    vector), its stale index rows are anti-joined away up front, so its
    pairs come from the NEW content only — same re-delivery contract as
    `minhash_lookup`.

    Scale shape: the index NEVER re-assigns and never shuffles on its
    own grain — candidates come from an equi-join of the index rows
    against the (daily-batch-sized, broadcast) new rows on the cell id,
    plus bucket expansion over the new rows alone. Per-day exchange
    volume is O(append). Pair scope is cell-confined like
    `semantic_dedup` (a cross-cell near-dup is out of scope by the
    SemDeDup containment, documented there)."""
    from epss_spark.operators.clustering import assign_clusters

    new_asg = assign_clusters(
        new_vecs.select(F.col(id_col), F.col(vec_col)),
        centroids, vec_col=vec_col, cluster_col="cell", impl=impl,
    )
    new_ids = new_asg.select(F.col(id_col).alias("__nid"))
    idx_clean = index.join(
        new_ids, index[id_col] == new_ids["__nid"], "left_anti"
    )
    new_side = new_asg.select(
        "cell", F.col(id_col).alias("b_id"), F.col(vec_col).alias("__bv"),
        _norm(F.col(vec_col)).alias("__bn"),
    )
    cross = (
        idx_clean.select(
            "cell", F.col(id_col).alias("a_id"), F.col(vec_col).alias("__av"),
            _norm(F.col(vec_col)).alias("__an"),
        )
        .join(F.broadcast(new_side), "cell")
        .select(
            "a_id",
            "b_id",
            _cosine_pre(
                F.col("__av"), F.col("__bv"), F.col("__an"), F.col("__bn")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(float(threshold)))
    )
    within = cosine_pairs_blocked(
        new_asg, "cell", threshold, id_col=id_col, vec_col=vec_col
    )
    return cross.unionByName(within)


def dedup_batch_semantic(
    new_vecs: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Incremental semantic dedup exercised the way a nightly job runs
    it — the embedding-space analog of `dedup.dedup_batch_lines`: a
    batch vector drops when it has (a) ANY indexed neighbor at
    cosine >= threshold (corpus-first — the index is the canonical set,
    regardless of id order) or (b) a SMALLER-ID in-batch neighbor
    (`semantic_dedup`'s greedy policy within the batch). Returns
    (kept_rows, new_index_rows): append the latter to the index and the
    daily loop's cost stays O(batch x cell density) — the corpus never
    re-assigns.

    Under the append-only invariant (every batch id larger than every
    indexed id — the natural shape of daily drops), kept ==
    `semantic_dedup(index ∪ batch, policy='greedy')` restricted to the
    batch (pinned in tests); with out-of-order ids the corpus-first
    rule is deliberately stronger than greedy (an indexed near-dup
    always wins, like the line/span indexes' content-first rule)."""
    pairs = semantic_lookup(
        new_vecs, index, centroids, threshold, id_col, vec_col, impl
    )
    drops = pairs.select(F.col("b_id").alias(id_col)).distinct()
    kept = new_vecs.join(drops, id_col, "left_anti")
    return kept, semantic_index(kept, centroids, id_col, vec_col, impl)


def train_pq_centroids(
    vectors: DataFrame,
    m: int = 4,
    k: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    max_iter: int = 10,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the embedding space is
    split into `m` contiguous subspaces and each gets its own seeded
    KMeans codebook of `k` sub-centroids. The model is m*k*(dim/m)
    floats — driver-resident, compiled into encode/search expressions.
    This is the scale-path trainer (run on a sample at 100 TB); for
    cross-engine-checkable runs pass sampled-point codebooks instead
    (sampled_pq_centroids)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim is None:
        dim = _derive_dim(vectors, vec_col, "train_pq_centroids")
    if dim % m:
        raise ValueError(f"train_pq_centroids: dim {dim} not divisible by m {m}")
    sub = dim // m
    books: list[list[list[float]]] = []
    for mi in range(m):
        train = vectors.select(
            array_to_vector(
                F.slice(F.col(vec_col), mi * sub + 1, sub).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + mi, maxIter=max_iter).fit(train)
        books.append([list(map(float, c)) for c in model.clusterCenters()])
    return books


def sampled_pq_centroids(
    vectors: DataFrame,
    ids: list[int],
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic sampled-point codebooks: the sub-vectors of `ids`
    fixed rows become the k=len(ids) sub-centroids of every subspace.
    Both engines can derive the identical codebook from the data, which
    makes the whole PQ pipeline SQL-checkable (same trick as ann_ivf's
    sampled coarse centroids). Bounded collect: len(ids) rows."""
    by_id = {
        r[0]: [float(x) for x in r[1]]
        for r in vectors.filter(F.col(id_col).isin(ids)).select(id_col, vec_col).collect()
    }
    missing = [i for i in ids if i not in by_id]
    if missing:
        raise ValueError(f"sampled_pq_centroids: ids not found: {missing}")
    dim = len(by_id[ids[0]])
    if dim % m:
        raise ValueError(f"sampled_pq_centroids: dim {dim} not divisible by m {m}")
    sub = dim // m
    return [
        [by_id[i][mi * sub : (mi + 1) * sub] for i in ids]
        for mi in range(m)
    ]


def pq_encode(
    vectors: DataFrame,
    centroids: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """PQ compression: each vector becomes `m` small codes (nearest
    sub-centroid per subspace, argmin by squared L2, ties to the lower
    index). With m=4, k=8 a 64-dim float vector (256 B) compresses to 4
    codes (<= 4 B) — the representation a 100 TB embedding store scans.

    Pure codegen projection (plan-time-constant codebooks, the same
    struct-argmin as _centroid_assign) — zero shuffle, zero UDF.
    Returns (id, codes array<int>); a dim guard raises at execution on
    ragged vectors rather than silently null-padding."""
    m = len(centroids)
    sub = len(centroids[0][0])
    dim = m * sub
    guard = _dim_guard(F.col(vec_col), dim, "pq_encode")
    codes = [
        _centroid_assign(f"slice({_qcol(vec_col)}, {mi * sub + 1}, {sub})", centroids[mi])
        + guard
        for mi in range(m)
    ]
    return vectors.select(F.col(id_col), F.array(*codes).alias(out_col))


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: approximate squared L2 between
    an exact query and a compressed candidate is the sum over subspaces
    of d2(query_sub, centroid[code]). Returns (query_id, cand_id,
    ad2[6 dp], rank), rank by (ad2 asc, cand_id) — the rounded score
    orders the window so ranking is engine-stable.

    THIS IS THE EXHAUSTIVE-SCAN FORM — it scores every query against
    EVERY candidate (O(queries x candidates), compressed domain). It is
    the exact-ADC verifier and the right tool up to millions of
    candidates; at billion scale use `ivfpq_topk`, which prunes the scan
    to n_probe/n_lists of the corpus over the same codes and degrades to
    this function's exact scoring at full probe (identity pinned by
    test). A user reaching for "PQ" first should reach for IVF-PQ.

    Scale story (within the scanned set): candidates are encoded ONCE
    (pass `codes=` with the persisted code table — the index artifact);
    the scan then reads m ints per vector instead of dim floats (64x
    less I/O at m=4/dim=64), each query's m*k distance table is computed
    once as a plan-time projection on the broadcast query side, and
    scoring is pure array lookups + a fixed-length sum inside codegen.
    The final top-k is a per-query window over candidate counts, same
    as cosine_topk."""
    m = len(centroids)
    if codes is None:
        codes = pq_encode(candidates, centroids, id_col=id_col, vec_col=vec_col)
    c = codes.select(F.col(id_col).alias("cand_id"), F.col("codes").alias("__codes"))
    sub = len(centroids[0][0])
    dtab = F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                _d2_sql(f"slice({_qcol(vec_col)}, {mi * sub + 1}, {sub})", cent)
                for cent in centroids[mi]
            )
            + ")"
            for mi in range(m)
        )
        + ")"
    )
    q = queries.select(F.col(id_col).alias("query_id"), dtab.alias("__dtab"))
    ad2 = F.lit(0.0)
    for mi in range(m):
        ad2 = ad2 + F.element_at(F.col("__dtab")[mi], F.col("__codes")[mi] + 1)
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", F.round(ad2, 6).alias("ad2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ad2").asc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "ad2", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: candidates are inverted-list-partitioned by
    nearest centroid; each query probes its n_probe nearest lists only.

    Scale story: the candidate side is written partitioned/bucketed by
    `list_id` once, so a query scans n_probe/n_lists of the corpus; the
    probe join is an equi-join on list_id with the (tiny) query side
    broadcast. With n_probe == n_lists this degrades gracefully to exact
    brute force — pinned as the parity oracle in tests/test_queries_domain.
    """
    if centroids is None:
        centroids = train_ivf_centroids(candidates, n_lists, seed, vec_col)

    from epss_spark.operators.clustering import assign_clusters

    # dual-path coarse assignment — see semantic_dedup; small k stays the
    # plan-time-constant projection, large n_lists routes through Arrow
    c = assign_clusters(candidates, centroids, vec_col=vec_col, cluster_col="list_id").select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("__cv"),
        "list_id",
    )
    # per-query probe lists: n_probe nearest centroids, exploded to rows
    # (one SQL-text expression — see _d2_sql for the construction-cost
    # rationale; struct/array_sort/transform spelled exactly as before)
    probe_ids = _probe_lists_sql(vec_col, centroids, n_probe)
    dim = len(centroids[0])
    q = (
        queries.where(_dim_guard(F.col(vec_col), dim, "ivf_topk") == 0)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.explode(probe_ids).alias("list_id"),
        )
    )
    # probe-list join: only probed lists' candidates score — no norm
    # hoist (see lsh_topk)
    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", cosine(F.col("__qv"), F.col("__cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ composite index search — the standard billion-scale ANN
    layout (coarse inverted lists for pruning x product quantization for
    scan compression): each query probes its n_probe nearest lists and
    scores ONLY those lists' members by ADC over their PQ codes.

    The persisted index artifact is (id, list_id, codes) — ~20 bytes per
    vector vs 256 for raw 64-dim floats — written partitioned/bucketed
    by list_id, so a query touches n_probe/n_lists of an already-64x-
    compressed scan. Pass it via `index=` (built once with ivfpq_index);
    otherwise it is derived inline. Queries ride broadcast with their
    per-subspace distance tables; scoring is equi-join + array lookups +
    a per-query top-k window — the same plan family as ivf_topk/pq_topk,
    both plan-pinned. Codes quantize the RAW vectors (IVF-Flat+PQ); the
    residual-encoding variant is a documented non-goal here because the
    sampled-point codebooks that make the whole pipeline SQL-checkable
    would no longer be shared verbatim with the oracle."""
    m = len(pq_centroids)
    if index is None:
        index = ivfpq_index(candidates, coarse_centroids, pq_centroids, id_col, vec_col)
    c = index.select(
        F.col(id_col).alias("cand_id"), "list_id", F.col("codes").alias("__codes")
    )
    sub = len(pq_centroids[0][0])
    # dtab + probe as SQL-text expressions (see _d2_sql): identical
    # trees, ~two py4j calls instead of thousands at plan-build time
    dtab = F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                _d2_sql(f"slice({_qcol(vec_col)}, {mi * sub + 1}, {sub})", cent)
                for cent in pq_centroids[mi]
            )
            + ")"
            for mi in range(m)
        )
        + ")"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        dtab.alias("__dtab"),
        F.explode(_probe_lists_sql(vec_col, coarse_centroids, n_probe)).alias("list_id"),
    )
    ad2 = F.lit(0.0)
    for mi in range(m):
        ad2 = ad2 + F.element_at(F.col("__dtab")[mi], F.col("__codes")[mi] + 1)
    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", F.round(ad2, 6).alias("ad2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ad2").asc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "ad2", "rank")
    )


def _np_sub_d2(x_sub, cents):
    """Sequential-fold squared L2 from an (n, sub) block to each of the
    (k, sub) centroids — accumulation ORDER matches the Catalyst
    fold ((x1-c1)^2 + ...) exactly, so doubles are bit-identical to the
    expression form and 6-dp rounded scores can be compared with ==."""
    import numpy as np

    n, sub = x_sub.shape
    kk = len(cents)
    acc = np.zeros((n, kk), dtype=np.float64)
    for j in range(sub):
        cj = np.array([c[j] for c in cents], dtype=np.float64)
        d = x_sub[:, j][:, None] - cj[None, :]
        acc += d * d
    return acc


def pq_encode_batched(
    vectors: DataFrame,
    centroids: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """`pq_encode` for REALISTIC codebooks: identical semantics and
    output (argmin by squared L2, ties to the lower index — pinned
    bit-identical to the expression form), but the m x k distance work
    runs in an Arrow-batched numpy kernel instead of an m*k*sub-leaf
    Catalyst expression. The expression form is the right tool at the
    oracle-checkable k=8; at the standard k=256 its analysis/codegen
    cost explodes (PERF.md round-8 ladder: pq_topk 5.9 s at k=8 ->
    135.8 s at k=256 on 500 vectors — almost all of it plan overhead)
    while this kernel stays flat. Zero shuffle either way."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    m = len(centroids)
    sub = len(centroids[0][0])
    dim = m * sub
    schema = StructType(
        [
            StructField(id_col, vectors.schema[id_col].dataType),
            StructField(out_col, ArrayType(IntegerType())),
        ]
    )
    src = vectors.select(id_col, F.col(vec_col).alias("__v"))

    def _encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            if vecs.shape[1] != dim:
                raise ValueError(
                    f"pq_encode_batched: embedding dim {vecs.shape[1]} != expected {dim}"
                )
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for mi in range(m):
                d2 = _np_sub_d2(vecs[:, mi * sub : (mi + 1) * sub], centroids[mi])
                codes[:, mi] = d2.argmin(axis=1)  # first minimum = lower index
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: [list(map(int, c)) for c in codes]}
            )

    return src.mapInPandas(_encode, schema=schema)


def _adc_topk_batched(
    code_table: DataFrame,
    q_rows: list,
    centroids: list[list[list[float]]],
    k: int,
    id_col: str,
    probes: dict | None,
) -> DataFrame:
    """Shared ADC scan kernel for pq_topk_batched / ivfpq_topk_batched:
    mapInPandas over the (id[, list_id], codes) table; each Arrow batch
    is scored against every query's precomputed m x k distance table
    (sequential-fold doubles — see _np_sub_d2 — then rounded to 6 dp,
    so scores are bit-identical to the expression forms). `probes`
    (query -> allowed list_ids) masks rows per query for the IVF path.
    The per-partition output is (query_id, cand_id, ad2) for ALL scanned
    pairs of that batch's rows; the global per-query top-k window does
    the final cut (same plan tail as the expression forms)."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    m = len(centroids)
    sub = len(centroids[0][0])
    dtabs = []
    qids = []
    for qid, qvec in q_rows:
        x = np.asarray(qvec, dtype=np.float64)[None, :]
        dtabs.append(
            np.stack(
                [
                    _np_sub_d2(x[:, mi * sub : (mi + 1) * sub], centroids[mi])[0]
                    for mi in range(m)
                ]
            )
        )
        qids.append(qid)
    dtab_arr = np.stack(dtabs) if dtabs else np.zeros((0, m, 1))
    id_type = code_table.schema[id_col].dataType
    schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("cand_id", id_type),
            StructField("ad2", DoubleType()),
        ]
    )
    has_list = probes is not None

    def _score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf) or not qids:
                continue
            codes = np.array([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            cand = pdf[id_col].to_numpy()
            lists = pdf["list_id"].to_numpy() if has_list else None
            out_q, out_c, out_d = [], [], []
            for qi, qid in enumerate(qids):
                if has_list:
                    mask = np.isin(lists, probes[qid])
                    mask &= cand != qid
                else:
                    mask = cand != qid
                if not mask.any():
                    continue
                cc = codes[mask]
                acc = np.zeros(len(cc), dtype=np.float64)
                for mi in range(m):  # sequential over m: fold-order parity
                    acc += dtab_arr[qi, mi][cc[:, mi]]
                # dtype-preserving: qid may be a string id (the output
                # schema keeps the table's real id type — int64 would
                # raise on strings inside the Arrow kernel)
                out_q.append(np.full(len(cc), qid, dtype=cand.dtype))
                out_c.append(cand[mask])
                out_d.append(np.round(acc, 6))
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "ad2": np.concatenate(out_d),
                }
            )

    scored = code_table.mapInPandas(_score, schema=schema)
    w = Window.partitionBy("query_id").orderBy(F.col("ad2").asc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "ad2", "rank")
    )


def pq_topk_batched(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """`pq_topk` for REALISTIC codebooks (k up to 256, the standard
    8-bit-code config): same output contract (ad2 6 dp, rank by (ad2,
    cand_id), self excluded — pinned bit-identical to the expression
    form at small k), but the distance tables and the ADC scan run in
    an Arrow-batched numpy kernel, so plan cost is independent of m x k
    (PERF.md round-8 ladder: the expression form is 135.8 s at
    k=256/500 vectors, this path stays ~flat). Queries are collected to
    the driver (bounded by design — the same rows the expression form
    broadcasts); the code table streams through the kernel with zero
    shuffle before the per-query top-k window."""
    if codes is None:
        codes = pq_encode_batched(candidates, centroids, id_col=id_col, vec_col=vec_col)
    q_rows = [
        (r[0], list(r[1]))
        for r in queries.select(id_col, vec_col).collect()
    ]
    return _adc_topk_batched(
        codes.select(id_col, "codes"), q_rows, centroids, k, id_col, None
    )


def ivfpq_topk_batched(
    queries: DataFrame,
    candidates: DataFrame,
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """`ivfpq_topk` for realistic codebooks: identical contract (pinned
    == the expression form at small k), ADC in the Arrow-batched kernel.
    Each query's probe set (n_probe nearest coarse lists, ties to the
    lower list — same rule as the expression form) is computed
    driver-side from the bounded query rows and masks the scan inside
    the kernel; with a list_id-partitioned index table the mask becomes
    partition pruning by construction."""
    import numpy as np

    if index is None:
        if len(pq_centroids[0]) > 32:
            enc = pq_encode_batched(candidates, pq_centroids, id_col, vec_col)
            from epss_spark.operators.clustering import assign_clusters

            asg = assign_clusters(
                candidates, coarse_centroids, vec_col=vec_col, cluster_col="list_id"
            ).select(F.col(id_col), "list_id")
            index = enc.join(asg, id_col)
        else:
            index = ivfpq_index(candidates, coarse_centroids, pq_centroids, id_col, vec_col)
    q_rows = [
        (r[0], list(r[1]))
        for r in queries.select(id_col, vec_col).collect()
    ]
    cents = np.asarray(coarse_centroids, dtype=np.float64)
    probes = {}
    for qid, qvec in q_rows:
        x = np.asarray(qvec, dtype=np.float64)
        # sequential fold over dims for parity with _centroid_assign /
        # the probe ranking of the expression form
        acc = np.zeros(len(cents), dtype=np.float64)
        for j in range(cents.shape[1]):
            d = x[j] - cents[:, j]
            acc += d * d
        order = np.lexsort((np.arange(len(cents)), acc))
        probes[qid] = np.array(order[:n_probe])
    # pre-filter to the UNION of probed lists so the prune reaches the
    # SCAN (partition pruning on a list_id-partitioned table, row-group
    # skipping otherwise); the per-query mask inside the kernel then
    # only separates queries within the already-pruned scan
    probed_union = sorted({int(x) for arr in probes.values() for x in arr})
    pruned = index.select(id_col, "list_id", "codes").filter(
        F.col("list_id").isin(probed_union)
    )
    return _adc_topk_batched(pruned, q_rows, pq_centroids, k, id_col, probes)


def rerank_exact(
    shortlist: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-ranking of an ANN shortlist — the standard second stage
    of a production IVF-PQ pipeline (Jegou et al. 2011 §V: ADC selects a
    shortlist of r >> k candidates from the compressed scan, then the r
    RAW vectors are fetched and scored exactly). Compose as
    `rerank_exact(ivfpq_topk(..., k=r), queries, candidates, k=k)`:
    recall@k then measures only whether the true neighbors reached the
    shortlist (P@r of the ADC stage), not ADC's ranking noise — on the
    bench corpus this lifts IVF-PQ recall@10 from ~0.3 (raw ADC order)
    to the IVF pruning ceiling (see PERF.md round-8 recall table).

    Output schema == cosine_topk (query_id, cand_id, cos, rank).

    Scale shape: the shortlist is bounded (n_queries x r rows, ids only)
    — it BROADCASTS against the raw-vector scan, so re-ranking is one
    broadcast-semi-join point-lookup pass over the candidate store plus
    a per-query top-k window over r rows; the raw corpus never shuffles
    and the compressed index is never rescanned."""
    sl = shortlist.select("query_id", "cand_id")
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    cv = candidates.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("__cv"))
    # shortlist semi-join: only the bounded shortlist rows ever score —
    # a pre-join norm for the whole candidate store would fold norms
    # for rows the join drops (measured +13% on ann_ivfpq_rerank before
    # this was reverted; see OPTIMIZATION_r15.md change #8)
    scored = (
        cv.join(F.broadcast(sl), "cand_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "cand_id", cosine(F.col("__qv"), F.col("__cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def ivfpq_index(
    candidates: DataFrame,
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF-PQ index TABLE: (id, list_id, codes) — build once, write
    partitioned by list_id, search forever. Pure codegen projection
    (both assignments are plan-time-constant argmins), zero shuffle."""
    sub = len(pq_centroids[0][0])
    dim = len(pq_centroids) * sub
    guard = _dim_guard(F.col(vec_col), dim, "ivfpq_index")
    codes = F.array(
        *[
            _centroid_assign(
                f"slice({_qcol(vec_col)}, {mi * sub + 1}, {sub})", pq_centroids[mi]
            )
            + guard
            for mi in range(len(pq_centroids))
        ]
    )
    from epss_spark.operators.clustering import assign_clusters

    # coarse list via the dual-path assignment; PQ sub-codes stay
    # expression-form here (the realistic-codebook path is pq_encode_batched)
    return assign_clusters(
        candidates, coarse_centroids, vec_col=vec_col, cluster_col="list_id"
    ).select(F.col(id_col), "list_id", codes.alias("codes"))
