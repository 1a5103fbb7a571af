"""Deterministic Lloyd k-means over embedding columns, plus the
cluster-balanced curation sampler that rides it.

Reference scope: the reference engine (epss/client.py, epss/cli.py) has no
clustering — this is part of the LLM-training-data extension tier. The
cluster-then-balance stage is the DataComp / SemDeDup-style curation step:
partition the corpus's embedding space with k-means, then draw a capped,
deterministic per-cluster sample so no dense region dominates the training
mix. `semantic_dedup` (operators/similarity.py) consumes the same centroid
model for within-cluster near-dup removal; this module is where that model
is *trained* with cross-engine-checkable arithmetic.

Determinism contract (what makes a bit-exact DuckDB oracle possible — the
harness compares floats with ==, not a tolerance):

- init centroids are the embeddings of caller-fixed ids (a tiny
  deterministic "sample"). At 100 TB you would instead seed from
  train_ivf_centroids or a reservoir sample; the fixed-id form exists so
  both engines share the initial model bit-for-bit.
- each Lloyd update computes per-cluster per-dimension sums in EXACT
  integer arithmetic: coordinates are quantized floor(x*Q + 0.5) -> BIGINT
  (Q = 1e6), summed (integer addition is order-free, so shuffle order
  cannot perturb the result), and the new coordinate is the fixed
  two-division chain  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / Q  — the
  identical IEEE op sequence in Spark-collected Python, and in DuckDB SQL.
- distances are sequential left folds over the dimension index
  (F.aggregate here, list_sum(list_transform(...)) in the oracle) so both
  engines add in the same order; argmin ties break on the lowest cluster
  index. Same kernel as similarity._centroid_assign / the ann_ivf oracle.
- empty clusters keep their previous centroid (coalesce on the SQL side).

Scale shape (the part that must survive 100 TB): assignment is a
plan-time-constant codegen projection — zero shuffle, zero Python, the
centroid model compiles into the expression tree exactly like ivf_topk's
coarse quantizer. Each Lloyd iteration is ONE map-side-combinable groupBy
producing k rows of (count + dim quantized sums); the state that crosses
the wire is k*(dim+1) longs per partition, independent of corpus size, and
the k-row model collects to the driver (bounded, it IS the model). n_iter
is a small constant, so training cost is n_iter corpus scans with no
corpus-grain shuffle anywhere.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

QUANT = 1_000_000.0

# Above this many centroid cells (k * dim), nearest-centroid assignment
# switches from the plan-time-constant expression projection to the
# Arrow-batched numpy kernel. The threshold is MEASURED, not guessed
# (PERF.md round 12 assign ladder: 100k rows x dim 64, 32 partitions,
# quiet host, warm; first rung of each run carries session warmup):
#
#   k      expression    batched (steady)
#   8      2.7 s         ~0.7 s
#   16     2.1 s          0.70 s   3x
#   32     3.4 s          0.66 s   5x
#   64     6.4 s          0.62 s   10x
#   128    16.2 s         ~0.8 s   20x
#   1024   (~130 s est)   4.95 s   ~26x
#   4096   —              15.7 s   (near-flat to here)
#
# The expression form's distance fold rides F.aggregate/F.zip_with —
# higher-order functions Catalyst evaluates INTERPRETED per element, so
# its per-row cost is O(k*dim) lambda dispatches, linear in k with a
# large constant; on top of that the literal tree is O(k*dim) plan size.
# 512 cells keeps the oracle-checked shape (k=8 x dim=64) on the
# expression path — at that size the absolute gap is ~2 s per 100k rows
# and the zero-Python plan fuses with JVM-only pipelines and avoids the
# Arrow round-trip of every passthrough column; every larger model
# routes through Arrow, where the kernel wins by 3-26x and stays
# near-flat in k. Callers can force either form with impl=. Same
# dual-path design as pq_topk / pq_topk_batched (operators/similarity.py).
BATCHED_ASSIGN_CELLS = 512


def _replace_or_append(schema: StructType, new_fields: Sequence[StructField]) -> StructType:
    """Output schema for the Arrow kernels with withColumn semantics: a
    new field whose name already exists in the input REPLACES that field
    in place (same position, new type/nullability); otherwise it appends.
    Matches the codegen path's withColumn exactly — and matches what the
    pandas `out[col] = value` assignment in the kernels already does —
    so the auto dispatch cannot turn a working small-k call into a
    duplicate-column failure at large k."""
    fields = list(schema.fields)
    names = {f.name: i for i, f in enumerate(fields)}
    for nf in new_fields:
        if nf.name in names:
            fields[names[nf.name]] = nf
        else:
            names[nf.name] = len(fields)
            fields.append(nf)
    return StructType(fields)


def _best_centroid(vec_col: str, centroids: Sequence[Sequence[float]]) -> Column:
    """struct(d, i) of the nearest centroid by squared L2 — d is the
    sequential left-fold distance, i the argmin index (lowest wins ties
    via struct ordering). Mirrors similarity._centroid_assign but keeps
    the distance, which the stats aggregate needs. Takes the vector
    COLUMN NAME and builds the whole expression as SQL text
    (similarity._d2_sql): the identical parsed tree, without the
    hundreds of py4j round-trips per centroid the Column-API form paid
    at every plan build (optimization r14, guide §7.3)."""
    from epss_spark.operators.similarity import _d2_sql, _qcol

    structs = ", ".join(
        f"named_struct('d', {_d2_sql(_qcol(vec_col), cent)}, 'i', {i})"
        for i, cent in enumerate(centroids)
    )
    return F.expr(f"array_min(array({structs}))")


def _assign_batched(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str,
    cluster_col: str,
    d2_col: str | None,
) -> DataFrame:
    """Large-k nearest-centroid assignment as an Arrow-batched numpy
    kernel (mapInPandas): the (k x dim) centroid matrix ships once per
    task inside the closure instead of as k*dim expression-tree literals,
    so plan size is O(1) in the model. BIT-IDENTICAL to the codegen form
    (pinned in tests/test_operators_ext.py): distances accumulate in a
    sequential fold over the dimension index (`acc += d*d` per j — the
    same IEEE sub/mul/add sequence per element as F.aggregate's left
    fold), float32 inputs widen to float64 before subtraction (exact,
    matching cast-then-subtract), and np.argmin's first-minimum rule IS
    the lowest-index tie-break of the struct-ordering argmin. Map-only:
    no shuffle, no state; every other column passes through untouched.
    Contract: non-null, fixed-dimension vectors (same as kmeans_fit)."""
    import numpy as np

    cents = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)
    k, dim = cents.shape
    new_fields = [StructField(cluster_col, IntegerType(), False)]
    if d2_col is not None:
        new_fields.append(StructField(d2_col, DoubleType(), False))
    out_schema = _replace_or_append(vectors.schema, new_fields)

    # cap the (rows x k) working set per inner chunk so huge k never
    # allocates corpus-batch-sized distance matrices (4M cells ~ 32 MB
    # of float64 per buffer, two buffers live)
    chunk_rows = max(1, 4_000_000 // k)

    def _kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            best = np.empty(n, dtype=np.int64)
            d2 = np.empty(n, dtype=np.float64)
            for s in range(0, n, chunk_rows):
                xs = x[s : s + chunk_rows]
                m = len(xs)
                acc = np.zeros((m, k), dtype=np.float64)
                d = np.empty((m, k), dtype=np.float64)
                for j in range(dim):  # sequential over dims: fold-order parity
                    np.subtract(xs[:, j : j + 1], cents[None, :, j], out=d)
                    np.multiply(d, d, out=d)
                    np.add(acc, d, out=acc)
                b = np.argmin(acc, axis=1)  # first min = lowest-index ties
                best[s : s + m] = b
                d2[s : s + m] = acc[np.arange(m), b]
            out = pdf.copy()
            out[cluster_col] = best.astype(np.int32)
            if d2_col is not None:
                out[d2_col] = d2
            yield out

    return vectors.mapInPandas(_kernel, schema=out_schema)


def assign_clusters(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    d2_col: str | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Nearest-centroid assignment. Two physical forms, one contract:

    - "codegen" (small k): a pure plan-time-constant projection — the
      centroids compile into the expression tree; no join, no shuffle,
      no Python, whole-stage codegen.
    - "batched" (large k): the Arrow-batched numpy kernel — plan size
      independent of k*dim; map-only, zero shuffle.

    "auto" picks codegen at or below BATCHED_ASSIGN_CELLS centroid cells
    and batched above it. The two forms are pinned bit-identical
    (assignments AND distances), so the switch is invisible to every
    caller — kmeans_fit / stats / sampler / outliers all inherit the
    scale path."""
    if impl == "auto":
        k = len(centroids)
        dim = len(centroids[0]) if k else 0
        impl = "batched" if k * dim > BATCHED_ASSIGN_CELLS else "codegen"
    if impl == "batched":
        return _assign_batched(vectors, centroids, vec_col, cluster_col, d2_col)
    if impl != "codegen":
        raise ValueError(f"unknown assignment impl: {impl!r}")
    out = vectors.withColumn("__best", _best_centroid(vec_col, centroids))
    out = out.withColumn(cluster_col, F.col("__best")["i"])
    if d2_col is not None:
        out = out.withColumn(d2_col, F.col("__best")["d"])
    return out.drop("__best")


def init_centroids_by_id(
    vectors: DataFrame,
    init_ids: Sequence[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Initial centroid model from fixed row ids — deterministic and
    shareable verbatim with a SQL oracle. Raises if any id is absent
    (a silent k-shrink would diverge the two engines)."""
    rows = {
        r[id_col]: [float(x) for x in r[vec_col]]
        for r in vectors.filter(F.col(id_col).isin(list(init_ids))).collect()
    }
    missing = [i for i in init_ids if i not in rows]
    if missing:
        raise ValueError(f"init ids not found in vectors: {missing}")
    return [rows[i] for i in init_ids]


# Exact-arithmetic overflow bound: the per-cluster per-dimension BIGINT
# sums of weight * floor(x*QUANT + 0.5) wrap silently past 2^63. They are
# collected to the driver every iteration anyway, so check_model_sums
# asserts each |s| < 2^62 (headroom for one more doubling) and each n > 0.
# In corpus terms: n_cluster * |x| * weight * QUANT must stay below
# 2^62 ≈ 4.6e18 — at |x| <= 1 and QUANT = 1e6 that is ~4.6e12 weighted
# rows PER CLUSTER, unreachable at any tested scale but stated (and
# enforced) so a future unit-scaled corpus fails loudly, not wrongly.
SUM_GUARD = 1 << 62


def check_model_sums(rows, dim: int, what: str = "kmeans_fit") -> None:
    """Loud-failure guard on collected per-cluster model sums: every
    per-dimension quantized sum must sit inside the SUM_GUARD headroom
    band and every cluster count must be a positive integer. Driver-side
    over k rows — free relative to the scan that produced them.

    Coverage limit (stated, not hidden): the guard sees only the FINAL
    aggregated value, so it catches true magnitudes that land in the
    [2^62, 2^63) headroom band; a true sum that already wrapped past
    2^63 in the BIGINT aggregate can alias back inside (-2^62, 2^62)
    and pass silently. If a corpus could plausibly exceed
    ~2x the bound (n * weight * |x| * quant > 2^63 per cluster — around
    1e13 unit-scaled weighted rows in one cell at quant=1e6), enforce
    the a-priori driver-side bound instead: assert
    n_max * w_max * x_max * quant < 2^62 from known corpus stats before
    training, which makes wrap-around impossible rather than merely
    detected in the headroom band."""
    for r in rows:
        n = r["n"]
        cid = r["cluster_id"]
        if n is None or n <= 0:
            raise ValueError(
                f"{what}: cluster {cid} has non-positive weighted count {n!r} "
                "(NULL or <1 weights in weight_col?)"
            )
        for j in range(dim):
            s = r[f"s{j}"]
            if s is None or abs(s) >= SUM_GUARD:
                raise OverflowError(
                    f"{what}: cluster {cid} dim {j} quantized sum {s!r} exceeds "
                    f"the 2^62 exact-arithmetic bound — rescale the corpus or "
                    "lower quant"
                )


def sample_vectors(
    vectors: DataFrame,
    frac: float,
    id_col: str = "vec_id",
    salt: str = "kmeans",
) -> DataFrame:
    """Deterministic, engine-portable row sample for model training: keep
    a row iff its 60-bit md5(salt|id) coin falls below frac — the same
    coin as train_split / cluster_balanced_sample, so the sample is
    stable across runs, engines, partitionings, and corpus appends
    (unlike DataFrame.sample / RNG seeds, which are partitioning-
    dependent). Pure projection filter: no shuffle, pushes past the scan.
    DuckDB replays it verbatim as
    CAST('0x' || substr(md5(salt || '|' || CAST(id AS VARCHAR)), 1, 15)
         AS BIGINT) < floor(frac * 2^60)."""
    from epss_spark.operators.dedup import _md5_60bit

    thresh = int((1 << 60) * frac)
    h = _md5_60bit(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    return vectors.filter(h < F.lit(thresh))


def kmeans_fit(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    n_iter: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    quant: float = QUANT,
    weight_col: str | None = None,
    assign_impl: str = "auto",
    sample_frac: float | None = None,
    id_col: str = "vec_id",
    sample_salt: str = "kmeans",
) -> list[list[float]]:
    """n_iter Lloyd updates from the given initial model; returns the
    refined centroids (Python floats — the model is driver-sized by
    construction: k rows per iteration).

    Exact-arithmetic update, per the module contract: quantized BIGINT
    per-dimension sums (order-free), then s/n/quant in doubles. An empty
    cluster keeps its previous centroid. Sums are driver-checked against
    the 2^62 overflow bound (SUM_GUARD) every iteration.

    `weight_col` (integer, >= 1) makes the update WEIGHTED — each row
    counts weight times: n -> sum(w), per-dim sum -> sum(w * qval). The
    use case is clustering post-dedup representatives by their family
    size, so removing near-duplicates doesn't erase the density signal
    the centroids should follow. Integer weights times integer quantized
    values stay integer, so the exactness contract is unchanged. A NULL
    or <1 weight raises (it would silently drop rows from n and the sums
    or drive a cluster count non-positive).

    `assign_impl` routes the per-iteration assignment: "auto" (default)
    uses the codegen projection up to BATCHED_ASSIGN_CELLS centroid
    cells and the bit-identical Arrow kernel above — so a production-k
    fit (thousands of cells) never builds the O(k*dim) expression tree.

    `sample_frac` trains on the deterministic md5-coin sample
    (sample_vectors, keyed on `id_col` with `sample_salt`) instead of
    the full corpus — the documented 100-TB shape: fit the model on a
    reproducible sample, then assign the full corpus with the returned
    centroids. The sample is engine-portable, so an oracle can replay
    the exact same training set."""
    k = len(centroids)
    cents = [[float(x) for x in c] for c in centroids]
    if sample_frac is not None:
        vectors = sample_vectors(vectors, sample_frac, id_col=id_col, salt=sample_salt)
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    # per-dim quantized sums as SQL text (similarity._d2_sql rationale):
    # the identical sum(CAST(w) * CAST(floor(CAST(x) * quant + 0.5) AS
    # BIGINT)) tree, built in O(dim) py4j calls instead of ~12x that
    from epss_spark.operators.similarity import _dlit, _qcol

    w_sql = (
        f"CAST({_qcol(weight_col)} AS BIGINT)" if weight_col else "CAST(1 AS BIGINT)"
    )
    sums = [
        F.expr(
            f"sum({w_sql} * CAST(floor(CAST({_qcol(vec_col)}[{j}] AS DOUBLE) "
            f"* {_dlit(quant)} + 0.5D) AS BIGINT))"
        ).alias(f"s{j}")
        for j in range(dim)
    ]
    aggs = [F.sum(w).alias("n"), *sums]
    if weight_col:
        # free rider on the same aggregate: detect NULL / <1 weights so a
        # bad weight column fails loudly instead of corrupting the model
        bad = F.when(F.col(weight_col).isNull() | (w < 1), 1).otherwise(0)
        aggs.append(F.max(bad).alias("__badw"))
    for _ in range(n_iter):
        assigned = assign_clusters(vectors, cents, vec_col=vec_col, impl=assign_impl)
        rows = assigned.groupBy("cluster_id").agg(*aggs).collect()
        if weight_col and any(r["__badw"] for r in rows):
            raise ValueError(
                f"kmeans_fit: weight_col {weight_col!r} contains NULL or <1 "
                "values — weights must be integers >= 1"
            )
        check_model_sums(rows, dim)
        upd = {
            int(r["cluster_id"]): [
                float(r[f"s{j}"]) / float(r["n"]) / quant for j in range(dim)
            ]
            for r in rows
        }
        nxt = [upd.get(i, cents[i]) for i in range(k)]
        if nxt == cents:
            # exact fixed point: the assignment, sums, and model of every
            # further iteration are bit-identical, so stopping here
            # returns the same centroids while skipping the remaining
            # corpus scans (Lloyd converged; == on floats is exact)
            return nxt
        cents = nxt
    return cents


def write_model(spark, centroids: Sequence[Sequence[float]], path: str) -> None:
    """Persist a centroid model as the lifecycle artifact the CLI verbs
    exchange: one parquet of (cluster_id, centroid array<double>), k
    rows. Doubles round-trip parquet bit-exactly, so a model written by
    `cluster --op train` and read back for `--op promote`'s drift gate
    is the same model to the last bit."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    df = spark.createDataFrame(rows, "cluster_id int, centroid array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def kmeans_stats(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    quant: float = QUANT,
) -> DataFrame:
    """Per-cluster model diagnostics over the FINAL assignment:
    (cluster_id, n_points, avg_d2, centroid_norm). avg_d2 goes through the
    same quantize-sum-divide chain as the centroid update so it is
    bit-identical cross-engine; centroid_norm is the sequential-fold L2
    norm of the (driver-side) centroid, injected as a plan-time constant.
    Empty clusters produce no row (consistent with a GROUP BY on the
    oracle side). One map-side-combinable aggregate; k result rows."""
    asg = assign_clusters(vectors, centroids, vec_col=vec_col, d2_col="__d2")
    norms = []
    for cent in centroids:
        acc = 0.0
        for v in cent:
            acc += float(v) * float(v)
        norms.append(math.sqrt(acc))
    q = F.floor(F.col("__d2") * F.lit(quant) + F.lit(0.5)).cast("long")
    stats = asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_points"), F.sum(q).alias("__qs")
    )
    stats = stats.withColumn(
        "avg_d2",
        F.col("__qs").cast("double") / F.col("n_points").cast("double") / F.lit(quant),
    )
    norm_arr = F.array(*[F.lit(x) for x in norms])
    stats = stats.withColumn("centroid_norm", F.element_at(norm_arr, F.col("cluster_id") + 1))
    return stats.select("cluster_id", "n_points", "avg_d2", "centroid_norm")


def _two_nearest_batched(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str,
    cluster_col: str,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Large-k (nearest, second-nearest) distances as an Arrow-batched
    numpy kernel — the silhouette counterpart of _assign_batched, same
    chunked sequential-fold distance accumulation (bit-identical IEEE op
    sequence per cell), same map-only / O(1)-plan-size shape.

    Parity with the expression form's `array_sort(struct(d, i))[0..1]`:
    np.argmin's first-minimum rule IS the lowest-index tie-break for the
    nearest (cluster_col, a_col); the second-smallest DISTANCE is the
    sorted array's second d whatever its index resolves to (the struct
    sort orders by d first, so position 2 always carries the
    second-smallest d, duplicates included) — computed here by masking
    the argmin cell to +inf and taking the remaining row min, which is
    that exact double untouched by any arithmetic. Passthrough columns
    keep withColumn replace-or-append semantics."""
    import numpy as np

    cents = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)
    k, dim = cents.shape
    out_schema = _replace_or_append(
        vectors.schema,
        [
            StructField(cluster_col, IntegerType(), False),
            StructField(a_col, DoubleType(), False),
            StructField(b_col, DoubleType(), False),
        ],
    )
    chunk_rows = max(1, 4_000_000 // k)

    def _kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            best = np.empty(n, dtype=np.int64)
            da = np.empty(n, dtype=np.float64)
            db = np.empty(n, dtype=np.float64)
            for s in range(0, n, chunk_rows):
                xs = x[s : s + chunk_rows]
                m = len(xs)
                acc = np.zeros((m, k), dtype=np.float64)
                d = np.empty((m, k), dtype=np.float64)
                for j in range(dim):  # sequential over dims: fold-order parity
                    np.subtract(xs[:, j : j + 1], cents[None, :, j], out=d)
                    np.multiply(d, d, out=d)
                    np.add(acc, d, out=acc)
                rows_m = np.arange(m)
                b = np.argmin(acc, axis=1)  # first min = lowest-index ties
                best[s : s + m] = b
                da[s : s + m] = acc[rows_m, b]
                acc[rows_m, b] = np.inf
                db[s : s + m] = np.min(acc, axis=1)  # 2nd-smallest d, dups incl.
            out = pdf.copy()
            out[cluster_col] = best.astype(np.int32)
            out[a_col] = da
            out[b_col] = db
            yield out

    return vectors.mapInPandas(_kernel, schema=out_schema)


def two_nearest_distances(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    a_col: str = "d2_nearest",
    b_col: str = "d2_second",
    impl: str = "auto",
) -> DataFrame:
    """Per-row (nearest cluster, own-centroid d2, second-nearest d2) —
    the projection cluster_silhouette aggregates, exposed because the
    per-row form is itself the boundary-point report (rows with
    d2_second ~ d2_nearest sit between cells and churn under
    re-training). Two pinned bit-identical physical forms, dispatched
    exactly like assign_clusters: the plan-time-constant expression
    `array_sort(struct(d, i))` at or below BATCHED_ASSIGN_CELLS centroid
    cells, the Arrow kernel above — so the across-k silhouette metric
    never re-opens the interpreted-HOF cliff at production k. Requires
    k >= 2; map-only either way (zero shuffle, zero state)."""
    if len(centroids) < 2:
        raise ValueError("two_nearest_distances needs at least 2 centroids")
    if impl == "auto":
        k = len(centroids)
        dim = len(centroids[0]) if k else 0
        impl = "batched" if k * dim > BATCHED_ASSIGN_CELLS else "codegen"
    if impl == "batched":
        return _two_nearest_batched(vectors, centroids, vec_col, cluster_col, a_col, b_col)
    if impl != "codegen":
        raise ValueError(f"unknown assignment impl: {impl!r}")
    # one SQL-text expression (similarity._d2_sql rationale): identical
    # struct/array_sort tree, O(1) py4j round-trips at plan build
    from epss_spark.operators.similarity import _d2_sql, _qcol

    structs = ", ".join(
        f"named_struct('d', {_d2_sql(_qcol(vec_col), cent)}, 'i', {i})"
        for i, cent in enumerate(centroids)
    )
    two = F.expr(f"slice(array_sort(array({structs})), 1, 2)")
    # collision-checked staging name: the function is public, so a caller
    # frame may legitimately carry any column — a fixed "__two" would be
    # silently replaced by withColumn and then dropped
    tmp = "__two"
    while tmp in vectors.columns:
        tmp += "_"
    return (
        vectors.withColumn(tmp, two)
        .withColumn(cluster_col, F.col(tmp)[0]["i"])
        .withColumn(a_col, F.col(tmp)[0]["d"])
        .withColumn(b_col, F.col(tmp)[1]["d"])
        .drop(tmp)
    )


def cluster_silhouette(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    quant: float = QUANT,
    impl: str = "auto",
) -> DataFrame:
    """Simplified (centroid-based) silhouette — the internal clustering
    quality metric that, unlike inertia, is comparable ACROSS k: per
    vector, a = d2 to its own centroid, b = d2 to the second-nearest,
    s = (b - a) / max(a, b) in [0, 1] (0 when both distances are 0 —
    the duplicate-of-centroid edge); report the per-cluster mean and
    size. Read it with kmeans_elbow: inertia always falls with k, but
    mean silhouette peaks where cells stop splitting real structure.
    The true silhouette is O(n^2) pairwise; this standard centroid form
    is one assignment-shaped projection — the only version that
    survives 100 TB.

    Exactness: a and b ride the same sequential-fold distances as
    assignment (ties on lowest index), s is one subtraction + one
    greatest + one division of bit-equal doubles, and the per-cluster
    mean is the quantized-BIGINT-sum / two-division chain — bit-exact
    cross-engine. Requires k >= 2.

    Scale shape: one two-nearest projection (two_nearest_distances —
    dual-path, so production-k models ride the near-flat Arrow kernel
    instead of the O(k*dim) interpreted expression tree) + ONE
    map-side-combinable k-row aggregate. `impl` forces a physical form,
    "auto" dispatches at BATCHED_ASSIGN_CELLS like assign_clusters."""
    rows = two_nearest_distances(
        vectors.select(vec_col), centroids, vec_col=vec_col,
        cluster_col="cluster_id", a_col="__a", b_col="__b", impl=impl,
    )
    a, b = F.col("__a"), F.col("__b")
    s = F.when(F.greatest(a, b) == 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    asg = rows.select(
        "cluster_id",
        F.floor(s * F.lit(quant) + F.lit(0.5)).cast("long").alias("__qs"),
    )
    out = asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_points"), F.sum("__qs").alias("__s")
    )
    return out.select(
        "cluster_id",
        "n_points",
        (F.col("__s").cast("double") / F.col("n_points").cast("double") / F.lit(quant)).alias(
            "avg_silhouette"
        ),
    )


def cluster_boundary(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.05,
    vec_col: str = "embedding",
    quant: float = QUANT,
    impl: str = "auto",
) -> DataFrame:
    """Per-cluster boundary-mass report — the churn-risk companion to
    cluster_silhouette: a point whose second-nearest centroid is almost
    as close as its own (margin = b - a < threshold, squared-L2 units)
    sits on a cell boundary and will flip cells under any model refresh,
    invalidating per-cell artifacts (balanced picks, outlier flags,
    SemDeDup groups). A cell with high boundary mass is over-split or
    genuinely ambiguous; assignment_drift measures churn AFTER a refresh,
    this predicts it BEFORE one. Output: (cluster_id, n_points,
    n_boundary, avg_margin), one row per non-empty cell. `threshold`
    is in the embedding space's squared-L2 units — calibrate it from
    the corpus's own margin quantiles (the default fits unit-scale
    embeddings; the testdata's median margin is ~0.06).

    Exactness: a and b are the pinned two-nearest distances (dual-path,
    so production k stays off the interpreted fold); margin is one
    double subtraction, the boundary flag one comparison, and avg_margin
    the quantized-BIGINT-sum / two-division chain — bit-exact
    cross-engine. Requires k >= 2.

    Scale shape: one two-nearest projection + ONE map-side-combinable
    k-row aggregate (same exchange profile as cluster_silhouette)."""
    rows = two_nearest_distances(
        vectors.select(vec_col), centroids, vec_col=vec_col,
        cluster_col="cluster_id", a_col="__a", b_col="__b", impl=impl,
    )
    margin = F.col("__b") - F.col("__a")
    qm = F.floor(margin * F.lit(quant) + F.lit(0.5)).cast("long")
    flagged = rows.select(
        "cluster_id",
        qm.alias("__qm"),
        F.when(margin < F.lit(float(threshold)), 1).otherwise(0).alias("__bd"),
    )
    out = flagged.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("__bd").alias("n_boundary"),
        F.sum("__qm").alias("__s"),
    )
    return out.select(
        "cluster_id",
        "n_points",
        "n_boundary",
        (F.col("__s").cast("double") / F.col("n_points").cast("double") / F.lit(quant)).alias(
            "avg_margin"
        ),
    )


def cluster_balanced_sample(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    per_cluster: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced curation sample: at most per_cluster rows from each
    k-means cell, picked by deterministic md5-of-id order (the same
    engine-portable coin as train_split / shard assignment). Dense regions
    stop dominating the mix; the pick is reproducible on any engine.

    Scale shape: assignment is codegen (above); the per-cluster pick is one
    window over cluster_id — k partitions. With tiny k and a huge corpus
    the window key is coarse; for production-sized k (thousands) each cell
    is its own partition and the sort is cheap. Returns
    (id_col, cluster_id, pick_rank)."""
    asg = assign_clusters(vectors, centroids, vec_col=vec_col)
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy("cluster_id").orderBy(h.asc(), F.col(id_col).asc())
    return (
        asg.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= per_cluster)
        .select(id_col, "cluster_id", "pick_rank")
    )


def cluster_label_purity(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster label purity — the standard external evaluation of a
    clustering against a ground-truth (or weak-label) column: for each
    cell, the majority label, its count, and purity = n_majority / n.
    Ties break on the lowest label so the result is engine-portable.
    Purity near 1/|labels| means the embedding space carries no signal
    for that labeling (the testdata's near-iid embeddings are exactly
    this case); rising purity across Lloyd iterations is the cheap
    in-engine check that training is doing something.

    Scale shape: assignment is codegen; then one (cluster, label)
    aggregate and one k-row cluster aggregate — the label-count grid is
    k*|labels| rows, broadcast-sized. The single division is the same
    deterministic double op in the SQL oracle."""
    asg = assign_clusters(vectors, centroids, vec_col=vec_col)
    counts = asg.groupBy("cluster_id", label_col).agg(F.count(F.lit(1)).alias("n_label"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_label").desc(), F.col(label_col).asc()
    )
    major = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col(label_col).alias("majority_label"),
            F.col("n_label").alias("n_majority"),
        )
    )
    totals = asg.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_points"))
    return (
        totals.join(major, "cluster_id")
        .select(
            "cluster_id",
            "n_points",
            "majority_label",
            "n_majority",
            (F.col("n_majority").cast("double") / F.col("n_points").cast("double")).alias(
                "purity"
            ),
        )
    )


def kmeans_elbow(
    vectors: DataFrame,
    ks: Sequence[int],
    init_ids: Sequence[int],
    n_iter: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: float = QUANT,
) -> DataFrame:
    """Model selection by the elbow curve: for each candidate k, train
    a model seeded from the FIRST k of one fixed id list (nested seeds —
    the curve varies only k, not the init luck) and report the corpus's
    total quantized inertia under the final assignment. Read the knee:
    the k past which inertia stops dropping meaningfully is where more
    cells stop buying structure. Output: (k, n_points, total_inertia),
    one row per candidate.

    Exactness: inertia is sum(floor(d2*quant+0.5)) — an order-free
    BIGINT sum — divided once by quant, so the curve is bit-identical
    cross-engine like every other model number here.

    Scale shape: each candidate costs (n_iter + 1) assignment scans
    (the dual-path projection) + k-row / 1-row collects; candidates run
    sequentially and the result is a |ks|-row union of single-row
    aggregates. Candidate count is a handful by construction — this is
    a tuning report, not a sweep engine."""
    if not ks:
        raise ValueError("ks must be non-empty")
    if max(ks) > len(init_ids):
        raise ValueError(f"need at least max(ks)={max(ks)} init ids, got {len(init_ids)}")
    out = None
    for k in ks:
        init = init_centroids_by_id(vectors, list(init_ids)[:k], id_col=id_col, vec_col=vec_col)
        cents = kmeans_fit(vectors, init, n_iter=n_iter, dim=dim, vec_col=vec_col, quant=quant)
        asg = assign_clusters(vectors, cents, vec_col=vec_col, d2_col="__d2")
        q = F.floor(F.col("__d2") * F.lit(quant) + F.lit(0.5)).cast("long")
        one = (
            asg.agg(F.count(F.lit(1)).alias("n_points"), F.sum(q).alias("__qs"))
            .select(
                F.lit(int(k)).alias("k"),
                "n_points",
                (F.col("__qs").cast("double") / F.lit(quant)).alias("total_inertia"),
            )
        )
        out = one if out is None else out.unionByName(one)
    return out


def cluster_top_terms(
    vectors: DataFrame,
    docs: DataFrame,
    centroids: Sequence[Sequence[float]],
    n_terms: int = 10,
    min_term_len: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cluster interpretation — the "what IS this cell" report every
    curation pipeline publishes next to its k-means model: for each
    cluster, the n_terms most frequent normalized tokens of its member
    documents (ties to the lexicographically lowest term, so the report
    is engine-portable). min_term_len drops short function words — the
    deterministic stand-in for a stopword list (no external resource,
    identical in SQL). Output: (cluster_id, term, n, term_rank).

    Scale shape: assignment is the dual-path projection (codegen /
    Arrow); the doc join is id-to-id on the corpus grain — with docs
    and embeddings bucketed by id it is co-located, and AQE handles
    the rest at this scale. One tokenize pass, then the (cluster, term)
    count aggregate (bounded by k x vocabulary, map-side combinable)
    and one window over cluster_id for the top-N pick. No corpus-sized
    state crosses anywhere after the explode's own aggregate."""
    from epss_spark.operators.text import tokens

    asg = assign_clusters(vectors, centroids, vec_col=vec_col).select(
        F.col(id_col).alias("__vid"), "cluster_id"
    )
    joined = docs.join(asg, docs[doc_id_col] == F.col("__vid"))
    terms = joined.select(
        "cluster_id", F.explode(tokens(text_col)).alias("term")
    ).filter(F.length("term") >= min_term_len)
    counts = terms.groupBy("cluster_id", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("cluster_id").orderBy(F.col("n").desc(), F.col("term").asc())
    return (
        counts.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= n_terms)
        .select("cluster_id", "term", "n", "term_rank")
    )


def farthest_first_init(
    vectors: DataFrame,
    k: int,
    start_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "auto",
    sample_frac: float | None = None,
    sample_salt: str = "ffinit",
) -> list[list[float]]:
    """Gonzalez farthest-first traversal init: seed with a fixed row,
    then k-1 times pick the point farthest (squared L2) from its nearest
    already-chosen center — ties on the lowest id. Fully deterministic
    (no RNG), so both engines replay it exactly; it is the 2-approximation
    for k-center and the cure for the kmeans_fit local optimum a
    clumped init causes (PERF.md round 11, worst-case init: all-one-
    cluster seeds plateau at 0.625 purity; FF init from the same start
    point recovers 1.0).

    Scale shape: each of the k-1 steps is one min-distance-to-chosen-set
    projection over the corpus + a TakeOrdered(1) — no shuffle, the
    chosen set stays driver-sized (it IS the model). The projection
    rides assign_clusters' dual-path dispatch per pick: the growing
    prefix stays on the codegen expression while chosen*dim cells are at
    or below BATCHED_ASSIGN_CELLS and switches to the bit-identical
    Arrow kernel above it, so a large-k traversal costs one near-flat
    kernel pass per pick instead of an O(prefix*dim) interpreted fold
    (picks are pinned identical across forms). k scans total.

    `sample_frac` makes the documented large-k recipe ("at 100 TB run
    it on a sample") one argument instead of caller plumbing: every
    pick scans only the deterministic md5-coin sample (sample_vectors,
    keyed on `id_col` with `sample_salt` — the same engine-portable
    coin as kmeans_fit's sampled trainer, so an oracle replays the
    traversal exactly). The start row is looked up in the FULL frame —
    a caller-fixed seed must not fail the coin — and k scans then touch
    sample_frac of the corpus each instead of all of it. For true
    production scale prefer kmeans_parallel_init: O(n_rounds) scans
    instead of k."""
    seed = vectors.filter(F.col(id_col) == start_id).select(vec_col).collect()
    if not seed:
        raise ValueError(f"start id not found in vectors: {start_id}")
    if sample_frac is not None:
        vectors = sample_vectors(
            vectors, sample_frac, id_col=id_col, salt=sample_salt
        )
    cents = [[float(x) for x in seed[0][vec_col]]]
    for _ in range(k - 1):
        scored = assign_clusters(
            vectors.select(id_col, vec_col), cents, vec_col=vec_col,
            cluster_col="__c", d2_col="__d", impl=impl,
        )
        pick = (
            scored.select(id_col, vec_col, "__d")
            .orderBy(F.col("__d").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()[0]
        )
        cents.append([float(x) for x in pick[vec_col]])
    return cents


def kmeans_parallel_init(
    vectors: DataFrame,
    k: int,
    start_id: int,
    n_rounds: int = 2,
    oversample: float | None = None,
    n_iter_local: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: float = QUANT,
    salt: str = "kmpp",
    impl: str = "auto",
) -> list[list[float]]:
    """k-means|| oversampled seeding (Bahmani et al. 2012,
    arXiv:1203.6402) — the production-scale alternative to
    farthest_first_init's k sequential corpus scans: O(n_rounds) scans
    total (2-5 in practice), each sampling points with probability
    proportional to their squared distance from the already-chosen set,
    then ONE weighted Lloyd fit of the driver-sized oversampled
    candidate set down to k centroids.

    Engine-portable determinism (every stage is oracle-replayable):

    - round r keeps row i iff  coin60(salt|r|id) <
      floor(least(1.0, (qd2/qphi) * oversample) * 2^60), where qd2 =
      floor(d2 * quant + 0.5) is the row's quantized min squared
      distance to the current candidate set, qphi = sum(qd2) the exact
      BIGINT round cost, and coin60 the shared md5 60-bit coin
      (train_split / sample_vectors). The division chain
      CAST(qd2 AS DOUBLE) / CAST(qphi AS DOUBLE) * oversample is the
      identical IEEE op sequence in DuckDB SQL, so the sampled set is
      bit-reproducible — no RNG, no partitioning dependence. A row
      already in the candidate set has qd2 = 0, so threshold 0: it can
      never be re-sampled (no dedup step needed).
    - candidates append in (round, id asc) order — the candidate index
      is deterministic.
    - candidate weights are the corpus cell counts under the full
      candidate set (ties to the lowest candidate index, as
      everywhere); zero-weight candidates (possible only when a later
      candidate exactly duplicates an earlier one) are dropped before
      the fit, mirroring a GROUP-BY-backed oracle, and the local fit
      seeds from the first k SURVIVING candidates (the start row + the
      earliest round-1 picks, skipping dropped duplicates).
    - the local fit is kmeans_fit(candidates, weight_col) — the
      weighted exact-integer Lloyd update, on a candidate relation of
      ~n_rounds * oversample rows (driver-sized by construction).

    `oversample` is the expected per-round draw (l in the paper);
    default 2k — the paper's guidance is l in [0.5k, 2k] with
    n_rounds ~ 5 at most. Raises if fewer than k candidates survive
    (raise oversample or n_rounds — with a degenerate corpus of < k
    distinct points no init can produce k distinct cells anyway).

    Scale shape: per round ONE assignment-shaped projection (the
    dual-path dispatch — production candidate counts ride the Arrow
    kernel), one map-side-combinable 1-row aggregate for qphi, and a
    collect of ~oversample sampled rows; the weighted fit runs over a
    broadcast-sized candidate frame. Total: 2 * n_rounds + 1 corpus
    scans + n_iter_local candidate-set scans, independent of k — vs
    farthest_first_init's k corpus scans."""
    from epss_spark.operators.dedup import _md5_60bit

    if oversample is None:
        oversample = 2.0 * k
    seed = vectors.filter(F.col(id_col) == start_id).select(vec_col).collect()
    if not seed:
        raise ValueError(f"start id not found in vectors: {start_id}")
    cand = [[float(x) for x in seed[0][vec_col]]]
    two60 = float(1 << 60)
    for r in range(1, n_rounds + 1):
        scored = assign_clusters(
            vectors.select(id_col, vec_col), cand, vec_col=vec_col,
            cluster_col="__c", d2_col="__d", impl=impl,
        )
        qd2 = F.floor(F.col("__d") * F.lit(quant) + F.lit(0.5)).cast("long")
        scored = scored.select(id_col, vec_col, qd2.alias("__qd2"))
        qphi = scored.agg(F.sum("__qd2").alias("s")).collect()[0]["s"]
        if not qphi:
            break  # every corpus point IS a candidate (zero cost): done
        if qphi >= SUM_GUARD:
            # same exact-arithmetic discipline as check_model_sums: the
            # round cost must stay inside the BIGINT headroom band
            # (n * d2_max * quant < 2^62) or the sampling probabilities
            # silently corrupt — rescale the corpus or lower quant
            raise OverflowError(
                f"kmeans_parallel_init: round {r} quantized cost {qphi} "
                "exceeds the 2^62 exact-arithmetic bound — rescale the "
                "corpus or lower quant"
            )
        # threshold arithmetic in the exact oracle op order:
        # (qd2 / qphi) * l, clamped, scaled to the coin's 2^60 range
        thresh = F.floor(
            F.least(
                F.lit(1.0),
                (F.col("__qd2").cast("double") / F.lit(float(qphi)))
                * F.lit(float(oversample)),
            )
            * F.lit(two60)
        ).cast("long")
        coin = _md5_60bit(
            F.concat(F.lit(f"{salt}|{r}|"), F.col(id_col).cast("string"))
        )
        picked = (
            scored.filter(coin < thresh)
            .select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .collect()
        )
        cand.extend([float(x) for x in row[vec_col]] for row in picked)
    if len(cand) < k:
        raise ValueError(
            f"kmeans_parallel_init: only {len(cand)} candidates after "
            f"{n_rounds} rounds at oversample={oversample} — raise "
            "oversample or n_rounds"
        )
    # weight candidates by their corpus cell mass, drop empty cells
    # (duplicate candidates lose the tie to the lowest index)
    counts = (
        assign_clusters(vectors.select(vec_col), cand, vec_col=vec_col, impl=impl)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("__w"))
        .collect()
    )
    w = {int(row["cluster_id"]): int(row["__w"]) for row in counts}
    spark = vectors.sparkSession
    cand_rows = [(i, cand[i], w[i]) for i in range(len(cand)) if i in w]
    if len(cand_rows) < k:
        # only exact-duplicate candidates lose the lowest-index tie and
        # drop out — a corpus with < k distinct points cannot seed k
        # distinct cells, so fail loudly instead of returning a smaller
        # model than asked for
        raise ValueError(
            f"kmeans_parallel_init: only {len(cand_rows)} distinct "
            f"candidates survive weighting (duplicates dropped) — the "
            "corpus may have fewer than k distinct points; raise "
            "oversample or n_rounds"
        )
    cand_df = spark.createDataFrame(
        cand_rows, f"__i int, {vec_col} array<double>, __w long"
    )
    return kmeans_fit(
        cand_df,
        [c for _, c, _ in cand_rows[:k]],
        n_iter=n_iter_local,
        dim=dim,
        vec_col=vec_col,
        quant=quant,
        weight_col="__w",
        assign_impl=impl,
    )


def cluster_distance_outliers(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    frac: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space outlier detection for corpus cleaning: within each
    k-means cell, flag the floor(frac * n) points FARTHEST from their
    centroid — garbage documents, mislabeled media, and encoder failures
    land far from every centroid, so the per-cluster distance tail is
    the cheap first-pass junk filter (cut before the expensive prep
    tiers run). Rank-based by design, not an interpolated percentile:
    ranks over (d2 desc, id asc) are pure integer logic on
    cross-engine-identical distances, so the flag set is bit-exact with
    a SQL oracle — no quantile-interpolation arithmetic to match.

    Scale shape: assignment is codegen; the ranking is one window over
    cluster_id (same exchange profile as cluster_balanced_sample).
    Returns (id_col, cluster_id, d2, dist_rank), farthest first."""
    asg = assign_clusters(vectors, centroids, vec_col=vec_col, d2_col="d2")
    w = Window.partitionBy("cluster_id").orderBy(F.col("d2").desc(), F.col(id_col).asc())
    wn = Window.partitionBy("cluster_id")
    return (
        asg.withColumn("dist_rank", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .filter(
            F.col("dist_rank")
            <= F.floor(F.lit(float(frac)) * F.col("__n").cast("double")).cast("long")
        )
        .select(id_col, "cluster_id", "d2", "dist_rank")
    )


def _drift_batched(
    vectors: DataFrame,
    centroids_before: Sequence[Sequence[float]],
    centroids_after: Sequence[Sequence[float]],
    vec_col: str,
) -> DataFrame:
    """Large-k drift projection: BOTH argmins in ONE Arrow pass over a
    single corpus scan (the same one-scan property as the expression
    form), each computed by the bit-identical chunked kernel fold.
    Emits only the two assignment columns — the contingency aggregate
    never needs the payload."""
    import numpy as np

    cb = np.asarray([[float(x) for x in c] for c in centroids_before], dtype=np.float64)
    ca = np.asarray([[float(x) for x in c] for c in centroids_after], dtype=np.float64)
    dim = cb.shape[1]
    out_schema = StructType(
        [
            StructField("cluster_before", IntegerType(), False),
            StructField("cluster_after", IntegerType(), False),
        ]
    )

    def _argmin(xs, cents):
        m, k = len(xs), cents.shape[0]
        acc = np.zeros((m, k), dtype=np.float64)
        d = np.empty((m, k), dtype=np.float64)
        for j in range(dim):  # sequential over dims: fold-order parity
            np.subtract(xs[:, j : j + 1], cents[None, :, j], out=d)
            np.multiply(d, d, out=d)
            np.add(acc, d, out=acc)
        return np.argmin(acc, axis=1)  # first min = lowest-index ties

    chunk_rows = max(1, 4_000_000 // max(cb.shape[0], ca.shape[0]))

    def _kernel(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            before = np.empty(n, dtype=np.int32)
            after = np.empty(n, dtype=np.int32)
            for s in range(0, n, chunk_rows):
                xs = x[s : s + chunk_rows]
                before[s : s + len(xs)] = _argmin(xs, cb)
                after[s : s + len(xs)] = _argmin(xs, ca)
            yield pd.DataFrame({"cluster_before": before, "cluster_after": after})

    return vectors.select(vec_col).mapInPandas(_kernel, schema=out_schema)


def assignment_drift(
    vectors: DataFrame,
    centroids_before: Sequence[Sequence[float]],
    centroids_after: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    impl: str = "auto",
) -> DataFrame:
    """Model-promotion safety check: the contingency table of cell moves
    between two centroid models — (cluster_before, cluster_after, n).
    Read the diagonal mass as agreement; a promotion that reshuffles
    half the corpus invalidates downstream per-cell artifacts (balanced
    picks, outlier flags, SemDeDup groups) and should trigger their
    rebuild, while a near-diagonal table means the refresh is safe to
    roll forward. This is the gate to run on a refreshed model before
    promoting it over the frozen window model.

    Scale shape: BOTH assignments ride ONE projection over a single
    corpus scan, then one bounded aggregate — at most k_before * k_after
    result rows. Like assign_clusters, the projection has two pinned
    bit-identical forms: the plan-time-constant expression argmins at
    small k and the combined Arrow kernel above BATCHED_ASSIGN_CELLS
    (so promote gates over production-k models never build the
    O(k*dim) interpreted expression tree)."""
    if impl == "auto":
        cells = max(
            len(centroids_before) * (len(centroids_before[0]) if centroids_before else 0),
            len(centroids_after) * (len(centroids_after[0]) if centroids_after else 0),
        )
        impl = "batched" if cells > BATCHED_ASSIGN_CELLS else "codegen"
    if impl == "batched":
        pairs = _drift_batched(vectors, centroids_before, centroids_after, vec_col)
        return pairs.groupBy("cluster_before", "cluster_after").agg(
            F.count(F.lit(1)).alias("n")
        )
    if impl != "codegen":
        raise ValueError(f"unknown assignment impl: {impl!r}")
    before = _best_centroid(vec_col, centroids_before)["i"]
    after = _best_centroid(vec_col, centroids_after)["i"]
    return (
        vectors.select(before.alias("cluster_before"), after.alias("cluster_after"))
        .groupBy("cluster_before", "cluster_after")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def embedding_dim_drift(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    vec_col: str = "embedding",
    quant: float = QUANT,
) -> DataFrame:
    """MODEL-FREE embedding drift between two corpus batches: the
    per-dimension mean AND variance of each side and their deltas — the
    monitor that catches an encoder version bump, a preprocessing
    change, or a content shift BEFORE any model-based gate
    (assignment_drift needs centroids; this needs nothing). A near-zero
    delta vector means the batches share an embedding distribution to
    second order; a step change on many dimensions is the earliest
    signal the ANN index, the k-means model, and every SemDeDup
    threshold are about to stop matching the data. The variance column
    exists because a mean-only monitor is blind to the second failure
    mode this operator guards against: an encoder regression that
    preserves means but rescales the space (temperature / normalization
    change) moves only the second moment. `effect_size` =
    |delta| / sqrt(var_a) is the per-dimension normalized step (NULL
    when the reference dimension is constant) — threshold on it instead
    of raw delta so low-amplitude dimensions don't hide real steps.
    Output: (dim_idx 0-based, n_a, n_b, mean_a, mean_b, delta, var_a,
    var_b, var_delta, effect_size), one row per dimension.

    Exactness: per-dim means and E[x^2] are the same
    quantized-BIGINT-sum / two-division chain as the centroid update
    (the second moment quantizes x*x with the identical floor(.+0.5)
    rounding); variance is greatest(E[x^2] - mean*mean, 0) — the clamp
    absorbs the one-ULP negative a constant dimension's independent
    quantizations can produce — and effect_size is one abs/sqrt/divide
    of those doubles. sqrt and the arithmetic ops are IEEE
    correctly-rounded, so every column stays bit-identical
    cross-engine.

    Scale shape: one posexplode + ONE dim-keyed aggregate per side
    (map-side combinable, `dim` result rows each, now carrying one more
    additive BIGINT per row) and a dim-row join — nothing corpus-sized
    survives the aggregates."""

    a = dim_quant_sums(corpus_a, "a", vec_col=vec_col, quant=quant)
    b = dim_quant_sums(corpus_b, "b", vec_col=vec_col, quant=quant)
    return drift_from_dim_sums(a, b, quant=quant)


def dim_quant_sums(
    df: DataFrame, tag: str, vec_col: str = "embedding", quant: float = QUANT
) -> DataFrame:
    """Per-dimension (count, quantized BIGINT sum, quantized BIGINT
    sum of squares) of an embedding corpus: (dim_idx, n_<tag>,
    __s_<tag>, __s2_<tag>). The additive building block shared by
    embedding_dim_drift and its maintenance stream — integer sums
    commute, so per-batch deltas fold to exactly the one-shot
    aggregate. The squared-value sum is the same machinery one column
    over: floor(x*x*quant + 0.5) summed as BIGINT, giving the stream
    the second moment for free."""
    expl = df.select(F.posexplode(F.col(vec_col)).alias("dim_idx", "__v"))
    v = F.col("__v").cast("double")
    q = F.floor(v * F.lit(quant) + F.lit(0.5)).cast("long")
    q2 = F.floor(v * v * F.lit(quant) + F.lit(0.5)).cast("long")
    return expl.groupBy("dim_idx").agg(
        F.count(F.lit(1)).alias(f"n_{tag}"),
        F.sum(q).alias(f"__s_{tag}"),
        F.sum(q2).alias(f"__s2_{tag}"),
    )


def drift_from_dim_sums(
    a_sums: DataFrame, b_sums: DataFrame, quant: float = QUANT
) -> DataFrame:
    """Assemble the drift report from two dim_quant_sums frames — the
    same two-division mean / second-moment chains, variance clamp, and
    effect-size division whether the sums came from a one-shot
    aggregate or a folded stream store (the shared final expressions
    are what keep stream == batch bit-identical)."""
    mean_a = F.col("__s_a").cast("double") / F.col("n_a").cast("double") / F.lit(quant)
    mean_b = F.col("__s_b").cast("double") / F.col("n_b").cast("double") / F.lit(quant)
    ex2_a = F.col("__s2_a").cast("double") / F.col("n_a").cast("double") / F.lit(quant)
    ex2_b = F.col("__s2_b").cast("double") / F.col("n_b").cast("double") / F.lit(quant)
    var_a = F.greatest(ex2_a - mean_a * mean_a, F.lit(0.0))
    var_b = F.greatest(ex2_b - mean_b * mean_b, F.lit(0.0))
    delta = mean_b - mean_a
    effect = F.when(var_a > 0.0, F.abs(delta) / F.sqrt(var_a)).otherwise(
        F.lit(None).cast("double")
    )
    return (
        a_sums.join(b_sums, "dim_idx")
        .select(
            "dim_idx",
            "n_a",
            "n_b",
            mean_a.alias("mean_a"),
            mean_b.alias("mean_b"),
            delta.alias("delta"),
            var_a.alias("var_a"),
            var_b.alias("var_b"),
            (var_b - var_a).alias("var_delta"),
            effect.alias("effect_size"),
        )
    )


def drift_fraction(drift: DataFrame) -> float:
    """Off-diagonal mass of an assignment_drift contingency table — the
    single number the promotion gate thresholds on: the fraction of the
    corpus whose cell changes under the candidate model. One aggregate
    over the (<= k_before * k_after)-row table; exact integer counts,
    one double division."""
    row = drift.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("cluster_before") != F.col("cluster_after"), F.col("n")).otherwise(F.lit(0))).alias("moved"),
    ).collect()[0]
    total = int(row["total"] or 0)
    if total == 0:
        return 0.0
    return float(int(row["moved"] or 0)) / float(total)
