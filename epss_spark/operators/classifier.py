"""In-engine supervised linear classifier over hashed bag-of-words
features — the CCNet/fastText-shaped quality/language scorer (Wenzek et
al. 2020 train a fastText classifier for both; Brown et al. 2020 App. A
and Touvron et al. 2023 filter pre-training data with exactly this kind
of cheap linear model distilled from a reference corpus or an expensive
heuristic). The reference engine has no trainable model tier; this
extends the deterministic-training discipline the k-means tier
established (operators/clustering.py) from unsupervised to supervised.

Determinism contract (the same one kmeans_fit proves out):

  * features are md5-hashed token counts — the engine-portable 60-bit
    md5 coin (operators/dedup.py::_md5_60bit) mod `dim`, so the DuckDB
    oracle reproduces every bucket assignment;
  * the link function is the exp-free rational sigmoid
    p = 0.5 + 0.5 * (z / (1 + |z|)) — only +,*,/,abs, every one of
    which is IEEE-exact and identically rounded on both engines
    (exp/log are NOT correctly-rounded in general, so a textbook
    logistic link would not replay bit-for-bit cross-engine);
  * per-epoch gradients are quantized to BIGINT before summing
    (floor(r*x_j*quant + 0.5)), so the one aggregate per epoch is
    order-free exact integer arithmetic — shuffle order cannot perturb
    the model, and partial (map-side) aggregation is always safe;
  * weight updates run on the driver over the collected D+2 sums with a
    fixed float(g)/float(n)/quant division chain, mirrored
    operation-for-operation by the oracle's CTE replay.

Scale shape (the 100-TB plan):

  * featurize = two bounded exchanges (token explode -> (id, bucket)
    count, then the per-doc dense fold), run ONCE and persistable as a
    parquet artifact like the other index builds (DEPLOYMENT.md);
  * each training epoch is ONE pass over the cached features
    collecting D+2 BIGINTs to the driver — by default an Arrow kernel
    emitting per-batch PARTIAL integer sums, folded in exact Python
    ints (bit-identical to the codegen aggregate: quantized sums
    commute; and measured faster at every D, see linear_fit) — the
    model never lives in the cluster, epochs never shuffle the corpus;
  * scoring is a map-only codegen projection (the weight vector embeds
    as plan literals, exactly like the k-means centroid assignment).
    The chain has a measured crossover at ~dim 128 and a HARD wall at
    ~512 terms (plan construction overflows the JVM stack — see
    BATCHED_SCORE_DIMS); above the threshold the Arrow kernel path
    accumulates the identical j-sequential fold per row.

Gradient-sum overflow: |r| < 1 and x_j <= feature_scale, so each row
contributes at most feature_scale*quant per dimension; with the default
scale 8 and quant 1e6 the BIGINT sums stay inside 2^62 headroom up to
~5e11 training rows. `linear_fit` enforces the bound per epoch the same
way clustering.check_model_sums does.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField

from epss_spark.operators.dedup import _md5_60bit
from epss_spark.operators.text import tokens

QUANT = 1_000_000.0
SUM_GUARD = 2**62
# dims above this route to the Arrow kernels. MEASURED
# (PERF.md round 14 classifier ladder, 100k rows): the expression chain
# wins at dim 64 (1.9 s vs the kernel's warm ~1.4 s), ties near 128
# (2.6 vs 1.4), loses 4x at 256 (5.9 vs 1.4) — and at 512 terms plan
# CONSTRUCTION overflows the JVM stack (StackOverflowError in
# withColumn: the deep left-leaning Add tree, not janino, is the hard
# wall). So the cliff is a crash, not a slowdown; 128 keeps the
# oracle-checked dim-64 shapes on the zero-Python plan with headroom.
BATCHED_SCORE_DIMS = 128


def hashed_features(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    feature_scale: float = 8.0,
    carry_cols: Sequence[str] = (),
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, x: array<double>[dim], n_tokens) — the hashing-trick dense
    feature vector: x_j = (count of tokens hashing to bucket j / doc
    token count) * feature_scale. Zero-token docs keep a zero vector
    (explode_outer retains them). `carry_cols` ride through the two
    aggregations via first() — label columns, typically.

    The scale factor conditions full-batch GD: raw tf values average
    1/dim, which leaves gradients bias-dominated; scale ~ dim/8 puts
    feature magnitudes near 1. It multiplies AFTER the tf division —
    (c/dl)*scale — and the oracle must spell the same order.

    Two exchanges total ((id, bucket) count, then the per-doc fold),
    run once; training scans the result, so persist it (or write it as
    a parquet artifact) before a multi-epoch fit.

    `tokens_col` (optimization round 14): a caller that has ALREADY
    tokenized `text_col` (e.g. to derive a label from the same token
    array) can name that array<string> column and skip the second
    regex/normalize pass here — the per-doc tokenize is the dominant
    cost of featurize at bench scale (guide §2.3: don't compute things
    twice before the exchange). Values are identical by construction
    (the column must be `tokens(text_col)` of the same rows)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    clash = {c for c in (id_col, *carry_cols)} & {"x", "n_tokens"}
    if clash:
        raise ValueError(
            f"hashed_features: {sorted(clash)} collide with the output "
            "columns ('x', 'n_tokens') — rename them before featurizing"
        )
    toks = F.col(tokens_col) if tokens_col else tokens(text_col)
    ex = docs.select(
        id_col, *carry_cols, F.explode_outer(toks).alias("__tok")
    )
    jc = ex.select(
        id_col,
        *carry_cols,
        F.when(
            F.col("__tok").isNotNull(), (_md5_60bit(F.col("__tok")) % dim).cast("int")
        ).alias("__j"),
    )
    cnt = jc.groupBy(id_col, "__j").agg(
        F.count(F.lit(1)).alias("__c"),
        *[F.first(c).alias(c) for c in carry_cols],
    )
    feat = cnt.groupBy(id_col).agg(
        # collect_list skips NULLs, so zero-token docs (whose only row
        # carries __j NULL) fold to an empty map
        F.map_from_entries(
            F.collect_list(F.when(F.col("__j").isNotNull(), F.struct("__j", "__c")))
        ).alias("__m"),
        F.coalesce(
            F.sum(F.when(F.col("__j").isNotNull(), F.col("__c"))), F.lit(0)
        ).alias("n_tokens"),
        *[F.first(c).alias(c) for c in carry_cols],
    )
    x = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
            (
                F.coalesce(F.element_at("__m", i), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            )
            * F.lit(float(feature_scale))
        ),
    )
    return feat.select(id_col, *carry_cols, x.alias("x"), F.col("n_tokens"))


def _dot_chain(x_col: str, weights: Sequence[float], bias: float) -> Column:
    """z = ((x[0]*w0 + x[1]*w1) + ...) + bias — the strict left-to-right
    fold both the DuckDB oracle (list_sum(list_transform(...)) + b) and
    the Arrow kernel reproduce term-for-term. Plan-time-constant
    weights, pure codegen; callers above BATCHED_SCORE_DIMS must use
    the batched path instead (janino chain limit)."""
    acc: Column = F.col(x_col)[0] * F.lit(float(weights[0]))
    for j in range(1, len(weights)):
        acc = acc + F.col(x_col)[j] * F.lit(float(weights[j]))
    return acc + F.lit(float(bias))


def _sigmoid_rational(z: Column) -> Column:
    """p = 0.5 + 0.5 * (z / (1 + |z|)) — the exp-free link. Monotone,
    (0,1)-bounded, p(0)=0.5; every operation IEEE-exact on both
    engines. The oracle spells `0.5 + 0.5 * (z / (1.0 + abs(z)))`."""
    return F.lit(0.5) + F.lit(0.5) * (z / (F.lit(1.0) + F.abs(z)))


def _score_batched(
    df: DataFrame,
    weights: Sequence[float],
    bias: float,
    x_col: str,
    out_col: str,
) -> DataFrame:
    """Large-dim scoring as an Arrow kernel (mapInPandas): the weight
    vector ships once per task in the closure instead of as a
    dim-term expression chain, so plan size is O(1) in the model and
    the janino chain limit never applies. BIT-IDENTICAL to _dot_chain
    + _sigmoid_rational (pinned in tests): the fold accumulates
    `acc += x[:, j] * w[j]` sequentially over j — the same IEEE
    mul/add sequence per element — then the identical rational link.
    Map-only; every other column passes through."""
    import numpy as np

    w = np.asarray([float(v) for v in weights], dtype=np.float64)
    b = float(bias)
    dim = len(w)
    # never .add() onto df.schema — PySpark hands back its CACHED
    # StructType, and StructType.add mutates in place (the df would
    # grow a phantom column); build a fresh one
    in_schema = df.schema
    if out_col in in_schema.fieldNames():
        fields = [
            StructField(out_col, DoubleType(), True) if f.name == out_col else f
            for f in in_schema.fields
        ]
    else:
        fields = list(in_schema.fields) + [StructField(out_col, DoubleType(), True)]
    out_schema = type(in_schema)(fields)

    def _kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[x_col]],
                dtype=np.float64,
            )
            acc = np.zeros(n, dtype=np.float64)
            tmp = np.empty(n, dtype=np.float64)
            for j in range(dim):  # sequential over dims: fold-order parity
                np.multiply(x[:, j], w[j], out=tmp)
                np.add(acc, tmp, out=acc)
            acc += b
            p = 0.5 + 0.5 * (acc / (1.0 + np.abs(acc)))
            out = pdf.copy()
            out[out_col] = p
            yield out

    return df.mapInPandas(_kernel, schema=out_schema)


def linear_score(
    df: DataFrame,
    weights: Sequence[float],
    bias: float,
    x_col: str = "x",
    out_col: str = "score",
    impl: str = "auto",
) -> DataFrame:
    """Apply a trained model: adds `out_col` = p(w.x + b). `impl`:
    "expr" forces the codegen chain, "batched" the Arrow kernel,
    "auto" dispatches on BATCHED_SCORE_DIMS — the dual-path contract
    (bit-identical either way, pinned in tests)."""
    if impl not in ("auto", "expr", "batched"):
        raise ValueError(f"impl must be auto|expr|batched, got {impl!r}")
    use_batched = impl == "batched" or (
        impl == "auto" and len(weights) > BATCHED_SCORE_DIMS
    )
    if use_batched:
        return _score_batched(df, weights, bias, x_col, out_col)
    z = _dot_chain(x_col, weights, bias)
    return df.withColumn(out_col, _sigmoid_rational(z))


def linear_fit(
    feats: DataFrame,
    dim: int,
    label_col: str = "y",
    x_col: str = "x",
    n_epochs: int = 10,
    lr: float = 1.0,
    quant: float = QUANT,
    impl: str = "auto",
) -> tuple[list[float], float]:
    """Full-batch gradient descent on the rational-link logistic loss:
    returns (weights, bias), both driver-resident. Labels must be
    0/1. Each epoch is ONE pass producing dim+2 values (quantized
    BIGINT gradient sums + the count); the update chain is
    w_j -= lr * (float(g_j)/float(n)/quant), exactly the two-division
    spelling the oracle replays. Persist `feats` before calling —
    every epoch scans it.

    Dual-path, but unlike scoring the Arrow form is the DEFAULT at
    every dim: the kernel emits one row of PARTIAL integer sums per
    batch and the driver folds them in Python ints — bit-identical to
    the codegen aggregate by construction (quantized-BIGINT sums
    commute, the per-row floor((r*x_j)*quant + 0.5) is the same IEEE
    sequence in both forms; pinned in tests) and MEASURED faster
    everywhere (PERF.md round 14 classifier ladder, per epoch, 100k rows:
    3.5x at dim 64, 7.5x at 128 — the dim+2-sum expression aggregate
    is heavy even at the oracle shape, and past BATCHED_SCORE_DIMS it
    is the crash-prone form). `impl` = auto|expr|batched; "expr" stays
    forceable at or below BATCHED_SCORE_DIMS for the dual-path pin and
    oracle mirroring.

    Raises on empty input, non-0/1 labels, and gradient sums outside
    the 2^62 guard (see module docstring for the a-priori bound)."""
    if n_epochs < 1:
        raise ValueError(f"n_epochs must be >= 1, got {n_epochs}")
    if impl not in ("auto", "expr", "batched"):
        raise ValueError(f"impl must be auto|expr|batched, got {impl!r}")
    use_batched = impl != "expr"
    if impl == "expr" and dim > BATCHED_SCORE_DIMS:
        raise ValueError(
            f"impl='expr' at dim {dim} would unroll a janino-hostile "
            f"aggregate (> BATCHED_SCORE_DIMS = {BATCHED_SCORE_DIMS}); "
            "use impl='auto'/'batched'"
        )
    y = F.col(label_col).cast("double")
    bad = feats.filter(y.isNull() | ((y != 0.0) & (y != 1.0))).limit(1).collect()
    if bad:
        raise ValueError(
            f"linear_fit: label {label_col!r} must be 0/1 and non-null; "
            f"found {bad[0][label_col]!r}"
        )
    w = [0.0] * dim
    b = 0.0
    for _ in range(n_epochs):
        if use_batched:
            n, gb, g = _gradient_batched(feats, w, b, x_col, label_col, quant)
        else:
            n, gb, g = _gradient_expr(feats, w, b, x_col, y, dim, quant)
        if not n:
            raise ValueError("linear_fit: empty training input")
        for s in (gb, *g):
            if abs(s) >= SUM_GUARD:
                raise ValueError(
                    f"linear_fit: quantized gradient sum {s} exceeds the 2^62 "
                    "guard — lower quant or feature_scale (module docstring "
                    "has the a-priori bound)"
                )
        w = [w[j] - lr * (float(g[j]) / float(n) / quant) for j in range(dim)]
        b = b - lr * (float(gb) / float(n) / quant)
    return w, b


def _gradient_expr(
    feats: DataFrame,
    w: Sequence[float],
    b: float,
    x_col: str,
    y: Column,
    dim: int,
    quant: float,
) -> tuple[int, int, list[int]]:
    """One epoch's (n, bias-gradient, per-dim gradients) as a single
    map-side-combinable codegen aggregate — dim+2 sum expressions."""
    z = _dot_chain(x_col, w, b)
    r = (_sigmoid_rational(z) - y).alias("__r")
    staged = feats.select(F.col(x_col).alias("__x"), r)
    agg = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("__r") * F.lit(quant) + F.lit(0.5)).cast("long")).alias(
            "gb"
        ),
        *[
            F.sum(
                F.floor(
                    (F.col("__r") * F.col("__x")[j]) * F.lit(quant) + F.lit(0.5)
                ).cast("long")
            ).alias(f"g{j}")
            for j in range(dim)
        ],
    )
    row = agg.collect()[0]
    return row["n"], row["gb"] or 0, [row[f"g{j}"] or 0 for j in range(dim)]


def _gradient_batched(
    feats: DataFrame,
    w: Sequence[float],
    b_: float,
    x_col: str,
    label_col: str,
    quant: float,
) -> tuple[int, int, list[int]]:
    """One epoch's gradients as an Arrow kernel: each pandas batch emits
    ONE row of partial integer sums (n, gb, g array<long>); the driver
    folds the handful of partials in Python ints (exact, order-free —
    integer sums commute, which is the whole point of quantizing before
    summing). The weight vector ships in the closure, so plan size is
    O(1) in dim. Per-row arithmetic is the same IEEE sequence as the
    expression aggregate: the sequential z fold, the rational link,
    floor((r*x_j)*quant + 0.5); int64 partials cannot wrap (a batch of
    B rows is bounded by B*feature_scale*quant)."""
    import numpy as np

    wv = np.asarray([float(v) for v in w], dtype=np.float64)
    bias = float(b_)
    dim = len(wv)
    staged = feats.select(F.col(x_col).alias("x"), F.col(label_col).cast("double").alias("y"))

    def _kernel(batches):
        import pandas as pd

        for pdf in batches:
            m = len(pdf)
            if not m:
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["x"]], dtype=np.float64
            )
            yv = pdf["y"].to_numpy(dtype=np.float64)
            acc = np.zeros(m, dtype=np.float64)
            tmp = np.empty(m, dtype=np.float64)
            for j in range(dim):  # sequential over dims: fold-order parity
                np.multiply(x[:, j], wv[j], out=tmp)
                np.add(acc, tmp, out=acc)
            acc += bias
            r = (0.5 + 0.5 * (acc / (1.0 + np.abs(acc)))) - yv
            # one 2-D pass over all dims (optimization r14): the
            # elementwise chain floor((r*x_j)*quant + 0.5) is the same
            # IEEE sequence as the former per-j loop (broadcasting is
            # elementwise), and the per-column int64 sum is exact in
            # any order — bit-identical partials, ~dim fewer passes
            g = (
                np.floor((r[:, None] * x) * quant + 0.5)
                .astype(np.int64)
                .sum(axis=0)
            )
            gb = int(np.floor(r * quant + 0.5).astype(np.int64).sum())
            yield pd.DataFrame({"n": [m], "gb": [gb], "g": [g.tolist()]})

    parts = staged.mapInPandas(
        _kernel, schema="n long, gb long, g array<long>"
    ).collect()
    n = sum(p["n"] for p in parts)
    gb = sum(p["gb"] for p in parts)
    g = [0] * dim
    for p in parts:
        pg = p["g"]
        for j in range(dim):
            g[j] += pg[j]
    return n, gb, g


def score_histogram(
    docs: DataFrame,
    weights: Sequence[float],
    bias: float,
    feature_scale: float = 8.0,
    n_buckets: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant: float = QUANT,
    impl: str = "auto",
) -> DataFrame:
    """The frozen model's score DISTRIBUTION over a corpus: one row per
    occupied score bucket — (bucket, n, avg_score), bucket =
    least(floor(score * n_buckets), n_buckets - 1). The quality-gate
    health report: a drifting distribution (mass sliding toward the
    threshold, a new bimodal lobe) is the earliest sign the gate's
    pass rate is about to move, before it does.

    avg_score is the quantized-sum / two-division chain, so the report
    is bit-exact cross-engine and the per-bucket sums are ADDITIVE —
    the streaming twin (streaming/score_stream.py) folds per-batch
    deltas to exactly this report. One featurize + one map-only score
    + ONE n_buckets-row aggregate."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    feats = hashed_features(
        docs, dim=len(weights), id_col=id_col, text_col=text_col,
        feature_scale=feature_scale,
    )
    scored = linear_score(feats, weights, bias, impl=impl)
    bucket = F.least(
        F.floor(F.col("score") * F.lit(n_buckets)), F.lit(n_buckets - 1).cast("long")
    ).cast("int")
    q = F.floor(F.col("score") * F.lit(quant) + F.lit(0.5)).cast("long")
    counts = (
        scored.select(bucket.alias("bucket"), q.alias("__q"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__q").alias("__qs"))
    )
    return counts.select(
        "bucket",
        "n",
        (
            F.col("__qs").cast("double") / F.col("n").cast("double") / F.lit(quant)
        ).alias("avg_score"),
    )


def calibration_report(
    docs: DataFrame,
    weights: Sequence[float],
    bias: float,
    label_col: str,
    feature_scale: float = 8.0,
    n_buckets: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant: float = QUANT,
    impl: str = "auto",
) -> DataFrame:
    """Reliability diagram for the frozen model: per score bucket,
    (bucket, n, avg_score, frac_pos) — a well-calibrated scorer has
    frac_pos tracking avg_score; divergence says the score is NOT a
    probability at that mass and the gate threshold was tuned on a
    fiction. The standard post-training evaluation (and the re-check
    to run whenever score_stream shows the distribution moving).

    Same additive-integer discipline as score_histogram (the label sum
    is already an integer), so bit-exact cross-engine; one featurize +
    one map-only score + ONE n_buckets-row aggregate."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    y = F.col(label_col).cast("double")
    feats = hashed_features(
        docs.select(id_col, text_col, y.alias("__y")),
        dim=len(weights), id_col=id_col, text_col=text_col,
        feature_scale=feature_scale, carry_cols=("__y",),
    )
    scored = linear_score(feats, weights, bias, impl=impl)
    bucket = F.least(
        F.floor(F.col("score") * F.lit(n_buckets)), F.lit(n_buckets - 1).cast("long")
    ).cast("int")
    q = F.floor(F.col("score") * F.lit(quant) + F.lit(0.5)).cast("long")
    agg = (
        scored.select(
            bucket.alias("bucket"), q.alias("__q"),
            F.col("__y").cast("long").alias("__pos"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__q").alias("__qs"),
            F.sum("__pos").alias("__np"),
        )
    )
    n_d = F.col("n").cast("double")
    return agg.select(
        "bucket",
        "n",
        (F.col("__qs").cast("double") / n_d / F.lit(quant)).alias("avg_score"),
        (F.col("__np").cast("double") / n_d).alias("frac_pos"),
    )


def auc_report(
    scored: DataFrame,
    label_col: str,
    score_col: str = "score",
) -> DataFrame:
    """Exact ROC-AUC as ONE row (auc, n_pos, n_neg) — the
    Mann-Whitney formulation over integer pair counts: AUC =
    (#(pos > neg) + 0.5 * #(pos == neg)) / (n_pos * n_neg), kept
    bit-exact by summing 2x the pair count as BIGINT
    (2*n_pos*cum_neg_below + n_pos*n_neg_at per distinct score) and
    dividing once at the end with a fixed chain.

    Scale shape: the per-score collapse is one keyed aggregate; the
    running negative count is a window over DISTINCT scores only —
    cardinality bounded by the score grain (quantize scores upstream
    if a continuous scorer must stay window-safe), never by row count.
    Raises on degenerate inputs (no positives or no negatives — AUC is
    undefined, not 0)."""
    y = F.col(label_col).cast("double")
    per_score = (
        scored.select(F.col(score_col).alias("__sc"), y.alias("__y"))
        .groupBy("__sc")
        .agg(
            F.sum(F.when(F.col("__y") == 1.0, 1).otherwise(0)).cast("long").alias("__np"),
            F.sum(F.when(F.col("__y") == 0.0, 1).otherwise(0)).cast("long").alias("__nn"),
        )
    )
    from pyspark.sql import Window

    wnd = Window.orderBy("__sc").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.select(
        "__np",
        "__nn",
        F.coalesce(F.sum("__nn").over(wnd), F.lit(0)).cast("long").alias("__below"),
    )
    agg = cum.agg(
        F.sum(
            F.lit(2) * F.col("__np") * F.col("__below") + F.col("__np") * F.col("__nn")
        ).cast("long").alias("__s2"),
        F.sum("__np").cast("long").alias("n_pos"),
        F.sum("__nn").cast("long").alias("n_neg"),
    )
    row = agg.collect()[0]
    if not row["n_pos"] or not row["n_neg"]:
        raise ValueError(
            f"auc_report: need both classes (n_pos={row['n_pos']}, "
            f"n_neg={row['n_neg']}) — AUC is undefined otherwise"
        )
    return scored.sparkSession.createDataFrame(
        [
            (
                (float(row["__s2"]) / 2.0)
                / (float(row["n_pos"]) * float(row["n_neg"])),
                row["n_pos"],
                row["n_neg"],
            )
        ],
        "auc double, n_pos long, n_neg long",
    )


def write_linear_model(
    spark,
    weights: Sequence[float],
    bias: float,
    path: str,
    feature_scale: float | None = None,
) -> None:
    """Persist as (j, weight) parquet, bias at j = -1 — the same
    driver-sized model-artifact shape as clustering.write_model. Pass
    `feature_scale` to record the featurize-time scale at j = -2, so
    scoring tools cannot silently apply the model to mismatched
    features (the CLI refuses to guess)."""
    rows = [(-1, float(bias))] + [(j, float(v)) for j, v in enumerate(weights)]
    if feature_scale is not None:
        rows.insert(0, (-2, float(feature_scale)))
    spark.createDataFrame(rows, "j int, weight double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def read_linear_model(spark, path: str) -> tuple[list[float], float]:
    rows = spark.read.parquet(path).collect()
    by_j = {r.j: r.weight for r in rows}
    by_j.pop(-2, None)  # optional feature_scale metadata row
    bias = by_j.pop(-1)
    dim = len(by_j)
    if set(by_j) != set(range(dim)):
        raise ValueError(
            f"linear model at {path!r} is not contiguous 0..{dim - 1} + bias(-1)"
        )
    return [by_j[j] for j in range(dim)], bias


def read_linear_model_scale(spark, path: str) -> float | None:
    """The feature_scale recorded at training time (j = -2), or None
    for artifacts written without one."""
    rows = spark.read.parquet(path).filter("j = -2").collect()
    return float(rows[0].weight) if rows else None
