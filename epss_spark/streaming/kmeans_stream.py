"""Continuous k-means model maintenance — the clustering tier
(operators/clustering.py) as a stream.

An embedding pipeline lands new vector files continuously; the centroid
model should refresh without rescanning the corpus. Each micro-batch is
assigned against the FROZEN reference centroids (plan-time constants — the
same codegen projection as batch) and its per-cluster quantized sums
(count + dim BIGINT coordinate sums) append as additive epoch-scoped
deltas — the contamination additive family, no carried state: the
frozen model is the "state" and it never changes within a maintenance
window. `kmeans_snapshot_centroids` folds the committed sums into the
one-step-updated model, EXACTLY equal to
`kmeans_fit(all_vectors_so_far, init=frozen, n_iter=1)` — integer sums
are associative and commutative, so the equality is bit-exact, not
approximate (pinned in tests). Promote the snapshot to the next window's
frozen model to iterate Lloyd across windows.

Ordering: this stream is DELIVERY-ORDER-INVARIANT — unlike the
carried-state streams there is no per-key ordering contract and no
`.late` sibling, because addition commutes. The input contract is the
document streams': each vector id arrives EXACTLY once across the
stream's lifetime (re-delivery would double-weight it; replays of an
epoch remain safe via epoch-scoped overwrites). The contract is
AUDITED two ways before promotion: sum(n) against the expected corpus
count (kmeans_snapshot_total) and, stronger, the order-free XOR of
per-id 60-bit hashes against the corpus's own
(corpus_id_checksum == kmeans_snapshot_checksum) — which also catches
the count-neutral duplicate-plus-drop failures the count audit cannot.

Scale shape per epoch: one codegen assignment pass over the batch, one
map-side-combinable k-row aggregate, a k-row append. The store holds
O(epochs/compact_every) k-row files; compaction is the additive fold.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epss_spark.operators import clustering
from epss_spark.streaming.dedup_stream import (
    _write_epoch,
    autocompact_epoch,
    read_artifact,
)


def _sum_cols(dim: int) -> list[str]:
    return [f"s{j}" for j in range(dim)]


def _fold_sums(df: DataFrame) -> DataFrame:
    """Additive compaction transform: one row per cluster, sums summed,
    id checksums XORed (XOR is associative/commutative, so the fold
    commutes with delivery order exactly like the integer sums),
    max(__epoch) keeps folded rows attributed to a committed epoch.

    NULL-poisoning on __xs: a store that mixes pre-audit epochs
    (no __xs — surfaced as NULLs by the schema-merged compaction read)
    with audited ones must NOT fold to a partial checksum (bit_xor
    skips NULLs), which would falsely refuse a healthy promotion —
    instead any NULL in the group poisons the folded value to NULL, so
    the evidence that the store predates the audit survives compaction
    and kmeans_snapshot_checksum can refuse loudly."""
    dim_cols = [c for c in df.columns if c.startswith("s") and c[1:].isdigit()]
    aggs = [F.sum("n").alias("n")] + [F.sum(c).alias(c) for c in dim_cols]
    if "__xs" in df.columns:
        aggs.append(
            F.when(F.max(F.col("__xs").isNull().cast("int")) == 1, F.lit(None).cast("long"))
            .otherwise(F.bit_xor("__xs"))
            .alias("__xs")
        )
    return df.groupBy("cluster_id").agg(*aggs, F.max("__epoch").alias("__epoch"))


def process_kmeans_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    centroids: Sequence[Sequence[float]],
    dim: int = 64,
    vec_col: str = "embedding",
    quant: float = clustering.QUANT,
    compact_every: int | None = 64,
    id_col: str | None = "vec_id",
) -> None:
    """One idempotent epoch: assign the batch against the frozen
    centroids, append the per-cluster (n, s0..s{dim-1}, __xs)
    quantized-sum delta epoch-scoped. A foreachBatch replay overwrites
    `epoch-N/` with the identical recomputed delta (the assignment is
    deterministic).

    `__xs` is the per-cluster XOR of each row's 60-bit md5(id) — the
    CONTENT half of the exactly-once audit (kmeans_snapshot_checksum):
    XOR is order-free and cannot overflow, and together with the count
    it detects duplicate/dropped deliveries that happen to cancel in
    the count alone. Pass id_col=None only when the stream genuinely
    has no stable id (the checksum audit is then unavailable and the
    promote gate falls back to count-only).

    Upgrade note: a store whose early epochs predate the __xs column
    (created by an older build, then streamed into post-upgrade) holds
    a MIXED layout. Reads and compaction handle it without data loss
    (schema-merged, NULL-poisoned fold), but the checksum audit over
    such a store is undefined and kmeans_snapshot_checksum REFUSES it —
    rebuild the store from batch (or start a fresh state dir) to regain
    the content audit, or stream with id_col=None to declare the store
    permanently count-audited only."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    assigned = clustering.assign_clusters(batch_df, centroids, vec_col=vec_col)
    sums = [
        F.sum(
            F.floor(F.col(vec_col)[j].cast("double") * F.lit(quant) + F.lit(0.5)).cast("long")
        ).alias(f"s{j}")
        for j in range(dim)
    ]
    aggs = [F.count(F.lit(1)).alias("n"), *sums]
    if id_col is not None:
        from epss_spark.operators.dedup import _md5_60bit

        # id_col=None stores NO __xs column (the audit is unavailable,
        # never silently zero) — a store's layout is fixed by its
        # stream's configuration, so epochs stay union-compatible
        aggs.append(F.bit_xor(_md5_60bit(F.col(id_col).cast("string"))).alias("__xs"))
    delta = (
        assigned.groupBy("cluster_id")
        .agg(*aggs)
        .withColumn("__epoch", F.lit(int(epoch_id)))
    )
    _write_epoch(delta, state_path, epoch_id)
    # merge_schema: a store upgraded mid-lifetime (pre-audit epochs
    # without __xs) must fold the union schema, or compaction would
    # silently drop the audited epochs' checksums (_fold_sums then
    # NULL-poisons the mixed fold so the snapshot can refuse loudly)
    autocompact_epoch(
        spark, state_path, epoch_id, compact_every, transform=_fold_sums,
        merge_schema=True,
    )


def kmeans_sums_snapshot(spark: SparkSession, state_path: str) -> DataFrame:
    """Folded per-cluster quantized sums over everything the stream has
    seen: (cluster_id, n, s0..s{dim-1}[, __xs]). Lazy; one additive
    aggregate over the bounded store. The read is schema-merged so a
    mixed pre/post-audit store surfaces its old epochs as NULL __xs
    (poisoned to NULL in the fold here too) instead of silently
    dropping or partially-XORing the audit column; only the checksum
    consumer refuses on that — the model sums themselves are unaffected
    by the audit column's history."""
    df = read_artifact(spark, state_path, merge_schema=True)
    dim_cols = [c for c in df.columns if c.startswith("s") and c[1:].isdigit()]
    aggs = [F.sum("n").cast("long").alias("n")] + [
        F.sum(c).cast("long").alias(c) for c in dim_cols
    ]
    if "__xs" in df.columns:
        aggs.append(
            F.when(F.max(F.col("__xs").isNull().cast("int")) == 1, F.lit(None).cast("long"))
            .otherwise(F.bit_xor("__xs"))
            .cast("long")
            .alias("__xs")
        )
    return df.groupBy("cluster_id").agg(*aggs)


def kmeans_snapshot_total(spark: SparkSession, state_path: str) -> int:
    """Total vector count the store has absorbed — the cheap audit for
    the stream's exactly-once-per-vector-id input contract. A vector
    re-delivered in a DIFFERENT epoch double-weights the model silently
    (same-epoch replays are safe via the epoch-scoped overwrite), and
    the additive k-row store cannot detect that from the inside; what it
    CAN do is expose sum(n), which the promotion gate compares against
    the corpus size the operator expects (DEPLOYMENT.md §promotion). A
    mismatch means duplicate or dropped deliveries — rebuild from batch
    instead of promoting. One aggregate over the bounded store."""
    row = kmeans_sums_snapshot(spark, state_path).agg(F.sum("n").alias("t")).collect()[0]
    return int(row["t"] or 0)


def corpus_id_checksum(vectors: DataFrame, id_col: str = "vec_id") -> tuple[int, int]:
    """The EXPECTED side of the content audit: (count, XOR of 60-bit
    md5(id)) over the corpus the stream should have absorbed — one
    map-side-combinable aggregate, engine-portable (DuckDB spells it
    bit_xor over the same CAST('0x' || substr(md5(...), 1, 15) AS
    BIGINT) hash). Multiset-equality property: equal (count, xor) is
    necessary for the stream store to hold exactly this corpus; a
    duplicate delivery flips the count, and a duplicate PAIRED with a
    drop (count-neutral — invisible to the count-only audit) still
    flips the XOR unless the duplicated and dropped ids hash-cancel,
    which for distinct 60-bit hashes requires an adversarial multiset,
    not an infrastructure failure."""
    from epss_spark.operators.dedup import _md5_60bit

    row = vectors.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(_md5_60bit(F.col(id_col).cast("string"))).alias("x"),
    ).collect()[0]
    return int(row["n"] or 0), int(row["x"] or 0)


def kmeans_snapshot_checksum(spark: SparkSession, state_path: str) -> tuple[int, int] | None:
    """The ABSORBED side of the content audit: (total n, XOR over
    clusters of the per-cluster id checksums) from the store — compare
    against corpus_id_checksum(corpus) before trusting a snapshot.
    Returns None when the store was built with id_col=None (no __xs
    column — the audit is explicitly unavailable, never silently
    passing). RAISES ValueError when the store MIXES pre-audit and
    audited epochs (schema-merged read surfaces the old epochs as NULL
    __xs): a partial XOR over only the audited epochs would falsely
    refuse a healthy store, and silently returning None would quietly
    downgrade the gate — neither is acceptable, so the caller gets the
    explicit "store predates the id audit" failure and the rebuild /
    fresh-state-dir / id_col=None choices. Upgrades
    kmeans_snapshot_total's count-only audit: a cross-epoch duplicate
    delivery paired with a dropped file keeps sum(n) intact but cannot
    keep the XOR intact (see corpus_id_checksum). One aggregate over
    the bounded store."""
    snap = kmeans_sums_snapshot(spark, state_path)
    if "__xs" not in snap.columns:
        return None
    row = snap.agg(
        F.sum("n").alias("t"),
        F.bit_xor("__xs").alias("x"),
        F.max(F.col("__xs").isNull().cast("int")).alias("mixed"),
    ).collect()[0]
    if int(row["mixed"] or 0):
        raise ValueError(
            f"kmeans store at {state_path} mixes epochs with and without "
            "the __xs id-audit column (store predates the id audit): the "
            "content checksum is undefined over it — rebuild the store "
            "from batch or start a fresh state dir to regain the audit, "
            "or stream with id_col=None (count-only audit) / pass "
            "--no-id-audit at promote"
        )
    return int(row["t"] or 0), int(row["x"] or 0)


def kmeans_snapshot_centroids(
    spark: SparkSession,
    state_path: str,
    centroids: Sequence[Sequence[float]],
    dim: int = 64,
    quant: float = clustering.QUANT,
) -> list[list[float]]:
    """The one-step-updated model from the store: bit-identical to
    `kmeans_fit(union_of_all_batches, init=centroids, n_iter=1)` under
    the each-vector-arrives-once contract — the same float(s)/float(n)/Q
    division chain, empty clusters keep the frozen centroid. k rows
    collect (the model is driver-sized by construction); the collected
    sums go through the same 2^62 overflow guard as kmeans_fit."""
    rows = kmeans_sums_snapshot(spark, state_path).collect()
    clustering.check_model_sums(rows, dim, what="kmeans_snapshot_centroids")
    upd = {
        int(r["cluster_id"]): [float(r[f"s{j}"]) / float(r["n"]) / quant for j in range(dim)]
    for r in rows
    }
    cents = [[float(x) for x in c] for c in centroids]
    return [upd.get(i, cents[i]) for i in range(len(cents))]


def start_kmeans_stream(
    vec_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    centroids: Sequence[Sequence[float]],
    dim: int = 64,
    vec_col: str = "embedding",
    quant: float = clustering.QUANT,
    compact_every: int | None = 64,
    available_now: bool = True,
    id_col: str | None = "vec_id",
):
    """Continuous centroid-model maintenance over a vector stream: per
    micro-batch, append the batch's per-cluster quantized-sum delta
    (with the per-cluster id checksum for the content audit); read the
    refreshed model any time with `kmeans_snapshot_centroids` and
    promote it to the next maintenance window's frozen model."""
    from epss_spark.streaming.carried_state import start_carried_stream

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_kmeans_batch(
            batch_df, epoch_id, state_dir, centroids, dim, vec_col, quant,
            compact_every=compact_every, id_col=id_col,
        )

    return start_carried_stream(vec_stream, checkpoint_dir, process_batch, available_now)
