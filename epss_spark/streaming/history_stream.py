"""Incremental SCD-2 history maintenance — snapshot_history as a stream.

The batch operator (operators/dedup.py::snapshot_history) compacts a full
changelog into unchanged-content runs. A crawl never stops producing
snapshots, so the history table must advance per micro-batch without
re-reading the changelog. Two epoch-scoped artifacts (the dedup_stream
replay design — module docstring there):

- `<dir>/runs`    — CLOSED intervals, append-only facts: a run row is
  written exactly once, in the epoch whose batch observed the content
  change that closed it.
- `<dir>/open`    — each key's CURRENT run as keep-latest state:
  (key, fp, valid_from, last_version, n_versions, __epoch); superseded
  rows fold away on read (and at auto-compaction) by latest-epoch-wins.

Per batch: resume each touched key's open run, prepend it as a pseudo
snapshot, re-run the SAME run-detection fold over (pseudo + batch), then
splice the prior run's start/count back onto the run that absorbed the
pseudo row. Serving view `history_snapshot` = closed runs + current open
rows; it equals the one-shot batch `snapshot_history` over everything
the stream has seen (pinned in tests), and a foreachBatch replay of any
epoch rewrites identical rows.

Ordering contract: batches must arrive version-partitioned per key
(monotone crawl sequence), because closed intervals are immutable: an
older version cannot be retro-inserted without a rebuild. Late rows —
version at or below the key's committed last_version, or a NULL version
(unorderable, so it can never extend a monotone history) — are DROPPED
and counted per epoch into the `<dir>/open.late` sibling (read with
`late_counts`): an SCD-2 store that silently reordered history would
corrupt every closed interval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epss_spark.operators import dedup
from epss_spark.streaming.dedup_stream import (
    _late_path,
    _read_committed,
    _write_epoch,
    autocompact_epoch,
    read_artifact,
    read_late_counts,
)


def _paths(history_dir: str) -> tuple[str, str]:
    base = history_dir.rstrip("/")
    return base + "/runs", base + "/open"


def process_history_batch(
    batch_df: DataFrame,
    epoch_id: int,
    history_dir: str,
    key: str,
    version_col: str,
    fp_col: str,
    tiebreak_col: str | None = None,
    compact_every: int | None = 64,
) -> None:
    """One idempotent epoch of SCD-2 maintenance (module docstring).
    Module-level so tests can replay an epoch directly."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    runs_path, open_path = _paths(history_dir)
    from pyspark.sql.types import LongType, StructField, StructType

    kf = batch_df.schema[key]
    vf = batch_df.schema[version_col]
    ff = batch_df.schema[fp_col]
    empty = StructType(
        [
            StructField(key, kf.dataType),
            StructField(fp_col, ff.dataType),
            StructField("valid_from", vf.dataType),
            StructField("last_version", vf.dataType),
            StructField("n_versions", LongType()),
            StructField("__epoch", LongType()),
        ]
    )
    # persisted for the batch: the committed-state fold feeds three
    # consumers (the pseudo-row splice, the run adjustment join, and the
    # late filter) — without the cache each one re-reads and re-folds
    # every epoch dir of the store
    prior = dedup.keep_latest(
        _read_committed(spark, open_path, int(epoch_id), empty_schema=empty),
        key,
        "__epoch",
    ).select(
        key,
        F.col(fp_col).alias("__pfp"),
        F.col("valid_from").alias("__pfrom"),
        F.col("last_version").alias("__plast"),
        F.col("n_versions").alias("__pn"),
    ).persist()

    snaps = batch_df.select(key, version_col, fp_col)
    if tiebreak_col is not None:
        snaps = dedup.keep_latest(
            batch_df.select(key, version_col, fp_col, tiebreak_col),
            [key, version_col],
            tiebreak_col,
        ).select(key, version_col, fp_col)
    joined = snaps.join(prior, key, "left")
    # __is_fresh is never NULL (a NULL version short-circuits the AND to
    # False), so `late` is the EXACT complement of `fresh` — a NULL
    # version is unorderable against the committed last_version, cannot
    # extend a monotone history, and must be dropped AND counted; the
    # previous two-predicate form let it fall through both filters
    # uncounted (version > __plast and version <= __plast both NULL)
    is_fresh = F.col(version_col).isNotNull() & (
        F.col("__plast").isNull() | (F.col(version_col) > F.col("__plast"))
    )
    fresh = joined.filter(is_fresh).select(key, version_col, fp_col)
    late = joined.filter(~is_fresh)
    late_row = late.agg(
        F.count(F.lit(1)).alias("n_late_events"),
        F.countDistinct(key).alias("n_late_keys"),
    ).select(F.lit(int(epoch_id)).alias("epoch"), "n_late_events", "n_late_keys")

    # the committed open run re-enters the fold as a pseudo snapshot at
    # its last version; the run that absorbs it (same fp) — or the run
    # it becomes when the batch's first content differs — gets the
    # prior's start and count spliced back below
    pseudo = prior.select(
        key, F.col("__plast").alias(version_col), F.col("__pfp").alias(fp_col)
    ).join(fresh.select(key).distinct(), key, "semi")
    allrows = fresh.unionByName(pseudo)
    hist = dedup.snapshot_history(allrows, key, version_col, fp_col)
    lasts = allrows.groupBy(key).agg(F.max(version_col).alias("last_version"))
    absorbed = F.col("valid_from").eqNullSafe(F.col("__plast"))
    adj = (
        hist.join(prior.select(key, "__pfrom", "__plast", "__pn"), key, "left")
        .select(
            F.col(key),
            F.col(fp_col),
            F.when(absorbed, F.col("__pfrom")).otherwise(F.col("valid_from")).alias(
                "valid_from"
            ),
            F.col("valid_to"),
            F.when(absorbed, F.col("n_versions") + F.col("__pn") - 1)
            .otherwise(F.col("n_versions"))
            .alias("n_versions"),
        )
    )
    closed = adj.filter(F.col("valid_to").isNotNull())
    opened = (
        adj.filter(F.col("valid_to").isNull())
        .join(lasts, key)
        .select(
            key, fp_col, "valid_from", "last_version", "n_versions",
            F.lit(int(epoch_id)).alias("__epoch"),
        )
    )
    try:
        _write_epoch(closed, runs_path, epoch_id)
        _write_epoch(opened, open_path, epoch_id)
        _write_epoch(late_row, _late_path(open_path), epoch_id)
    finally:
        prior.unpersist()
    autocompact_epoch(spark, runs_path, epoch_id, compact_every)
    autocompact_epoch(
        spark, open_path, epoch_id, compact_every,
        transform=lambda df: dedup.keep_latest(df, key, "__epoch"),
    )
    autocompact_epoch(spark, _late_path(open_path), epoch_id, compact_every)


def history_snapshot(
    spark: SparkSession, history_dir: str, key: str = "url"
) -> DataFrame:
    """Serving view: closed runs + each key's current open run —
    identical rows to the one-shot batch snapshot_history over every
    snapshot the stream has seen (pinned in tests). Columns:
    (key, fp, valid_from, valid_to, n_versions)."""
    runs_path, open_path = _paths(history_dir)
    closed = read_artifact(spark, runs_path)
    cur = dedup.keep_latest(read_artifact(spark, open_path), key, "__epoch")
    return closed.unionByName(
        cur.select(
            key,
            *[c for c in closed.columns if c not in (key, "valid_from", "valid_to", "n_versions")],
            "valid_from",
            F.lit(None).cast(dict(closed.dtypes)["valid_to"]).alias("valid_to"),
            "n_versions",
        )
    )


def late_counts(spark: SparkSession, history_dir: str) -> DataFrame:
    """Per-epoch dropped-late-snapshot accounting (module docstring):
    (epoch, n_late_events, n_late_keys), all-zero when the
    version-partitioned-per-key contract held."""
    _, open_path = _paths(history_dir)
    return read_late_counts(spark, open_path)


def start_history_maintenance(
    snapshots_stream: DataFrame,
    history_dir: str,
    checkpoint_dir: str,
    key: str,
    version_col: str,
    fp_col: str,
    tiebreak_col: str | None = None,
    compact_every: int | None = 64,
    available_now: bool = True,
):
    """Continuous SCD-2 maintenance over a snapshot stream: per
    micro-batch, advance each touched key's open run and append the
    runs it closed; read the live interval table any time with
    `history_snapshot`. Scale shape per batch: one key exchange for the
    run fold over the BATCH plus a join against the touched keys' open
    state (one short row per key); closed-run writes are O(changes)."""
    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_history_batch(
            batch_df, epoch_id, history_dir, key, version_col, fp_col,
            tiebreak_col, compact_every=compact_every,
        )

    writer = snapshots_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
