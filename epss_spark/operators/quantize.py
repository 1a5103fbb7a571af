"""Quantization — the reference's flagship kernel.

The reference reduces a dense daily score matrix to change events by
concatenating consecutive daily snapshots and taking a per-CVE shift/diff
(reference: epss/client.py:453-475, pairwise loop :230-233). That design is
O(days) eager passes. Here the whole thing is ONE lazy plan:

    scan (partition-pruned) -> Window.partitionBy(key).orderBy(time) lag
    -> delta -> filter (first observation OR delta != 0)

Physical story at scale: a single hash-partition exchange on `key` + a
per-partition sort. No driver-side loops, no per-day passes; 100 TB of
input is one shuffle of the (much smaller) projected columns. Skewed keys
are handled by AQE; the window key (cve / user_id) is high-cardinality so
skew is minimal by construction.

First-observation semantics: `lag` yields NULL for a key's first in-range
row; we KEEP that row as a change (the reference keeps it via its
concat-pairwise structure's first-frame behavior). A score returning to a
prior value after a change IS a change (lag compares consecutive values
only). Both behaviors are pinned by golden fixtures in tests/test_quantize.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def changed_scores(
    df: DataFrame,
    key: str = "cve",
    time: str = "date",
    value: str = "epss",
    tiebreak: str | None = None,
    keep_first: bool = True,
    delta_col: str = "delta",
    prev_col: str | None = None,
) -> DataFrame:
    """Keep only rows whose `value` differs from the key's previous row.

    Mirrors the reference's get_changed_scores (epss/client.py:453-475) as a
    single window plan. `tiebreak` adds a deterministic secondary sort key
    for time ties (the reference has none — daily data can't tie).

    NULL policy (value is nullable in the score schema): a NULL-valued row
    is dropped UNLESS it is the key's first in-range row — its delta is
    NULL, failing `delta != 0`, but the first row passes the
    first-observation branch regardless of value. lag() also yields NULL
    for the row AFTER a NULL, so that row restarts as a first observation.
    Net effect: x -> NULL -> x emits x twice and swallows the mid-stream
    NULL; a key that STARTS with NULL emits that NULL row. The DuckDB
    oracles encode the same condition, so this is pinned cross-engine;
    also pinned by tests/test_quantize.py::test_null_value_policy.
    """
    order = [F.col(time).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(F.col(value)).over(w)
    out = df.withColumn("__prev", prev).withColumn(delta_col, F.col(value) - F.col("__prev"))
    first_obs: Column = F.col("__prev").isNull()
    changed = F.col(delta_col) != 0
    cond = (first_obs | changed) if keep_first else (~first_obs & changed)
    out = out.filter(cond)
    if prev_col:
        out = out.withColumnRenamed("__prev", prev_col)
    else:
        out = out.drop("__prev")
    return out


def quantize(
    df: DataFrame,
    key: str = "cve",
    time: str = "date",
    value: str = "epss",
    min_time=None,
    max_time=None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Windowed quantization with correct first-day semantics.

    The reference *adds* a day to min_date when dropping unchanged scores
    (epss/client.py:212-214) — a sign bug against its own stated intent
    (TODO.md:3: "first date shouldn't include all scores"). The intended
    semantics, implemented here: scan one step BEFORE min_time so the first
    requested day diffes against real history, then drop the warm-up rows.
    With a date-partitioned source the extra day is one pruned partition.
    """
    scoped = df
    if min_time is not None:
        scoped = scoped.filter(F.col(time) >= F.date_sub(F.lit(min_time).cast("date"), 1))
    if max_time is not None:
        scoped = scoped.filter(F.col(time) <= F.lit(max_time).cast("date"))
    out = changed_scores(scoped, key=key, time=time, value=value, tiebreak=tiebreak)
    if min_time is not None:
        out = out.filter(F.col(time) >= F.lit(min_time).cast("date"))
    return out


def incremental_changed_scores(
    prev_changes: DataFrame,
    new_rows: DataFrame,
    since,
    key: str = "cve",
    time: str = "date",
    value: str = "epss",
    tiebreak: str | None = None,
    raw_tail: DataFrame | None = None,
) -> DataFrame:
    """Append-only quantization: given the EXISTING quantized store (change
    events through `since`) and the raw snapshots for days AFTER `since`,
    emit only the new change events — without touching the dense history.

    This is the operation a daily 100 TB deployment actually runs: the
    quantized store is ~1% of the matrix (reference NOTES.md:38), so the
    per-key seed is a window over small inputs; the new days diff against
    the seed in the same single-exchange changed_scores plan, and seed rows
    are dropped by the `> since` filter. Appending the result to the store
    preserves the invariant that the store equals full quantization of the
    dense history — pinned by tests/test_quantize.py::test_incremental_equals_full.

    Seeding: full quantization diffs each key's first post-`since` row
    against the key's last RAW row, and changed_scores swallows NULL-valued
    rows — so the store alone cannot tell "last raw value was x" apart from
    "last raw value was NULL (after x)", and the restart-after-NULL row
    would be lost. `raw_tail` closes that gap: pass any raw suffix that
    contains each key's last raw row at/before `since` (for a daily-dense
    feed, the single day-`since` snapshot qualifies) and the seed is taken
    from it, giving exact parity including NULL gaps at the boundary. Keys
    absent from `raw_tail` (and, when it is None, all keys) fall back to
    the store's latest change row — correct whenever the key's last raw
    value was non-NULL.
    """
    fresh = new_rows.filter(F.col(time) > F.lit(since).cast("date"))
    # Seed = one row per key: the key's last raw-tail row if the tail
    # covers it, else its last store row. Implemented as ONE priority-
    # ordered window over the tagged union (raw rows sort before store
    # rows), not two windows + an anti-join — Spark does not deduplicate
    # common subplans, so the two-window form would execute the raw-tail
    # scan twice per action.
    def _tagged(df: DataFrame, prio: int) -> DataFrame:
        # the store carries bookkeeping columns (delta) the raw snapshots
        # lack; seed rows only need the raw schema
        return (
            df.filter(F.col(time) <= F.lit(since).cast("date"))
            .select(*fresh.columns)
            .withColumn("__prio", F.lit(prio))
        )

    candidates = _tagged(prev_changes, 1)
    if raw_tail is not None:
        candidates = _tagged(raw_tail, 0).unionByName(candidates)
    # Time ranks above priority: a raw-tail row older than the store's
    # latest change is stale (violates the documented "last raw row
    # at/before since" precondition) and must NOT outrank the newer store
    # row — ordering by (time desc, prio asc) degrades that caller error
    # gracefully to the store fallback instead of silently seeding an
    # outdated value. A correct raw_tail still wins: change rows are a
    # subset of raw rows, so the raw tail's last row is never older than
    # the store's, and on the time tie prio 0 (raw) beats prio 1 (store).
    order = [F.col(time).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    order.append(F.col("__prio").asc())
    w = Window.partitionBy(key).orderBy(*order)
    seed = (
        candidates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )
    unioned = seed.unionByName(fresh, allowMissingColumns=False)
    out = changed_scores(unioned, key=key, time=time, value=value, tiebreak=tiebreak)
    return out.filter(F.col(time) > F.lit(since).cast("date"))


def densify(
    quantized: DataFrame,
    dates: DataFrame,
    key: str = "cve",
    time: str = "date",
    value: str = "epss",
) -> DataFrame:
    """Inverse of quantization: forward-fill change events back to a dense
    per-(key, time) matrix. `dates` is a one-column DataFrame of the target
    time points (e.g. from F.sequence+explode).

    Plan: keys × dates (broadcast the small dates side) UNIONed with the
    change events, then one last_value(ignoreNulls) window per key — change
    rows sort immediately before their grid row at the same time point, so
    the fill sees them without any join. One hash exchange on `key` over
    the dense side, versus a composite-key join shuffle + a window shuffle
    for the join formulation — at scale the dense grid dominates, so the
    saved shuffle is the whole game.
    Used by the property tests: densify(quantize(x)) == x.
    """
    time_points = dates.select(F.col(dates.columns[0]).alias(time)).distinct()
    keys = quantized.select(key).distinct()
    grid = (
        keys.join(F.broadcast(time_points))
        .withColumn(value, F.lit(None).cast("double"))
        .withColumn("__src", F.lit(1))
    )
    real = quantized.select(key, time, value).withColumn("__src", F.lit(0))
    unioned = grid.unionByName(real)
    w = (
        Window.partitionBy(key)
        .orderBy(time, "__src")  # at equal time, the real row precedes its grid row
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn(value, F.last(F.col(value), ignorenulls=True).over(w))
    return filled.filter((F.col("__src") == 1) & F.col(value).isNotNull()).drop("__src")
