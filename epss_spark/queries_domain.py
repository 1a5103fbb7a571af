"""EPSS-domain roadmap queries, plus the agg_pivot registry entry.

The reference's declared-but-unbuilt scope (TODO.md:8-20 per-CVE summary /
current score, TODO.md:33-34 trending detection, NOTES.md:15-31 daily volume
stats) made first-class here over the driver's `events` table, with the
standard domain mapping: user_id <-> cve, day(ts) <-> date, value <-> epss.
The dense<->quantized inverse (reconstruction by forward-fill) closes the
loop on the flagship kernel: quantize (operators/quantize.py::changed_scores)
compresses, densify reconstructs, and the oracle proves both directions.

Scale posture: every query here is one or two hash exchanges on
high-cardinality keys (user_id, day); the reconstruction grid is
keys x days with the tiny day list broadcast, so the big side never
shuffles twice. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from epss_spark.operators.quantize import changed_scores, densify
from epss_spark.queries_core import T, dec2
from epss_spark.registry import register

# Shared oracle CTE: daily snapshot = last value per (user, day), the same
# construction as epss_quantize_daily (reference lifecycle epss/client.py:202-237).
_DAILY_SQL = """
    daily AS (
      SELECT user_id, d, value FROM (
        SELECT user_id, CAST(ts AS DATE) AS d, value,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
"""

_DIFFED_SQL = """
    diffed AS (
      SELECT user_id, d, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY d) AS prev_value
      FROM daily
    )
"""


@register(
    "epss_new_keys",
    f"""
    WITH {_DAILY_SQL.strip()},
    f AS (SELECT user_id, MIN(d) AS d FROM daily GROUP BY user_id)
    SELECT d, COUNT(*) AS n_new FROM f GROUP BY d
    """,
)
def epss_new_keys(spark, sf_dir):
    """First-appearance analytics (reference roadmap TODO.md:33-34 trending
    detection): how many keys are first seen on each day — one aggregation
    for each key's min date, one rollup by that date."""
    return (
        _daily(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.min("d").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of _DAILY_SQL: latest event value per (user_id, day).

    One-exchange shape (round 5, same reform as epss_quantize_daily):
    repartition(user_id) satisfies the snapshot aggregate's clustering
    (user_id ⊆ grouping keys — hash aggregate, map-side partial, no sort)
    AND every downstream consumer keyed by user_id (the changed_scores
    window, the per-user groupBys) — so the whole epss_* domain family
    does its per-user work on a single shuffle of the events table.
    max_by(value, struct(ts, event_id)) == the desc row_number pick,
    NULL-at-winner included."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.repartition("user_id")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias("value"))
    )


@register(
    "epss_current_scores",
    f"""
    WITH {_DAILY_SQL}
    SELECT user_id, max(d) AS as_of, max_by(value, d) AS value
    FROM daily GROUP BY user_id
    """,
)
def epss_current_scores(spark, sf_dir):
    # TODO.md:8 "current score per CVE": latest daily snapshot per key.
    # max_by/min_by are exact picks (no float accumulation) -> hash-safe.
    return _daily(spark, sf_dir).groupBy("user_id").agg(
        F.max("d").alias("as_of"), F.max_by("value", "d").alias("value")
    )


@register(
    "epss_summary",
    f"""
    WITH {_DAILY_SQL}
    SELECT user_id,
           COUNT(*) AS n_days,
           MIN(d) AS first_date, MAX(d) AS last_date,
           MIN(value) AS min_value, MAX(value) AS max_value,
           min_by(value, d) AS first_val, max_by(value, d) AS last_val
    FROM daily GROUP BY user_id
    """,
)
def epss_summary(spark, sf_dir):
    # TODO.md:8-13 per-key lifetime summary (first/last/min/max/count).
    # All aggregates are picks or counts — no cross-engine float-sum drift.
    return _daily(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min("d").alias("first_date"),
        F.max("d").alias("last_date"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min_by("value", "d").alias("first_val"),
        F.max_by("value", "d").alias("last_val"),
    )


@register(
    "epss_volume_stats",
    f"""
    WITH {_DAILY_SQL},
    {_DIFFED_SQL},
    q AS (
      SELECT user_id, d FROM diffed
      WHERE prev_value IS NULL OR value - prev_value <> 0
    ),
    chg AS (SELECT d, COUNT(*) AS n_changed FROM q GROUP BY d)
    SELECT dy.d, dy.n_scores, dy.min_value, dy.max_value,
           COALESCE(c.n_changed, 0) AS n_changed
    FROM (SELECT d, COUNT(*) AS n_scores, MIN(value) AS min_value,
                 MAX(value) AS max_value
          FROM daily GROUP BY d) dy
    LEFT JOIN chg c ON dy.d = c.d
    """,
)
def epss_volume_stats(spark, sf_dir):
    # NOTES.md:15-31 daily volume table: per-day score counts + change counts.
    #
    # ONE pass over the snapshot (round 5): the change flag is a lag window
    # on the same hash(user_id) partitioning _daily already produced (no
    # exchange), so a single groupBy("d") yields both the volume stats and
    # the change counts — the previous two-branch formulation computed
    # _daily TWICE (Spark does not reuse common subplans: two full user_id
    # shuffles of the events table) and joined the per-day aggregates back.
    # The flag mirrors changed_scores' keep_first condition exactly
    # (prev IS NULL or delta <> 0; a NULL value after a non-NULL prev gives
    # NULL delta -> not counted), pinned by the unchanged DuckDB oracle.
    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("d")
    prev = F.lag("value").over(w)
    chg = F.when(prev.isNull() | ((F.col("value") - prev) != 0), 1).otherwise(0)
    return (
        daily.withColumn("__chg", chg)
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_scores"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum("__chg").alias("n_changed"),
        )
        .select("d", "n_scores", "min_value", "max_value", "n_changed")
    )


@register(
    "epss_top_movers",
    f"""
    WITH {_DAILY_SQL},
    {_DIFFED_SQL},
    moves AS (
      SELECT user_id, d, value, value - prev_value AS delta
      FROM diffed WHERE prev_value IS NOT NULL AND value - prev_value <> 0
    )
    SELECT user_id, d, value, delta, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY d ORDER BY abs(delta) DESC, user_id) AS rk
      FROM moves
    ) WHERE rk <= 3
    """,
)
def epss_top_movers(spark, sf_dir):
    # TODO.md:33-34 trending detection: biggest per-day |delta|, top-3.
    # delta is the same double subtraction on both engines -> bit-identical.
    moves = changed_scores(
        _daily(spark, sf_dir), key="user_id", time="d", value="value", keep_first=False
    )
    w = Window.partitionBy("d").orderBy(F.abs(F.col("delta")).desc(), F.col("user_id"))
    return (
        moves.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "d", "value", "delta", "rk")
    )


@register(
    "epss_reconstruct_dense",
    f"""
    WITH {_DAILY_SQL},
    {_DIFFED_SQL},
    q AS (
      SELECT user_id, d, value FROM diffed
      WHERE prev_value IS NULL OR value - prev_value <> 0
    ),
    days AS (SELECT DISTINCT d FROM daily),
    keys AS (SELECT DISTINCT user_id FROM q),
    grid AS (SELECT k.user_id, dy.d FROM keys k CROSS JOIN days dy),
    joined AS (
      SELECT g.user_id, g.d, q.value
      FROM grid g LEFT JOIN q ON g.user_id = q.user_id AND g.d = q.d
    ),
    filled AS (
      SELECT user_id, d,
             last_value(value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
      FROM joined
    )
    SELECT user_id, d, value FROM filled WHERE value IS NOT NULL
    """,
)
def epss_reconstruct_dense(spark, sf_dir):
    # The inverse of the flagship: quantize then forward-fill back to the
    # dense per-(key, day) matrix (operators/quantize.py::densify). The
    # oracle proves quantization is lossless over the observed day grid.
    #
    # Day spine from the RAW scan, not from _daily: the set of observed
    # days is identical (every event contributes its day), but Spark does
    # not reuse common subplans, so daily.select("d") would re-run the
    # whole snapshot — a second full user_id shuffle of the events table —
    # whereas the raw distinct partial-aggregates to a handful of day rows
    # per task before its (tiny) exchange.
    daily = _daily(spark, sf_dir)
    quantized = changed_scores(daily, key="user_id", time="d", value="value").select(
        "user_id", "d", "value"
    )
    days = T(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    return densify(quantized, days, key="user_id", time="d", value="value")


@register(
    "agg_pivot",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'A'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS A,
           CAST(SUM(CASE WHEN l_returnflag = 'N'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS N,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS R
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_pivot(spark, sf_dir):
    # A4 companion: pivot with an explicit value list (no extra pass to
    # discover pivot keys; single shuffle, map-side partial aggregation).
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(dec2("l_quantity")).cast("double"))
    )
