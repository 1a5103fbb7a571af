"""Core relational query registry — SURVEY.md §2.1-§2.11 operators, each a
PySpark plan plus a DuckDB oracle. These exercise the library modules
(operators/, plans/, sources/, functions/) rather than ad-hoc lambdas, so the
correctness gate covers the actual engine code paths.

Determinism/parity conventions (see registry module docstring):
- money/value columns are 2-dp exact -> DECIMAL(18,2) arithmetic, cast the
  final aggregate to DOUBLE (exact-decimal -> double conversion is identical
  in Spark and DuckDB, so hashes match bit-for-bit);
- every computed column aliased identically on both sides;
- window frames over timestamps use integer microseconds (unix_micros /
  epoch_us) so frame boundaries are engine-independent;
- session timezone pinned to UTC before any timestamp-bearing scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from epss_spark.operators.asof import asof_join
from epss_spark.operators.quantize import changed_scores
from epss_spark.plans.query import Query, apply_query
from epss_spark.registry import register
from epss_spark.schemas import TESTDATA_SCHEMAS
from epss_spark.session import configure_runtime
from epss_spark.sources.readers import read_any
from epss_spark.tables import load_table

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_runtime(spark)
    return load_table(spark, sf_dir, name)


def dec2(col) -> F.Column:
    """Exact 2-dp decimal view of a money column (cross-engine bit parity)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def dsum(col, alias: str) -> F.Column:
    return F.sum(dec2(col)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# §2.7 W1 — the flagship: per-key lag-diff quantization (ref epss/client.py:453-475)
# ---------------------------------------------------------------------------


@register(
    "window_lag_diff",
    """
    WITH d AS (
      SELECT event_id, user_id, ts, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
      FROM events
    )
    SELECT event_id, user_id, ts, value, prev_value,
           value - prev_value AS delta
    FROM d
    WHERE prev_value IS NULL OR value - prev_value <> 0
    """,
)
def window_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = changed_scores(
        ev, key="user_id", time="ts", value="value", tiebreak="event_id", prev_col="prev_value"
    )
    return out.select("event_id", "user_id", "ts", "value", "prev_value", "delta")


# ---------------------------------------------------------------------------
# §2.1 scans
# ---------------------------------------------------------------------------


@register("scan_parquet", "SELECT COUNT(*) AS n FROM lineitem")
def scan_parquet(spark, sf_dir):
    return T(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


def _scratch_copy(spark, sf_dir, name, fmt) -> str:
    """Materialize a one-time CSV/JSONL copy of a testdata table under
    .scratch so the format scans have real files to read (the driver's
    testdata is parquet-only). Idempotent per (sf, table, format)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(SCRATCH, tag, f"{name}_{fmt}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        df = load_table(spark, sf_dir, name)
        if fmt == "csv":
            df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
        else:
            df.coalesce(1).write.mode("overwrite").json(path)
    return path


@register("scan_csv", "SELECT r_regionkey, r_name FROM region")
def scan_csv(spark, sf_dir):
    configure_runtime(spark)
    path = _scratch_copy(spark, sf_dir, "region", "csv")
    return read_any(spark, path, "csv", TESTDATA_SCHEMAS["region"])


@register("scan_jsonl", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_jsonl(spark, sf_dir):
    configure_runtime(spark)
    path = _scratch_copy(spark, sf_dir, "nation", "jsonl")
    return read_any(spark, path, "jsonl", TESTDATA_SCHEMAS["nation"])


@register(
    "date_sequence",
    """
    SELECT CAST(gs AS DATE) AS d
    FROM generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY) t(gs)
    """,
)
def date_sequence(spark, sf_dir):
    # §2.1 S7 (ref epss/util.py:256-262) as a relational source
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )


# ---------------------------------------------------------------------------
# §2.3 projections / §2.4 filters
# ---------------------------------------------------------------------------


@register("project_select", "SELECT c_custkey, c_name, c_acctbal FROM customer")
def project_select(spark, sf_dir):
    # ref epss/client.py:264 — canonical select; column pruning reaches the scan
    return T(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")


@register(
    "filter_range",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """,
)
def filter_range(spark, sf_dir):
    # ref epss/client.py:278-288 numeric range predicates (pushed to parquet)
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_discount").between(0.05, 0.07) & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")


@register(
    "filter_zero_bound",
    """
    SELECT event_id, user_id, value FROM events
    WHERE value >= 0.0 AND value <= 50.0
    """,
)
def filter_zero_bound(spark, sf_dir):
    # Pins the truthiness divergence: the reference ignores 0.0 bounds
    # (epss/client.py:278-288); our Query treats them as real bounds.
    q = Query(min_value=0.0, max_value=50.0, value_col="value")
    return apply_query(T(spark, sf_dir, "events"), q).select("event_id", "user_id", "value")


@register(
    "filter_rlike",
    "SELECT p_partkey, p_name FROM part WHERE regexp_matches(p_name, 'wid|bolt')",
)
def filter_rlike(spark, sf_dir):
    # reference-parity watch-list matching: unescaped regex alternation
    # (epss/client.py:275-276)
    q = Query(ids=("wid", "bolt"), match="rlike", id_col="p_name")
    return apply_query(T(spark, sf_dir, "part"), q).select("p_partkey", "p_name")


@register(
    "filter_isin",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_21')
    """,
)
def filter_isin(spark, sf_dir):
    q = Query(ids=("NATION_3", "NATION_7", "NATION_21"), match="isin", id_col="n_name")
    return apply_query(T(spark, sf_dir, "nation"), q)


@register(
    "filter_date_window",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1997-06-30 23:59:59'
    """,
)
def filter_date_window(spark, sf_dir):
    # ref epss/client.py:272-273 — the predicate that becomes partition
    # pruning on a date-partitioned layout
    q = Query(
        min_time="1996-01-01 00:00:00", max_time="1997-06-30 23:59:59", time_col="o_orderdate"
    )
    return apply_query(T(spark, sf_dir, "orders"), q).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# §2.5 joins
# ---------------------------------------------------------------------------


@register(
    "join_inner",
    """
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner(spark, sf_dir):
    # customer scales with the data — no explicit broadcast hint; AQE picks
    # broadcast at small scale and sort-merge once it outgrows the threshold.
    o, c = T(spark, sf_dir, "orders"), T(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@register(
    "join_multi",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def join_multi(spark, sf_dir):
    # TPC-H Q5 shape. Only the genuinely fixed-size dims (nation: 25 rows,
    # region: 5 rows) carry explicit broadcast hints. orders and customer
    # scale with the data — lineitem⋈orders is fact-fact — so their strategy
    # is left to AQE: broadcast while under the threshold at small SF,
    # sort-merge (with skew splitting) at cluster scale. An explicit hint
    # there would force a multi-TB broadcast at 100 TB and OOM the executors.
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("n_name")
        .agg(
            F.sum(dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark, sf_dir):
    c, o = T(spark, sf_dir, "customer"), T(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def join_anti(spark, sf_dir):
    c, o = T(spark, sf_dir, "customer"), T(spark, sf_dir, "orders")
    o_p = o.filter(F.col("o_orderstatus") == "P")
    return c.join(o_p, c.c_custkey == o_p.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_theta",
    """
    SELECT o.o_orderkey, c.c_custkey, o.o_totalprice, c.c_acctbal
    FROM orders o JOIN customer c
      ON o.o_custkey = c.c_custkey AND o.o_totalprice > c.c_acctbal
    """,
)
def join_theta(spark, sf_dir):
    # equi key + theta residual: stays a hash join with a post-probe filter,
    # never a cartesian — the shape that survives scale. customer is a fact
    # table (scales with SF), so no broadcast hint: AQE decides per size.
    o, c = T(spark, sf_dir, "orders"), T(spark, sf_dir, "customer")
    return o.join(
        c,
        (o.o_custkey == c.c_custkey) & (o.o_totalprice > c.c_acctbal),
    ).select("o_orderkey", "c_custkey", "o_totalprice", "c_acctbal")


@register(
    "join_asof",
    """
    WITH purchases AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ),
    clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, c.ts, p.value AS last_purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def join_asof(spark, sf_dir):
    # As-of join (SURVEY §2.5): the scalable union+window formulation — one
    # shuffle on user_id, no per-row range probe. DuckDB's native ASOF JOIN
    # is the oracle.
    ev = T(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purch = (
        purch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = asof_join(clicks, purch, key="user_id", left_time="ts", right_values=["value"])
    return out.select("event_id", "user_id", "ts", F.col("value").alias("last_purchase_value"))


@register(
    "join_asof_tolerance",
    """
    WITH purchases AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ),
    clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, c.ts,
           CASE WHEN p.ts >= c.ts - INTERVAL 6 HOUR THEN p.value END
             AS recent_purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def join_asof_tolerance(spark, sf_dir):
    # As-of join with a staleness bound (pandas merge_asof `tolerance`
    # parity): matches older than 6h are nulled out. Same single
    # union+window shuffle as join_asof — tolerance is a post-fill
    # null-out, because the matched row is by construction the NEAREST
    # prior one (any other candidate is staler). Oracle: DuckDB native
    # ASOF JOIN + the same staleness CASE.
    ev = T(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purch = (
        purch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = asof_join(
        clicks, purch, key="user_id", left_time="ts", right_values=["value"],
        tolerance=6 * 3600 * 1_000_000,
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("value").alias("recent_purchase_value")
    )


# ---------------------------------------------------------------------------
# §2.6 aggregations
# ---------------------------------------------------------------------------


@register(
    "agg_groupby",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark, sf_dir):
    # TPC-H Q1 shape (SURVEY §2.6 A1). Hash aggregate with partial+final
    # phases — map-side combine is automatic.
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        F.sum(dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        (F.sum(dec2("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_distinct",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_distinct(spark, sf_dir):
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark, sf_dir):
    return (
        T(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
    )


@register(
    "agg_stats",
    """
    SELECT event_type,
           CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_v,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_stats(spark, sf_dir):
    # per-key summary stats (SURVEY §2.6 A1, ref TODO.md:8-13)
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.min(dec2("value")).cast("double").alias("min_v"),
            F.max(dec2("value")).cast("double").alias("max_v"),
            dsum("value", "sum_v"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# §2.7 windows W2-W4
# ---------------------------------------------------------------------------


@register(
    "window_percent_rank",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS pr
    FROM customer
    """,
)
def window_percent_rank(spark, sf_dir):
    # W2: recompute the reference's precomputed `percentile` column
    # (ref README.md:96-103, constants.py:34)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return T(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal", F.percent_rank().over(w).alias("pr")
    )


@register(
    "window_range_frame",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing_30d
    FROM events
    """,
)
def window_range_frame(spark, sf_dir):
    # W3: trailing 30-day window (ref TODO.md:8-20). Frame over integer
    # microseconds so boundaries are engine-exact.
    #
    # Optimization r14 (guide §2.3, narrower types): Spark's sliding
    # RANGE frame has no retraction — every row re-folds its frame
    # buffer — so the per-element add dominates. Summing BIGINT cents
    # instead of DECIMAL(18,2) objects is 2.7x at bench scale and
    # value-identical by construction: CAST(value AS DECIMAL(18,2)) is
    # exactly 2dp, so *100 -> LONG is exact; LONG frame sums are exact
    # (|sum| << 2^63: cents per row are bounded and a frame holds at
    # most one user's 30 days); DECIMAL(20,0)/100 -> DECIMAL(26,6) is
    # exact at 2dp; and the final cast to DOUBLE is the same correctly
    # rounded value the DECIMAL(28,2) sum produced. NULLs: cents is
    # NULL iff value is NULL, and sum skips NULLs in both forms.
    # Verified 0 mismatches over the 12.8M-row bench replica and the
    # DuckDB oracle (unchanged) at sf0.001/sf0.01.
    #
    # Magnitude precondition (ADVICE r14): the BIGINT cents sum is
    # exact while |sum over any one frame| < 2^63 cents (~9.2e16 = ~92
    # trillion in value units) — the events-table contract (bounded
    # per-event values, one user's 30 days per frame) sits ~9 orders of
    # magnitude under it. Inputs engineered to exceed it (e.g. rows at
    # the DECIMAL(18,2) ceiling of 1e16 stacked >9 deep in one frame)
    # would wrap non-ANSI instead of the old DECIMAL sum's visible
    # NULL; if the table contract ever admits such magnitudes, revert
    # to the DECIMAL(28,2) frame sum or add an ANSI try_sum guard.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-30 * 86400 * 1_000_000, 0)
    )
    sum_cents = F.sum((dec2("value") * 100).cast("long")).over(w)
    return T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        (sum_cents.cast("decimal(20,0)") / 100).cast("double").alias("trailing_30d"),
    )


@register(
    "window_running_sum",
    """
    WITH per_line AS (
      SELECT l_orderkey, l_linenumber,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS line_price
      FROM lineitem GROUP BY l_orderkey, l_linenumber
    )
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(line_price) OVER (
                 PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_price
    FROM per_line
    """,
)
def window_running_sum(spark, sf_dir):
    # (l_orderkey, l_linenumber) is not unique in the testdata, and a ROWS
    # frame over a non-unique order is nondeterministic — pre-aggregate to
    # one row per line so the running sum has a total order.
    per_line = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum(dec2("l_extendedprice")).alias("line_price"))
    )
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_line.select(
        "l_orderkey",
        "l_linenumber",
        F.sum("line_price").over(w).cast("double").alias("running_price"),
    )


@register(
    "window_rank",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk,
           dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS drnk,
           row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM customer
    """,
)
def window_rank(spark, sf_dir):
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
    )


# ---------------------------------------------------------------------------
# §2.8 sorts / top-k
# ---------------------------------------------------------------------------


@register(
    "sort_multi",
    "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders ORDER BY o_orderdate ASC, o_orderkey DESC",
)
def sort_multi(spark, sf_dir):
    # O1: the reference's composite canonical order expressed as one total
    # order (Polars got it from successive stable sorts, epss/client.py:235-236)
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").desc())
    )


@register(
    "topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def topk(spark, sf_dir):
    # O5: orderBy+limit plans as TakeOrderedAndProject — no global sort.
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# §2.9 set ops
# ---------------------------------------------------------------------------


@register(
    "setop_union",
    """
    SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 12
    UNION ALL
    SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 12
    """,
)
def setop_union(spark, sf_dir):
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return n.filter(F.col("n_nationkey") < 12).unionByName(n.filter(F.col("n_nationkey") >= 12))


@register(
    "setop_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def setop_except(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.subtract(o)  # distinct EXCEPT, matching SQL set semantics


@register(
    "setop_intersect",
    """
    SELECT c_custkey FROM customer
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def setop_intersect(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.intersect(o)


@register(
    "dedup_exact",
    """
    SELECT event_id, user_id, event_type, value FROM (
      SELECT event_id, user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_exact(spark, sf_dir):
    # U3: deterministic exact dedup — representative row = lowest event_id
    # (dropDuplicates keeps an arbitrary row; this variant is reproducible)
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        T(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# §2.10 scalar functions
# ---------------------------------------------------------------------------


@register(
    "scalar_round",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2)), 2) AS DOUBLE) AS disc_amount
    FROM lineitem
    """,
)
def scalar_round(spark, sf_dir):
    # C3: rounding parity — decimal ROUND is half-away-from-zero in both
    # engines for positive values and exact (no binary-float boundary drift).
    return T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(dec2("l_extendedprice") * dec2("l_discount"), 2)
        .cast("double")
        .alias("disc_amount"),
    )


@register(
    "scalar_dates",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           CAST(o_orderdate AS DATE) + 30 AS d_plus30,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
           CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS yr,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    """,
)
def scalar_dates(spark, sf_dir):
    # C4/C6/C8/C9: date parse/arith/format (ref epss/util.py:265-290,
    # json_encoder.py:5-9, scripts/epss.sh:164-170)
    o = T(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.date_add(d, 30).alias("d_plus30"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.year("o_orderdate").alias("yr"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@register(
    "scalar_strings",
    """
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           upper(p_brand) AS brand_u,
           length(p_name) AS name_len,
           substring(p_type, 1, 4) AS type_pfx,
           concat(p_brand, ':', p_type) AS brand_type
    FROM part
    """,
)
def scalar_strings(spark, sf_dir):
    # C1/C7: string/regex suite (ref epss/util.py:242-247 regex-extract)
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 4).alias("type_pfx"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


@register(
    "json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def json_extract(spark, sf_dir):
    # extension-phase JSON scalar over events.props (SURVEY §2.10 note)
    return T(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


# ---------------------------------------------------------------------------
# §2.11 SQL surface — ONE SQL string runs on both engines verbatim
# ---------------------------------------------------------------------------

_SQL_SINGLE = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""

_SQL_MULTI = """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY c.c_mktsegment
"""


@register("sql_single", _SQL_SINGLE)
def sql_single(spark, sf_dir):
    # Q1 (ref epss/util.py:55-59): register one view, run SQL. The oracle is
    # the SAME string — Spark SQL and DuckDB both parse it.
    configure_runtime(spark)
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SQL_SINGLE)


@register("sql_multi", _SQL_MULTI)
def sql_multi(spark, sf_dir):
    # Q2 (ref epss/util.py:62-66): register many views, run a join query.
    configure_runtime(spark)
    T(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    T(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_SQL_MULTI)


# ---------------------------------------------------------------------------
# EPSS domain composite — daily quantization end-to-end on the events table
# ---------------------------------------------------------------------------


@register(
    "epss_quantize_daily",
    """
    WITH daily AS (
      SELECT user_id, d, value FROM (
        SELECT user_id, CAST(ts AS DATE) AS d, value,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    diffed AS (
      SELECT user_id, d, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY d) AS prev_value
      FROM daily
    )
    SELECT user_id, d, value, prev_value FROM diffed
    WHERE prev_value IS NULL OR value - prev_value <> 0
    """,
)
def epss_quantize_daily(spark, sf_dir):
    # The reference's end-to-end lifecycle (epss/client.py:202-237) mapped to
    # the events table: snapshot = last value per (user, day), then quantize.
    #
    # ONE-exchange plan (round 5, measured ~20% faster at 12.8M rows and
    # one fewer shuffle at any scale): repartition by user_id up front;
    # the (user, day) snapshot is then a hash AGGREGATE whose required
    # clustering {user_id, d} is already satisfied (user_id ⊆ grouping
    # keys ⇒ no exchange, no sort — unlike the previous row_number window,
    # which exchanged AND fully sorted on (user_id, day)), and the lag
    # window downstream reuses the same hash(user_id) partitioning.
    # max_by(value, struct(ts, event_id)) == the row_number()-desc pick,
    # including a NULL value at the winning row (verified: Spark max_by
    # returns x at max y even when x IS NULL).
    ev = T(spark, sf_dir, "events")
    daily = (
        ev.repartition("user_id")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias("value"))
    )
    out = changed_scores(daily, key="user_id", time="d", value="value", prev_col="prev_value")
    return out.select("user_id", "d", "value", "prev_value")


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark, sf_dir):
    # A4 companion: full cube (rollup covers the hierarchy case)
    return (
        T(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
    )


@register(
    "window_lead_ntile",
    """
    SELECT event_id, user_id, value,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
           ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS quartile
    FROM events
    """,
)
def window_lead_ntile(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.lead("value").over(w).alias("next_value"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "scalar_math",
    """
    SELECT p_partkey,
           abs(p_size - 25) AS size_dev,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           round(sqrt(CAST(p_size AS DOUBLE)), 6) AS size_sqrt,
           p_size % 7 AS size_mod,
           greatest(p_size, 10) AS size_clamped,
           CASE WHEN p_size > 25 THEN 'large' WHEN p_size > 10 THEN 'medium'
                ELSE 'small' END AS size_class
    FROM part
    """,
)
def scalar_math(spark, sf_dir):
    # numeric scalar suite: sqrt of small ints + round(6) is exact in both
    # engines (same doubles in, same rounding of well-separated values)
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.round(F.sqrt(F.col("p_size").cast("double")), 6).alias("size_sqrt"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.greatest(F.col("p_size"), F.lit(10)).alias("size_clamped"),
        F.when(F.col("p_size") > 25, "large")
        .when(F.col("p_size") > 10, "medium")
        .otherwise("small")
        .alias("size_class"),
    )


@register(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    # explicit grouping sets via the SQL surface (the DataFrame API only
    # exposes rollup/cube); same string runs on both engines
    configure_runtime(spark)
    T(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )
