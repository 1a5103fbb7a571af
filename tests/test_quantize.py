"""Golden semantic tests for the quantization kernel (FIXTURES.md §1.3).

The reference's behavior (epss/client.py:453-475) pinned on hand-computed
tiny histories: every-day changers, never-changers, return-to-prior-value,
mid-range appearance, single-day ranges, and the first-day prefetch
semantics (intended behavior per reference TODO.md:3) — plus the
hypothesis laws that must hold for ANY score history.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from epss_spark.operators.quantize import (
    changed_scores,
    densify,
    incremental_changed_scores,
    quantize,
)
from epss_spark.plans.query import Query, apply_query

D = dt.date


def _scores(spark, rows):
    return spark.createDataFrame(rows, "date date, cve string, epss double")


def test_changed_scores_golden(spark):
    df = _scores(
        spark,
        [
            # changes every day -> all rows kept
            (D(2024, 1, 1), "CVE-A", 0.1),
            (D(2024, 1, 2), "CVE-A", 0.2),
            (D(2024, 1, 3), "CVE-A", 0.3),
            # never changes -> only first observation kept
            (D(2024, 1, 1), "CVE-B", 0.5),
            (D(2024, 1, 2), "CVE-B", 0.5),
            (D(2024, 1, 3), "CVE-B", 0.5),
            # returns to a prior value -> the return IS a change
            (D(2024, 1, 1), "CVE-C", 0.7),
            (D(2024, 1, 2), "CVE-C", 0.9),
            (D(2024, 1, 3), "CVE-C", 0.7),
            # appears mid-range -> lag null -> kept as a change
            (D(2024, 1, 3), "CVE-D", 0.4),
        ],
    )
    out = changed_scores(df).select("date", "cve", "epss").collect()
    got = {(r.date, r.cve): r.epss for r in out}
    assert got == {
        (D(2024, 1, 1), "CVE-A"): 0.1,
        (D(2024, 1, 2), "CVE-A"): 0.2,
        (D(2024, 1, 3), "CVE-A"): 0.3,
        (D(2024, 1, 1), "CVE-B"): 0.5,
        (D(2024, 1, 1), "CVE-C"): 0.7,
        (D(2024, 1, 2), "CVE-C"): 0.9,
        (D(2024, 1, 3), "CVE-C"): 0.7,
        (D(2024, 1, 3), "CVE-D"): 0.4,
    }


def test_null_value_policy(spark):
    """Documented NULL semantics: mid-stream NULL-valued rows are dropped
    (NULL delta fails `!= 0`) and the next row restarts as a first
    observation — x -> NULL -> x emits x twice, not the NULL. A key whose
    FIRST in-range row is NULL emits it (first-observation branch keeps
    the first row regardless of value)."""
    df = _scores(
        spark,
        [
            (D(2024, 1, 1), "CVE-N", 0.3),
            (D(2024, 1, 2), "CVE-N", None),
            (D(2024, 1, 3), "CVE-N", 0.3),  # same value, but after a NULL gap
            (D(2024, 1, 4), "CVE-N", 0.3),  # genuinely unchanged -> dropped
            (D(2024, 1, 1), "CVE-O", None),  # starts with NULL
            (D(2024, 1, 2), "CVE-O", 0.7),
        ],
    )
    got = [(r.date, r.cve, r.epss) for r in changed_scores(df).orderBy("cve", "date").collect()]
    assert got == [
        (D(2024, 1, 1), "CVE-N", 0.3),
        (D(2024, 1, 3), "CVE-N", 0.3),
        (D(2024, 1, 1), "CVE-O", None),  # first-row NULL kept as first obs
        (D(2024, 1, 2), "CVE-O", 0.7),
    ]


def test_quantize_first_day_prefetch(spark):
    """min_time scans one day earlier for diffing, then drops warm-up rows:
    a value unchanged across the boundary must NOT appear on min_date."""
    df = _scores(
        spark,
        [
            (D(2024, 1, 1), "CVE-A", 0.5),
            (D(2024, 1, 2), "CVE-A", 0.5),  # unchanged on min_date -> dropped
            (D(2024, 1, 3), "CVE-A", 0.6),
            (D(2024, 1, 1), "CVE-B", 0.1),
            (D(2024, 1, 2), "CVE-B", 0.2),  # changed on min_date -> kept
        ],
    )
    out = quantize(df, min_time=D(2024, 1, 2), max_time=D(2024, 1, 3))
    got = {(r.date, r.cve) for r in out.collect()}
    assert got == {(D(2024, 1, 3), "CVE-A"), (D(2024, 1, 2), "CVE-B")}


def test_quantize_single_day(spark):
    df = _scores(spark, [(D(2024, 1, 2), "CVE-A", 0.5), (D(2024, 1, 2), "CVE-B", 0.1)])
    out = quantize(df, min_time=D(2024, 1, 2), max_time=D(2024, 1, 2))
    assert out.count() == 2  # degenerates to the plain snapshot


def test_densify_roundtrip(spark):
    """densify(quantize(dense)) == dense on the observed grid."""
    rows = []
    for i, cve in enumerate(["CVE-A", "CVE-B", "CVE-C"]):
        vals = {
            "CVE-A": [0.1, 0.1, 0.3, 0.3, 0.3],
            "CVE-B": [0.5, 0.5, 0.5, 0.5, 0.5],
            "CVE-C": [0.2, 0.4, 0.2, 0.2, 0.9],
        }[cve]
        for d, v in enumerate(vals):
            rows.append((D(2024, 1, 1 + d), cve, v))
    dense = _scores(spark, rows)
    q = changed_scores(dense).select("date", "cve", "epss")
    dates = spark.createDataFrame([(D(2024, 1, 1 + i),) for i in range(5)], "date date")
    back = densify(q, dates)
    got = {(r.date, r.cve): r.epss for r in back.collect()}
    want = {(r[0], r[1]): r[2] for r in rows}
    assert got == want


def test_incremental_equals_full(spark):
    """Append-only invariant: quantized(days 1..6) + incremental(days 7..10)
    == quantized(days 1..10), on a randomized 20-key history that includes
    keys changing at / across / only-after the boundary."""
    import random

    rng = random.Random(7)
    rows = []
    for k in range(20):
        v = 0.5
        start = rng.choice([0, 0, 0, 7])  # some keys first appear after the boundary
        for d in range(start, 10):
            if rng.random() < 0.4:
                v = round(rng.random(), 2)
            rows.append((D(2024, 1, 1) + dt.timedelta(days=d), f"CVE-{k}", v))
    dense = _scores(spark, rows)
    boundary = D(2024, 1, 6)
    full = changed_scores(dense)
    prev = changed_scores(dense.filter(F.col("date") <= F.lit(boundary)))
    inc = incremental_changed_scores(
        prev, dense.filter(F.col("date") > F.lit(boundary)), since=boundary
    )
    key = lambda r: (r.date, r.cve, r.epss)  # noqa: E731
    want = sorted(map(key, full.filter(F.col("date") > F.lit(boundary)).collect()))
    got = sorted(map(key, inc.collect()))
    assert got == want and len(got) > 0


def test_incremental_null_gap_at_boundary(spark):
    """The store swallows mid-stream NULL rows, so a history 0.5, NULL, 0.5
    split after the NULL cannot be seeded from the store alone: full
    quantization emits the post-gap restart row (lag over the NULL row is
    NULL -> first observation). Seeding from `raw_tail` (the raw day-`since`
    snapshot) restores exact parity."""
    dense = _scores(
        spark,
        [
            # NULL gap exactly at the boundary; value returns unchanged
            (D(2024, 1, 1), "CVE-G", 0.5),
            (D(2024, 1, 2), "CVE-G", None),
            (D(2024, 1, 3), "CVE-G", 0.5),
            # control: no gap, unchanged across the boundary -> no emission
            (D(2024, 1, 1), "CVE-H", 0.4),
            (D(2024, 1, 2), "CVE-H", 0.4),
            (D(2024, 1, 3), "CVE-H", 0.4),
            # gap then a genuinely new value
            (D(2024, 1, 1), "CVE-I", 0.2),
            (D(2024, 1, 2), "CVE-I", None),
            (D(2024, 1, 3), "CVE-I", 0.9),
        ],
    )
    boundary = D(2024, 1, 2)
    full = changed_scores(dense)
    prev = changed_scores(dense.filter(F.col("date") <= F.lit(boundary)))
    inc = incremental_changed_scores(
        prev,
        dense.filter(F.col("date") > F.lit(boundary)),
        since=boundary,
        raw_tail=dense.filter(F.col("date") == F.lit(boundary)),
    )
    key = lambda r: (r.date, r.cve, r.epss)  # noqa: E731
    want = sorted(map(key, full.filter(F.col("date") > F.lit(boundary)).collect()))
    got = sorted(map(key, inc.collect()))
    assert got == want
    assert (D(2024, 1, 3), "CVE-G", 0.5) in got  # the restart row survives


def test_incremental_equals_full_with_nulls(spark):
    """Randomized invariant including NULL-valued rows: with raw_tail
    covering each key's last raw row at the boundary, incremental ==
    full re-quantization even across NULL gaps."""
    import random

    rng = random.Random(11)
    rows = []
    for k in range(20):
        v = 0.5
        for d in range(10):
            if rng.random() < 0.35:
                v = round(rng.random(), 2)
            rows.append(
                (D(2024, 1, 1) + dt.timedelta(days=d), f"CVE-{k}", None if rng.random() < 0.2 else v)
            )
    dense = _scores(spark, rows)
    boundary = D(2024, 1, 6)
    full = changed_scores(dense)
    prev = changed_scores(dense.filter(F.col("date") <= F.lit(boundary)))
    inc = incremental_changed_scores(
        prev,
        dense.filter(F.col("date") > F.lit(boundary)),
        since=boundary,
        raw_tail=dense.filter(F.col("date") <= F.lit(boundary)),
    )
    key = lambda r: (r.date, r.cve, r.epss)  # noqa: E731
    want = sorted(map(key, full.filter(F.col("date") > F.lit(boundary)).collect()))
    got = sorted(map(key, inc.collect()))
    assert got == want and len(got) > 0


def test_incremental_stale_raw_tail_degrades_to_store(spark):
    """A raw_tail that violates the documented precondition (its last row
    for a key is OLDER than the store's latest change) must not silently
    seed the outdated value: the seed window orders by (time desc, prio
    asc), so the newer store row outranks the stale raw row and the result
    degrades gracefully to the store-only seed."""
    dense = _scores(
        spark,
        [
            (D(2024, 1, 1), "CVE-S", 0.3),
            (D(2024, 1, 2), "CVE-S", 0.7),  # store's latest change
            (D(2024, 1, 3), "CVE-S", 0.7),  # unchanged -> must NOT re-emit
        ],
    )
    boundary = D(2024, 1, 2)
    prev = changed_scores(dense.filter(F.col("date") <= F.lit(boundary)))
    inc = incremental_changed_scores(
        prev,
        dense.filter(F.col("date") > F.lit(boundary)),
        since=boundary,
        # stale: only covers day 1, older than the store's day-2 change
        raw_tail=dense.filter(F.col("date") == F.lit(D(2024, 1, 1))),
    )
    assert inc.count() == 0  # stale 0.3 seed would wrongly emit day-3 0.7


def test_quantize_compression_property(spark):
    """Quantized output is never larger than the dense input, and each key
    keeps at least its first observation."""
    import random

    rng = random.Random(42)
    rows = []
    for k in range(20):
        v = 0.5
        for d in range(30):
            if rng.random() < 0.3:
                v = round(rng.random(), 2)
            rows.append((D(2024, 1, 1) + dt.timedelta(days=d), f"CVE-{k}", v))
    dense = _scores(spark, rows)
    q = changed_scores(dense)
    n_q, n_d = q.count(), dense.count()
    assert n_q <= n_d
    assert q.select("cve").distinct().count() == 20
    # consecutive rows per key never repeat a value
    w_rows = q.orderBy("cve", "date").collect()
    prev = {}
    for r in w_rows:
        if r.cve in prev:
            assert r.epss != prev[r.cve], f"unchanged row survived for {r.cve}"
        prev[r.cve] = r.epss


# --- property laws (hypothesis): must hold for ANY score history ---------

D0 = dt.date(2024, 1, 1)

# a history: per key, a list of daily values (possibly with gaps = None)
histories = st.dictionaries(
    keys=st.sampled_from([f"CVE-{i}" for i in range(6)]),
    values=st.lists(
        st.one_of(st.none(), st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9])),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=6,
)


def _to_rows(hist):
    rows = []
    for cve, vals in hist.items():
        for day, v in enumerate(vals):
            if v is not None:
                rows.append((D0 + dt.timedelta(days=day), cve, float(v)))
    return rows


_settings = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(hist=histories)
@_settings
def test_quantize_then_densify_reconstructs(spark, hist):
    rows = _to_rows(hist)
    if not rows:
        return
    dense = spark.createDataFrame(rows, "date date, cve string, epss double")
    q = changed_scores(dense).select("date", "cve", "epss")
    all_dates = dense.select("date").distinct()
    back = densify(q, all_dates)
    got = {(r.date, r.cve): r.epss for r in back.collect()}
    # every original observation is reconstructed exactly (forward-fill can
    # also fill gap days — those are supersets, not errors)
    for d, cve, v in rows:
        assert got.get((d, cve)) == v, (d, cve, v, got.get((d, cve)))


@given(hist=histories)
@_settings
def test_quantize_never_grows_and_keeps_first(spark, hist):
    rows = _to_rows(hist)
    if not rows:
        return
    dense = spark.createDataFrame(rows, "date date, cve string, epss double")
    q = changed_scores(dense)
    assert q.count() <= dense.count()
    assert q.select("cve").distinct().count() == dense.select("cve").distinct().count()


@given(hist=histories, lo=st.sampled_from([0.0, 0.2, 0.5]))
@_settings
def test_key_filter_commutes_with_quantization(spark, hist, lo):
    """Filtering on the KEY commutes with quantization (value filters do
    not — that asymmetry is the point of quantize-then-filter ordering)."""
    rows = _to_rows(hist)
    if not rows:
        return
    keep = {k for k in hist if hash(k) % 2 == 0}
    dense = spark.createDataFrame(rows, "date date, cve string, epss double")
    q_then_f = changed_scores(dense).filter(dense.cve.isin(*keep) if keep else dense.cve.isNull())
    f_then_q = changed_scores(dense.filter(dense.cve.isin(*keep) if keep else dense.cve.isNull()))
    a = {(r.date, r.cve, r.epss) for r in q_then_f.collect()}
    b = {(r.date, r.cve, r.epss) for r in f_then_q.collect()}
    assert a == b


def test_zero_bound_query_on_quantized(spark):
    """Query with 0.0 bounds composes with quantization (regression for the
    truthiness divergence at the composite level)."""
    rows = [(D0, "CVE-0", 0.0), (D0 + dt.timedelta(days=1), "CVE-0", 0.5), (D0, "CVE-1", 0.2)]
    dense = spark.createDataFrame(rows, "date date, cve string, epss double")
    out = apply_query(changed_scores(dense), Query(min_value=0.0, max_value=0.2, value_col="epss"))
    got = {(r.cve, r.epss) for r in out.collect()}
    assert got == {("CVE-0", 0.0), ("CVE-1", 0.2)}
