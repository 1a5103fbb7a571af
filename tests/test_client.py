"""EPSS client composite tests over a synthetic date-partitioned score
dataset (the canonical physical layout, FIXTURES.md §1.2)."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from epss_spark.client import EPSSClient, get_date_range
from epss_spark.plans.query import Query
from epss_spark.sources.readers import date_partitioned_write

D = dt.date


@pytest.fixture(scope="module")
def scores_path(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scores") / "scores")
    rows = []
    for d in range(5):  # 2023-03-07 .. 2023-03-11 (inside v3 epoch)
        date = D(2023, 3, 7) + dt.timedelta(days=d)
        rows.append((date, "CVE-X", [0.1, 0.1, 0.2, 0.2, 0.3][d], 0.5))
        rows.append((date, "CVE-Y", 0.7, 0.9))
    df = spark.createDataFrame(rows, "date date, cve string, epss double, percentile double")
    date_partitioned_write(df, root)
    return root


def test_date_range_clamps_to_epoch():
    lo, hi = get_date_range("v3", D(2020, 1, 1), D(2023, 3, 9))
    assert lo == D(2023, 3, 7) and hi == D(2023, 3, 9)
    lo, hi = get_date_range("v2", None, None)
    assert lo == D(2022, 2, 4) and hi == D(2023, 3, 6)


def test_date_range_injectable_resolver():
    lo, hi = get_date_range("v3", None, None, max_date_resolver=lambda: D(2024, 1, 31))
    assert hi == D(2024, 1, 31)


def test_get_scores_dense(spark, scores_path):
    client = EPSSClient(spark, scores_path, max_date_resolver=lambda: D(2023, 3, 11))
    out = client.get_scores(D(2023, 3, 8), D(2023, 3, 10)).collect()
    assert len(out) == 6  # 2 cves x 3 days
    assert out[0].date <= out[-1].date  # canonical order date asc


def test_get_changed_scores_first_day_semantics(spark, scores_path):
    client = EPSSClient(spark, scores_path, max_date_resolver=lambda: D(2023, 3, 11))
    out = client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 11)).collect()
    got = {(r.date, r.cve) for r in out}
    # CVE-X: 0.1@07, 0.1@08, 0.2@09, 0.2@10, 0.3@11 -> changes at 09 and 11;
    # 08 is unchanged vs the prefetched 07 row -> dropped (intended semantics,
    # diverging from the reference's +1day sign bug at epss/client.py:212-214)
    # CVE-Y never changes; its first observation (07) is outside the window.
    assert got == {(D(2023, 3, 9), "CVE-X"), (D(2023, 3, 11), "CVE-X")}


def plan_nodes(node):
    """Every node of a physical plan, following adaptive query stages (the
    final plan once the query has run)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from plan_nodes(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from plan_nodes(node.plan())
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from plan_nodes(children.apply(i))


def exchanges(df) -> list[str]:
    """The output partitioning of each shuffle exchange in `df`'s executed
    plan, e.g. `hashpartitioning(cve#3, 200)` or `SinglePartition`."""
    plan = df._jdf.queryExecution().executedPlan()
    return [
        n.outputPartitioning().toString()
        for n in plan_nodes(plan)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]


def scan_metric(plan, name: str) -> int:
    """Sum of the file-scan metric `name` (e.g. numPartitions, numFiles)
    over an executed plan."""
    return sum(
        int(n.metrics().apply(name).value())
        for n in plan_nodes(plan)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    )


def test_get_scores_by_date_partition_pruning(spark, scores_path):
    client = EPSSClient(spark, scores_path)
    client.get_scores_by_date(D(2023, 3, 8)).collect()  # builds the reused scan
    df = client.get_scores_by_date(D(2023, 3, 9))
    assert len(df.collect()) == 2
    # the executed scan read one of the five date partitions, and only its files
    plan = df._jdf.queryExecution().executedPlan()
    day_files = [f for f in os.listdir(os.path.join(scores_path, "date=2023-03-09")) if f.endswith(".parquet")]
    assert scan_metric(plan, "numPartitions") == 1
    assert scan_metric(plan, "numFiles") == len(day_files)


@pytest.fixture(scope="module")
def multi_file_scores(spark, tmp_path_factory):
    """6 days x 40 CVEs written with three files per day, so a sorted
    result must order rows across several input partitions. Each CVE
    changes score on some days and not on others."""
    root = str(tmp_path_factory.mktemp("multi") / "scores")
    rows = [
        (D(2023, 3, 7) + dt.timedelta(days=d), f"CVE-2023-{c:04d}", ((c * 7 + d * (c % 3)) % 10) / 10, 0.5)
        for d in range(6)
        for c in range(40)
    ]
    df = spark.createDataFrame(rows, "date date, cve string, epss double, percentile double")
    df.repartition(3).write.partitionBy("date").parquet(root)
    day = os.path.join(root, "date=2023-03-09")
    assert len([f for f in os.listdir(day) if f.endswith(".parquet")]) == 3
    return root


def canonical(rows):
    """`rows` in the canonical order: date asc, then cve desc."""
    return sorted(sorted(rows, key=lambda r: r.cve, reverse=True), key=lambda r: r.date)


def test_get_scores_by_date_one_job_sort(spark, multi_file_scores):
    """One day is sorted in a single partition: no exchange, and so no
    range-partitioner sampling job, yet a total order over all the day's
    files."""
    client = EPSSClient(spark, multi_file_scores)
    df = client.get_scores_by_date(D(2023, 3, 9))
    got = df.collect()
    assert len(got) == 40 and got == canonical(got)
    assert exchanges(df) == []
    rows, n = jobs_launched(spark, lambda: client.get_scores_by_date(D(2023, 3, 10)).collect())
    assert n == 1 and len(rows) == 40 and rows == canonical(rows)
    client.close()


def test_get_changed_scores_sorted_plan(spark, multi_file_scores):
    """The change events are sorted in one partition after the window: one
    hash exchange for the window, one single-partition exchange for the
    sort, no range exchange and no cached frame."""
    client = EPSSClient(spark, multi_file_scores, max_date_resolver=lambda: D(2023, 3, 12))
    df = client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 12))
    got = df.collect()
    unsorted = client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 12), sort=False).collect()
    assert 0 < len(got) < 200 and got == canonical(unsorted)
    parts = exchanges(df)
    assert not any(p.startswith("rangepartitioning") for p in parts), parts
    assert sum(p.startswith("hashpartitioning") for p in parts) == 1, parts
    assert parts.count("SinglePartition") == 1, parts
    plan = df._jdf.queryExecution().executedPlan()
    assert "InMemoryTableScanExec" not in {n.getClass().getSimpleName() for n in plan_nodes(plan)}
    client.close()


def test_get_scores_with_query(spark, scores_path):
    client = EPSSClient(spark, scores_path, max_date_resolver=lambda: D(2023, 3, 11))
    out = client.get_scores(query=Query(min_value=0.5)).collect()
    assert {r.cve for r in out} == {"CVE-Y"}


def test_query_filters_before_diff(spark, tmp_path):
    """Reference semantics (epss/client.py:219-231): Query predicates apply
    to each day's snapshot BEFORE the day-over-day diff. History 0.5, 0.5,
    0.3, 0.5 with min_value=0.4: the 0.3 day is filtered out, so the final
    0.5 is unchanged vs the last SURVIVING value and must be dropped (a
    post-diff filter would emit it)."""
    import pyspark.sql.functions as F

    rows = [
        (D(2023, 3, 7), "CVE-T", 0.5, 0.5),
        (D(2023, 3, 8), "CVE-T", 0.5, 0.5),
        (D(2023, 3, 9), "CVE-T", 0.3, 0.3),
        (D(2023, 3, 10), "CVE-T", 0.5, 0.5),
    ]
    df = spark.createDataFrame(rows, "date date, cve string, epss double, percentile double")
    root = str(tmp_path / "scores")
    df.write.partitionBy("date").parquet(root)
    client = EPSSClient(spark, root, max_date_resolver=lambda: D(2023, 3, 10))
    out = client.get_changed_scores("2023-03-07", "2023-03-10", query=Query(min_value=0.4)).collect()
    assert [(r.date, r.epss) for r in out] == [(D(2023, 3, 7), 0.5)]


def write_days(spark, root: str, days, dynamic: bool = False, epss: float = 0.1) -> None:
    """Two CVEs per day, one file per day."""
    rows = [(d, cve, epss, 0.5) for d in days for cve in ("CVE-A", "CVE-B")]
    df = spark.createDataFrame(rows, "date date, cve string, epss double, percentile double")
    date_partitioned_write(df.coalesce(1), root, dynamic=dynamic)


def jobs_launched(spark, build):
    """Run `build` under its own job group; return its result and the number
    of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4()}"
    sc.setJobGroup(group, "plan build")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_dataset_listed_once_per_client(spark, tmp_path):
    """40 days is over Spark's 32-path parallel-discovery threshold, so
    building a scan of the root launches a listing job. On one client only
    the first query builds it: later ones launch no job before their action."""
    first = D(2023, 3, 7)
    days = [first + dt.timedelta(days=i) for i in range(40)]
    root = str(tmp_path / "scores")
    write_days(spark, root, days)
    client = EPSSClient(spark, root, max_date_resolver=lambda: days[-1])
    df, n = jobs_launched(spark, lambda: client.get_scores_by_date(days[5]))
    assert n > 0  # the first query lists the dataset
    assert df.count() == 2
    builds = [
        lambda: client.get_scores_by_date(days[20]),
        lambda: client.get_changed_scores(days[1], days[-1]),
        lambda: client.get_scores_by_date(days[-1]),
        lambda: client.get_changed_scores(days[30], days[-1], query=Query(ids=("CVE-A",), match="isin")),
    ]
    for build in builds:
        df, n = jobs_launched(spark, build)
        assert n == 0
        df.collect()
    client.close()


def test_reused_scan_sees_added_and_removed_days(spark, tmp_path):
    root = str(tmp_path / "scores")
    write_days(spark, root, [D(2023, 3, 7), D(2023, 3, 8), D(2023, 3, 9)])
    client = EPSSClient(spark, root, max_date_resolver=lambda: D(2023, 3, 12))

    def days():
        return sorted({r.date for r in client.get_scores().collect()})

    assert days() == [D(2023, 3, 7), D(2023, 3, 8), D(2023, 3, 9)]
    write_days(spark, root, [D(2023, 3, 10)], dynamic=True, epss=0.4)
    # picked up by the same client, with no refresh()
    assert [(r.cve, r.epss) for r in client.get_scores_by_date(D(2023, 3, 10)).collect()] == [
        ("CVE-B", 0.4),
        ("CVE-A", 0.4),
    ]
    assert days() == [D(2023, 3, 7), D(2023, 3, 8), D(2023, 3, 9), D(2023, 3, 10)]
    assert {(r.date, r.cve) for r in client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 12)).collect()} == {
        (D(2023, 3, 10), "CVE-A"),
        (D(2023, 3, 10), "CVE-B"),
    }
    shutil.rmtree(os.path.join(root, "date=2023-03-08"))
    assert days() == [D(2023, 3, 7), D(2023, 3, 9), D(2023, 3, 10)]
    assert client.get_scores_by_date(D(2023, 3, 8)).collect() == []
    assert len(client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 12)).collect()) == 2
    # removed outside Spark, so no cache refresh: the rebuilt scan must not
    # return the removed day's changes that the sorted query above saw
    shutil.rmtree(os.path.join(root, "date=2023-03-10"))
    assert client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 12), sort=False).collect() == []
    client.close()


def test_day_rewritten_in_place_fails_loudly_until_refresh(spark, tmp_path):
    """A rewrite keeps the day's directory name, so the top-level check
    cannot see it: the stale scan must fail on the vanished files, never
    return the old values, and refresh() must recover the new ones."""
    root = str(tmp_path / "scores")
    write_days(spark, root, [D(2023, 3, 7), D(2023, 3, 8), D(2023, 3, 9)])
    client = EPSSClient(spark, root, max_date_resolver=lambda: D(2023, 3, 9))
    assert {r.epss for r in client.get_scores_by_date(D(2023, 3, 9)).collect()} == {0.1}

    write_days(spark, root, [D(2023, 3, 9)], dynamic=True, epss=0.3)
    with pytest.raises(Exception, match="FILE_NOT_EXIST"):
        client.get_scores_by_date(D(2023, 3, 9)).collect()
    with pytest.raises(Exception, match="FILE_NOT_EXIST"):
        client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 9)).collect()

    client.refresh()
    assert {r.epss for r in client.get_scores_by_date(D(2023, 3, 9)).collect()} == {0.3}
    got = [(r.date, r.cve, r.epss) for r in client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 9)).collect()]
    assert got == [(D(2023, 3, 9), "CVE-B", 0.3), (D(2023, 3, 9), "CVE-A", 0.3)]

    # The client caches no frame, so no recache-by-path refreshes the
    # reused scan on this write: it is expected to fail on the vanished
    # files, though a refreshed file index would see the rewrite. Either
    # way the old values never come back.
    write_days(spark, root, [D(2023, 3, 9)], dynamic=True, epss=0.5)
    for build in (
        lambda: client.get_scores_by_date(D(2023, 3, 9)),
        lambda: client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 9)),
    ):
        try:
            got = {r.epss for r in build().collect()}
        except Exception as e:
            assert "FILE_NOT_EXIST" in str(e)
        else:
            assert got == {0.5}
    client.close()
