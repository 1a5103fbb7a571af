"""EPSS-domain composite API — the Spark rewrite of the reference's
PolarsClient (epss/client.py). The reference's get_scores is a driver-side
loop: thread-pool per-day reads, pairwise diffs, concat (epss/client.py:
202-237). Here the same lifecycle is ONE lazy plan over a date-partitioned
dataset: pruned scan -> window lag-diff -> filter -> sort. Catalyst handles
partition pruning, shuffle planning, and codegen; execution crosses
driver->executor once, at the action.
"""

from __future__ import annotations

import datetime as dt
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epss_spark.functions.scalars import TIME, parse_date
from epss_spark.operators.quantize import quantize
from epss_spark.plans.query import Query, apply_query

# Model-version epochs (reference: epss/constants.py:11-14, NOTES.md:9-11)
EPOCHS: dict[str, tuple[dt.date, dt.date | None]] = {
    "v1": (dt.date(2021, 4, 14), dt.date(2022, 2, 3)),
    "v2": (dt.date(2022, 2, 4), dt.date(2023, 3, 6)),
    "v3": (dt.date(2023, 3, 7), None),  # max resolved at runtime
}


def get_date_range(
    version: str = "v3",
    min_date: TIME | None = None,
    max_date: TIME | None = None,
    max_date_resolver: Callable[[], dt.date] | None = None,
) -> tuple[dt.date, dt.date]:
    """Clamp a user date range into the model-version epoch
    (reference: epss/client.py:100-117, :333-421). The reference resolves
    the v3 max date with a live HTTP HEAD (epss/client.py:386-402);
    here that is an injectable resolver so nothing analytical touches the
    network. Default: today."""
    lo, hi = EPOCHS[version]
    if hi is None:
        hi = max_date_resolver() if max_date_resolver else dt.date.today()
    lo_req = parse_date(min_date) if min_date is not None else lo
    hi_req = parse_date(max_date) if max_date is not None else hi
    return max(lo, lo_req), min(hi, hi_req)


class EPSSClient:
    """Query API over a `date=`-partitioned canonical score dataset.

    The dataset is listed once per client: the first query builds the
    `spark.read.parquet(scores_path)` scan (partition discovery, schema
    read) and every later `get_scores` / `get_scores_by_date` /
    `get_changed_scores` reuses it. Before each query one top-level
    Hadoop listing of `scores_path` compares the `date=` directory names
    with those the scan was built from, so days added or removed since
    (e.g. by `date_partitioned_write(..., dynamic=True)`) are picked up
    by a rebuilt scan. A day rewritten in place keeps its name: call
    `refresh()` (or use a new client) after rewriting one, otherwise the
    next action fails with Spark's `FILE_NOT_EXIST` instead of returning
    the old rows. Files appended into an existing day's directory may
    likewise be missed until `refresh()`.

    The intended use is one client per long-lived session or analyst; a
    client is not meant to be shared across threads."""

    def __init__(
        self,
        spark: SparkSession,
        scores_path: str,
        version: str = "v3",
        max_date_resolver: Callable[[], dt.date] | None = None,
    ):
        """`scores_path`: date-partitioned parquet root (the ingest layout)."""
        self.spark = spark
        self.scores_path = scores_path
        self.version = version
        self.max_date_resolver = max_date_resolver
        self._frame: DataFrame | None = None  # the reused scores_path scan
        self._days = None  # its `date=` directories (a JVM set)
        self._hadoop: tuple | None = None  # JVM handles of _list_days

    def _scan(self) -> DataFrame:
        days = self._list_days()
        if self._frame is None or not days.equals(self._days):
            self._frame = self.spark.read.parquet(self.scores_path)
            self._days = days
        return self._frame

    def _list_days(self):
        """The `date=` directories directly under `scores_path`, as a JVM set.
        One Hadoop glob, `date=*`, lists the root once with the session's
        Hadoop conf (so `s3a://` roots work too) and skips `_SUCCESS`,
        `_temporary` and `.spark-staging-*`. The set stays in the JVM and is
        compared there: a Py4J reply over 8 KB, a few hundred paths, stalls
        about 40 ms on TCP delayed ACKs."""
        if self._hadoop is None:
            # resolved once: each `jvm.a.b.C` lookup is a chain of reflective
            # Py4J round trips that together cost more than the listing
            jvm = self.spark._jvm
            pattern = jvm.org.apache.hadoop.fs.Path(self.scores_path, "date=*")
            fs = pattern.getFileSystem(self.spark._jsparkSession.sessionState().newHadoopConf())
            self._hadoop = (fs, pattern, jvm.scala.collection.immutable.ArraySeq)
        fs, pattern, array_seq = self._hadoop
        # a FileStatus equals another with the same path
        return array_seq.unsafeWrapArray(fs.globStatus(pattern)).toSet()

    def get_scores(
        self,
        min_date: TIME | None = None,
        max_date: TIME | None = None,
        query: Query | None = None,
        drop_unchanged: bool = False,
        sort: bool = True,
    ) -> DataFrame:
        """The composite query (reference: epss/client.py:202-237) as one
        lazy plan. With drop_unchanged, scans one extra day BEFORE min_date
        for real first-day deltas (intended semantics per reference
        TODO.md:3; the reference's +1day at epss/client.py:212-214 is a
        sign bug — divergence pinned in tests/test_client.py).

        ``sort=False`` skips the canonical console ordering (date asc, cve
        desc): callers writing a partitioned dataset don't want the result
        gathered into one sorted partition, and the reference's own
        quantization benchmark (NOTES.md:39) measures load + diff only."""
        lo, hi = get_date_range(self.version, min_date, max_date, self.max_date_resolver)
        df = self._scan()
        if query is not None:
            # Predicates apply BEFORE quantization, matching the reference,
            # which filters each day's snapshot and then diffs the survivors
            # (epss/client.py:219-231 via filter_scores). The order matters
            # for value/percentile bounds: with history 0.5, 0.5, 0.3, 0.5
            # and min_value=0.4, the final 0.5 is UNCHANGED relative to the
            # last surviving row and is dropped — filtering after the diff
            # would emit it. Pinned by test_client.py::test_query_filters_before_diff.
            df = apply_query(df, query)
        if drop_unchanged:
            out = quantize(df, key="cve", time="date", value="epss", min_time=lo, max_time=hi)
            out = out.drop("delta")
        else:
            out = df.filter((F.col("date") >= F.lit(lo)) & (F.col("date") <= F.lit(hi)))
        # canonical column order (reference: epss/client.py:264)
        out = out.select("date", "cve", "epss", "percentile")
        if not sort:
            return out
        # canonical sort: date asc, cve desc (reference: epss/client.py:235-236)
        order = (F.col("date").asc(), F.col("cve").desc())
        if drop_unchanged:
            # The change events are ~1% of the dense rows (reference
            # NOTES.md:38): sort them in one partition, which skips the
            # range-partitioner's sampling job (a second run of the window).
            # repartition, not coalesce: coalesce(1) would narrow the window
            # stage itself to one task.
            return out.repartition(1).sortWithinPartitions(*order)
        # dense rows are unbounded (the whole matrix at paper scale): range-sort them
        return out.orderBy(*order)

    def unpersist(self) -> None:
        """No-op, kept for callers written when the client cached the
        quantized frame of a sorted `get_changed_scores`; it holds no
        cached frame now."""

    def refresh(self) -> None:
        """Drop the reused scan; the next query lists `scores_path` afresh.
        Needed after a day is rewritten in place, which the per-query
        directory check cannot see."""
        self._frame = None

    def close(self) -> None:
        self.refresh()

    def get_scores_by_date(self, date: TIME, query: Query | None = None) -> DataFrame:
        """Single-snapshot path (reference: epss/client.py:239-268): one
        pruned partition read + predicate stack + canonical order. One day
        is small (~220k rows at production size), so it is sorted in one
        partition: a single job, with no range-partitioner sampling pass."""
        d = parse_date(date)
        out = self._scan().filter(F.col("date") == F.lit(d))
        if query is not None:
            out = apply_query(out, query)
        return (
            out.select("date", "cve", "epss", "percentile")
            .coalesce(1)
            .sortWithinPartitions(F.col("cve").desc(), F.col("date").asc())
        )

    def get_changed_scores(
        self,
        min_date: TIME | None = None,
        max_date: TIME | None = None,
        query: Query | None = None,
        sort: bool = True,
    ) -> DataFrame:
        """Quantized view (reference: epss/client.py:453-475)."""
        return self.get_scores(min_date, max_date, query, drop_unchanged=True, sort=sort)
