"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real surface lives in the ``epss_spark`` package; this module is a thin
adapter over its registry (epss_spark/registry.py, queries_core.py,
queries_domain.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from epss_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's quantization
    kernel (drop day-over-day unchanged values, reference epss/client.py:
    453-475) as one lazy window plan over the events table."""
    registry.load_all()
    return registry.QUERIES["window_lag_diff"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The 50 registered queries: SURVEY.md §2 operators and the EPSS
    domain queries, flagship first."""
    return registry.get_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query. Every registered
    query carries a full oracle — asserted from the registry itself by
    tests/test_oracle_parity.py::test_registry_counts, not restated here."""
    return registry.get_oracles()
