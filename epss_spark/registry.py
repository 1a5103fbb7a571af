"""Query registry — the driver contract surface.

Every registered query is a named (spark_fn, oracle_sql) pair. The
correctness harness runs the Spark plan and the DuckDB oracle side-by-side
and compares row-count + schema + order-insensitive value hash; column
names are aliased identically on both sides, and float aggregates go
through exact DECIMAL(18,2) arithmetic (the testdata's monetary columns are
2-dp exact) so the comparison is bit-exact, not tolerance-based.

The correctness harness records at most 50 queries, taken in dict order,
so the registry holds exactly 50, flagship (`window_lag_diff`) first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_LOADED = False


def register(name: str, sql: str | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame query, with an
    optional DuckDB-runnable ANSI-SQL oracle. Queries without an oracle get
    the driver's weaker rows-only check (reserved for genuinely
    non-SQL-expressible ops)."""

    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    import epss_spark.queries_core  # noqa: F401
    import epss_spark.queries_domain  # noqa: F401

    _LOADED = True


def get_queries():
    """Every registered query, in registration order."""
    load_all()
    return dict(QUERIES)


def get_oracles():
    load_all()
    return dict(ORACLES)
