"""Driver-contract consistency: every oracle has a query, entry() runs, and
a fast subset of the parity sweep stays green in CI (the full sweep is
tools/check_oracles.py)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from epss_spark.schemas import TABLE_NAMES

SF = "/root/testdata/sf0.001"

FAST_PARITY = [
    "window_lag_diff",
    "agg_groupby",
    "join_multi",
    "window_range_frame",
    "epss_current_scores",
    "join_asof",
    "epss_quantize_daily",
    "epss_new_keys",
    "epss_reconstruct_dense",
    "epss_top_movers",
    "epss_summary",
    "epss_volume_stats",
]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["event_id", "user_id", "ts", "value", "prev_value", "delta"]


def test_registry_consistency():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(qs) >= 50
    assert set(os_) <= set(qs)
    # every surfaced query carries a full DuckDB oracle
    assert set(qs) - set(os_) == set()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


@pytest.mark.parametrize("name", FAST_PARITY)
def test_parity_fast_subset(spark, duck, name):
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from check_oracles import compare

    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    sdf = qs[name](spark, SF).toPandas()
    ddf = duck.execute(os_[name]).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, problems
