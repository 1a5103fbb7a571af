"""Tests of the benchmark harness itself, on a tiny dataset (8 days x 2k CVEs):

    python3 -m pytest perfbench -q

Every workload must run end to end with zero failed ops and print exactly
the metric names BENCHMARK.json declares; a result the program gets wrong
must be reported as a failed op.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

TINY = (8, 2000)  # a watch-list window needs 8 days
WORKLOADS = ("history_quantize", "analyst_lookups", "daily_ingest")
NAMED = {  # the workloads' own metrics, printed above the result line
    "history_quantize": {"quantize_rows_per_s", "export_changed_s"},
    "analyst_lookups": {
        "lookup_p50_ms", "lookup_p90_ms", "lookups_per_s",
        "snapshot_p50_ms", "watchlist_p50_ms", "cve_history_p50_ms",
    },
    "daily_ingest": {"ingest_day_s", "ingest_bytes_per_row"},
}


def declared(kind: str) -> set[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    root = tmp_path_factory.mktemp("perfbench")
    run.configure_env(str(root / "work"), 2)
    import datagen

    ds = datagen.cached(str(root / "cache"), 3, datagen.Sizes(*TINY))
    return ds, str(root / "work" / "run")


def run_tiny(env, workload: str, trace: bool = False, seconds: float = 3.0) -> tuple[dict, dict]:
    ds, work = env
    return run.run_workload(workload, 3, seconds, trace, ds, work, warmup_s=0.0)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_clean(env, workload):
    # long enough for every op kind of the mix to run cold at least once
    out, report = run_tiny(env, workload, seconds=10.0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == declared("end_to_end")
    for name, m in out["metrics"].items():
        assert math.isfinite(m["value"]) and m["value"] > 0, name
    common = {"setup_s", "failed_ops_ratio", "peak_rss_mb", "ops_measured"}
    assert set(report) == common | NAMED[workload]
    assert report["failed_ops_ratio"][0] == 0


def test_traced_run_reports_every_layer(env):
    out, _ = run_tiny(env, "analyst_lookups", trace=True)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == declared("per_layer")
    m = out["metrics"]
    assert m["client.jobs.snapshot"]["value"] >= 1
    assert m["plans.query.rows_examined_per_row.cve_history"]["value"] > 1
    assert 0 < m["operators.quantize.emit_ratio"]["value"] < 1


def test_dropped_lookup_row_is_a_failed_op(env, monkeypatch):
    from epss_spark.sources import sinks

    render = sinks.render_console

    def drop_last_row(df, **kw):
        render(df.limit(max(df.count() - 1, 0)), **kw)

    monkeypatch.setattr(sinks, "render_console", drop_last_row)
    out, _ = run_tiny(env, "analyst_lookups")
    assert not out["correct"] and out["failed"] >= 1


def test_wrong_change_event_is_a_failed_op(env, monkeypatch):
    from pyspark.sql import functions as F

    from epss_spark.client import EPSSClient

    changed = EPSSClient.get_changed_scores

    def bump_one_score(self, *a, **kw):
        df = changed(self, *a, **kw)
        first = F.col("cve") == F.lit("CVE-1999-0000000")
        return df.withColumn("epss", F.when(first, F.col("epss") + 0.5).otherwise(F.col("epss")))

    monkeypatch.setattr(EPSSClient, "get_changed_scores", bump_one_score)
    out, _ = run_tiny(env, "history_quantize", seconds=1.0)
    assert not out["correct"] and out["failed"] >= 1
