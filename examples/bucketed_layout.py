"""Build the repeated-quantization layout and quantize with zero exchanges.

The date-partitioned parquet root (the ingest layout) is right for
date-window scans; a cve-bucketed, (cve, date)-sorted saved table is right
when the same score matrix is re-quantized daily: bucketing satisfies the
flagship window's clustering requirement, so the plan has NO exchange at
all (measured 24.8M input rows/s vs 6.3M over plain files at bench scale).

Usage: python examples/bucketed_layout.py
"""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _common import MAX_DATE, SCORES_PATH, demo_client  # noqa: E402

from epss_spark.client import EPSSClient  # noqa: E402
from epss_spark.sources.readers import write_bucketed  # noqa: E402


def main() -> None:
    spark = demo_client().spark  # builds the demo dataset on first run

    spark.sql("DROP TABLE IF EXISTS example_scores_bucketed")
    write_bucketed(
        spark.read.parquet(SCORES_PATH).repartition(8, "cve"),
        "example_scores_bucketed",
        "cve",
        num_buckets=8,
        sort_key=["cve", "date"],
        path=os.path.join(os.path.dirname(SCORES_PATH), "example_scores_bucketed"),
    )

    client = EPSSClient(spark, table="example_scores_bucketed", max_date_resolver=lambda: MAX_DATE)
    changed = client.get_changed_scores(MAX_DATE - dt.timedelta(days=5), MAX_DATE, sort=False)
    plan = changed._jdf.queryExecution().executedPlan().toString()
    print(f"changed rows: {changed.count()}")
    print(f"exchanges in quantize plan: {plan.count('Exchange')} (bucketed layout -> 0)")


if __name__ == "__main__":
    main()
