"""Shuffle-layout determinism guard.

Order/partitioning-sensitive query shapes (windows with tiebreaks,
as-of joins) are executed under two shuffle partition counts, and the
full result multisets must be identical: at cluster scale the partition
count is never what it was in the test environment.
"""

from __future__ import annotations

import pytest

# Full-gate tier: the per-commit smoke tier deselects it (pytest -m "not slow").
pytestmark = pytest.mark.slow

from epss_spark import registry

SF = "/root/testdata/sf0.001"


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


LAYOUT_SENSITIVE = [
    "join_asof",
]


@pytest.mark.parametrize("name", LAYOUT_SENSITIVE)
def test_results_invariant_to_shuffle_partitioning(name, spark):
    fn = registry.get_queries()[name]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        few = _multiset(fn(spark, SF))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        many = _multiset(fn(spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert few == many, f"{name}: results depend on shuffle partitioning"
