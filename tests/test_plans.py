"""Physical-plan assertions — pin the execution properties the engine is
designed around, so a regression that silently de-optimizes a plan (lost
pushdown, broadcast turned shuffle, sort not replaced by top-k) fails CI
even though results stay correct. These are the properties that decide
whether a plan survives a 100x scale-up.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from epss_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    # F1: range predicates must appear as PushedFilters on the parquet scan
    p = plan(spark, "filter_range")
    assert "PushedFilters:" in p
    assert "GreaterThanOrEqual(l_discount" in p or "GreaterThanOrEqual(l_quantity" in p


def test_projection_prunes_columns(spark):
    # P1: a 3-column projection must not read the other 5 customer columns
    p = plan(spark, "project_select")
    assert "ReadSchema" in p
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "c_address" not in read_schema and "c_comment" not in read_schema


def test_star_join_broadcasts_dimensions(spark):
    # §2.5: all dimension sides broadcast — the fact table never shuffles
    # before aggregation
    p = plan(spark, "join_multi")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_no_explicit_broadcast_hint_on_fact_tables(spark):
    # §2.5 scale guard: an explicit F.broadcast() on orders/customer would
    # override the autoBroadcast threshold and force a multi-TB broadcast at
    # cluster scale. Only the fixed-size dims (nation 25 rows / region 5
    # rows) may carry hints; the fact-fact joins must be left to AQE.
    def qe(name):
        return registry.QUERIES[name](spark, SF)._jdf.queryExecution()

    opt = qe("join_multi").optimizedPlan().toString()
    for line in opt.splitlines():
        if "Hint=" in line:
            assert "n_nationkey" in line or "r_regionkey" in line, (
                f"broadcast hint on a non-dim join: {line.strip()}"
            )
    # exactly the two dim hints survive analysis
    assert qe("join_multi").analyzed().toString().count("ResolvedHint") == 2
    # theta + inner joins against customer: no hints at all
    for name in ("join_theta", "join_inner"):
        assert "ResolvedHint" not in qe(name).analyzed().toString(), name


def test_topk_plans_take_ordered(spark):
    # O5: orderBy().limit() must plan as TakeOrderedAndProject, not a
    # global sort
    p = plan(spark, "topk")
    assert "TakeOrderedAndProject" in p


def test_quantization_is_single_window_exchange(spark):
    # W1 flagship: exactly one hash-partition exchange (the window key);
    # rangepartitioning exchanges would mean an unwanted global sort
    p = plan(spark, "window_lag_diff")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in p


def test_whole_stage_codegen_covers_hot_path(spark):
    # the flagship pipeline must stay inside JVM codegen (no Python
    # row-at-a-time evaluation anywhere in the plan). AQE only reports
    # codegen spans on the finalized plan, so execute first.
    df = registry.QUERIES["window_lag_diff"](spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert re.search(r"\*\(\d+\)", p)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_partition_pruning_on_date_partitioned_scores(spark, tmp_path):
    # S8/F4: a date-window predicate over a date=-partitioned dataset must
    # prune partitions at planning time, not filter post-scan
    import datetime as dt

    from epss_spark.client import EPSSClient

    root = str(tmp_path / "scores")
    (
        spark.range(100)
        .select(
            F.concat(F.lit("CVE-2024-"), F.col("id")).alias("cve"),
            (F.col("id") / 100).cast("double").alias("epss"),
            F.lit(0.5).alias("percentile"),
        )
        .crossJoin(
            spark.createDataFrame(
                [(dt.date(2023, 3, 7) + dt.timedelta(days=i),) for i in range(10)], "date date"
            )
        )
        .write.partitionBy("date")
        .parquet(root)
    )
    client = EPSSClient(spark, root, max_date_resolver=lambda: dt.date(2023, 3, 16))
    df = client.get_scores_by_date("2023-03-10")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p
    # exactly one of the ten date partitions survives pruning
    files = df._jdf.queryExecution().executedPlan().toString()
    assert "date#" in files  # partition column materialized from the path


def test_minhash_lookup_materialized_index_never_reshingles(spark, tmp_path):
    """The nightly incremental-dedup deployment shape: band rows + shingle
    arrays for BOTH the index and the batch read back from parquet
    (minhash_index written once; the batch shingled once into its own
    artifact). The lookup plan must then contain ZERO tokenize/shingle
    regexes — nothing re-shingles, per-day cost is pure joins/aggs over
    precomputed artifacts — and the index band rows must NOT be shuffled
    into a union-wide groupBy: idx~new candidates come from a join whose
    batch side broadcasts, so no exists(is_new) grouped path appears."""
    from epss_spark.operators import dedup
    from epss_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    ib, ish = dedup.minhash_index(old)
    ib.write.parquet(str(tmp_path / "bands"))
    ish.write.parquet(str(tmp_path / "sh"))
    dedup.shingle_arrays(new).write.parquet(str(tmp_path / "nsh"))
    ish.unpersist()
    out = dedup.minhash_lookup(
        new,
        spark.read.parquet(str(tmp_path / "bands")),
        spark.read.parquet(str(tmp_path / "sh")),
        new_shmap=spark.read.parquet(str(tmp_path / "nsh")),
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "regexp_replace" not in p  # no side re-shingles
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # default path: no union-wide grouped buckets (that formulation only
    # exists under max_bucket_size); candidate join present with the batch
    # side broadcast at this scale
    assert "exists(" not in p
    assert "BroadcastHashJoin" in p
    # and the materialized path agrees with the inline one
    inline = dedup.minhash_lookup(new, ib, ish)
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in inline.collect()}


def test_semantic_decontam_broadcasts_eval_side(spark):
    # round-14 fourth rung: the eval embeddings are benchmark-sized, so
    # the cell-confined pair join must broadcast them — the (100 TB)
    # corpus embeddings never shuffle; at this small anchor-k
    # the assignment is pure codegen (no Python anywhere)
    from epss_spark.operators import clustering, similarity
    from epss_spark.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    anchors = clustering.init_centroids_by_id(
        emb, [0, 61, 122, 183, 244, 305, 366, 427]
    )
    hits = similarity.semantic_decontam_hits(
        emb.filter(F.col("vec_id") >= 20),
        emb.filter(F.col("vec_id") < 20),
        anchors,
        threshold=0.3,
    )
    hp = hits._jdf.queryExecution().executedPlan().toString()
    # the DETECTION subplan — the part that scales with the corpus —
    # must broadcast the eval side into the cell-confined pair join
    # with zero corpus shuffles and zero Python (anchor-k assignment is
    # pure codegen)
    assert "BroadcastHashJoin" in hp and "SortMergeJoin" not in hp
    assert "Exchange hashpartitioning" not in hp
    assert "BatchEvalPython" not in hp and "ArrowEvalPython" not in hp


def test_epss_domain_family_exchange_budget(spark):
    # the round-5 _daily reform: one repartition(user_id) serves the
    # snapshot aggregate AND every downstream per-user window/groupBy.
    # A second exchange appearing in current_scores/summary (or a third
    # in volume_stats, which legitimately adds one groupBy("d")) means
    # the shared snapshot regressed to the two-shuffle row_number shape.
    budgets = {"epss_current_scores": 1, "epss_summary": 1, "epss_volume_stats": 2}
    for name, budget in budgets.items():
        p = plan(spark, name)
        assert p.count("Exchange hashpartitioning") == budget, name


def test_quantize_daily_single_exchange(spark):
    # round-5 one-exchange plan: repartition(user_id) feeds BOTH the
    # (user, day) snapshot aggregate (clustering satisfied, map-side
    # partial) and the lag window — a second exchange or a full-data sort
    # before the aggregate means the old two-shuffle shape regressed back
    p = plan(spark, "epss_quantize_daily")
    assert p.count("Exchange hashpartitioning") == 1
    assert "row_number" not in p  # snapshot is an aggregate, not a window


def test_rlike_not_pushed_but_scan_still_pruned(spark):
    # F3: rlike evaluates post-scan (expected), but column pruning must
    # still hold on the scan under it
    p = plan(spark, "filter_rlike")
    assert "rlike" in p.lower()
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "p_comment" not in read_schema


@pytest.mark.slow  # re-plans the full 50-query surface: ~35 s, full-gate tier
def test_plan_inventory_matches_checked_in(spark):
    """Broad plan-regression net: the physical-plan shape (exchange /
    broadcast / top-k / Python-crossing counts) of EVERY driver-surface
    query must match the checked-in PLANS.json. A de-optimization
    anywhere — lost pushdown adding a shuffle, a Python UDF creeping
    into a relational path, a top-k decaying to a global sort — fails
    here and must be consciously re-recorded with
    `python tools/plan_inventory.py`."""
    import json
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
    )
    from plan_inventory import OUT, plan_shape

    with open(OUT) as f:
        expected = json.load(f)
    drift = {}
    for name, fn in registry.get_queries().items():
        p = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        got = plan_shape(p)
        if expected.get(name) != got:
            drift[name] = {"expected": expected.get(name), "actual": got}
    assert not drift, json.dumps(drift, indent=2)


def test_token_budget_bucketed_offsets_avoid_corpus_sort(spark):
    # the skew-safe budget: the offsets branch must be a hash-aggregate
    # subtotal (no sort), and the only corpus-scale window must be the
    # (stratum, bucket)-partitioned in-bucket running sum — the whole
    # point is that no window partitions on the bare stratum key.
    from epss_spark.operators import dedup
    from epss_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = dedup.sample_token_budget_bucketed(docs, {"src0": 600}, default_budget=300)
    p = out._jdf.queryExecution().executedPlan().toString()
    # two Window operators total: in-bucket running sum + the tiny
    # preceding-bucket prefix over (strata x 256) boundary rows
    assert p.count("Window") == 2
    # every window partition spec must include the bucket column — a
    # bare-stratum partitioning would re-serialize the hot stratum
    import re

    specs = re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe", p)
    assert specs and all("__b" in s for s in specs), specs


@pytest.mark.slow  # plans every registered query: full-gate tier
def test_registry_wide_udf_free_invariant(spark):
    """SURVEY §2.13 across the whole registry: no registered query plans
    Python, row-at-a-time or Arrow-batched. A query that silently plans
    a Python UDF fails with its name."""
    python = []
    for name, fn in registry.get_queries().items():
        p = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if any(
            op in p
            for op in (
                "BatchEvalPython",
                "ArrowEvalPython",
                "FlatMapGroupsInPandas",
                "MapInPandas",
            )
        ):
            python.append(name)
    assert not python, f"Python planned: {python}"


def test_kmeans_assignment_is_codegen_projection(spark):
    # the centroid model compiles into the expression tree: nearest-
    # centroid assignment must be a pure map-side projection — no join
    # against a centroid table, no exchange, no Python. This is the
    # property that makes the assignment free at 100 TB.
    from epss_spark.operators import clustering
    from epss_spark.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    cents = clustering.init_centroids_by_id(emb, [0, 61, 122, 183])
    p = (
        clustering.assign_clusters(emb, cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p


def test_kmeans_large_k_assignment_is_map_only_arrow(spark):
    # above BATCHED_ASSIGN_CELLS the auto dispatch swaps the O(k*dim)
    # literal tree for the Arrow kernel: the plan must be ONE MapInPandas
    # over the scan — no exchange, no join, no O(k*dim) expression blowup
    # (the property that keeps driver planning time flat at production k)
    from epss_spark.operators import clustering
    from epss_spark.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    big = [[float((i + j) % 5) for j in range(64)] for i in range(200)]  # 12800 cells
    p = (
        clustering.assign_clusters(emb, big)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p.count("MapInPandas") == 1
    assert "Exchange" not in p
    assert "Join" not in p
    # the centroid matrix rides the task closure, not the plan: the plan
    # string stays small instead of carrying 12800 literals
    assert len(p) < 20_000


def test_ivf_coarse_assignment_large_nlists_is_arrow(spark):
    # the IVF index build at production n_lists must not compile the
    # interpreted O(k*dim) HOF tree: above BATCHED_ASSIGN_CELLS the
    # coarse assignment routes through the bit-identical Arrow kernel
    # (map-only, no exchange before the bucketed write)
    from epss_spark.operators import similarity
    from epss_spark.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    small = [[float(i % 3)] * 64 for i in range(8)]     # 512 cells: codegen
    big = [[float(i % 3)] * 64 for i in range(32)]      # 2048 cells: Arrow
    sub = [[[0.0] * 16, [1.0] * 16] for _ in range(4)]  # tiny PQ codebooks
    p_small = (
        similarity.ivfpq_index(emb, small, sub)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in p_small
    p_big = (
        similarity.ivfpq_index(emb, big, sub)
        ._jdf.queryExecution().executedPlan().toString()
    )
    final = p_big.split("== Initial Plan ==")[0]
    assert "MapInPandas" in final
    assert "Exchange" not in final
