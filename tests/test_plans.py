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


def test_no_broadcast_hints_on_per_document_frames(spark):
    # scale guard (round-5): the dedup module must not F.broadcast() any
    # one-row-per-document frame — ngram_jaccard sizes now ride the
    # exploded rows, and the dedup_corpus_near drop set is left to AQE
    # (a boilerplate-heavy corpus makes it corpus-scale). The only hint
    # allowed anywhere in dedup is the benchmark-shingle side of
    # contamination (MB-scale by construction).
    for name in ("dedup_ngram_jaccard", "dedup_minhash", "dedup_minhash_keep"):
        analyzed = (
            registry.QUERIES[name](spark, SF)._jdf.queryExecution().analyzed().toString()
        )
        assert "ResolvedHint" not in analyzed, name


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


def test_minhash_has_no_pre_band_aggregation_exchange(spark):
    """The array-form MinHash plan: signatures are per-row projections off
    the shingle arrays, so the ONLY hash aggregations are the bucket
    groupBy (+ the tiny post-threshold pair dedup) — a reappearing
    signature groupBy or corpus-wide candidate distinct() would show up as
    extra aggregate exchanges."""
    p = plan(spark, "dedup_minhash")
    # exchanges: ensure_parallelism round-robin, bucket groupBy, the two
    # pair->shingle-array joins, final dedup. No exchange for signatures.
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # bucket agg + post-threshold pair dedup, partial+final = 4; the old
    # formulation (signature groupBy + candidate distinct + inter groupBy
    # + sizes) planned 10+
    assert p.count("HashAggregate") <= 4
    assert "array_min" in p  # signatures as per-row projections


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


def test_simhash_single_aggregation_exchange(spark):
    # 1 shuffle on doc_id for the bit sums + 1 for the fingerprint groupBy
    p = plan(spark, "dedup_simhash")
    assert p.count("Exchange hashpartitioning") == 2
    assert "BatchEvalPython" not in p


def test_lsh_and_ivf_broadcast_query_side(spark):
    # the probe side must broadcast; a shuffle join here would move the
    # whole candidate corpus per query batch
    for name in ("ann_lsh_bucketed", "ann_ivf", "ann_cosine_topk"):
        p = plan(spark, name)
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, name
        assert "SortMergeJoin" not in p, name


def test_contamination_broadcasts_benchmark_side(spark):
    # the benchmark shingle set is tiny vs the corpus: it must broadcast so
    # the (100 TB) corpus side never shuffles for the join; the only hash
    # exchanges are the per-doc hit count + the small bench distinct
    p = plan(spark, "dedup_contamination")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_semantic_decontam_broadcasts_eval_side(spark):
    # round-14 fourth rung: the eval embeddings are benchmark-sized, so
    # the cell-confined pair join must broadcast them — the (100 TB)
    # corpus embeddings never shuffle; at the oracle-checked anchor-k
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
    # the full cleaning query adds ONE anti-join on the hit-id set; its
    # static plan shows SMJ but AQE converts it to broadcast at runtime
    # while the set is small (same shape as decontaminate_near — a
    # forced broadcast would be wrong, the hit set is corpus-bounded)
    p = plan(spark, "dedup_decontam_semantic")
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("SortMergeJoin") <= 1


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


def test_text_stats_single_tokenize(spark):
    # the stacked-projection contract (text.py::text_stats/langid): the
    # tokenize regex tree must appear ONCE in the physical plan — the
    # normalize pipeline has exactly 2 regexp_replace calls, so >2 means
    # CollapseProject re-inlined a copy per consumer (measured 2x slower)
    for name in ("text_stats", "text_langid"):
        p = plan(spark, name)
        assert p.count("regexp_replace") == 2, name


def test_quantize_daily_single_exchange(spark):
    # round-5 one-exchange plan: repartition(user_id) feeds BOTH the
    # (user, day) snapshot aggregate (clustering satisfied, map-side
    # partial) and the lag window — a second exchange or a full-data sort
    # before the aggregate means the old two-shuffle shape regressed back
    p = plan(spark, "epss_quantize_daily")
    assert p.count("Exchange hashpartitioning") == 1
    assert "row_number" not in p  # snapshot is an aggregate, not a window

def test_multimodal_corpus_dedup_before_decode_plan(spark):
    # the corpus-scope scale contract: payload bytes cross into Python
    # EXACTLY once, downstream of the distinct-by-hash aggregate (decode
    # cost scales with distinct payloads, not corpus rows); the dedup
    # aggregate has a partial phase before its exchange (only
    # per-partition-unique payloads shuffle); the features join back is
    # planner-chosen, never a forced hint
    p = plan(spark, "multimodal_features")
    assert p.count("MapInPandas") == 1
    decode_side = p.split("MapInPandas", 1)[1]  # subtree below the decode
    assert "Aggregate" in decode_side  # distinct-by-hash feeds the decode
    assert "partial_first" in p  # map-side partial dedup before the shuffle
    analyzed = (
        registry.QUERIES["multimodal_features"](spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" not in analyzed


def test_repetition_is_two_aggregation_exchanges(spark):
    # explode -> count(doc,gram) -> fold(doc): two hash exchanges with
    # map-side partial aggregation, plus the small-file parallelism
    # round-robin; a per-row O(tokens^2) formulation would show zero
    # exchanges (and die on long documents)
    p = plan(spark, "text_repetition")
    assert p.count("Exchange hashpartitioning") == 2
    assert p.count("HashAggregate") == 4  # partial+final per groupBy
    assert "BatchEvalPython" not in p


def test_rlike_not_pushed_but_scan_still_pruned(spark):
    # F3: rlike evaluates post-scan (expected), but column pruning must
    # still hold on the scan under it
    p = plan(spark, "filter_rlike")
    assert "rlike" in p.lower()
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "p_comment" not in read_schema


def test_prep_projections_are_map_only(spark):
    # pii_redact and chunk_tokens are pure codegen projections: at 100 TB
    # they must run as a map-only stage — no exchange, no Python crossing.
    for name in ("text_pii_redact", "text_chunk"):
        p = plan(spark, name)
        assert "Exchange" not in p, name
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_pack_sequences_text_never_crosses_to_python(spark):
    # pack_sequences is the one stateful prep op: it may shuffle on bucket
    # and enter Python ONCE via applyInPandas, but only the three integer
    # columns (doc_id, bucket, n_tokens) may cross the Arrow boundary — the
    # 100 TB text column stays JVM-side.
    p = plan(spark, "pack_sequences")
    assert "FlatMapGroupsInPandas" in p
    assert p.count("Exchange hashpartitioning") == 1
    fmap_line = next(ln for ln in p.splitlines() if "FlatMapGroupsInPandas" in ln)
    assert "text#" not in fmap_line and "_toks" not in fmap_line


def test_winnow_pairs_no_per_document_join_back(spark):
    # same scale guard for winnow_overlap_pairs: per-doc fingerprint
    # counts ride the exploded rows (min() fold in the pair groupBy) — no
    # broadcast hints, no extra join of a one-row-per-document size frame.
    qe = registry.QUERIES["dedup_winnow_pairs"](spark, SF)._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    assert "ResolvedHint" not in analyzed
    # exactly one join in the whole plan: the fp discovery self-join
    assert analyzed.count("Join Inner") == 1


def test_bm25_zero_shuffle_topk(spark):
    # BM25 with plan-time-constant terms: per-doc tf/dl are codegen
    # projections, corpus stats one 1-row aggregate broadcast back, top-k
    # a TakeOrderedAndProject — NO hash-partitioned exchange anywhere. A
    # regression to explode + per-term groupBy (the naive formulation)
    # would shuffle the token stream and fail this.
    p = plan(spark, "search_bm25")
    assert "Exchange hashpartitioning" not in p
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "BatchEvalPython" not in p


def test_dedup_lines_first_occurrence_is_hash_aggregate(spark):
    # line-level dedup must select first occurrences with a min(struct)
    # HASH AGGREGATE (map-side partial collapses boilerplate-line skew),
    # not a row_number window (which would sort a hot line's entire
    # occurrence set on one task); reassembly is the only other exchange.
    p = plan(spark, "dedup_lines")
    assert p.count("Exchange hashpartitioning") == 2
    assert "Window" not in p
    assert "Exchange rangepartitioning" not in p


def test_analytics_reports_plan_shapes(spark):
    # top_ngrams: explode -> ONE count exchange -> TakeOrderedAndProject
    # (a global sort would be an Exchange rangepartitioning — regression)
    p = plan(spark, "text_top_ngrams")
    assert p.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    # vocab_stats / unigram_logprob: bounded exchange budgets, no Python,
    # no global sorts — the whole report family stays in codegen
    for name in ("text_vocab_stats", "text_unigram_logprob"):
        p = plan(spark, name)
        assert p.count("Exchange hashpartitioning") <= 3, name
        assert "Exchange rangepartitioning" not in p, name
        assert "BatchEvalPython" not in p, name


def test_dsir_scoring_is_zero_shuffle_projection(spark):
    # DSIR scoring folds the feature array through a CONSTANT-FOLDED
    # weight array (the eager-literal model) — one corpus scan, zero
    # exchanges, zero joins. A regression to the lazy dataflow form
    # (weight subtrees re-scanning the corpus — 4 extra tokenize passes,
    # measured) reintroduces Exchange + BroadcastNestedLoopJoin here.
    p = plan(spark, "sample_dsir")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p
    # the literal weight table must be FOLDED (a raw CreateArray of 1024
    # literals inside the lambda would rebuild the array per feature)
    assert "element_at([" in p


def test_pq_broadcasts_queries_and_limits_before_exchange(spark):
    # PQ ADC: candidates scanned once (encode inline in a projection),
    # query side broadcast (bounded by design), per-query top-k starts
    # with a PARTIAL WindowGroupLimit before the single rank exchange —
    # the scan side never shuffles its full width.
    p = plan(spark, "ann_pq_topk")
    assert p.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" in p
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p


def test_rerank_broadcasts_shortlist_corpus_never_shuffles_raw(spark):
    # Two-stage ANN: the ADC shortlist (bounded n_queries x r id rows)
    # and the query vectors BROADCAST against the raw-vector scan — the
    # re-rank stage adds point lookups, never a corpus shuffle of the
    # raw embeddings. The only hash exchange is the per-query top-k
    # window, fed by a WindowGroupLimit partial.
    p = plan(spark, "ann_ivfpq_rerank")
    assert p.count("BroadcastExchange") >= 2  # shortlist + query vectors
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p


def test_multiprobe_fans_out_queries_only(spark):
    # Multiprobe LSH: the probe fan-out is an explode on the BROADCAST
    # query side; the candidate scan keeps one bucket per vector and
    # never re-expands. Python stays out of the plan.
    p = plan(spark, "ann_lsh_multiprobe")
    assert "BroadcastExchange" in p
    assert "Generate explode" in p
    assert "BatchEvalPython" not in p


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


def test_bm25_lookup_plan_never_touches_corpus_text(spark, tmp_path):
    # the indexed retrieval path: against a parquet-backed index, the
    # lookup plan must (1) contain no tokenize of the corpus (the whole
    # point of the index artifact), (2) push the query terms' IN-filter
    # into the postings scan, (3) finish with a top-k operator, and
    # (4) stay JVM-side.
    from epss_spark.operators import retrieval
    from epss_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    postings, doc_stats = retrieval.bm25_index(docs)
    postings.write.parquet(str(tmp_path / "postings"))
    doc_stats.write.parquet(str(tmp_path / "doc_stats"))
    out = retrieval.bm25_lookup(
        spark.read.parquet(str(tmp_path / "postings")),
        spark.read.parquet(str(tmp_path / "doc_stats")),
        ["dup", "spark", "window"],
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "regexp_replace" not in p and "split" not in p
    assert "In(term" in p  # pushed to the postings scan
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_dedup_spans_duplicate_detection_is_hash_aggregate(spark):
    # span dedup must detect duplicate k-grams with the min(struct)+count
    # HASH AGGREGATE (map-side partials absorb boilerplate-span skew) and
    # leave the occurrence join to AQE (which CAN split a skewed join
    # partition) — never a row_number window over fp (which would sort a
    # billion-copy gram's occurrences on one task).
    p = plan(spark, "dedup_spans")
    assert "Window" not in p
    assert "Exchange rangepartitioning" not in p
    assert "BatchEvalPython" not in p


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


def test_keep_latest_plan_one_aggregate_no_window_no_join(spark):
    # crawl compaction must stay a single aggregate shuffle with map-side
    # partials: a Window (full per-key materialization) or a join-back
    # (second shuffle of the payload) would regress the 100 TB posture
    p = plan(spark, "dedup_url_latest")
    assert "Window" not in p
    assert "Join" not in p
    assert "partial_max" in p  # map-side combine before the exchange
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_snapshot_history_plan_single_key_exchange(spark):
    # the SCD-2 fold (tiebreak compaction + change-flag lag + run-number
    # running sum + per-run aggregate + valid_to lead) must all reuse ONE
    # hash exchange on the key: an extra exchange would re-shuffle the
    # changelog once per window at 100 TB. Joins stay out entirely.
    p = plan(spark, "dedup_url_history")
    assert "Join" not in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_snapshot_diff_plan_fp_projection_before_join(spark):
    # the diff joins two 16-byte fingerprints by id — the text column must
    # not survive past the md5 projection into the join
    p = plan(spark, "dedup_snapshot_diff")
    assert "Window" not in p
    assert p.count("md5") >= 2  # one fingerprint projection per side
    join_section = p[: p.index("md5")]  # everything above the first md5
    assert "text" not in join_section  # no text column flows into the join


def test_quality_funnel_single_case_projection(spark):
    # the funnel result is a literal DataFrame (the corpus was read exactly
    # once, eagerly, into <= n_stages+1 count rows) — the returned plan must
    # contain no corpus scan at all
    p = plan(spark, "prep_quality_funnel")
    assert "parquet" not in p.lower()
    assert "Scan ExistingRDD" in p or "LocalTableScan" in p


def test_history_lookup_plan_broadcasts_runs_no_expansion(spark):
    # per-probe point-in-interval lookup: ONE equi-join on the key with
    # the interval containment as a join-side filter; the compacted runs
    # table broadcasts (orders of magnitude smaller than any changelog).
    # A Cartesian/nested-loop would be the range-join trap this operator
    # exists to avoid.
    p = plan(spark, "dedup_history_lookup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_edit_verified_length_prefilter_before_levenshtein(spark):
    # the O(len^2) levenshtein kernel must sit ABOVE the integer
    # length-gap pre-filter in the plan: pairs that provably fail the
    # threshold are dropped for the price of two ints, and the kernel
    # stays JVM codegen (no Python crossing anywhere)
    p = plan(spark, "dedup_edit_verified")
    assert "EvalPython" not in p
    assert "levenshtein" in p
    # the filter containing the length-gap bound evaluates abs() on the
    # lengths; it must appear in the same or an earlier section than the
    # levenshtein projection
    assert "abs(" in p


def test_decontam_near_plan_no_cartesian_no_python(spark):
    # the asymmetric candidate join must be an equi-join on
    # (b, band_key) — never a Cartesian/nested-loop pairing of corpus
    # against eval — and the whole pipeline (shingle, band, verify,
    # anti-join) stays JVM codegen
    p = plan(spark, "dedup_decontam_near")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


@pytest.mark.slow  # plans every registered query: ~90 s, full-gate tier
def test_registry_wide_udf_free_invariant(spark):
    """SURVEY §2.13 across the WHOLE registry, not just the 50-entry
    driver surface (PLANS.json pins those): no registered query — all
    173 — ever plans a row-at-a-time Python UDF, and Arrow-batched
    Python appears ONLY in the kernels where no per-row built-in exists
    (winnowing's rolling-hash window, greedy packing's bin fold, the
    realistic-codebook PQ ADC kernels, multimodal decode). A new query
    that silently plans BatchEvalPython — or drifts into Arrow without
    being added here deliberately — fails with its name."""
    ARROW_ALLOWED = {
        "ann_ivfpq_topk_batched",
        "ann_pq_topk_batched",
        "dedup_winnow_pairs",
        "multimodal_features",
        "multimodal_video_frames",
        "pack_efficiency",
        "pack_materialize",
        "pack_sequences",
        "text_winnow_fingerprint",
    }
    allq = registry.get_all_queries()
    # no stale allowlist entries
    assert ARROW_ALLOWED <= set(allq), sorted(ARROW_ALLOWED - set(allq))
    row_udf, arrow_unexpected = [], []
    for name, fn in allq.items():
        p = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in p:
            row_udf.append(name)
        uses_arrow = (
            "ArrowEvalPython" in p
            or "FlatMapGroupsInPandas" in p
            or "MapInPandas" in p
        )
        if uses_arrow and name not in ARROW_ALLOWED:
            arrow_unexpected.append(name)
    assert not row_udf, f"row-at-a-time Python UDFs planned: {row_udf}"
    assert not arrow_unexpected, (
        f"Arrow-batched Python outside the deliberate set: {arrow_unexpected}"
    )


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


def test_cluster_kmeans_stats_single_aggregate_exchange(spark):
    # the surfaced query's terminal job: one map-side-combinable hash
    # aggregate over k clusters — exactly one exchange, k result rows,
    # JVM-only (the training iterations are separate bounded k-row jobs)
    p = plan(spark, "cluster_kmeans")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert "EvalPython" not in p
    assert "HashAggregate" in p


def test_cluster_balanced_sample_single_window_exchange(spark):
    # assignment is codegen; the per-cluster pick is ONE window over
    # cluster_id (one exchange + its sort), nothing else, JVM-only
    p = plan(spark, "sample_cluster_balanced")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert "Window" in p
    assert "EvalPython" not in p


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
