"""Bucketed physical layouts: the shuffle-free aggregation and
quantization they buy, and bucket pruning for the lexical index."""

from __future__ import annotations

from pyspark.sql import functions as F

from epss_spark.sources.readers import write_bucketed


def test_write_bucketed_aggregation_skips_shuffle(spark, tmp_path):
    """The bucketed-layout scale claim, verified on the physical plan: a
    groupBy on the bucket key over a bucketed table plans with NO hash
    exchange — the scan itself satisfies the required distribution. This
    is what makes repeated per-cve quantizations shuffle-free at 100 TB."""
    # k must be non-unique: on a provably-unique key Catalyst removes the
    # aggregation shuffle outright and the unbucketed control is vacuous
    df = spark.range(10_000).selectExpr("id % 50 AS k", "id % 7 AS v")
    try:
        write_bucketed(df, "bt_test", "k", num_buckets=8, sort_key="k", path=str(tmp_path / "bt"))
        agg = spark.table("bt_test").groupBy("k").agg(F.sum("v").alias("s"))
        assert agg.count() == 50
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        # and the unbucketed equivalent DOES shuffle (the test would be
        # vacuous if the agg were exchange-free for other reasons) — AQE
        # only materializes exchanges in the executed plan, so run it first
        plain = df.groupBy("k").agg(F.sum("v").alias("s"))
        plain.collect()
        assert "Exchange hashpartitioning" in plain._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_test")


def test_bucketed_quantization_zero_exchanges(spark, tmp_path):
    """The repeated-quantization layout: over a cve-bucketed,
    (cve, date)-sorted table the flagship window needs NO exchange at all
    — the scan satisfies the window's clustering requirement. Client table
    mode must produce identical results to the path mode."""
    import datetime as dt

    from epss_spark.client import EPSSClient

    rows = [
        (dt.date(2023, 3, 7) + dt.timedelta(days=d), f"CVE-{k}", (k + d) % 3 / 10.0, 0.5)
        for k in range(20)
        for d in range(5)
    ]
    df = spark.createDataFrame(rows, "date date, cve string, epss double, percentile double")
    root = str(tmp_path / "scores")
    df.repartition("date").write.partitionBy("date").parquet(root)
    try:
        write_bucketed(
            df.repartition(4, "cve"),
            "bt_scores_q",
            "cve",
            num_buckets=4,
            sort_key=["cve", "date"],
            path=str(tmp_path / "bt_scores"),
        )
        hi = dt.date(2023, 3, 11)
        pc = EPSSClient(spark, root, max_date_resolver=lambda: hi)
        bc = EPSSClient(spark, table="bt_scores_q", max_date_resolver=lambda: hi)
        out = bc.get_changed_scores("2023-03-08", hi, sort=False)
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
        key = lambda r: (r.date, r.cve, r.epss, r.percentile)  # noqa: E731
        assert sorted(map(key, out.collect())) == sorted(
            map(key, pc.get_changed_scores("2023-03-08", hi, sort=False).collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_scores_q")


def test_bucketed_bm25_index_prunes_posting_buckets(spark, tmp_path):
    """The DEPLOYMENT.md claim for the lexical index layout: postings
    written bucketed by term let a lookup's IN-filter prune to the query
    terms' buckets (SelectedBucketsCount in the scan) — most of the
    index is never read."""
    from epss_spark.operators import retrieval

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    postings, doc_stats = retrieval.bm25_index(docs)
    try:
        write_bucketed(postings, "bm25_p_test", "term", num_buckets=8,
                       path=str(tmp_path / "p"))
        write_bucketed(doc_stats, "bm25_d_test", "doc_id", num_buckets=8,
                       path=str(tmp_path / "d"))
        out = retrieval.bm25_lookup(
            spark.table("bm25_p_test"), spark.table("bm25_d_test"),
            ["dup", "spark", "window"],
        )
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in p
        assert "regexp_replace" not in p  # still no corpus tokenize
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_p_test")
        spark.sql("DROP TABLE IF EXISTS bm25_d_test")
