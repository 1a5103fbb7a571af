"""Domain-query invariants beyond the DuckDB oracle gate: structural
properties that must hold at any scale (the oracle pins values at sf0.01;
these pin the semantics)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from epss_spark import queries_domain as qd

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def daily(spark):
    return qd._daily(spark, SF).cache()


def test_daily_snapshot_is_one_row_per_user_day(spark, daily):
    dup = daily.groupBy("user_id", "d").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_reconstruction_matches_dense_daily(spark, daily):
    """densify(quantize(daily)) == daily on every observed (user, day):
    quantization is lossless (SURVEY §5.3 property, as a fixed test)."""
    dense = qd.epss_reconstruct_dense(spark, SF)
    joined = daily.alias("a").join(
        dense.alias("b"), ["user_id", "d"], "inner"
    )
    assert joined.filter(F.col("a.value") != F.col("b.value")).count() == 0
    # every daily observation is present in the reconstruction
    assert daily.join(dense, ["user_id", "d"], "left_anti").count() == 0


def test_volume_stats_totals(spark, daily):
    vs = qd.epss_volume_stats(spark, SF)
    row = vs.agg(
        F.sum("n_scores").alias("n"), F.sum("n_changed").alias("c")
    ).first()
    assert row["n"] == daily.count()
    # changed rows are a subset of all rows, and include each user's first day
    n_users = daily.select("user_id").distinct().count()
    assert n_users <= row["c"] <= row["n"]


def test_top_movers_rank_bounds(spark):
    tm = qd.epss_top_movers(spark, SF)
    assert tm.filter((F.col("rk") < 1) | (F.col("rk") > 3)).count() == 0
    assert tm.filter(F.col("delta") == 0).count() == 0


def test_dedup_embedding_keeps_lower_id(spark):
    out = qd.dedup_embedding(spark, SF)
    assert out.filter(F.col("keep_id") >= F.col("dup_id")).count() == 0
    # a kept canonical is never itself listed as a duplicate of something
    # with an id >= it (keep_id is the minimum similar neighbor)
    assert out.select("dup_id").distinct().count() == out.count()


def test_documents_text_is_ascii(spark):
    """Pins the text oracles' assumption: the shared normalization
    (operators/text.py::normalize, `_NORM_SQL` on the DuckDB side) lowers
    before stripping non-alphanumerics, and the two engines lower only
    ASCII identically (Spark lowers U+0130 to 'i' + U+0307 and a
    word-final capital sigma to U+03C2; DuckDB does neither), so
    text_fingerprint, dedup_exact_docs and every other normalize-based
    oracle match only on ASCII text. If the testdata documents ever gain
    non-ASCII content, this fails loudly instead of the oracles drifting
    silently."""
    from epss_spark.queries_core import T

    docs = T(spark, SF, "documents")
    non_ascii = docs.filter(
        F.octet_length(F.col("text")) != F.length(F.col("text"))
    ).count()
    assert non_ascii == 0


def test_ivf_full_probe_equals_brute_force(spark):
    """IVF with n_probe == n_lists degrades to exact search — the built-in
    parity oracle for the approximate path (every candidate is in exactly
    one inverted list, so probing all lists scans each candidate once)."""
    from epss_spark.operators import similarity
    from epss_spark.queries_core import T

    emb = T(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(queries, emb, k=5)
    ivf_full = similarity.ivf_topk(queries, emb, k=5, n_lists=4, n_probe=4, seed=42)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, ivf_full.collect()))


def test_ivf_partial_probe_recall(spark):
    """n_probe=2 of 4 lists must still recover most true neighbors on
    clustered data (label-clustered embeddings -> lists align with labels)."""
    from epss_spark.operators import similarity
    from epss_spark.queries_core import T

    emb = T(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.cand_id) for r in similarity.cosine_topk(queries, emb, k=5).collect()}
    approx = {
        (r.query_id, r.cand_id)
        for r in similarity.ivf_topk(queries, emb, k=5, n_lists=4, n_probe=2, seed=42).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5
