"""Unit tests for product-quantization ANN (operators/similarity.py::
pq_encode / pq_topk / train_pq_centroids, IVF-PQ, multiprobe LSH) and
perplexity buckets (operators/text.py::ppl_buckets) — semantics against
pure-Python references, the exactness-degradation identity, and
determinism. No registered query reaches these operators, so no DuckDB
oracle covers them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from epss_spark.operators import similarity


def _vectors(spark, n=20, dim=8, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)]
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _ref_codes(vec, books):
    """Reference PQ encoding: argmin squared L2 per subspace, ties to the
    lower centroid index."""
    m = len(books)
    sub = len(books[0][0])
    out = []
    for mi in range(m):
        sl = vec[mi * sub : (mi + 1) * sub]
        d2s = [sum((a - b) ** 2 for a, b in zip(sl, c)) for c in books[mi]]
        out.append(min(range(len(d2s)), key=lambda i: (d2s[i], i)))
    return out


class TestPQEncode:
    def test_codes_match_reference(self, spark):
        rows, df = _vectors(spark)
        books = similarity.sampled_pq_centroids(df, [0, 5, 11], m=2)
        got = {r.vec_id: list(r.codes) for r in similarity.pq_encode(df, books).collect()}
        # float32 storage: the reference must quantize through float32 too
        import numpy as np

        for vid, vec in rows:
            v32 = [float(np.float32(x)) for x in vec]
            assert got[vid] == _ref_codes(v32, books), f"vec {vid}"

    def test_sampled_centroid_encodes_to_itself(self, spark):
        _, df = _vectors(spark)
        books = similarity.sampled_pq_centroids(df, [3, 9, 14], m=4)
        got = {r.vec_id: list(r.codes) for r in similarity.pq_encode(df, books).collect()}
        assert got[3] == [0, 0, 0, 0]
        assert got[9] == [1, 1, 1, 1]
        assert got[14] == [2, 2, 2, 2]

    def test_dim_mismatch_raises(self, spark):
        df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<float>")
        books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]  # expects dim 4
        with pytest.raises(Exception, match="pq_encode"):
            similarity.pq_encode(df, books).collect()


class TestPQTopk:
    def test_full_codebook_degrades_to_exact_l2(self, spark):
        """With every vector sampled as a sub-centroid, each vector encodes
        to its own sub-vectors, so ADC distance == exact squared L2 and
        pq_topk must equal brute-force L2 top-k (the PQ analogue of IVF's
        n_probe == n_lists parity)."""
        rows, df = _vectors(spark, n=12, dim=8)
        import numpy as np

        books = similarity.sampled_pq_centroids(df, [r[0] for r in rows], m=2)
        queries = df.filter(F.col("vec_id") < 3)
        got = [
            (r.query_id, r.rank, r.cand_id)
            for r in similarity.pq_topk(queries, df, books, k=4).collect()
        ]
        by32 = {vid: np.array(v, dtype=np.float32).astype(np.float64) for vid, v in rows}
        want = []
        for q in range(3):
            d = sorted(
                (round(float(((by32[q] - by32[c]) ** 2).sum()), 6), c)
                for c in by32
                if c != q
            )
            want += [(q, i + 1, c) for i, (_, c) in enumerate(d[:4])]
        assert sorted(got) == sorted(want)

    def test_precomputed_codes_path_matches_inline(self, spark):
        _, df = _vectors(spark, n=15, dim=8)
        books = similarity.sampled_pq_centroids(df, [1, 4, 8, 13], m=2)
        queries = df.filter(F.col("vec_id") < 2)
        inline = sorted(map(tuple, similarity.pq_topk(queries, df, books, k=3).collect()))
        codes = similarity.pq_encode(df, books)
        reused = sorted(
            map(tuple, similarity.pq_topk(queries, df, books, k=3, codes=codes).collect())
        )
        assert inline == reused

    def test_trained_codebooks_recall(self, spark):
        """KMeans-trained codebooks (the scale path) must place the true
        nearest neighbor inside ADC top-5 for most queries — a loose
        recall floor that catches broken training/encoding wiring without
        pinning KMeans internals."""
        rows, df = _vectors(spark, n=40, dim=8, seed=3)
        books = similarity.train_pq_centroids(df, m=2, k=8, seed=1)
        assert len(books) == 2 and len(books[0]) == 8 and len(books[0][0]) == 4
        queries = df.filter(F.col("vec_id") < 8)
        import numpy as np

        by32 = {vid: np.array(v, dtype=np.float32).astype(np.float64) for vid, v in rows}
        hits = 0
        got = similarity.pq_topk(queries, df, books, k=5).collect()
        for q in range(8):
            true_nn = min(
                ((float(((by32[q] - by32[c]) ** 2).sum()), c) for c in by32 if c != q)
            )[1]
            approx = {r.cand_id for r in got if r.query_id == q}
            hits += true_nn in approx
        assert hits >= 5, f"recall@5 too low: {hits}/8"


class TestPplBuckets:
    def test_tertiles_are_monotone_and_balanced(self, spark):
        from epss_spark.operators import text as text_ops

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = text_ops.ppl_buckets(docs).collect()
        by_lang: dict = {}
        for r in out:
            by_lang.setdefault(r.lang, []).append(r)
        assert len(by_lang) >= 4
        for lang, rows in by_lang.items():
            # label <-> bucket mapping is consistent
            for r in rows:
                assert r.label == {1: "head", 2: "middle", 3: "tail"}[r.ppl_bucket], lang
            # buckets are score-monotone: every head score >= every middle
            # score >= every tail score
            lo = {b: min(r.avg_logprob for r in rows if r.ppl_bucket == b) for b in (1, 2, 3)}
            hi = {b: max(r.avg_logprob for r in rows if r.ppl_bucket == b) for b in (1, 2, 3)}
            assert lo[1] >= hi[2] >= 0 - 1e18 and lo[2] >= hi[3], lang
            # and roughly balanced (exact tertiles up to interpolation ties)
            n = len(rows)
            for b in (1, 2, 3):
                cnt = sum(1 for r in rows if r.ppl_bucket == b)
                assert abs(cnt - n / 3) <= 2, (lang, b, cnt, n)


class TestIVFPQ:
    def test_full_probe_full_codebook_degrades_to_exact_l2(self, spark):
        """With n_probe == n_lists AND every vector as its own sub-centroid,
        IVF-PQ must equal brute-force L2 top-k — the composite of both
        exactness-degradation identities."""
        rows, df = _vectors(spark, n=10, dim=8)
        import numpy as np

        ids = [r[0] for r in rows]
        by_id = {vid: [float(np.float32(x)) for x in v] for vid, v in rows}
        coarse = [by_id[i] for i in ids[:4]]
        books = similarity.sampled_pq_centroids(df, ids, m=2)
        queries = df.filter(F.col("vec_id") < 3)
        got = sorted(
            (r.query_id, r.rank, r.cand_id)
            for r in similarity.ivfpq_topk(
                queries, df, coarse, books, k=3, n_probe=4
            ).collect()
        )
        by32 = {vid: np.array(v, dtype=np.float32).astype(np.float64) for vid, v in rows}
        want = []
        for q in range(3):
            d = sorted(
                (round(float(((by32[q] - by32[c]) ** 2).sum()), 6), c)
                for c in by32
                if c != q
            )
            want += [(q, i + 1, c) for i, (_, c) in enumerate(d[:3])]
        assert got == sorted(want)

    def test_prebuilt_index_matches_inline(self, spark):
        rows, df = _vectors(spark, n=14, dim=8)
        import numpy as np

        by_id = {vid: [float(np.float32(x)) for x in v] for vid, v in rows}
        coarse = [by_id[i] for i in (0, 5, 9)]
        books = similarity.sampled_pq_centroids(df, [1, 4, 8], m=2)
        queries = df.filter(F.col("vec_id") < 2)
        inline = sorted(
            map(tuple, similarity.ivfpq_topk(queries, df, coarse, books, k=3).collect())
        )
        idx = similarity.ivfpq_index(df, coarse, books)
        reused = sorted(
            map(
                tuple,
                similarity.ivfpq_topk(queries, df, coarse, books, k=3, index=idx).collect(),
            )
        )
        assert inline == reused
        # index shape: every row has a valid list and m codes
        for r in idx.collect():
            assert 0 <= r.list_id < 3 and len(r.codes) == 2
            assert all(0 <= c < 3 for c in r.codes)


class TestBatchedADC:
    def test_encode_batched_equals_expression(self, spark):
        rows, df = _vectors(spark, n=25, dim=8, seed=21)
        books = similarity.train_pq_centroids(df, m=2, k=8, seed=4)
        a = {r.vec_id: list(r.codes) for r in similarity.pq_encode(df, books).collect()}
        b = {r.vec_id: list(r.codes)
             for r in similarity.pq_encode_batched(df, books).collect()}
        assert a == b

    def test_pq_topk_batched_equals_expression(self, spark):
        """The numpy kernel folds doubles in the SAME order as the
        Catalyst expression, so 6-dp ad2 scores — and therefore ranks —
        are bit-identical, not merely close."""
        _, df = _vectors(spark, n=30, dim=8, seed=22)
        books = similarity.train_pq_centroids(df, m=2, k=8, seed=4)
        queries = df.filter(F.col("vec_id") < 4)
        a = sorted(map(tuple, similarity.pq_topk(queries, df, books, k=5).collect()))
        b = sorted(map(tuple, similarity.pq_topk_batched(queries, df, books, k=5).collect()))
        assert a == b and len(a) == 20

    def test_ivfpq_topk_batched_equals_expression(self, spark):
        rows, df = _vectors(spark, n=30, dim=8, seed=23)
        import numpy as np

        by_id = {vid: [float(np.float32(x)) for x in v] for vid, v in rows}
        coarse = [by_id[1], by_id[9], by_id[17], by_id[25]]
        books = similarity.sampled_pq_centroids(df, [2, 6, 14], m=2)
        queries = df.filter(F.col("vec_id") < 4)
        a = sorted(map(tuple, similarity.ivfpq_topk(
            queries, df, coarse, books, k=4, n_probe=2).collect()))
        b = sorted(map(tuple, similarity.ivfpq_topk_batched(
            queries, df, coarse, books, k=4, n_probe=2).collect()))
        assert a == b and len(a) > 0

    def test_large_codebook_runs_fast(self, spark):
        """k=256 codebooks (the standard 8-bit config) must run through
        the batched path without the expression form's plan explosion —
        a smoke bound, not a benchmark (PERF.md has the ladder)."""
        import time

        _, df = _vectors(spark, n=120, dim=16, seed=24)
        books = similarity.train_pq_centroids(df, m=4, k=64, seed=4, max_iter=2)
        queries = df.filter(F.col("vec_id") < 3)
        t0 = time.monotonic()
        got = similarity.pq_topk_batched(queries, df, books, k=5).collect()
        assert len(got) == 15
        assert time.monotonic() - t0 < 60


class TestRerankExact:
    def test_full_shortlist_equals_exact(self, spark):
        """Re-ranking a shortlist that contains EVERY candidate must equal
        brute-force cosine top-k exactly — the identity that pins the
        re-rank stage's scoring and windowing."""
        _, df = _vectors(spark, n=15, dim=8)
        queries = df.filter(F.col("vec_id") < 3)
        full = similarity.cosine_topk(queries, df, k=14)
        got = sorted(map(tuple, similarity.rerank_exact(full, queries, df, k=4).collect()))
        want = sorted(map(tuple, similarity.cosine_topk(queries, df, k=4).collect()))
        assert got == want

    def test_rerank_lifts_ivfpq_recall(self, spark):
        """The production shape (ADC shortlist r >> k, exact re-rank)
        recovers neighbors that raw ADC ordering loses: recall@k of the
        re-ranked IVF-PQ is >= the raw ADC run's on the same probes, and
        the identity shortlist==corpus stays exact."""
        rows, df = _vectors(spark, n=60, dim=16, seed=11)
        import numpy as np

        normed = similarity.normalize_vectors(df).localCheckpoint()
        queries = normed.filter(F.col("vec_id") < 8)
        k = 5
        exact = {}
        for r in similarity.cosine_topk(queries, normed, k=k).collect():
            exact.setdefault(r.query_id, set()).add(r.cand_id)

        coarse = similarity.train_ivf_centroids(normed, n_lists=6, seed=1)
        books = similarity.train_pq_centroids(normed, m=4, k=8, seed=1)

        def rec(res):
            by_q = {}
            for r in res.collect():
                by_q.setdefault(r.query_id, set()).add(r.cand_id)
            return sum(len(by_q.get(q, set()) & s) / len(s) for q, s in exact.items()) / len(exact)

        raw = rec(similarity.ivfpq_topk(queries, normed, coarse, books, k=k, n_probe=3))
        rr = rec(
            similarity.rerank_exact(
                similarity.ivfpq_topk(queries, normed, coarse, books, k=6 * k, n_probe=3),
                queries, normed, k=k,
            )
        )
        assert rr >= raw, (rr, raw)
        assert rr >= 0.5, rr  # shortlist coverage floor at these settings

    def test_clustered_corpus_recall_floor(self, spark):
        """On a corpus with real neighborhood structure (clustered
        vectors — the shape embedding corpora actually have, vs the
        near-iid testdata), the documented production defaults (IVF-PQ
        shortlist + exact re-rank, n_probe=1/4 of lists, r=10k) must hit
        recall@10 >= 0.9 (PERF.md's clustered-corpus recall row is 1.0;
        the raw ADC ordering alone measures ~0.2 on the same corpus —
        re-rank is a correctness-of-defaults requirement, not a tweak)."""
        import numpy as np

        rng = np.random.default_rng(7)
        centers = rng.standard_normal((16, 32))
        rows = [
            (i, [float(x) for x in centers[i % 16] + 0.35 * rng.standard_normal(32)])
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        normed = similarity.normalize_vectors(df).localCheckpoint()
        queries = normed.filter(F.col("vec_id") < 10)
        k = 10
        exact = {}
        for r in similarity.cosine_topk(queries, normed, k=k).collect():
            exact.setdefault(r.query_id, set()).add(r.cand_id)
        coarse = similarity.train_ivf_centroids(normed, n_lists=8, seed=1)
        books = similarity.train_pq_centroids(normed, m=4, k=8, seed=1)
        rr = similarity.rerank_exact(
            similarity.ivfpq_topk(queries, normed, coarse, books, k=10 * k, n_probe=2),
            queries, normed, k=k,
        )
        by_q = {}
        for r in rr.collect():
            by_q.setdefault(r.query_id, set()).add(r.cand_id)
        recall = sum(
            len(by_q.get(q, set()) & s) / len(s) for q, s in exact.items()
        ) / len(exact)
        assert recall >= 0.9, recall


class TestMultiprobeLSH:
    def test_single_probe_equals_lsh_topk(self, spark):
        """n_probes=1 is exactly lsh_topk — the degradation identity."""
        _, df = _vectors(spark, n=40, dim=8, seed=5)
        queries = df.filter(F.col("vec_id") < 6)
        a = sorted(map(tuple, similarity.lsh_topk(
            queries, df, k=4, n_planes=4, seed=9).collect()))
        b = sorted(map(tuple, similarity.lsh_multiprobe_topk(
            queries, df, k=4, n_planes=4, n_probes=1, seed=9).collect()))
        assert a == b and len(a) > 0

    def test_multiprobe_recall_dominates_single_probe(self, spark):
        """Probing low-margin flip buckets can only ADD candidates, so
        every single-probe hit survives and recall vs exact brute force
        is monotone in n_probes; full-ball probing at few planes nears
        brute force."""
        import numpy as np

        rng = np.random.default_rng(3)
        centers = rng.standard_normal((8, 16))
        rows = [
            (i, [float(x) for x in centers[i % 8] + 0.4 * rng.standard_normal(16)])
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = df.filter(F.col("vec_id") < 8)
        k = 5
        exact = {}
        for r in similarity.cosine_topk(queries, df, k=k).collect():
            exact.setdefault(r.query_id, set()).add(r.cand_id)

        def rec(n_probes):
            by_q = {}
            res = similarity.lsh_multiprobe_topk(
                queries, df, k=k, n_planes=6, n_probes=n_probes, seed=2
            )
            for r in res.collect():
                by_q.setdefault(r.query_id, set()).add(r.cand_id)
            return sum(
                len(by_q.get(q, set()) & s) / len(s) for q, s in exact.items()
            ) / len(exact)

        r1, r4, r7 = rec(1), rec(4), rec(7)
        assert r1 <= r4 <= r7, (r1, r4, r7)
        assert r7 > r1, (r1, r7)  # flips genuinely recover neighbors
        with pytest.raises(ValueError):
            similarity.lsh_multiprobe_topk(queries, df, n_planes=6, n_probes=8)


def test_pq_topk_batched_string_ids(spark):
    """Review regression: the batched ADC kernel must preserve string ids
    (the output schema is built from the table's real id type)."""
    import numpy as np

    from epss_spark.operators import similarity

    rng = np.random.default_rng(5)
    vecs = [(f"doc-{i}", [float(x) for x in rng.standard_normal(8)]) for i in range(12)]
    df = spark.createDataFrame(vecs, "vec_id string, embedding array<float>")
    cents = similarity.sampled_pq_centroids(
        df, ids=["doc-0", "doc-3", "doc-7", "doc-9"], m=2, id_col="vec_id"
    )
    out = similarity.pq_topk_batched(
        df.limit(2), df, cents, k=3, id_col="vec_id"
    ).collect()
    assert out and all(r.query_id.startswith("doc-") for r in out)
    assert all(r.cand_id.startswith("doc-") for r in out)
