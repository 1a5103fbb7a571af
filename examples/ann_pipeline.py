"""The production ANN pipeline end-to-end — build, serve, maintain.

The 100 TB embedding-search flow (DEPLOYMENT.md job-graph step 6):

  1. ONCE: train the quantizer on a sample (coarse IVF centroids +
     PQ codebooks — a frozen model artifact; retrain = rebuild), then
     `ivfpq_index` the corpus into the (id, list_id, codes) table
     (~20 B/vector vs 256 B raw; write partitioned by list_id so a
     query scans n_probe/n_lists of an already-compressed store).
  2. SERVE: `ivfpq_topk(..., index=...)` for the ADC shortlist of
     r >> k, then `rerank_exact` fetches just those r raw vectors and
     scores them exactly — the Jegou et al. two-stage pipeline. PERF.md
     round-8 recall table: on clustered corpora re-ranking takes
     recall@10 from ~0.2 (raw ADC order) to ~1.0 at the same scan
     fraction; tune n_probe / r by measuring recall@k against exact
     cosine top-k (`topk_recall`) on a sample of YOUR embedding table.
  3. DAILY/CONTINUOUS: encode new embeddings against the FROZEN
     quantizer and append — one zero-shuffle codegen pass per batch
     (`streaming/dedup_stream.py::start_ann_index_maintenance` is the
     file-arrival-driven form, epoch-scoped and replay-idempotent).

Usage: python examples/ann_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from epss_spark.operators import similarity  # noqa: E402
from epss_spark.session import get_spark  # noqa: E402
from epss_spark.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("ann-pipeline-example")
    spark.sparkContext.setLogLevel("ERROR")

    emb = similarity.normalize_vectors(
        load_table(spark, sf_dir, "embeddings")
    ).localCheckpoint()
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)  # tomorrow's new vectors

    # 1. frozen quantizer + initial index build (in production: persist
    #    centroids/books beside the table, write index partitioned by
    #    list_id via .write.partitionBy("list_id"))
    coarse = similarity.train_ivf_centroids(corpus, n_lists=8, seed=1)
    books = similarity.train_pq_centroids(corpus, m=4, k=8, seed=1)
    index = similarity.ivfpq_index(corpus, coarse, books).localCheckpoint()
    print(f"index: {index.count()} vectors x (list_id + {len(books)} codes)")

    # 2. serve: ADC shortlist (r = 10k) -> exact re-rank to k
    queries = emb.filter(F.col("vec_id") < 3)
    k = 5
    shortlist = similarity.ivfpq_topk(
        queries, corpus, coarse, books, k=10 * k, n_probe=2, index=index
    )
    hits = similarity.rerank_exact(shortlist, queries, corpus, k=k)
    print("re-ranked top-k per query:")
    hits.show(3 * k, truncate=False)

    # 3. maintain: new vectors encode against the FROZEN model — one
    #    zero-shuffle projection, append (streaming form: epoch-scoped)
    delta = similarity.ivfpq_index(batch, coarse, books)
    index2 = index.unionByName(delta)
    hits2 = similarity.rerank_exact(
        similarity.ivfpq_topk(
            queries, emb, coarse, books, k=10 * k, n_probe=2, index=index2
        ),
        queries, emb, k=k,
    )
    print(f"after appending {delta.count()} new codes, search sees them:")
    hits2.show(3 * k, truncate=False)


if __name__ == "__main__":
    main()
