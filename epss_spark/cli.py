"""CLI over the Spark client, mirroring the reference's command surface
(reference epss/cli.py:27-163: `scores`, `urls`, `date-range` commands with
workdir/format/version flags). argparse instead of click (not baked into
this environment), same shape.

Usage:
    python -m epss_spark.cli scores --scores-path PATH [-a DATE] [-b DATE]
        [--cve-id ID ...] [--min-epss X] [--drop-unchanged] [--output-format F]
        [--download --workdir DIR]
    python -m epss_spark.cli ingest --workdir DIR --scores-path PATH -a DATE -b DATE
    python -m epss_spark.cli urls [-a DATE] [-b DATE]
    python -m epss_spark.cli date-range [--version v3]
    python -m epss_spark.cli dedup --input DOCS --output KEPT
        [--method exact|lines|spans|minhash|incremental|semantic|decontam]
        [--eval-input BENCH]   (decontam: drop near-dups of eval docs)
        [--threshold X]
        [--policy greedy|components] [--max-bucket-size N]
        [--index-dir DIR --update-index]   (training-data extension)
    python -m epss_spark.cli dedup-index --input CORPUS --index-dir DIR
        (one-time LSH index build; nightly `dedup --method incremental`
        then runs in O(append))
    python -m epss_spark.cli prep --input DOCS --output OUT
        --op redact|chunk|pack|shard|split [--chunk-size N --stride N]
        [--budget N --n-buckets N] [--n-shards N --salt S]
        [--weights A,B,C --leakage-safe]   (split)
        (training-data extension)
    python -m epss_spark.cli analyze --input DOCS
        --report top-ngrams|vocab|logprob|card|divergence|spectrum|pmi
                 |contamination [--eval-input BENCH] [-k N] [--output OUT]
    python -m epss_spark.cli search --input DOCS --terms "a,b,c" [-k N]
    python -m epss_spark.cli bpe-train --input DOCS --output MERGES [--n-merges N]
    python -m epss_spark.cli bpe-apply --input DOCS --merges MERGES --output OUT
    python -m epss_spark.cli ann-index --input EMB --output DIR
        [--n-lists N --m M --k-codes K]   (frozen quantizer + list_id-
        partitioned code table — the ANN artifact lifecycle)
    python -m epss_spark.cli ann-search --index DIR --input EMB --queries Q
        [--k N --n-probe P --rerank R] [--output OUT]
"""

from __future__ import annotations

import argparse
import os
import sys

from epss_spark.client import EPSSClient, get_date_range
from epss_spark.plans.query import Query
from epss_spark.session import get_spark
from epss_spark.sources.ingest import download_snapshots, iter_dates, snapshot_url
from epss_spark.sources.readers import date_partitioned_write, read_snapshots
from epss_spark.sources.sinks import render_console, write_any


def _add_range_flags(p: argparse.ArgumentParser) -> None:
    p.add_argument("-a", "--min-date", help="start date (inclusive)")
    p.add_argument("-b", "--max-date", help="end date (inclusive)")
    p.add_argument("--version", default="v3", choices=["v1", "v2", "v3"])


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="epss-spark")
    sub = ap.add_subparsers(dest="command", required=True)

    s = sub.add_parser("scores", help="query scores (reference epss/cli.py:70-114)")
    _add_range_flags(s)
    s.add_argument("--scores-path", help="date-partitioned parquet root")
    s.add_argument(
        "--scores-table",
        help="cve-bucketed saved table (zero-exchange quantization layout); "
        "exactly one of --scores-path/--scores-table",
    )
    s.add_argument("--cve-id", action="append", dest="cve_ids")
    s.add_argument(
        "--cve-id-file",
        help="file of CVE ids, one per line, blank lines skipped (F6)",
    )
    s.add_argument("--min-epss", type=float)
    s.add_argument("--max-epss", type=float)
    s.add_argument("--min-percentile", type=float)
    s.add_argument("--max-percentile", type=float)
    s.add_argument("--match", default="rlike", choices=["rlike", "isin"])
    s.add_argument("--drop-unchanged", action="store_true")
    s.add_argument("-o", "--output-file")
    s.add_argument(
        "--output-format", default="table", choices=["table", "json", "jsonl", "csv"]
    )
    s.add_argument(
        "--download",
        action="store_true",
        help="download snapshots into the dataset instead of querying "
        "(reference epss/cli.py:90-103)",
    )
    s.add_argument("--workdir", help="raw snapshot dir for --download")

    i = sub.add_parser(
        "ingest",
        help="fetch raw daily snapshots and build/extend the date-partitioned "
        "parquet dataset (reference download path epss/client.py:126-194)",
    )
    _add_range_flags(i)
    i.add_argument("--workdir", required=True, help="raw snapshot download dir")
    i.add_argument("--scores-path", required=True, help="date-partitioned parquet root")

    dd = sub.add_parser(
        "dedup",
        help="training-data dedup ACTION over a documents parquet "
        "(extension): keep one survivor per exact/near duplicate group",
    )
    dd.add_argument("--input", required=True, help="parquet with (doc_id, text, ...)")
    dd.add_argument("--output", required=True, help="output parquet of surviving rows")
    dd.add_argument(
        "--method",
        default="minhash",
        choices=["exact", "lines", "spans", "minhash", "incremental",
                 "semantic", "semantic-incremental", "decontam"],
    )
    dd.add_argument(
        "--threshold",
        type=float,
        default=None,
        help="similarity cutoff; meaning and default are per-method: "
        "verified Jaccard >= 0.5 for minhash/incremental, cosine >= 0.99 "
        "for semantic (exact ignores it)",
    )
    dd.add_argument(
        "--policy",
        default="greedy",
        choices=["greedy", "components"],
        help="greedy keep-lowest-id, or transitive-closure one-per-component",
    )
    dd.add_argument(
        "--max-bucket-size",
        type=int,
        help="skip LSH buckets above this size (boilerplate mega-cliques)",
    )
    dd.add_argument(
        "--span-k",
        type=int,
        default=8,
        help="spans: duplicated spans of at least this many tokens are removed",
    )
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument(
        "--index-dir",
        help="index dir: the LSH index from `dedup-index` for --method "
        "incremental, or the (cell, id, vector) index for --method "
        "semantic-incremental (self-creating on first use with "
        "--centroids; the model is stored inside and IS the scheme)",
    )
    dd.add_argument(
        "--update-index",
        action="store_true",
        help="after incremental / semantic-incremental dedup, append the "
        "survivors' index rows to --index-dir so tomorrow's batch sees "
        "them",
    )
    dd.add_argument(
        "--centroids",
        help="semantic-incremental: saved centroid model parquet (from "
        "`cluster --op train`) — required when the index dir does not "
        "exist yet (it becomes the index's frozen scheme); forbidden to "
        "disagree with an existing index's stored model",
    )
    dd.add_argument(
        "--eval-input",
        help="benchmark/eval parquet for --method decontam: corpus docs "
        "near-duplicating ANY eval doc are dropped (in-corpus near-dups "
        "survive; dedup them with --method minhash separately)",
    )
    dd.add_argument(
        "--vec-col",
        default="embedding",
        help="embedding column for --method semantic (input is a vector "
        "parquet, e.g. --id-col vec_id)",
    )
    dd.add_argument("--n-lists", type=int, default=8, help="semantic: KMeans clusters")
    dd.add_argument("--seed", type=int, default=42, help="semantic: KMeans seed")
    dd.add_argument(
        "--num-hashes",
        type=int,
        default=None,
        help="incremental: must match the index (read from its meta.json "
        "when omitted; an explicit mismatch is an error)",
    )
    dd.add_argument(
        "--bands",
        type=int,
        default=None,
        help="incremental: must match the index (read from its meta.json "
        "when omitted; an explicit mismatch is an error)",
    )

    di = sub.add_parser(
        "dedup-index",
        help="build the persistent LSH index for incremental dedup "
        "(extension): writes band rows + shingle arrays as parquet; "
        "nightly batches then run `dedup --method incremental` in "
        "O(append) without re-shingling the corpus",
    )
    di.add_argument("--input", required=True, help="parquet with (doc_id, text, ...)")
    di.add_argument("--index-dir", required=True, help="output dir (bands/, shingles/)")
    di.add_argument("--id-col", default="doc_id")
    di.add_argument("--text-col", default="text")
    di.add_argument("--num-hashes", type=int, default=12)
    di.add_argument("--bands", type=int, default=4)

    pp = sub.add_parser(
        "prep",
        help="training-data prep over a documents parquet (extension): "
        "PII redaction, context-window chunking, sequence packing, "
        "shard permutation, or train/val/test splits (plain hash or "
        "near-dup leakage-safe)",
    )
    pp.add_argument("--input", required=True, help="parquet with (doc_id, text, ...)")
    pp.add_argument("--output", required=True, help="output parquet")
    pp.add_argument(
        "--op", required=True,
        choices=["redact", "chunk", "pack", "shard", "split"],
    )
    pp.add_argument("--id-col", default="doc_id")
    pp.add_argument("--text-col", default="text")
    pp.add_argument("--chunk-size", type=int, default=32, help="chunk: tokens per window")
    pp.add_argument("--stride", type=int, default=24, help="chunk: window advance")
    pp.add_argument("--budget", type=int, default=128, help="pack: tokens per sequence")
    pp.add_argument("--n-buckets", type=int, default=32, help="pack: parallel pack buckets")
    pp.add_argument("--n-shards", type=int, default=32, help="shard: output shard count")
    pp.add_argument(
        "--salt",
        default=None,
        help="shard/split: permutation salt (default: 'shard' for --op "
        "shard, 'split' for --op split; an explicit value is always "
        "honored)",
    )
    pp.add_argument(
        "--weights", default="0.8,0.1,0.1",
        help="split: train,val,test fractions",
    )
    pp.add_argument(
        "--leakage-safe", action="store_true",
        help="split: assign by near-dup LSH component instead of per-doc "
        "hash — near-duplicates never straddle the split boundary",
    )

    an = sub.add_parser(
        "analyze",
        help="corpus analytics over a documents parquet (extension): "
        "boilerplate n-grams, per-source vocabulary stats, unigram-LM "
        "typicality ranking, dataset card, token divergence, frequency "
        "spectrum (hapax/Zipf), or PMI collocations",
    )
    an.add_argument("--input", required=True, help="parquet with (doc_id, text, ...)")
    an.add_argument(
        "--report",
        required=True,
        choices=["top-ngrams", "vocab", "logprob", "card", "divergence",
                 "spectrum", "pmi", "contamination", "dim-drift"],
    )
    an.add_argument("--id-col", default="doc_id")
    an.add_argument("--text-col", default="text")
    an.add_argument("--stratum-col", default="source", help="vocab: grouping column")
    an.add_argument(
        "--eval-input",
        help="contamination: benchmark parquet with (benchmark, doc_id, "
        "text); without a benchmark column every row is one benchmark "
        "named by the file",
    )
    an.add_argument(
        "--embeddings",
        help="contamination: corpus embeddings parquet (vec ids == doc "
        "ids) — with --eval-embeddings, adds the SEMANTIC method row "
        "(embedding-cosine leakage the lexical tiers cannot see)",
    )
    an.add_argument(
        "--eval-embeddings",
        help="contamination: eval-item embeddings parquet (benchmark, "
        "vec id, vector; without a benchmark column every row is one "
        "benchmark named by the file)",
    )
    an.add_argument(
        "--sem-threshold",
        type=float,
        default=0.99,
        help="contamination: semantic-tier cosine threshold (calibrate "
        "from pair_cosine_histogram on the corpus)",
    )
    an.add_argument(
        "--sem-k",
        type=int,
        default=8,
        help="contamination: anchor-centroid count for the semantic "
        "tier's cell confinement (seeded from the k lowest vec ids)",
    )
    an.add_argument(
        "--ref-input",
        help="dim-drift: frozen reference embeddings parquet; --input is "
        "the incoming batch (both need a vec column, see --vec-col)",
    )
    an.add_argument("--vec-col", default="embedding", help="dim-drift: vector column")
    an.add_argument("-k", type=int, default=20, help="rows to show (every report is truncated to k; --output writes the full report)")
    an.add_argument("--output", help="also write the full report as parquet")

    se = sub.add_parser(
        "search",
        help="BM25 top-k lexical retrieval over a documents parquet (extension)",
    )
    se.add_argument("--input", required=True, help="parquet with (doc_id, text, ...)")
    se.add_argument(
        "--terms", required=True, help="comma-separated query terms (bag of words)"
    )
    se.add_argument("-k", type=int, default=10)
    se.add_argument("--id-col", default="doc_id")
    se.add_argument("--text-col", default="text")

    sl = sub.add_parser(
        "select",
        help="DSIR importance-weighted data selection (extension): score a "
        "raw corpus against a target-domain corpus, optionally Gumbel-top-k "
        "sample it",
    )
    sl.add_argument("--input", required=True, help="raw corpus parquet (doc_id, text, ...)")
    sl.add_argument("--target", help="target-domain corpus parquet")
    sl.add_argument(
        "--target-lang",
        help="shortcut: use the input rows with this lang value as the target",
    )
    sl.add_argument("--output", required=True, help="output parquet")
    sl.add_argument("-k", type=int, help="sample size; omit to write scores for ALL docs")
    sl.add_argument("--n-buckets", type=int, default=1024, help="hashed-feature buckets")
    sl.add_argument("--seed", default="dsir", help="Gumbel noise salt")
    sl.add_argument("--id-col", default="doc_id")
    sl.add_argument("--text-col", default="text")

    cu = sub.add_parser(
        "cluster",
        help="deterministic Lloyd k-means over an embeddings parquet "
        "(extension): train an exact-arithmetic centroid model, then write "
        "per-cluster diagnostics (--op stats), model-quality scores "
        "(--op silhouette / --op elbow — run both on one model to pick "
        "k), or a cluster-balanced curation sample (--op sample); --op "
        "train persists the model artifact, --op promote gates a "
        "kmeans_stream snapshot behind the assignment-drift check "
        "before rolling it forward",
    )
    cu.add_argument("--input", required=True, help="parquet with (vec_id, embedding)")
    cu.add_argument("--output", required=True, help="output parquet")
    cu.add_argument(
        "--op",
        choices=[
            "stats", "sample", "train", "promote", "terms", "elbow",
            "outliers", "silhouette", "assign", "boundary", "quality",
        ],
        default="stats",
    )
    cu.add_argument(
        "--frac",
        type=float,
        default=0.05,
        help="--op outliers: per-cell distance-tail fraction to flag",
    )
    cu.add_argument(
        "--margin",
        type=float,
        default=0.05,
        help="--op boundary: squared-L2 margin below which a point counts "
        "as boundary (calibrate from the corpus's margin quantiles)",
    )
    cu.add_argument(
        "--docs",
        help="--op terms: documents parquet (doc_id, text) to join against "
        "the assignment for the per-cluster top-term report",
    )
    cu.add_argument(
        "--n-terms", type=int, default=10, help="--op terms: terms per cluster"
    )
    cu.add_argument(
        "--ks",
        help="--op elbow: comma-separated candidate k ladder (each seeded "
        "from the first k ids of the shared seed list), e.g. 4,8,16",
    )
    cu.add_argument(
        "--centroids",
        help="saved model parquet (from --op train): stats/sample APPLY it "
        "instead of retraining; promote uses it as the frozen window model",
    )
    cu.add_argument(
        "--state",
        help="--op promote: kmeans_stream state dir holding the additive "
        "quantized-sum deltas to fold into the candidate model; "
        "--op quality: quality_stream state dir holding the additive "
        "silhouette/boundary sums to snapshot",
    )
    cu.add_argument(
        "--max-moved-frac",
        type=float,
        default=0.2,
        help="--op promote: maximum fraction of vectors whose cell may "
        "change under the candidate model; above it the promotion is "
        "refused (exit 2) and per-cell artifacts need a rebuild",
    )
    cu.add_argument(
        "--expected-n",
        type=int,
        help="--op promote: expected total vector count in the stream "
        "store; a mismatch (duplicate or dropped deliveries) refuses the "
        "promotion (exit 3)",
    )
    cu.add_argument(
        "--no-id-audit",
        action="store_true",
        help="--op promote: skip the id-checksum content audit (store's "
        "per-id hash XOR vs --input's). Default is ON because --input "
        "is also what the drift gate scans, so it must be the absorbed "
        "corpus; pass this only for stores built with id_col=None "
        "alongside --expected-n",
    )
    cu.add_argument(
        "--sample-frac",
        type=float,
        help="train on the deterministic md5-coin sample of this fraction "
        "(engine-portable; the 100-TB trainer shape)",
    )
    cu.add_argument("--k", type=int, default=8, help="clusters (ignored with --init-ids)")
    cu.add_argument("--n-iter", type=int, default=2, help="Lloyd updates")
    cu.add_argument("--dim", type=int, default=64, help="embedding dimensionality")
    cu.add_argument(
        "--init-ids",
        help="comma-separated row ids whose embeddings seed the centroids "
        "(deterministic, engine-portable); default: the k lowest ids",
    )
    cu.add_argument(
        "--init",
        choices=["ids", "ff", "kmpp"],
        default="ids",
        help="seeding strategy: fixed ids (default), farthest-first "
        "traversal from the lowest id (deterministic Gonzalez — the "
        "insurance against clumped seeds, PERF.md round 11; "
        "k corpus scans), or kmpp (k-means|| oversampling from the "
        "lowest id — O(rounds) scans total, the production-scale "
        "seeding; near-flat in k where ff is linear, PERF.md round 14)",
    )
    cu.add_argument(
        "--per-cluster", type=int, default=16, help="--op sample: max picks per cell"
    )
    cu.add_argument("--id-col", default="vec_id")
    cu.add_argument("--vec-col", default="embedding")

    bp = sub.add_parser(
        "bpe-train",
        help="learn a BPE merge table from a documents parquet (extension): "
        "one corpus pass + bounded merge rounds; write (rank, lhs, rhs, "
        "pair_count) as the tokenizer artifact",
    )
    bp.add_argument("--input", required=True, help="parquet with (doc_id, text, ...)")
    bp.add_argument("--output", required=True, help="merge-table parquet")
    bp.add_argument("--n-merges", type=int, default=32)
    bp.add_argument("--text-col", default="text")

    ba = sub.add_parser(
        "bpe-apply",
        help="segment a documents parquet with a trained merge table "
        "(extension): Arrow-batched replay, scales to 30k-merge "
        "vocabularies; writes (doc_id, bpe_tokens, n_bpe_tokens)",
    )
    ba.add_argument("--input", required=True, help="parquet with (doc_id, text, ...)")
    ba.add_argument("--merges", required=True, help="merge-table parquet from bpe-train")
    ba.add_argument("--output", required=True, help="segmented-corpus parquet")
    ba.add_argument("--text-col", default="text")
    ba.add_argument("--id-col", default="doc_id")

    ai = sub.add_parser(
        "ann-index",
        help="build the IVF-PQ index over an embeddings parquet "
        "(extension): train the frozen quantizer (saved as model.json), "
        "write (id, list_id, codes) partitioned by list_id",
    )
    ai.add_argument("--input", required=True, help="parquet with (vec_id, embedding)")
    ai.add_argument("--output", required=True, help="index dir (model.json + codes/)")
    ai.add_argument("--n-lists", type=int, default=16)
    ai.add_argument("--m", type=int, default=8)
    ai.add_argument("--k-codes", type=int, default=64)
    ai.add_argument("--id-col", default="vec_id")
    ai.add_argument("--vec-col", default="embedding")

    asr = sub.add_parser(
        "ann-search",
        help="search an ann-index artifact (extension): batched ADC "
        "shortlist + exact re-rank against the raw vectors",
    )
    asr.add_argument("--index", required=True, help="dir from ann-index")
    asr.add_argument("--input", required=True, help="raw embeddings parquet (re-rank source)")
    asr.add_argument("--queries", required=True, help="parquet with query (vec_id, embedding)")
    asr.add_argument("--k", type=int, default=10)
    asr.add_argument("--n-probe", type=int, default=4)
    asr.add_argument("--rerank", type=int, default=40, help="ADC shortlist size r (0 = raw ADC order)")
    asr.add_argument("--output", help="write results parquet here instead of printing")
    asr.add_argument("--id-col", default="vec_id")
    asr.add_argument("--vec-col", default="embedding")

    nt = sub.add_parser(
        "nb-train",
        help="train the Naive Bayes gating classifier on a labeled "
        "parquet (extension): writes the frozen model artifact "
        "(model/ log-likelihood grid + prior/) for classify",
    )
    nt.add_argument("--input", required=True, help="labeled parquet (text + label col)")
    nt.add_argument("--output", required=True, help="model dir (model/ + prior/)")
    nt.add_argument("--label-col", default="lang")
    nt.add_argument("--text-col", default="text")
    nt.add_argument("--alpha", type=float, default=0.5, help="Lidstone smoothing")

    lt = sub.add_parser(
        "linear-train",
        help="train the hashed linear (fastText-shaped) quality/gating "
        "classifier with deterministic full-batch GD (extension): each "
        "epoch is one map-side-combinable aggregate; writes the "
        "(j, weight) model parquet with bias at -1 and feature_scale "
        "at -2",
    )
    lt.add_argument("--input", required=True,
                    help="labeled parquet (text + 0/1 label col)")
    lt.add_argument("--output", required=True, help="model parquet path")
    lt.add_argument("--label-col", required=True, help="0/1 label column")
    lt.add_argument("--id-col", default="doc_id")
    lt.add_argument("--text-col", default="text")
    lt.add_argument("--dim", type=int, default=64, help="hashed feature buckets")
    lt.add_argument("--epochs", type=int, default=10)
    lt.add_argument("--lr", type=float, default=1.0)
    lt.add_argument("--scale", type=float, default=8.0,
                    help="feature scale (recorded in the model artifact)")

    cl = sub.add_parser(
        "classify",
        help="classify a documents parquet against a frozen model "
        "artifact (extension): an nb-train dir (model/ + prior/ grid "
        "join) or a linear-train parquet (map-only scored projection), "
        "autodetected; writes (id, predicted, score)",
    )
    cl.add_argument("--input", required=True, help="parquet with (doc_id, text, ...)")
    cl.add_argument("--model", required=True,
                    help="model dir from nb-train or linear-train")
    cl.add_argument("--output", required=True, help="output parquet")
    cl.add_argument("--id-col", default="doc_id")
    cl.add_argument("--text-col", default="text")
    cl.add_argument(
        "--label-col",
        help="ground-truth column to carry through (adds actual/correct + prints accuracy)",
    )
    cl.add_argument(
        "--threshold", type=float, default=0.5,
        help="linear models only: predicted = score >= threshold",
    )

    sd = sub.add_parser(
        "score-dist",
        help="read verb for the continuous quality-gate monitor "
        "(streaming/score_stream.py): the live score distribution of "
        "the frozen linear model over everything streamed, behind the "
        "same count + id-checksum audits as cluster promote/quality",
    )
    sd.add_argument("--state", required=True, help="score_stream state dir")
    sd.add_argument("--output", required=True, help="histogram parquet")
    sd.add_argument(
        "--input",
        help="corpus parquet the stream should have absorbed (enables "
        "the id-checksum audit)",
    )
    sd.add_argument("--id-col", default="doc_id")
    sd.add_argument("--expected-n", type=int,
                    help="refuse unless exactly this many docs were absorbed")
    sd.add_argument("--no-id-audit", action="store_true",
                    help="skip the content checksum explicitly")
    sd.add_argument(
        "--gate-bucket", type=int,
        help="also print the pass fraction as the mass at bucket >= N "
        "(bucket-grain is the store's resolution; bucket = "
        "floor(score * n_buckets))",
    )

    gr = sub.add_parser(
        "graph",
        help="iterative graph analytics over an edge-list parquet "
        "(extension): deterministic weighted PageRank — quantized "
        "message passing, bit-reproducible under any partitioning; "
        "writes (node, rank)",
    )
    gr.add_argument("--input", required=True, help="edge-list parquet")
    gr.add_argument("--output", required=True, help="ranks parquet")
    gr.add_argument("--src-col", default="src")
    gr.add_argument("--dst-col", default="dst")
    gr.add_argument("--weight-col", help="integer edge weight (default: unweighted)")
    gr.add_argument("--iters", type=int, default=10)
    gr.add_argument("--damping", type=float, default=0.85)
    gr.add_argument("--top", type=int, default=10,
                    help="print the top-N nodes by rank (0 = silent)")
    gr.add_argument("--seeds",
                    help="parquet of trusted seed nodes: personalized "
                    "PageRank teleports only to them (rank = proximity "
                    "to the seed set)")
    gr.add_argument("--seed-col", default="node")

    cp = sub.add_parser(
        "compact",
        help="keep-latest snapshot compaction (extension): one row per "
        "key — the newest by version (unique tiebreak for determinism); "
        "the crawl re-fetch / SCD-1 / changelog primitive. Optional "
        "--canonicalize-url rewrites the key column through "
        "url_canonicalize first",
    )
    cp.add_argument("--input", required=True, help="snapshots parquet")
    cp.add_argument("--output", required=True, help="compacted parquet")
    cp.add_argument("--key-cols", required=True, help="comma-separated key columns")
    cp.add_argument("--version-col", required=True)
    cp.add_argument("--tiebreak-col", help="unique column for deterministic ties")
    cp.add_argument(
        "--canonicalize-url",
        action="store_true",
        help="url_canonicalize the (single) key column before compacting",
    )

    hi = sub.add_parser(
        "history",
        help="SCD-2 interval compaction (extension): one row per "
        "consecutive unchanged-content run — (keys, fp, valid_from, "
        "valid_to, n_versions), half-open intervals, NULL valid_to on "
        "the live revision; the audit/history companion to `compact`",
    )
    hi.add_argument("--input", required=True, help="snapshots parquet")
    hi.add_argument("--output", required=True, help="history parquet")
    hi.add_argument("--key-cols", required=True, help="comma-separated key columns")
    hi.add_argument("--version-col", required=True)
    hi.add_argument("--fp-col", required=True,
                    help="column whose equality defines 'unchanged'")
    hi.add_argument("--tiebreak-col", help="unique column for deterministic ties")

    ao = sub.add_parser(
        "asof",
        help="query a compacted SCD-2 interval table (extension): "
        "--at V reconstructs the snapshot as it stood at version V "
        "(one zero-shuffle filter — never re-reads the changelog); "
        "--changed-between LO HI lists runs that appeared in (LO, HI]",
    )
    ao.add_argument("--history", required=True,
                    help="interval-table parquet (output of `history`)")
    g = ao.add_mutually_exclusive_group(required=True)
    g.add_argument("--at", help="as-of version (point-in-time snapshot)")
    g.add_argument("--changed-between", nargs=2, metavar=("LO", "HI"),
                   help="half-open version window (LO, HI]")
    ao.add_argument("--output", help="write the result parquet here")

    df_ = sub.add_parser(
        "diff",
        help="corpus snapshot diff (extension): added/removed/changed "
        "rows by id + normalized-content fingerprint; unchanged majority "
        "dropped (the reference's drop-unchanged semantics at document "
        "grain, epss/client.py:453-462)",
    )
    df_.add_argument("--old", required=True, help="previous snapshot parquet")
    df_.add_argument("--new", required=True, help="current snapshot parquet")
    df_.add_argument("--output", help="write the diff parquet here")
    df_.add_argument("--id-col", default="doc_id")
    df_.add_argument("--text-col", default="text")

    lc = sub.add_parser(
        "late-counts",
        help="per-epoch late-row accounting for a history store "
        "(extension): reads the `.late` sibling artifact the history "
        "maintenance stream writes and prints (epoch, n_late_events, "
        "n_late_keys); nonzero rows name the epochs where the stream's "
        "ordering contract was violated",
    )
    lc.add_argument(
        "--store",
        required=True,
        help="state-store path whose `.late` sibling to read "
        "(`<history_dir>/open`)",
    )

    u = sub.add_parser("urls", help="print snapshot URLs (reference epss/cli.py:117-139)")
    _add_range_flags(u)

    d = sub.add_parser("date-range", help="print epoch range (reference epss/cli.py:142-163)")
    _add_range_flags(d)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.command == "date-range":
        lo, hi = get_date_range(args.version, args.min_date, args.max_date)
        print(f"{lo.isoformat()} {hi.isoformat()}")
        return 0

    if args.command == "urls":
        lo, hi = get_date_range(args.version, args.min_date, args.max_date)
        for d in iter_dates(lo, hi):
            print(snapshot_url(d))
        return 0

    if args.command == "prep":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import prep as prep_ops

        docs = spark.read.parquet(args.input)
        if args.op == "redact":
            out = prep_ops.pii_redact(docs, args.id_col, args.text_col)
        elif args.op == "chunk":
            out = prep_ops.chunk_tokens(
                docs,
                args.id_col,
                args.text_col,
                chunk_size=args.chunk_size,
                stride=args.stride,
            )
        elif args.op == "pack":
            out = prep_ops.pack_sequences(
                docs,
                budget=args.budget,
                n_buckets=args.n_buckets,
                id_col=args.id_col,
                text_col=args.text_col,
            )
        elif args.op == "split":
            from epss_spark.operators import dedup as dedup_ops

            weights = tuple(float(w) for w in args.weights.split(","))
            # per-op default so a user explicitly passing --salt shard
            # is honored (default=None, not a sentinel string)
            salt = args.salt if args.salt is not None else "split"
            if args.leakage_safe:
                pairs = dedup_ops.minhash_lsh_pairs(
                    docs, id_col=args.id_col, text_col=args.text_col
                )
                out = dedup_ops.train_split_leakage_safe(
                    docs, pairs, id_col=args.id_col, weights=weights, salt=salt
                )
            else:
                out = dedup_ops.train_split(
                    docs, id_col=args.id_col, weights=weights, salt=salt
                )
        else:
            from epss_spark.operators import dedup as dedup_ops

            out = dedup_ops.train_shards(
                docs,
                n_shards=args.n_shards,
                id_col=args.id_col,
                salt=args.salt if args.salt is not None else "shard",
            )
        out.write.mode("overwrite").parquet(args.output)
        n_in = docs.count()
        n_out = spark.read.parquet(args.output).count()
        print(f"{args.op}: {n_in} docs -> {n_out} rows -> {args.output}")
        return 0

    if args.command == "select":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark.sql import functions as F

        from epss_spark.operators import selection as sel_ops

        docs = spark.read.parquet(args.input)
        target, pred = None, None
        if args.target:
            target = spark.read.parquet(args.target)
        elif args.target_lang:
            # in-corpus target subset: the predicate form computes both
            # feature distributions in ONE corpus pass
            pred = F.col("lang") == args.target_lang
        else:
            print("select: need --target or --target-lang", file=sys.stderr)
            return 2
        if args.k is None:
            out = sel_ops.dsir_logratio(
                docs, target, args.n_buckets, args.id_col, args.text_col,
                target_pred=pred,
            )
        else:
            out = sel_ops.dsir_sample(
                docs,
                target,
                k=args.k,
                n_buckets=args.n_buckets,
                seed=args.seed,
                id_col=args.id_col,
                text_col=args.text_col,
                target_pred=pred,
            )
        out.write.mode("overwrite").parquet(args.output)
        n_in = docs.count()
        n_out = spark.read.parquet(args.output).count()
        what = "sampled" if args.k is not None else "scored"
        print(f"select: {n_in} docs -> {n_out} {what} -> {args.output}")
        return 0

    if args.command == "cluster":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark.sql import functions as F

        from epss_spark.operators import clustering as cl_ops

        vecs = spark.read.parquet(args.input)
        if args.op == "quality":
            # read verb for the continuous model-quality stream
            # (streaming/quality_stream.py): the live per-cluster
            # silhouette/boundary report over everything the frozen
            # model has served, gated behind the same exactly-once
            # audits as promote — --input IS the corpus the stream
            # should have absorbed, so a checksum mismatch means the
            # numbers below describe a DIFFERENT multiset and the verb
            # refuses rather than print them as if they were the
            # corpus's (DEPLOYMENT.md §promotion: monitor -> gate ->
            # promote)
            from epss_spark.streaming import kmeans_stream as km_stream
            from epss_spark.streaming import quality_stream as q_stream

            if not args.state:
                print("cluster quality: --state is required", file=sys.stderr)
                return 2
            total = q_stream.quality_total(spark, args.state)
            if args.expected_n is not None and total != args.expected_n:
                print(
                    f"cluster quality: REFUSED — store absorbed {total} "
                    f"vectors, expected {args.expected_n} (duplicate or "
                    "dropped deliveries); rebuild from batch",
                    file=sys.stderr,
                )
                return 3
            if not args.no_id_audit:
                absorbed = q_stream.quality_checksum(spark, args.state)
                if absorbed is None:
                    print(
                        "cluster quality: id audit unavailable (stream ran "
                        "with id_col=None) — relying on the count only",
                        file=sys.stderr,
                    )
                elif args.id_col not in vecs.columns:
                    print(
                        f"cluster quality: no {args.id_col!r} column in "
                        f"--input (columns: {', '.join(vecs.columns)}) but "
                        "the store carries the id audit — fix --id-col, or "
                        "pass --no-id-audit to skip the content check "
                        "explicitly",
                        file=sys.stderr,
                    )
                    return 2
                else:
                    expected = km_stream.corpus_id_checksum(vecs, id_col=args.id_col)
                    if absorbed != expected:
                        print(
                            f"cluster quality: REFUSED — store id checksum "
                            f"(n={absorbed[0]}, xor={absorbed[1]:#x}) != corpus "
                            f"(n={expected[0]}, xor={expected[1]:#x}): the "
                            "store does not hold exactly the --input corpus "
                            "(duplicate or dropped deliveries); rebuild from "
                            "batch",
                            file=sys.stderr,
                        )
                        return 3
            snap = q_stream.quality_snapshot(spark, args.state).orderBy("cluster_id")
            snap.write.mode("overwrite").parquet(args.output)
            rows = spark.read.parquet(args.output).orderBy("cluster_id").collect()
            for r in rows:
                print(
                    f"cluster {r.cluster_id}: n={r.n_points} "
                    f"silhouette={r.avg_silhouette:.6f} "
                    f"boundary={r.n_boundary} ({r.boundary_frac:.4f}) "
                    f"margin={r.avg_margin:.6f}"
                )
            print(
                f"cluster quality: {total} vectors absorbed, "
                f"{len(rows)} cells -> {args.output}"
            )
            return 0
        if args.op == "promote":
            # the drift-gated promotion cycle (DEPLOYMENT.md §promotion):
            # fold the stream store into the candidate model, audit the
            # delivery count, gate on assignment drift, then roll forward
            from epss_spark.streaming import kmeans_stream as km_stream

            if not args.centroids or not args.state:
                print(
                    "cluster promote: --centroids and --state are required",
                    file=sys.stderr,
                )
                return 2
            frozen = cl_ops.read_model(spark, args.centroids)
            if args.expected_n is not None:
                total = km_stream.kmeans_snapshot_total(spark, args.state)
                if total != args.expected_n:
                    # refusal diagnostics go to stderr like every other
                    # non-zero-exit path, so scripts capturing stderr on
                    # failure see the reason
                    print(
                        f"cluster promote: REFUSED — store absorbed {total} "
                        f"vectors, expected {args.expected_n} (duplicate or "
                        "dropped deliveries); rebuild from batch",
                        file=sys.stderr,
                    )
                    return 3
            if not args.no_id_audit:
                # content audit: --input IS the corpus the store should
                # have absorbed (the drift gate below scans the same
                # frame), so its (count, id-hash XOR) must equal the
                # store's — catching the count-neutral duplicate+drop
                # failures --expected-n cannot
                try:
                    absorbed = km_stream.kmeans_snapshot_checksum(spark, args.state)
                except ValueError as e:
                    # mixed pre/post-audit store: the checksum is
                    # undefined — refuse rather than downgrade silently
                    print(f"cluster promote: REFUSED — {e}", file=sys.stderr)
                    return 3
                if absorbed is None:
                    print(
                        "cluster promote: id audit unavailable (store built "
                        "with id_col=None) — relying on --expected-n only",
                        file=sys.stderr,
                    )
                elif args.id_col not in vecs.columns:
                    # the store CARRIES the audit but --input can't answer
                    # it: a typo'd --id-col must not quietly bypass the
                    # content gate — that's what --no-id-audit is for
                    print(
                        f"cluster promote: no {args.id_col!r} column in "
                        f"--input (columns: {', '.join(vecs.columns)}) but "
                        "the store carries the id audit — fix --id-col, or "
                        "pass --no-id-audit to skip the content check "
                        "explicitly",
                        file=sys.stderr,
                    )
                    return 2
                else:
                    expected = km_stream.corpus_id_checksum(vecs, id_col=args.id_col)
                    if absorbed != expected:
                        print(
                            f"cluster promote: REFUSED — store id checksum "
                            f"(n={absorbed[0]}, xor={absorbed[1]:#x}) != corpus "
                            f"(n={expected[0]}, xor={expected[1]:#x}): the "
                            "store does not hold exactly the --input corpus "
                            "(duplicate or dropped deliveries); rebuild from "
                            "batch",
                            file=sys.stderr,
                        )
                        return 3
            candidate = km_stream.kmeans_snapshot_centroids(
                spark, args.state, frozen, dim=args.dim
            )
            moved = cl_ops.drift_fraction(
                cl_ops.assignment_drift(vecs, frozen, candidate, vec_col=args.vec_col)
            )
            if moved > args.max_moved_frac:
                print(
                    f"cluster promote: REFUSED — {moved:.4f} of vectors change "
                    f"cells (> {args.max_moved_frac}); promote would invalidate "
                    "per-cell artifacts — rebuild them, then retry",
                    file=sys.stderr,
                )
                return 2
            cl_ops.write_model(spark, candidate, args.output)
            print(
                f"cluster promote: moved_frac={moved:.4f} <= "
                f"{args.max_moved_frac} -> promoted {len(candidate)}-cell "
                f"model -> {args.output}"
            )
            return 0
        if args.op == "elbow":
            ks = sorted({int(x) for x in (args.ks or "4,8").split(",") if x.strip()})
            if args.init_ids:
                seed_ids = [int(x) for x in args.init_ids.split(",") if x.strip()]
            else:
                seed_ids = [
                    r[args.id_col]
                    for r in vecs.select(args.id_col)
                    .orderBy(args.id_col)
                    .limit(max(ks))
                    .collect()
                ]
            out = cl_ops.kmeans_elbow(
                vecs, ks=ks, init_ids=seed_ids, n_iter=args.n_iter,
                dim=args.dim, vec_col=args.vec_col, id_col=args.id_col,
            ).orderBy("k")
            out.write.mode("overwrite").parquet(args.output)
            rows = spark.read.parquet(args.output).orderBy("k").collect()
            curve = ", ".join(f"k={r.k}: {r.total_inertia:.3f}" for r in rows)
            print(f"cluster elbow: {curve} -> {args.output}")
            return 0
        if args.centroids:
            # apply a saved model: no retraining, assignment-only ops
            cents = cl_ops.read_model(spark, args.centroids)
            init_ids = list(range(len(cents)))
        elif args.init == "ff":
            start = vecs.agg(F.min(args.id_col).alias("m")).collect()[0]["m"]
            init = cl_ops.farthest_first_init(
                vecs, k=args.k, start_id=start,
                id_col=args.id_col, vec_col=args.vec_col,
                sample_frac=args.sample_frac,
            )
            init_ids = list(range(args.k))  # only len() is reported below
        elif args.init == "kmpp":
            start = vecs.agg(F.min(args.id_col).alias("m")).collect()[0]["m"]
            init = cl_ops.kmeans_parallel_init(
                vecs, k=args.k, start_id=start, dim=args.dim,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            init_ids = list(range(args.k))  # only len() is reported below
        elif args.init_ids:
            init_ids = [int(x) for x in args.init_ids.split(",") if x.strip()]
            init = cl_ops.init_centroids_by_id(
                vecs, init_ids, id_col=args.id_col, vec_col=args.vec_col
            )
        else:
            # deterministic default: the k lowest ids (a curated spread of
            # ids — or farthest-first / a trained quantizer — is the
            # production seed)
            init_ids = [
                r[args.id_col]
                for r in vecs.select(args.id_col).orderBy(args.id_col).limit(args.k).collect()
            ]
            init = cl_ops.init_centroids_by_id(
                vecs, init_ids, id_col=args.id_col, vec_col=args.vec_col
            )
        if not args.centroids:
            cents = cl_ops.kmeans_fit(
                vecs, init, n_iter=args.n_iter, dim=args.dim, vec_col=args.vec_col,
                sample_frac=args.sample_frac, id_col=args.id_col,
            )
        if args.op == "train":
            cl_ops.write_model(spark, cents, args.output)
            if args.centroids:
                # nothing was fitted: the loaded artifact was re-saved
                # verbatim — say that instead of implying a retrain
                print(
                    f"cluster train: copied saved model ({len(cents)} cells, "
                    f"no fitting) {args.centroids} -> {args.output}"
                )
            else:
                print(
                    f"cluster train: k={len(cents)}, {args.n_iter} iterations"
                    + (f", sample_frac={args.sample_frac}" if args.sample_frac else "")
                    + f" -> model -> {args.output}"
                )
            return 0
        if args.op == "terms":
            if not args.docs:
                print("cluster terms: --docs is required", file=sys.stderr)
                return 2
            docs = spark.read.parquet(args.docs)
            out = cl_ops.cluster_top_terms(
                vecs, docs, cents, n_terms=args.n_terms,
                vec_col=args.vec_col, id_col=args.id_col,
            )
        elif args.op == "outliers":
            out = cl_ops.cluster_distance_outliers(
                vecs, cents, frac=args.frac,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        elif args.op == "stats":
            out = cl_ops.kmeans_stats(vecs, cents, vec_col=args.vec_col).orderBy("cluster_id")
        elif args.op == "silhouette":
            # the across-k-comparable companion to --op elbow: run both on
            # the same model to pick k (DEPLOYMENT.md "picking k")
            out = cl_ops.cluster_silhouette(
                vecs, cents, vec_col=args.vec_col
            ).orderBy("cluster_id")
        elif args.op == "assign":
            # the raw per-row assignment every per-cell artifact consumes:
            # (id, cluster_id, d2), dual-path dispatched like everything else
            if args.id_col not in vecs.columns:
                print(
                    f"cluster assign: no {args.id_col!r} column in --input "
                    f"(columns: {', '.join(vecs.columns)}) — fix --id-col",
                    file=sys.stderr,
                )
                return 2
            out = cl_ops.assign_clusters(
                vecs, cents, vec_col=args.vec_col, d2_col="d2"
            ).select(args.id_col, "cluster_id", "d2")
        elif args.op == "boundary":
            # churn-risk report: per-cell count of points within --margin
            # squared-L2 of the second-nearest centroid
            out = cl_ops.cluster_boundary(
                vecs, cents, threshold=args.margin, vec_col=args.vec_col
            ).orderBy("cluster_id")
        else:
            out = cl_ops.cluster_balanced_sample(
                vecs,
                cents,
                per_cluster=args.per_cluster,
                id_col=args.id_col,
                vec_col=args.vec_col,
            )
        out.write.mode("overwrite").parquet(args.output)
        n_in = vecs.count()
        n_out = spark.read.parquet(args.output).count()
        print(
            f"cluster {args.op}: {n_in} vectors, k={len(init_ids)}, "
            f"{args.n_iter} iterations -> {n_out} rows -> {args.output}"
        )
        return 0

    if args.command == "analyze":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import text as text_ops

        docs = spark.read.parquet(args.input)
        if args.report == "top-ngrams":
            out = text_ops.top_ngrams(docs, k=args.k, id_col=args.id_col, text_col=args.text_col)
        elif args.report == "vocab":
            out = text_ops.vocab_stats(
                docs, stratum_col=args.stratum_col, text_col=args.text_col
            ).orderBy("stratum")
        elif args.report == "card":
            out = text_ops.dataset_card(
                docs, text_col=args.text_col, group_col=args.stratum_col
            )
        elif args.report == "divergence":
            out = text_ops.token_divergence(
                docs, group_col=args.stratum_col, text_col=args.text_col
            ).orderBy(args.stratum_col)
        elif args.report == "spectrum":
            # hapax band first: the row that moves when junk enters
            out = text_ops.freq_spectrum(docs, text_col=args.text_col).orderBy("freq")
        elif args.report == "pmi":
            from pyspark.sql import functions as F

            out = text_ops.pmi_bigrams(docs, text_col=args.text_col).orderBy(
                F.col("pmi").desc(), "w1", "w2"
            )
        elif args.report == "dim-drift":
            from pyspark.sql import functions as F

            from epss_spark.operators import clustering as cl_ops

            if not args.ref_input:
                print("--report dim-drift requires --ref-input", file=sys.stderr)
                return 2
            ref = spark.read.parquet(args.ref_input)
            # normalized mean step first (|delta|/sigma_ref), then raw
            # |delta|: the variance-aware review order — a scale-only
            # encoder regression surfaces via var_delta even when every
            # effect_size is ~0
            out = cl_ops.embedding_dim_drift(
                ref, docs, vec_col=args.vec_col
            ).orderBy(
                F.col("effect_size").desc_nulls_last(),
                F.abs(F.col("delta")).desc(),
                "dim_idx",
            )
        elif args.report == "contamination":
            import os as _os

            from pyspark.sql import functions as F

            from epss_spark.operators import dedup as dedup_ops

            if not args.eval_input:
                print(
                    "--report contamination requires --eval-input",
                    file=sys.stderr,
                )
                return 2
            eval_docs = spark.read.parquet(args.eval_input)
            if "benchmark" not in eval_docs.columns:
                name = _os.path.basename(args.eval_input.rstrip("/"))
                eval_docs = eval_docs.withColumn("benchmark", F.lit(name))
            sem = {}
            if args.embeddings or args.eval_embeddings:
                # the semantic tier is all-or-nothing: a report that
                # quietly omitted it would read as checked-and-clean
                if not (args.embeddings and args.eval_embeddings):
                    print(
                        "--report contamination: the semantic tier needs "
                        "BOTH --embeddings and --eval-embeddings",
                        file=sys.stderr,
                    )
                    return 2
                from epss_spark.operators import clustering as cl_ops

                corpus_vecs = spark.read.parquet(args.embeddings)
                eval_vecs = spark.read.parquet(args.eval_embeddings)
                if "benchmark" not in eval_vecs.columns:
                    name = _os.path.basename(args.eval_embeddings.rstrip("/"))
                    eval_vecs = eval_vecs.withColumn("benchmark", F.lit(name))
                anchor_ids = [
                    r["vec_id"]
                    for r in corpus_vecs.select("vec_id")
                    .orderBy("vec_id")
                    .limit(args.sem_k)
                    .collect()
                ]
                sem = {
                    "corpus_vecs": corpus_vecs,
                    "eval_vecs": eval_vecs,
                    "sem_centroids": cl_ops.init_centroids_by_id(
                        corpus_vecs, anchor_ids
                    ),
                    "sem_threshold": args.sem_threshold,
                }
            out = dedup_ops.contamination_report(
                docs, eval_docs, id_col=args.id_col, text_col=args.text_col,
                **sem,
            ).orderBy("benchmark", "method")
        else:
            # least-typical docs first: the review queue for OCR/tag soup
            out = (
                text_ops.unigram_logprob(docs, args.id_col, args.text_col)
                .orderBy("avg_logprob", args.id_col)
            )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        shown = out.limit(args.k) if args.report != "top-ngrams" else out
        for row in shown.collect():
            print("  ".join(str(v) for v in row))
        return 0

    if args.command == "nb-train":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        import os as _os

        from epss_spark.operators import text as text_ops

        docs = spark.read.parquet(args.input)
        model, prior = text_ops.nb_train(
            docs, label_col=args.label_col, text_col=args.text_col, alpha=args.alpha
        )
        model.write.mode("overwrite").parquet(_os.path.join(args.output, "model"))
        prior.write.mode("overwrite").parquet(_os.path.join(args.output, "prior"))
        n_cls = spark.read.parquet(_os.path.join(args.output, "prior")).count()
        n_rows = spark.read.parquet(_os.path.join(args.output, "model")).count()
        print(f"nb-train: {n_cls} classes, {n_rows} grid rows -> {args.output}")
        return 0

    if args.command == "linear-train":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark.sql import functions as F

        from epss_spark.operators import classifier as clf_ops

        docs = spark.read.parquet(args.input)
        for c in (args.id_col, args.text_col, args.label_col):
            if c not in docs.columns:
                print(
                    f"linear-train: no {c!r} column in --input "
                    f"(columns: {', '.join(docs.columns)})",
                    file=sys.stderr,
                )
                return 2
        labeled = docs.select(
            args.id_col, args.text_col, F.col(args.label_col).alias("__y")
        )
        feats = clf_ops.hashed_features(
            labeled,
            dim=args.dim,
            id_col=args.id_col,
            text_col=args.text_col,
            feature_scale=args.scale,
            carry_cols=("__y",),
        ).persist()
        try:
            w, b = clf_ops.linear_fit(
                feats, dim=args.dim, label_col="__y",
                n_epochs=args.epochs, lr=args.lr,
            )
            scored = clf_ops.linear_score(feats, w, b)
            acc = scored.agg(
                F.avg(
                    ((F.col("score") >= 0.5).cast("double") == F.col("__y"))
                    .cast("double")
                )
            ).first()[0]
        except ValueError as e:
            print(f"linear-train: {e}", file=sys.stderr)
            return 2
        finally:
            feats.unpersist()
        clf_ops.write_linear_model(spark, w, b, args.output, feature_scale=args.scale)
        print(
            f"linear-train: dim {args.dim}, {args.epochs} epochs, "
            f"train accuracy {acc:.4f} -> {args.output}"
        )
        return 0

    if args.command == "classify":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        import os as _os

        from pyspark.sql import functions as F

        from epss_spark.operators import text as text_ops

        docs = spark.read.parquet(args.input)
        # autodetect the artifact family: nb-train writes a dir with
        # model/ + prior/ children, linear-train a flat (j, weight) parquet
        if _os.path.isdir(_os.path.join(args.model, "model")):
            model = spark.read.parquet(_os.path.join(args.model, "model"))
            prior = spark.read.parquet(_os.path.join(args.model, "prior"))
            out = text_ops.nb_apply(
                docs, model, prior, args.id_col, args.text_col,
                label_col=args.label_col,
            )
        else:
            from epss_spark.operators import classifier as clf_ops

            w, b = clf_ops.read_linear_model(spark, args.model)
            scale = clf_ops.read_linear_model_scale(spark, args.model)
            if scale is None:
                print(
                    f"classify: linear model at {args.model!r} records no "
                    "feature_scale (j = -2 row) — retrain with linear-train, "
                    "which always records it",
                    file=sys.stderr,
                )
                return 2
            feats = clf_ops.hashed_features(
                docs.select(args.id_col, args.text_col,
                            *([args.label_col] if args.label_col else [])),
                dim=len(w),
                id_col=args.id_col,
                text_col=args.text_col,
                feature_scale=scale,
                carry_cols=(args.label_col,) if args.label_col else (),
            )
            out = clf_ops.linear_score(feats, w, b).select(
                args.id_col,
                (F.col("score") >= args.threshold).cast("int").alias("predicted"),
                "score",
                *(
                    [
                        F.col(args.label_col).alias("actual"),
                        (
                            (F.col("score") >= args.threshold).cast("double")
                            == F.col(args.label_col).cast("double")
                        ).alias("correct"),
                    ]
                    if args.label_col
                    else []
                ),
            )
        out.write.mode("overwrite").parquet(args.output)
        scored = spark.read.parquet(args.output)
        n = scored.count()
        msg = f"classify: {docs.count()} docs -> {n} scored -> {args.output}"
        if args.label_col:
            acc = scored.agg(F.avg(F.col("correct").cast("double"))).first()[0]
            msg += f" (accuracy {acc:.4f})" if acc is not None else ""
        print(msg)
        return 0

    if args.command == "score-dist":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.streaming import kmeans_stream as km_stream
        from epss_spark.streaming import score_stream as s_stream

        total = s_stream.score_total(spark, args.state)
        if args.expected_n is not None and total != args.expected_n:
            print(
                f"score-dist: REFUSED — store absorbed {total} docs, "
                f"expected {args.expected_n} (duplicate or dropped "
                "deliveries); rebuild from batch",
                file=sys.stderr,
            )
            return 3
        if not args.no_id_audit:
            absorbed = s_stream.score_checksum(spark, args.state)
            if absorbed is None:
                print(
                    "score-dist: id audit unavailable (stream ran with "
                    "audit_id_col=None) — relying on the count only",
                    file=sys.stderr,
                )
            elif not args.input:
                print(
                    "score-dist: the store carries the id audit but no "
                    "--input corpus was given to audit against — pass "
                    "--input, or --no-id-audit to skip the content check "
                    "explicitly",
                    file=sys.stderr,
                )
                return 2
            else:
                docs = spark.read.parquet(args.input)
                if args.id_col not in docs.columns:
                    print(
                        f"score-dist: no {args.id_col!r} column in --input "
                        f"(columns: {', '.join(docs.columns)}) but the store "
                        "carries the id audit — fix --id-col, or pass "
                        "--no-id-audit to skip the content check explicitly",
                        file=sys.stderr,
                    )
                    return 2
                expected = km_stream.corpus_id_checksum(docs, id_col=args.id_col)
                if absorbed != expected:
                    print(
                        f"score-dist: REFUSED — store id checksum "
                        f"(n={absorbed[0]}, xor={absorbed[1]:#x}) != corpus "
                        f"(n={expected[0]}, xor={expected[1]:#x}): the store "
                        "does not hold exactly the --input corpus (duplicate "
                        "or dropped deliveries); rebuild from batch",
                        file=sys.stderr,
                    )
                    return 3
        snap = s_stream.score_snapshot(spark, args.state).orderBy("bucket")
        snap.write.mode("overwrite").parquet(args.output)
        rows = spark.read.parquet(args.output).orderBy("bucket").collect()
        for r in rows:
            print(f"bucket {r.bucket}: n={r.n} avg_score={r.avg_score:.6f}")
        if args.gate_bucket is not None and total:
            passed = sum(r.n for r in rows if r.bucket >= args.gate_bucket)
            print(
                f"score-dist: pass mass (bucket >= {args.gate_bucket}) = "
                f"{passed}/{total} ({passed / total:.4f})"
            )
        print(f"score-dist: {total} docs absorbed, {len(rows)} buckets -> {args.output}")
        return 0

    if args.command == "graph":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark.sql import functions as F

        from epss_spark.operators import graph as graph_ops

        edges = spark.read.parquet(args.input)
        for c in (args.src_col, args.dst_col, *(
            [args.weight_col] if args.weight_col else []
        )):
            if c not in edges.columns:
                print(
                    f"graph: no {c!r} column in --input "
                    f"(columns: {', '.join(edges.columns)})",
                    file=sys.stderr,
                )
                return 2
        seeds = None
        if args.seeds:
            seeds = spark.read.parquet(args.seeds)
            if args.seed_col not in seeds.columns:
                print(
                    f"graph: no {args.seed_col!r} column in --seeds "
                    f"(columns: {', '.join(seeds.columns)})",
                    file=sys.stderr,
                )
                return 2
        try:
            ranks = graph_ops.pagerank(
                edges, n_iter=args.iters, damping=args.damping,
                src_col=args.src_col, dst_col=args.dst_col,
                weight_col=args.weight_col, seeds=seeds,
                seed_col=args.seed_col,
            )
        except ValueError as e:
            print(f"graph: {e}", file=sys.stderr)
            return 2
        ranks.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        n = out.count()
        if args.top:
            for r in out.orderBy(F.col("rank").desc(), "node").limit(args.top).collect():
                print(f"  {r.node}: {r.rank:.6f}")
        print(f"graph: pagerank over {n} nodes ({args.iters} iters) -> {args.output}")
        return 0

    if args.command == "compact":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import dedup as dedup_ops

        snaps = spark.read.parquet(args.input)
        keys = [k.strip() for k in args.key_cols.split(",") if k.strip()]
        if args.canonicalize_url:
            if len(keys) != 1:
                print("compact: --canonicalize-url needs exactly one key column",
                      file=sys.stderr)
                return 2
            from epss_spark.operators import text as text_ops

            snaps = snaps.withColumn(keys[0], text_ops.url_canonicalize(keys[0]))
        out = dedup_ops.keep_latest(
            snaps, keys, args.version_col, tiebreak_col=args.tiebreak_col
        )
        out.write.mode("overwrite").parquet(args.output)
        n_in = snaps.count()
        n_out = spark.read.parquet(args.output).count()
        print(f"compact: {n_in} snapshots -> {n_out} latest -> {args.output}")
        return 0

    if args.command == "history":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark.sql import functions as F

        from epss_spark.operators import dedup as dedup_ops

        snaps = spark.read.parquet(args.input)
        keys = [k.strip() for k in args.key_cols.split(",") if k.strip()]
        out = dedup_ops.snapshot_history(
            snaps, keys, args.version_col, args.fp_col,
            tiebreak_col=args.tiebreak_col,
        )
        out.write.mode("overwrite").parquet(args.output)
        h = spark.read.parquet(args.output)
        n_runs = h.count()
        n_open = h.filter(F.col("valid_to").isNull()).count()
        print(f"history: {snaps.count()} snapshots -> {n_runs} runs "
              f"({n_open} open) -> {args.output}")
        return 0

    if args.command == "asof":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import dedup as dedup_ops

        hist = spark.read.parquet(args.history)

        def _ver(s):
            # version columns ship as ints or date-like strings; compare
            # with the same type the table stores so pruning stays usable
            try:
                return int(s)
            except ValueError:
                return s

        if args.at is not None:
            out = dedup_ops.history_as_of(hist, _ver(args.at))
            what = f"as of {args.at}"
        else:
            lo, hi_v = args.changed_between
            out = dedup_ops.history_changed_between(hist, _ver(lo), _ver(hi_v))
            what = f"changed in ({lo}, {hi_v}]"
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            out = spark.read.parquet(args.output)
        n = out.count()
        dest = f" -> {args.output}" if args.output else ""
        print(f"asof: {n} runs {what}{dest}")
        return 0

    if args.command == "diff":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark.sql import functions as F

        from epss_spark.operators import dedup as dedup_ops

        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        d = dedup_ops.snapshot_diff(old, new, args.id_col, args.text_col)
        if args.output:
            d.write.mode("overwrite").parquet(args.output)
            d = spark.read.parquet(args.output)
        counts = {r.status: r.n for r in
                  d.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
        print("diff: " + "  ".join(
            f"{s}={counts.get(s, 0)}" for s in ("added", "changed", "removed")))
        return 0

    if args.command == "late-counts":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.streaming.dedup_stream import read_late_counts

        rows = read_late_counts(spark, args.store).collect()
        total = 0
        for r in rows:
            print(
                f"epoch={r.epoch} late_events={r.n_late_events} "
                f"late_keys={r.n_late_keys}"
            )
            total += int(r.n_late_events)
        print(f"late-counts: {len(rows)} epochs, {total} late events total")
        return 0

    if args.command == "bpe-train":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import text as text_ops

        docs = spark.read.parquet(args.input)
        merges = text_ops.bpe_merges(docs, n_merges=args.n_merges, text_col=args.text_col)
        merges.coalesce(1).write.mode("overwrite").parquet(args.output)
        rows = spark.read.parquet(args.output).orderBy("rank").collect()
        head = ", ".join(f"{r.lhs}+{r.rhs}" for r in rows[:8])
        print(f"learned {len(rows)} merges -> {args.output} (first: {head})")
        return 0

    if args.command == "bpe-apply":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import text as text_ops

        merges = [
            (r.lhs, r.rhs)
            for r in spark.read.parquet(args.merges).orderBy("rank").collect()
        ]
        docs = spark.read.parquet(args.input)
        out = text_ops.bpe_segment_batched(
            docs, merges, id_col=args.id_col, text_col=args.text_col
        )
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).selectExpr(
            "count(*) AS docs", "sum(n_bpe_tokens) AS toks"
        ).first()
        print(f"segmented {n.docs} docs ({n.toks} subword tokens) with "
              f"{len(merges)} merges -> {args.output}")
        return 0

    if args.command == "ann-index":
        import json as _json

        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark.sql import functions as F
        from epss_spark.operators import similarity

        emb = spark.read.parquet(args.input)
        coarse = similarity.train_ivf_centroids(
            emb, n_lists=args.n_lists, vec_col=args.vec_col
        )
        books = similarity.train_pq_centroids(
            emb, m=args.m, k=args.k_codes, vec_col=args.vec_col
        )
        enc = similarity.pq_encode_batched(
            emb, books, id_col=args.id_col, vec_col=args.vec_col
        )
        asg = emb.select(
            F.col(args.id_col),
            similarity._centroid_assign(
                similarity._qcol(args.vec_col), coarse
            ).alias("list_id"),
        )
        index = enc.join(asg, args.id_col)
        os.makedirs(args.output, exist_ok=True)
        index.write.mode("overwrite").partitionBy("list_id").parquet(
            os.path.join(args.output, "codes")
        )
        with open(os.path.join(args.output, "model.json"), "w") as f:
            _json.dump({"coarse": coarse, "books": books,
                        "id_col": args.id_col, "vec_col": args.vec_col}, f)
        n = spark.read.parquet(os.path.join(args.output, "codes")).count()
        print(f"indexed {n} vectors: {args.n_lists} lists x {args.m} codes "
              f"(k={args.k_codes}) -> {args.output}")
        return 0

    if args.command == "ann-search":
        import json as _json

        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import similarity

        with open(os.path.join(args.index, "model.json")) as f:
            model = _json.load(f)
        index = spark.read.parquet(os.path.join(args.index, "codes"))
        queries = spark.read.parquet(args.queries)
        r = max(args.rerank, args.k)
        shortlist = similarity.ivfpq_topk_batched(
            queries, None, model["coarse"], model["books"],
            k=r, n_probe=args.n_probe, id_col=model["id_col"],
            vec_col=model["vec_col"], index=index,
        )
        if args.rerank:
            emb = spark.read.parquet(args.input)
            out = similarity.rerank_exact(
                shortlist, queries, emb, k=args.k,
                id_col=model["id_col"], vec_col=model["vec_col"],
            )
        else:
            out = shortlist.filter(f"rank <= {args.k}")
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            print(f"wrote {spark.read.parquet(args.output).count()} result rows "
                  f"-> {args.output}")
        else:
            for row in out.orderBy("query_id", "rank").collect():
                print(tuple(row))
        return 0

    if args.command == "search":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import retrieval as retrieval_ops

        from epss_spark.operators.retrieval import normalize_term

        # normalize the way the index side tokenizes ("Spark" -> "spark")
        # and drop duplicates — a repeated word means the bag once; raw
        # passthrough would either never match or crash on the distinct
        # check with a traceback instead of a CLI error
        terms, seen = [], set()
        for t in args.terms.split(","):
            t = normalize_term(t)
            if t and " " not in t and t not in seen:
                seen.add(t)
                terms.append(t)
        if not terms:
            print("no usable query terms after normalization", file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.input)
        hits = retrieval_ops.bm25_topk(
            docs, terms, id_col=args.id_col, text_col=args.text_col, k=args.k
        ).collect()
        for r in hits:
            print(f"{r[args.id_col]}  {r.score}")
        return 0

    if args.command == "dedup-index":

        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import dedup as dedup_ops

        docs = spark.read.parquet(args.input)
        with dedup_ops.shingle_cache(docs, args.id_col, args.text_col) as shmap:
            bands_df, sh = dedup_ops.minhash_index(
                docs,
                args.id_col,
                args.text_col,
                num_hashes=args.num_hashes,
                bands=args.bands,
                shmap=shmap,
            )
            bands_df.write.mode("overwrite").parquet(os.path.join(args.index_dir, "bands"))
            sh.write.mode("overwrite").parquet(os.path.join(args.index_dir, "shingles"))
        # band keys are only comparable within one (num_hashes, bands)
        # scheme — record it so `dedup --method incremental` can look it up
        # and reject a mismatched override instead of silently missing
        # every near-dup
        import json as _json

        with open(os.path.join(args.index_dir, "meta.json"), "w") as f:
            _json.dump({"num_hashes": args.num_hashes, "bands": args.bands}, f)
        n = spark.read.parquet(os.path.join(args.index_dir, "shingles")).count()
        print(f"indexed {n} docs -> {args.index_dir}")
        return 0

    if args.command == "dedup":
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        from epss_spark.operators import dedup as dedup_ops

        # warn about flags the chosen method silently ignores — a nightly
        # job that writes `--method minhash --index-dir idx --update-index`
        # (forgetting `--method incremental`) must not look like success
        _APPLICABLE = {
            "exact": set(),
            "lines": set(),
            "spans": {"--span-k"},
            "minhash": {"--threshold", "--policy", "--max-bucket-size"},
            "incremental": {
                "--threshold",
                "--max-bucket-size",
                "--index-dir",
                "--update-index",
                "--num-hashes",
                "--bands",
            },
            "semantic": {"--threshold", "--policy", "--n-lists", "--seed", "--vec-col"},
            "semantic-incremental": {
                "--threshold",
                "--index-dir",
                "--update-index",
                "--centroids",
                "--vec-col",
            },
            "decontam": {"--threshold", "--eval-input", "--num-hashes", "--bands"},
        }
        _SET = {
            "--threshold": args.threshold is not None,
            "--policy": args.policy != "greedy",
            "--max-bucket-size": args.max_bucket_size is not None,
            "--index-dir": bool(args.index_dir),
            "--eval-input": bool(args.eval_input),
            "--update-index": args.update_index,
            "--num-hashes": args.num_hashes is not None,
            "--span-k": args.span_k != 8,
            "--bands": args.bands is not None,
            "--n-lists": args.n_lists != 8,
            "--seed": args.seed != 42,
            "--vec-col": args.vec_col != "embedding",
            "--centroids": bool(args.centroids),
        }
        ignored = [
            f for f, was_set in _SET.items()
            if was_set and f not in _APPLICABLE[args.method]
        ]
        if ignored:
            print(
                f"note: {', '.join(sorted(ignored))} do not apply to "
                f"--method {args.method}; ignored",
                file=sys.stderr,
            )

        docs = spark.read.parquet(args.input)
        if args.method == "semantic":
            from epss_spark.operators import similarity as sim_ops

            kept = sim_ops.semantic_dedup(
                docs,
                n_lists=args.n_lists,
                seed=args.seed,
                # cosine cutoff, NOT a Jaccard: default to the operator's
                # conservative 0.99, never to the Jaccard default
                threshold=0.99 if args.threshold is None else args.threshold,
                id_col=args.id_col,
                vec_col=args.vec_col,
                policy=args.policy,
            )
            kept.write.mode("overwrite").parquet(args.output)
            n_in = docs.count()
            n_out = spark.read.parquet(args.output).count()
            print(f"kept {n_out}/{n_in} rows -> {args.output}")
            return 0
        if args.method == "semantic-incremental":
            from epss_spark.operators import clustering as cl_ops
            from epss_spark.operators import similarity as sim_ops
            from epss_spark.streaming.dedup_stream import read_artifact

            if not args.index_dir:
                print(
                    "--method semantic-incremental requires --index-dir",
                    file=sys.stderr,
                )
                return 2
            cells_path = os.path.join(args.index_dir, "semantic_cells")
            model_path = os.path.join(args.index_dir, "model")
            thr = 0.99 if args.threshold is None else args.threshold
            if os.path.exists(model_path):
                cents = cl_ops.read_model(spark, model_path)
                # the stored model IS the index's scheme: an explicit
                # --centroids that disagrees means the caller is about
                # to dedup against cells from a different space —
                # silent no-dedup territory, so hard error (the
                # --num-hashes mismatch rule's semantic analog)
                if args.centroids:
                    given = cl_ops.read_model(spark, args.centroids)
                    if given != cents:
                        print(
                            f"--centroids {args.centroids} does not match "
                            f"the index scheme at {model_path}; rebuild "
                            "the index with the new model or drop the flag",
                            file=sys.stderr,
                        )
                        return 2
            elif args.centroids:
                # first use: the model becomes the index's frozen scheme
                cents = cl_ops.read_model(spark, args.centroids)
                cl_ops.write_model(spark, cents, model_path)
            else:
                print(
                    "--method semantic-incremental: the index dir has no "
                    "stored model — pass --centroids (from `cluster --op "
                    "train`) on first use",
                    file=sys.stderr,
                )
                return 2
            if os.path.exists(cells_path):
                idx = read_artifact(spark, cells_path)
            else:
                idx = spark.createDataFrame(
                    [], f"cell int, {args.id_col} long, {args.vec_col} array<float>"
                )
            kept, new_rows = sim_ops.dedup_batch_semantic(
                docs, idx, cents, threshold=thr,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            kept.write.mode("overwrite").parquet(args.output)
            if args.update_index:
                # recompute from the committed output (same discipline as
                # --method incremental: the append must reflect exactly
                # what was written)
                kept_out = spark.read.parquet(args.output)
                sim_ops.semantic_index(
                    kept_out, cents, id_col=args.id_col, vec_col=args.vec_col
                ).write.mode("append").parquet(cells_path)
            n_in = docs.count()
            n_out = spark.read.parquet(args.output).count()
            extra = " (index updated)" if args.update_index else ""
            print(f"kept {n_out}/{n_in} batch rows -> {args.output}{extra}")
            return 0
        threshold = 0.5 if args.threshold is None else args.threshold
        if args.method == "decontam":
            if not args.eval_input:
                print("--method decontam requires --eval-input", file=sys.stderr)
                return 2
            eval_docs = spark.read.parquet(args.eval_input)
            kept = dedup_ops.decontaminate_near(
                docs,
                eval_docs,
                id_col=args.id_col,
                text_col=args.text_col,
                num_hashes=args.num_hashes or 12,
                bands=args.bands or 4,
                threshold=threshold,
            )
            kept.write.mode("overwrite").parquet(args.output)
            n_in = docs.count()
            n_out = spark.read.parquet(args.output).count()
            print(f"kept {n_out}/{n_in} rows -> {args.output}")
            return 0
        if args.method == "incremental":
            import json as _json

            if not args.index_dir:
                print("--method incremental requires --index-dir", file=sys.stderr)
                return 2
            # resolve the banding scheme from the index's meta.json; an
            # explicit override that disagrees is a hard error (band keys
            # from different schemes never equi-join -> silent no-dedup)
            num_hashes, bands = 12, 4
            meta_path = os.path.join(args.index_dir, "meta.json")
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    meta = _json.load(f)
                num_hashes, bands = meta["num_hashes"], meta["bands"]
            for flag, given, from_meta in (
                ("--num-hashes", args.num_hashes, num_hashes),
                ("--bands", args.bands, bands),
            ):
                if given is not None and given != from_meta:
                    print(
                        f"{flag} {given} does not match the index scheme "
                        f"({from_meta}, from {meta_path}); rebuild the index "
                        "or drop the flag",
                        file=sys.stderr,
                    )
                    return 2
            # layout-tolerant read: a dedup-index build writes flat files,
            # the streaming maintainer writes epoch-N/ subdirs — accept
            # either (or a mix after both have touched the same index)
            from epss_spark.streaming.dedup_stream import read_artifact

            ib = read_artifact(spark, os.path.join(args.index_dir, "bands"))
            ish = read_artifact(spark, os.path.join(args.index_dir, "shingles"))
            with dedup_ops.shingle_cache(docs, args.id_col, args.text_col) as bshmap:
                pairs = dedup_ops.minhash_lookup(
                    docs,
                    ib,
                    ish,
                    args.id_col,
                    args.text_col,
                    num_hashes=num_hashes,
                    bands=bands,
                    threshold=threshold,
                    max_bucket_size=args.max_bucket_size,
                    new_shmap=bshmap,
                )
                kept = dedup_ops.drop_batch_duplicates(docs, pairs, args.id_col)
                kept.write.mode("overwrite").parquet(args.output)
                if args.update_index:
                    kept_out = spark.read.parquet(args.output)
                    # the index holds exactly one row set per id: skip
                    # survivors already indexed (re-crawled ids) — appending
                    # their NEW rows without deleting the stale ones would
                    # give duplicate ids and nondeterministic verification
                    # on later days. Refreshing a re-crawled id's content
                    # means rebuilding/compacting the index.
                    indexed_ids = ish.select(args.id_col).distinct().persist()
                    indexed_ids.count()  # snapshot BEFORE appending
                    try:
                        fresh = kept_out.join(indexed_ids, args.id_col, "left_anti")
                        # survivors' shingles are already in the batch cache
                        # — reuse it instead of re-normalizing/re-shingling
                        fshmap = bshmap.join(
                            fresh.select(args.id_col), args.id_col, "semi"
                        )
                        kb, ks = dedup_ops.minhash_index(
                            fresh,
                            args.id_col,
                            args.text_col,
                            num_hashes=num_hashes,
                            bands=bands,
                            shmap=fshmap,
                        )
                        kb.write.mode("append").parquet(
                            os.path.join(args.index_dir, "bands")
                        )
                        ks.write.mode("append").parquet(
                            os.path.join(args.index_dir, "shingles")
                        )
                    finally:
                        indexed_ids.unpersist()
            n_in = docs.count()
            n_out = spark.read.parquet(args.output).count()
            extra = " (index updated)" if args.update_index else ""
            print(f"kept {n_out}/{n_in} batch rows -> {args.output}{extra}")
            return 0
        if args.method == "exact":
            kept = dedup_ops.dedup_corpus(docs, args.id_col, args.text_col)
        elif args.method == "lines":
            # CCNet-style line-level dedup REWRITES text (survivor lines
            # reassembled) and returns only (id, text, n_lines_kept) — the
            # other methods pass full rows through, so say so in --help
            kept = dedup_ops.dedup_corpus_lines(docs, args.id_col, args.text_col)
        elif args.method == "spans":
            # exact substring-span dedup (Lee et al. 2022) also REWRITES
            # text: duplicated >= k-token spans are removed, survivors
            # reassembled as the normalized token stream
            kept = dedup_ops.dedup_spans(
                docs, k=args.span_k, id_col=args.id_col, text_col=args.text_col
            )
        else:
            pairs = dedup_ops.minhash_lsh_pairs(
                docs,
                args.id_col,
                args.text_col,
                threshold=threshold,
                max_bucket_size=args.max_bucket_size,
            )
            kept = dedup_ops.dedup_corpus_near(docs, pairs, args.id_col, policy=args.policy)
        kept.write.mode("overwrite").parquet(args.output)
        n_in = docs.count()
        n_out = spark.read.parquet(args.output).count()
        print(f"kept {n_out}/{n_in} rows -> {args.output}")
        return 0

    if args.command == "ingest" or (args.command == "scores" and args.download):
        if not args.workdir:
            print("--download requires --workdir", file=sys.stderr)
            return 2
        if not args.scores_path:
            print("--download requires --scores-path (parquet ingest root)", file=sys.stderr)
            return 2
        resolver = None
        if args.max_date is None:
            # live max-date discovery, exactly like the reference's HEAD probe
            # (epss/client.py:386-402) — only on the explicit download path
            from epss_spark.sources.ingest import resolve_max_date_http

            resolver = resolve_max_date_http
        lo, hi = get_date_range(args.version, args.min_date, args.max_date, resolver)
        paths = download_snapshots(args.workdir, lo, hi)
        spark = get_spark("epss-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
        df = read_snapshots(spark, paths)
        # dynamic overwrite: re-ingesting a range replaces only those days
        date_partitioned_write(df, args.scores_path, dynamic=True)
        print(f"ingested {len(paths)} day(s) into {args.scores_path}")
        return 0

    # scores
    if bool(args.scores_path) == bool(args.scores_table):
        print("provide exactly one of --scores-path / --scores-table", file=sys.stderr)
        return 2
    spark = get_spark("epss-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    client = EPSSClient(
        spark, args.scores_path, version=args.version, table=args.scores_table
    )
    ids = list(args.cve_ids or [])
    if args.cve_id_file:
        from epss_spark.functions.iters import iter_nonblank_lines

        ids.extend(iter_nonblank_lines(args.cve_id_file))
    query = Query(
        ids=tuple(ids) if ids else None,
        min_value=args.min_epss,
        max_value=args.max_epss,
        min_percentile=args.min_percentile,
        max_percentile=args.max_percentile,
        match=args.match,
    )
    df = client.get_scores(
        min_date=args.min_date,
        max_date=args.max_date,
        query=query,
        drop_unchanged=args.drop_unchanged,
    )
    if args.output_file:
        write_any(df, args.output_file)
    else:
        # full=True: the reference CLI prints the whole frame
        # (set_tbl_rows(-1)); boundedness is the library default, the CLI
        # keeps reference parity on explicit user action
        render_console(df, fmt=args.output_format, full=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
