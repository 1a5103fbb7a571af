"""End-to-end ingestion lifecycle with a stubbed network: fake upstream
gz-CSV snapshots -> idempotent download cache -> snapshot scan (filename
date + header skip) -> date-partitioned parquet -> EPSSClient quantized
query. Mirrors the reference lifecycle (epss/client.py:126-194 download,
:202-237 query) with zero live network."""

from __future__ import annotations

import datetime as dt
import gzip
import os

import pytest

from epss_spark.client import EPSSClient
from epss_spark.sources.ingest import download_snapshot, download_snapshots, snapshot_url
from epss_spark.sources.readers import date_partitioned_write, read_snapshots

D = dt.date

SNAPSHOTS = {
    "2023-03-07": [("CVE-A", 0.10, 0.5), ("CVE-B", 0.90, 0.99)],
    "2023-03-08": [("CVE-A", 0.10, 0.5), ("CVE-B", 0.95, 0.99)],
    "2023-03-09": [("CVE-A", 0.20, 0.6), ("CVE-B", 0.95, 0.99)],
}


def fake_fetch(url: str, dest: str) -> None:
    """Serves the gzipped upstream format incl. the post-2022 comment
    header (reference epss/client.py:185-189)."""
    date = url.split("epss_scores-")[1].split(".csv")[0]
    body = f"#model_version:v3,score_date:{date}T00:00:00+0000\n"
    body += "cve,epss,percentile\n"
    for cve, epss, pct in SNAPSHOTS[date]:
        body += f"{cve},{epss},{pct}\n"
    with gzip.open(dest, "wb") as f:
        f.write(body.encode())


def test_ingest_to_quantized_query(spark, tmp_path):
    raw = str(tmp_path / "raw")
    calls = []

    def counting_fetch(url, dest):
        calls.append(url)
        fake_fetch(url, dest)

    paths = download_snapshots(raw, "2023-03-07", "2023-03-09", fetch=counting_fetch)
    assert len(paths) == 3 and len(calls) == 3
    # idempotence: second download fetches nothing (reference :142,:173-175)
    download_snapshots(raw, "2023-03-07", "2023-03-09", fetch=counting_fetch)
    assert len(calls) == 3

    scores = read_snapshots(spark, raw, fmt="csv")
    assert scores.count() == 6
    assert scores.columns == ["date", "cve", "epss", "percentile"]

    root = str(tmp_path / "scores")
    date_partitioned_write(scores, root)
    # physical layout: one partition directory per day
    assert sorted(d for d in os.listdir(root) if d.startswith("date=")) == [
        "date=2023-03-07",
        "date=2023-03-08",
        "date=2023-03-09",
    ]

    client = EPSSClient(spark, root, max_date_resolver=lambda: D(2023, 3, 9))
    out = client.get_changed_scores("2023-03-08", "2023-03-09").collect()
    got = {(r.date, r.cve): r.epss for r in out}
    # CVE-A unchanged on 03-08 (vs prefetched 03-07) -> only the 03-09 change;
    # CVE-B changed on 03-08, unchanged on 03-09
    assert got == {
        (D(2023, 3, 9), "CVE-A"): 0.2,
        (D(2023, 3, 8), "CVE-B"): 0.95,
    }


def test_cli_ingest_then_quantized_scores(spark, tmp_path, monkeypatch, capsys):
    """Full CLI bootstrap (reference epss/cli.py:90-103 --download parity):
    `ingest` with a stubbed network builds the partitioned dataset, then
    `scores --drop-unchanged` over it returns quantized rows."""
    import epss_spark.cli as cli
    import epss_spark.sources.ingest as ingest_mod

    monkeypatch.setattr(ingest_mod, "_default_fetch", fake_fetch)
    raw, root = str(tmp_path / "raw"), str(tmp_path / "scores")

    rc = cli.main(
        ["ingest", "--workdir", raw, "--scores-path", root,
         "-a", "2023-03-07", "-b", "2023-03-09"]
    )
    assert rc == 0
    assert "ingested 3 day(s)" in capsys.readouterr().out
    assert sorted(d for d in os.listdir(root) if d.startswith("date=")) == [
        "date=2023-03-07", "date=2023-03-08", "date=2023-03-09",
    ]

    # re-ingest one day: dynamic overwrite touches only that partition
    rc = cli.main(
        ["ingest", "--workdir", raw, "--scores-path", root,
         "-a", "2023-03-08", "-b", "2023-03-08"]
    )
    assert rc == 0
    assert sorted(d for d in os.listdir(root) if d.startswith("date=")) == [
        "date=2023-03-07", "date=2023-03-08", "date=2023-03-09",
    ]

    rc = cli.main(
        ["scores", "--scores-path", root, "-a", "2023-03-08", "-b", "2023-03-09",
         "--drop-unchanged", "--output-format", "csv"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "2023-03-09,CVE-A,0.2" in out
    assert "2023-03-08,CVE-B,0.95" in out
    assert "CVE-A,0.1" not in out  # unchanged row quantized away

    # scores --download is the same ingest path (reference parity flag)
    rc = cli.main(
        ["scores", "--scores-path", root, "--download", "--workdir", raw,
         "-a", "2023-03-07", "-b", "2023-03-09"]
    )
    assert rc == 0
    assert "ingested 3 day(s)" in capsys.readouterr().out


def test_cli_bpe_train_then_apply(spark, tmp_path, capsys):
    """bpe-train writes the merge-table artifact; bpe-apply segments a
    corpus with it via the Arrow-batched replay — the full tokenizer
    lifecycle as two CLI steps."""
    import epss_spark.cli as cli
    from epss_spark.operators import text as text_ops

    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "low lower lowest"), (1, "new newer newest low")],
        "doc_id long, text string",
    ).write.parquet(docs_path)
    merges_path, out_path = str(tmp_path / "merges"), str(tmp_path / "seg")

    rc = cli.main(["bpe-train", "--input", docs_path, "--output", merges_path,
                   "--n-merges", "6"])
    assert rc == 0 and "learned 6 merges" in capsys.readouterr().out

    rc = cli.main(["bpe-apply", "--input", docs_path, "--merges", merges_path,
                   "--output", out_path])
    assert rc == 0 and "segmented 2 docs" in capsys.readouterr().out
    got = {r.doc_id: r.bpe_tokens for r in spark.read.parquet(out_path).collect()}
    merges = [(r.lhs, r.rhs)
              for r in spark.read.parquet(merges_path).orderBy("rank").collect()]
    want = {
        r.doc_id: r.bpe_tokens
        for r in text_ops.bpe_segment(spark.read.parquet(docs_path), merges).collect()
    }
    assert got == want


def test_cli_ann_index_then_search(spark, tmp_path, capsys):
    """ann-index trains the frozen quantizer + writes the list_id-
    partitioned code table; ann-search runs the batched ADC shortlist +
    exact re-rank against it — the full ANN artifact lifecycle as two
    CLI steps, equal to composing the library calls directly."""
    import json

    import numpy as np

    import epss_spark.cli as cli
    from epss_spark.operators import similarity

    rng = np.random.default_rng(31)
    centers = rng.standard_normal((4, 8))
    rows = [(i, [float(x) for x in centers[i % 4] + 0.3 * rng.standard_normal(8)])
            for i in range(40)]
    emb_path = str(tmp_path / "emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(emb_path)
    q_path = str(tmp_path / "queries")
    spark.read.parquet(emb_path).filter("vec_id < 2").write.parquet(q_path)
    idx_dir, out_path = str(tmp_path / "annidx"), str(tmp_path / "hits")

    rc = cli.main(["ann-index", "--input", emb_path, "--output", idx_dir,
                   "--n-lists", "4", "--m", "2", "--k-codes", "8"])
    assert rc == 0 and "indexed 40 vectors" in capsys.readouterr().out

    rc = cli.main(["ann-search", "--index", idx_dir, "--input", emb_path,
                   "--queries", q_path, "--k", "3", "--n-probe", "2",
                   "--rerank", "12", "--output", out_path])
    assert rc == 0 and "result rows" in capsys.readouterr().out

    got = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    model = json.load(open(f"{idx_dir}/model.json"))
    queries = spark.read.parquet(q_path)
    want = sorted(map(tuple, similarity.rerank_exact(
        similarity.ivfpq_topk_batched(
            queries, None, model["coarse"], model["books"], k=12, n_probe=2,
            index=spark.read.parquet(f"{idx_dir}/codes"),
        ),
        queries, spark.read.parquet(emb_path), k=3,
    ).collect()))
    assert got == want and len(got) == 6


def test_snapshot_url_pattern():
    assert (
        snapshot_url("2024-01-15")
        == "https://epss.cyentia.com/epss_scores-2024-01-15.csv.gz"
    )


def test_download_snapshot_skips_existing(tmp_path):
    p1 = download_snapshot(str(tmp_path), "2023-03-07", fetch=fake_fetch)
    mtime = os.path.getmtime(p1)
    p2 = download_snapshot(str(tmp_path), "2023-03-07", fetch=lambda u, d: 1 / 0)
    assert p1 == p2 and os.path.getmtime(p2) == mtime


def test_cli_dedup_spans_method(spark, tmp_path, capsys):
    """`dedup --method spans` rewrites documents with duplicated spans
    removed (Lee et al. 2022), end to end through parquet."""
    import epss_spark.cli as cli

    inp, outp = str(tmp_path / "docs"), str(tmp_path / "kept")
    spark.createDataFrame(
        [(0, "one two three four five"), (1, "x one two three four y"), (2, "solo doc")],
        "doc_id long, text string",
    ).write.parquet(inp)
    rc = cli.main(
        ["dedup", "--input", inp, "--output", outp, "--method", "spans", "--span-k", "4"]
    )
    assert rc == 0
    assert "kept 3/3 rows" in capsys.readouterr().out
    got = {r.doc_id: r.text for r in spark.read.parquet(outp).collect()}
    assert got[0] == "one two three four five"
    assert got[1] == "x y"
    assert got[2] == "solo doc"


def test_cli_compact_then_diff(spark, tmp_path, capsys):
    """compact keeps the newest fetch per canonical URL; diff reports the
    delta vs a previous compacted dump — the crawl-ingestion tier as two
    CLI steps."""
    import epss_spark.cli as cli

    snaps = str(tmp_path / "snaps")
    spark.createDataFrame(
        [
            ("HTTP://A.com:80/p?utm_source=x", 1, 100, "old a"),
            ("http://a.com/p", 2, 101, "new a"),
            ("http://b.com/q", 1, 102, "only b"),
        ],
        "url string, fetch_seq long, doc_id long, text string",
    ).write.parquet(snaps)
    compacted = str(tmp_path / "latest")
    rc = cli.main([
        "compact", "--input", snaps, "--output", compacted,
        "--key-cols", "url", "--version-col", "fetch_seq",
        "--tiebreak-col", "doc_id", "--canonicalize-url",
    ])
    assert rc == 0 and "3 snapshots -> 2 latest" in capsys.readouterr().out
    got = {r.url: r for r in spark.read.parquet(compacted).collect()}
    # messy and clean forms collapse to one canonical key; newest wins
    assert got["http://a.com/p"].text == "new a"

    old = str(tmp_path / "old")
    spark.createDataFrame(
        [(100, "was a"), (103, "gone")], "doc_id long, text string"
    ).write.parquet(old)
    new = str(tmp_path / "new")
    spark.createDataFrame(
        [(100, "was a"), (101, "fresh")], "doc_id long, text string"
    ).write.parquet(new)
    out = str(tmp_path / "delta")
    rc = cli.main(["diff", "--old", old, "--new", new, "--output", out])
    assert rc == 0
    assert "added=1  changed=0  removed=1" in capsys.readouterr().out
    st = {r.doc_id: r.status for r in spark.read.parquet(out).collect()}
    assert st == {101: "added", 103: "removed"}


def test_cli_history(spark, tmp_path, capsys):
    """history builds the SCD-2 interval table from a snapshot changelog:
    runs collapse, the live revision has NULL valid_to, and the open-run
    count is reported."""
    import epss_spark.cli as cli

    snaps = str(tmp_path / "snaps")
    spark.createDataFrame(
        [
            ("a", 1, 1, "A"), ("a", 2, 2, "A"), ("a", 3, 3, "B"),
            ("b", 1, 4, "X"),
        ],
        "url string, fetch_seq long, snap_id long, fp string",
    ).write.parquet(snaps)
    out = str(tmp_path / "hist")
    rc = cli.main([
        "history", "--input", snaps, "--output", out,
        "--key-cols", "url", "--version-col", "fetch_seq",
        "--fp-col", "fp", "--tiebreak-col", "snap_id",
    ])
    assert rc == 0
    assert "4 snapshots -> 3 runs (2 open)" in capsys.readouterr().out
    got = {(r.url, r.valid_from): (r.fp, r.valid_to, r.n_versions)
           for r in spark.read.parquet(out).collect()}
    assert got == {
        ("a", 1): ("A", 3, 2),
        ("a", 3): ("B", None, 1),
        ("b", 1): ("X", None, 1),
    }


def test_cli_asof(spark, tmp_path, capsys):
    """asof queries a compacted interval table without re-reading the
    changelog: --at reconstructs the point-in-time snapshot, and
    --changed-between lists runs appearing in the half-open window."""
    import epss_spark.cli as cli

    hist = str(tmp_path / "hist")
    spark.createDataFrame(
        [
            ("a", "A", 1, 3, 2), ("a", "B", 3, None, 1),
            ("b", "X", 5, None, 1),
        ],
        "url string, fp string, valid_from long, valid_to long, n_versions long",
    ).write.parquet(hist)
    out = str(tmp_path / "at2")
    rc = cli.main(["asof", "--history", hist, "--at", "2", "--output", out])
    assert rc == 0
    assert "asof: 1 runs as of 2" in capsys.readouterr().out
    got = [(r.url, r.fp) for r in spark.read.parquet(out).collect()]
    assert got == [("a", "A")]
    rc = cli.main(["asof", "--history", hist, "--changed-between", "2", "5"])
    assert rc == 0
    assert "asof: 2 runs changed in (2, 5]" in capsys.readouterr().out


def test_cli_analyze_card_and_divergence(spark, tmp_path, capsys):
    import epss_spark.cli as cli

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a b a", "en", "s0"), (2, "a b a", "en", "s0"), (3, "x y z w", "de", "s1")],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(docs)
    rc = cli.main(["analyze", "--input", docs, "--report", "card",
                   "--stratum-col", "lang"])
    out = capsys.readouterr().out
    assert rc == 0 and out.strip().startswith("3  10  6  2  2  0.333333")
    rc = cli.main(["analyze", "--input", docs, "--report", "divergence",
                   "--stratum-col", "lang"])
    out = capsys.readouterr().out
    assert rc == 0 and out.startswith("de  ") and "en  " in out
    # spectrum: a=4 b=2 and x,y,z,w=1 -> (freq,n_types,n_tokens) rows
    # ordered hapax band first
    rc = cli.main(["analyze", "--input", docs, "--report", "spectrum"])
    out = capsys.readouterr().out
    assert rc == 0
    assert [tuple(line.split("  ")) for line in out.strip().splitlines()] == [
        ("1", "4", "4"), ("2", "1", "2"), ("4", "1", "4"),
    ]
    # pmi: 'a b' occurs twice (min_count=5 filters everything here) ->
    # empty report, exit 0
    rc = cli.main(["analyze", "--input", docs, "--report", "pmi"])
    out = capsys.readouterr().out
    assert rc == 0 and out.strip() == ""


def test_cli_nb_train_then_classify(spark, tmp_path, capsys):
    """nb-train writes the frozen classifier artifact; classify gates a
    corpus against it — the quality/language-gate lifecycle as two CLI
    steps (disjoint class vocabularies make expectations unambiguous)."""
    import epss_spark.cli as cli

    seed = str(tmp_path / "seed")
    spark.createDataFrame(
        [
            (0, "alpha beta gamma", "x"), (1, "alpha gamma beta", "x"),
            (2, "uno dos tres", "y"), (3, "dos tres uno dos", "y"),
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(seed)
    model_dir = str(tmp_path / "nb")
    rc = cli.main(["nb-train", "--input", seed, "--output", model_dir])
    assert rc == 0 and "2 classes" in capsys.readouterr().out

    new = str(tmp_path / "new")
    spark.createDataFrame(
        [(10, "beta gamma NOISE", "x"), (11, "tres uno EXTRA", "y")],
        "doc_id long, text string, lang string",
    ).write.parquet(new)
    out = str(tmp_path / "pred")
    rc = cli.main(["classify", "--input", new, "--model", model_dir,
                   "--output", out, "--label-col", "lang"])
    assert rc == 0 and "accuracy 1.0000" in capsys.readouterr().out
    got = {r.doc_id: r.predicted for r in spark.read.parquet(out).collect()}
    assert got == {10: "x", 11: "y"}


def test_download_snapshot_compressed_mode_returns_real_path(tmp_path):
    """Review regression: decompress=False must return the path of the
    file that actually exists (the .gz) and be idempotent on it."""
    import gzip
    import os

    from epss_spark.sources import ingest

    calls = []

    def fake_fetch(url, dest):
        calls.append(url)
        with gzip.open(dest, "wb") as f:
            f.write(b"cve,epss,percentile\n")

    p = ingest.download_snapshot(str(tmp_path), "2024-01-02", fetch=fake_fetch,
                                 decompress=False)
    assert p.endswith(".csv.gz") and os.path.exists(p)
    # idempotent: a second call does not re-download
    p2 = ingest.download_snapshot(str(tmp_path), "2024-01-02", fetch=fake_fetch,
                                  decompress=False)
    assert p2 == p and len(calls) == 1


def test_cli_late_counts(spark, tmp_path, capsys):
    """late-counts reads a maintenance stream's `.late` sibling artifact
    and reports per-epoch out-of-order drops — the ops check for the
    ordering contract of the history stream."""
    import epss_spark.cli as cli
    from epss_spark.streaming import history_stream

    schema = "url string, version long, snap_id long, fp string"
    hdir = str(tmp_path / "hist")
    history_stream.process_history_batch(
        spark.createDataFrame([("a", 2, 1, "A")], schema), 0, hdir,
        "url", "version", "fp", tiebreak_col="snap_id",
    )
    # a late version for a committed key — dropped and counted at epoch 1
    history_stream.process_history_batch(
        spark.createDataFrame([("a", 1, 2, "Z")], schema), 1, hdir,
        "url", "version", "fp", tiebreak_col="snap_id",
    )
    rc = cli.main(["late-counts", "--store", hdir + "/open"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "epoch=0 late_events=0 late_keys=0" in out
    assert "epoch=1 late_events=1 late_keys=1" in out
    assert "2 epochs, 1 late events total" in out


def test_cli_prep_split_ops(spark, tmp_path, capsys):
    """prep --op split: plain hash split matches train_split;
    --leakage-safe assigns by near-dup component (exact duplicate docs
    share a split) and carries the split_group audit column."""
    import epss_spark.cli as cli
    from epss_spark.operators import dedup

    docs_path = str(tmp_path / "docs")
    rows = [(i, "the quick brown fox jumps over the lazy dog " * 4) for i in (1, 2)]
    rows += [(i, f"unique document number {i} with its own words entirely") for i in (5, 8, 9)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(docs_path)

    out_plain = str(tmp_path / "plain")
    rc = cli.main(["prep", "--input", docs_path, "--output", out_plain, "--op", "split"])
    assert rc == 0 and "5 docs -> 5 rows" in capsys.readouterr().out
    plain = {r.doc_id: r.split for r in spark.read.parquet(out_plain).collect()}
    want = {r.doc_id: r.split for r in dedup.train_split(docs).collect()}
    assert plain == want

    out_safe = str(tmp_path / "safe")
    rc = cli.main(["prep", "--input", docs_path, "--output", out_safe,
                   "--op", "split", "--leakage-safe"])
    assert rc == 0
    safe = {r.doc_id: (r.split_group, r.split)
            for r in spark.read.parquet(out_safe).collect()}
    # docs 1 and 2 are near-identical -> one component, one split
    assert safe[1][0] == safe[2][0] and safe[1][1] == safe[2][1]
    # singletons keep the per-doc assignment
    for d in (5, 8, 9):
        assert safe[d] == (d, want[d])


def test_cli_dedup_decontam_method(spark, tmp_path, capsys):
    """dedup --method decontam drops corpus docs near-duplicating eval
    docs and leaves in-corpus duplicates alone; missing --eval-input is
    a usage error, not a traceback."""
    import epss_spark.cli as cli

    words = [f"word{i}" for i in range(80)]
    base, near = " ".join(words), " ".join(words[:-1] + ["changed"])
    corpus = str(tmp_path / "corpus")
    evalp = str(tmp_path / "eval")
    spark.createDataFrame(
        [(2, base), (4, "in-corpus twin about other things " * 4),
         (6, "in-corpus twin about other things " * 4)],
        "doc_id long, text string",
    ).write.parquet(corpus)
    spark.createDataFrame([(7, near)], "doc_id long, text string").write.parquet(evalp)

    rc = cli.main(["dedup", "--input", corpus, "--output", str(tmp_path / "x"),
                   "--method", "decontam"])
    assert rc == 2 and "requires --eval-input" in capsys.readouterr().err

    out = str(tmp_path / "kept")
    rc = cli.main(["dedup", "--input", corpus, "--output", out,
                   "--method", "decontam", "--eval-input", evalp])
    assert rc == 0 and "kept 2/3 rows" in capsys.readouterr().out
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [4, 6]


def test_cli_analyze_contamination(spark, tmp_path, capsys):
    """analyze --report contamination: the dataset-card audit over the
    decontamination ladder. With a benchmark column in the eval parquet
    the report groups by it; without one, every eval row becomes one
    benchmark named after the file. Missing --eval-input is exit 2."""
    import epss_spark.cli as cli

    docs = str(tmp_path / "cdocs")
    b0 = "the quick brown fox jumps over the lazy dog"
    spark.createDataFrame(
        [(100, b0), (101, "nothing in common with any benchmark at all")],
        "doc_id long, text string",
    ).write.parquet(docs)
    ev = str(tmp_path / "cbench")
    spark.createDataFrame(
        [("b0", 1, b0)], "benchmark string, doc_id long, text string"
    ).write.parquet(ev)

    rc = cli.main(["analyze", "--input", docs, "--report", "contamination"])
    assert rc == 2
    assert "requires --eval-input" in capsys.readouterr().err

    out_pq = str(tmp_path / "creport")
    rc = cli.main(["analyze", "--input", docs, "--report", "contamination",
                   "--eval-input", ev, "--output", out_pq])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [tuple(line.split("  ")) for line in out.strip().splitlines()]
    assert lines == [
        ("b0", "exact", "1", "0.5"),
        ("b0", "near", "1", "0.5"),
        ("b0", "spans", "0", "0.0"),  # default k=13 > the 9-token doc
    ]
    assert spark.read.parquet(out_pq).count() == 3

    # no benchmark column -> the file name becomes the benchmark
    ev2 = str(tmp_path / "mybench")
    spark.createDataFrame(
        [(1, b0)], "doc_id long, text string"
    ).write.parquet(ev2)
    rc = cli.main(["analyze", "--input", docs, "--report", "contamination",
                   "--eval-input", ev2])
    out = capsys.readouterr().out
    assert rc == 0 and all(line.startswith("mybench  ") for line in out.strip().splitlines())


def test_cli_analyze_contamination_semantic_tier(spark, tmp_path, capsys):
    """analyze --report contamination with --embeddings/--eval-embeddings:
    the fourth (semantic) method row — a reworded doc sharing no token
    with the benchmark is flagged by cosine; passing only one of the two
    embedding inputs is exit 2 (the tier is all-or-nothing, so a report
    can never quietly omit it)."""
    import epss_spark.cli as cli

    docs = str(tmp_path / "sdocs")
    spark.createDataFrame(
        [(100, "completely reworded content, zero shared tokens"),
         (101, "unrelated filler document about other things")],
        "doc_id long, text string",
    ).write.parquet(docs)
    ev = str(tmp_path / "sbench")
    spark.createDataFrame(
        [("b0", 1, "the original benchmark phrasing of the same idea")],
        "benchmark string, doc_id long, text string",
    ).write.parquet(ev)
    emb = str(tmp_path / "semb")
    spark.createDataFrame(
        [(100, [10.0, 1.0]), (101, [-1.0, 10.0])],
        "vec_id long, embedding array<float>",
    ).write.parquet(emb)
    eemb = str(tmp_path / "sbench_emb")
    spark.createDataFrame(
        [("b0", 1, [10.0, 1.2])],
        "benchmark string, vec_id long, embedding array<float>",
    ).write.parquet(eemb)

    rc = cli.main(["analyze", "--input", docs, "--report", "contamination",
                   "--eval-input", ev, "--embeddings", emb])
    assert rc == 2 and "BOTH --embeddings and --eval-embeddings" in capsys.readouterr().err

    rc = cli.main(["analyze", "--input", docs, "--report", "contamination",
                   "--eval-input", ev, "--embeddings", emb,
                   "--eval-embeddings", eemb, "--sem-threshold", "0.97",
                   "--sem-k", "2"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [tuple(line.split("  ")) for line in out.strip().splitlines()]
    assert ("b0", "semantic", "1", "0.5") in lines
    assert len(lines) == 4  # exact/spans/near zero rows still present


def test_cli_cluster_init_kmpp(spark, tmp_path, capsys):
    """cluster --init kmpp: the k-means|| seeding strategy through the
    CLI — the trained model equals kmeans_parallel_init from the lowest
    id followed by the same kmeans_fit, exactly."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering as cl

    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (3, [10.0, 10.0]), (4, [11.0, 10.0]), (5, [10.0, 11.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    in_path = str(tmp_path / "vecs")
    vecs.write.parquet(in_path)
    model_path = str(tmp_path / "model_kmpp")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", model_path,
        "--op", "train", "--init", "kmpp", "--k", "2", "--n-iter", "1",
        "--dim", "2",
    ])
    assert rc == 0
    capsys.readouterr()
    init = cl.kmeans_parallel_init(vecs, k=2, start_id=0, dim=2)
    want = cl.kmeans_fit(vecs, init, n_iter=1, dim=2)
    assert cl.read_model(spark, model_path) == want


def test_cli_cluster_stats_and_sample(spark, tmp_path, capsys):
    """The clustering-tier CLI: train the deterministic k-means model on an
    embeddings parquet, write per-cluster stats and a balanced sample, and
    match the underlying operators exactly."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering as cl

    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (3, [10.0, 10.0]), (4, [11.0, 10.0]), (5, [10.0, 11.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    in_path = str(tmp_path / "vecs")
    vecs.write.parquet(in_path)

    stats_path = str(tmp_path / "stats")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", stats_path,
        "--op", "stats", "--init-ids", "0,3", "--n-iter", "1", "--dim", "2",
    ])
    assert rc == 0
    assert "k=2" in capsys.readouterr().out
    got = {r.cluster_id: r for r in spark.read.parquet(stats_path).collect()}
    init = cl.init_centroids_by_id(vecs, [0, 3])
    cents = cl.kmeans_fit(vecs, init, n_iter=1, dim=2)
    want = {r.cluster_id: r for r in cl.kmeans_stats(vecs, cents).collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k].n_points == want[k].n_points
        assert got[k].avg_d2 == want[k].avg_d2

    sample_path = str(tmp_path / "sample")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", sample_path,
        "--op", "sample", "--k", "2", "--n-iter", "1", "--dim", "2",
        "--per-cluster", "2",
    ])
    assert rc == 0
    picks = spark.read.parquet(sample_path).collect()
    per = {}
    for r in picks:
        per.setdefault(r.cluster_id, []).append(r.pick_rank)
    # default init (two lowest ids) still separates the two groups here
    assert {c: sorted(v) for c, v in per.items()} == {0: [1, 2], 1: [1, 2]}


def test_cli_cluster_ff_init(spark, tmp_path, capsys):
    """cluster --init ff seeds via farthest-first traversal from the
    lowest id and matches the operator chain exactly."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering as cl

    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (3, [10.0, 10.0]), (4, [11.0, 10.0]), (5, [10.0, 11.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    in_path = str(tmp_path / "ffvecs")
    vecs.write.parquet(in_path)

    out_path = str(tmp_path / "ffstats")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path,
        "--op", "stats", "--init", "ff", "--k", "2", "--n-iter", "1",
        "--dim", "2",
    ])
    assert rc == 0
    init = cl.farthest_first_init(vecs, k=2, start_id=0)
    cents = cl.kmeans_fit(vecs, init, n_iter=1, dim=2)
    want = {r.cluster_id: r.avg_d2 for r in cl.kmeans_stats(vecs, cents).collect()}
    got = {r.cluster_id: r.avg_d2 for r in spark.read.parquet(out_path).collect()}
    assert got == want


def test_cli_cluster_terms_and_elbow(spark, tmp_path, capsys):
    """The round-12 report verbs: --op terms joins a saved model's
    assignment to the documents for the per-cluster top-token report;
    --op elbow writes the inertia-vs-k curve from nested seeds."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering as cl

    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]),
        (2, [10.0, 10.0]), (3, [11.0, 10.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    docs = spark.createDataFrame(
        [(0, "alpha alpha beta"), (1, "alpha gamma"),
         (2, "omega omega"), (3, "omega sigma")],
        "doc_id long, text string",
    )
    in_path = str(tmp_path / "vecs")
    docs_path = str(tmp_path / "docs")
    vecs.write.parquet(in_path)
    docs.write.parquet(docs_path)
    model_path = str(tmp_path / "model")
    cl.write_model(spark, [[0.5, 0.0], [10.5, 10.0]], model_path)

    terms_path = str(tmp_path / "terms")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", terms_path, "--op", "terms",
        "--centroids", model_path, "--docs", docs_path, "--n-terms", "2", "--dim", "2",
    ])
    assert rc == 0
    capsys.readouterr()
    got = {
        (r.cluster_id, r.term_rank): (r.term, r.n)
        for r in spark.read.parquet(terms_path).collect()
    }
    assert got[(0, 1)] == ("alpha", 3) and got[(1, 1)] == ("omega", 3)

    # terms without --docs refuses
    rc = cli.main([
        "cluster", "--input", in_path, "--output", terms_path, "--op", "terms",
        "--centroids", model_path, "--dim", "2",
    ])
    assert rc == 2 and "--docs" in capsys.readouterr().err

    elbow_path = str(tmp_path / "elbow")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", elbow_path, "--op", "elbow",
        "--ks", "1,2", "--n-iter", "1", "--dim", "2",
    ])
    assert rc == 0 and "k=1" in capsys.readouterr().out
    curve = {r.k: r for r in spark.read.parquet(elbow_path).collect()}
    assert sorted(curve) == [1, 2]
    assert all(curve[k].n_points == 4 for k in curve)
    assert curve[1].total_inertia > curve[2].total_inertia


def test_cli_cluster_pick_k_recipe(spark, tmp_path, capsys):
    """The DEPLOYMENT.md "picking k" recipe end-to-end: train a model,
    then run BOTH --op elbow (inertia curve) and --op silhouette
    (across-k-comparable quality) against the same data/model — the two
    companion metrics the docs tie together. Also pins the --op train
    --centroids wording: re-saving a loaded model says 'copied', never
    implies a retrain."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering as cl

    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]),
        (2, [10.0, 10.0]), (3, [11.0, 10.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    in_path = str(tmp_path / "vecs")
    vecs.write.parquet(in_path)

    # step 1: the elbow curve over candidate ks
    elbow_path = str(tmp_path / "elbow")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", elbow_path, "--op", "elbow",
        "--ks", "2,3", "--n-iter", "1", "--dim", "2",
    ])
    assert rc == 0
    capsys.readouterr()

    # step 2: train the candidate model and score it with silhouette
    model_path = str(tmp_path / "model")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", model_path, "--op", "train",
        "--k", "2", "--n-iter", "2", "--dim", "2",
    ])
    assert rc == 0
    capsys.readouterr()
    sil_path = str(tmp_path / "sil")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", sil_path,
        "--op", "silhouette", "--centroids", model_path, "--dim", "2",
    ])
    assert rc == 0
    capsys.readouterr()
    cents = cl.read_model(spark, model_path)
    want = {
        r.cluster_id: (r.n_points, r.avg_silhouette)
        for r in cl.cluster_silhouette(vecs, cents).collect()
    }
    got = {
        r.cluster_id: (r.n_points, r.avg_silhouette)
        for r in spark.read.parquet(sil_path).collect()
    }
    assert got == want and len(got) == 2
    # well-separated pairs: both cells score near 1
    assert all(s > 0.9 for _, s in got.values())

    # --op train --centroids: a copy, and the output says so
    copy_path = str(tmp_path / "model_copy")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", copy_path, "--op", "train",
        "--centroids", model_path, "--dim", "2",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "copied saved model" in out and "iterations" not in out
    assert cl.read_model(spark, copy_path) == cents


def test_cli_cluster_assign_and_boundary(spark, tmp_path, capsys):
    """--op assign writes the raw per-row (id, cluster_id, d2) every
    per-cell artifact consumes; --op boundary writes the churn-risk
    report with the --margin threshold."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering as cl

    rows = [(0, [0.0, 0.0]), (1, [4.9, 0.0]), (2, [10.0, 0.0])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    in_path = str(tmp_path / "vecs")
    vecs.write.parquet(in_path)
    model_path = str(tmp_path / "model")
    cl.write_model(spark, [[0.0, 0.0], [10.0, 0.0]], model_path)

    asg_path = str(tmp_path / "assigned")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", asg_path, "--op", "assign",
        "--centroids", model_path, "--dim", "2",
    ])
    assert rc == 0
    capsys.readouterr()
    got = {r.vec_id: (r.cluster_id, r.d2) for r in spark.read.parquet(asg_path).collect()}
    assert {k: v[0] for k, v in got.items()} == {0: 0, 1: 0, 2: 1}
    assert got[0][1] == 0.0 and got[2][1] == 0.0
    # 4.9 is stored float32, so d2 is (widen(float32(4.9)))^2, not 4.9^2
    assert got[1][1] == pytest.approx(24.01, abs=1e-5)

    bd_path = str(tmp_path / "boundary")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", bd_path, "--op", "boundary",
        "--centroids", model_path, "--dim", "2", "--margin", "3.0",
    ])
    assert rc == 0
    capsys.readouterr()
    bd = {r.cluster_id: (r.n_points, r.n_boundary) for r in spark.read.parquet(bd_path).collect()}
    # vec 1 at (4.9, 0): margin 26.01 - 24.01 = 2.0 < 3.0 -> boundary
    assert bd == {0: (2, 1), 1: (1, 0)}

    # a typo'd --id-col is a usage error (exit 2, stderr names the real
    # columns), not a raw AnalysisException
    rc = cli.main([
        "cluster", "--input", in_path, "--output", asg_path, "--op", "assign",
        "--centroids", model_path, "--dim", "2", "--id-col", "vec_idd",
    ])
    cap = capsys.readouterr()
    assert rc == 2 and "vec_idd" in cap.err and "vec_id" in cap.err


def test_cli_analyze_dim_drift(spark, tmp_path, capsys):
    """analyze --report dim-drift: the encoder-regression monitor via the
    CLI — incoming batch vs a frozen reference, biggest |delta| first."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering as cl

    ref = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 2.0])], "vec_id long, embedding array<float>"
    )
    new = spark.createDataFrame(
        [(2, [2.0, 7.0]), (3, [2.0, 9.0])], "vec_id long, embedding array<float>"
    )
    ref_path = str(tmp_path / "ref")
    new_path = str(tmp_path / "new")
    out_path = str(tmp_path / "drift_report")
    ref.write.parquet(ref_path)
    new.write.parquet(new_path)
    rc = cli.main([
        "analyze", "--input", new_path, "--report", "dim-drift",
        "--ref-input", ref_path, "--output", out_path,
    ])
    assert rc == 0
    capsys.readouterr()
    got = {r.dim_idx: r for r in spark.read.parquet(out_path).collect()}
    want = {r.dim_idx: r for r in cl.embedding_dim_drift(ref, new).collect()}
    assert got == want
    assert got[1].delta == 6.0 and got[0].delta == 0.0

    rc = cli.main(["analyze", "--input", new_path, "--report", "dim-drift"])
    assert rc == 2


def test_cli_cluster_outliers(spark, tmp_path, capsys):
    """cluster --op outliers: the per-cell distance-tail junk filter via
    the CLI, applying a saved model."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering as cl

    rows = [(i, [float(i), 0.0]) for i in range(10)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    in_path = str(tmp_path / "vecs")
    vecs.write.parquet(in_path)
    model_path = str(tmp_path / "model")
    cl.write_model(spark, [[0.0, 0.0]], model_path)
    out_path = str(tmp_path / "outliers")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "outliers",
        "--centroids", model_path, "--frac", "0.2", "--dim", "2",
    ])
    assert rc == 0
    capsys.readouterr()
    got = [(r.vec_id, r.dist_rank) for r in spark.read.parquet(out_path).collect()]
    assert sorted(got) == [(8, 2), (9, 1)]


def test_cli_linear_train_then_classify(spark, tmp_path, capsys):
    """linear-train writes the GD model parquet (bias at -1,
    feature_scale at -2); classify autodetects the flat artifact and
    scores map-only — a perfectly separable token signal lands accuracy
    1.0, and a scale-less artifact is refused, never silently misapplied."""
    import epss_spark.cli as cli
    from epss_spark.operators import classifier as clf_ops

    seed = str(tmp_path / "seed")
    rows = [(i, "good clean prose here", 1.0) for i in range(20)]
    rows += [(100 + i, "spam junk noise blob", 0.0) for i in range(20)]
    spark.createDataFrame(rows, "doc_id long, text string, y double").write.parquet(seed)
    model = str(tmp_path / "linmodel")
    rc = cli.main([
        "linear-train", "--input", seed, "--output", model,
        "--label-col", "y", "--dim", "16", "--epochs", "12", "--lr", "2.0",
    ])
    out1 = capsys.readouterr().out
    assert rc == 0 and "train accuracy 1.0000" in out1
    assert clf_ops.read_linear_model_scale(spark, model) == 8.0

    pred = str(tmp_path / "pred")
    rc = cli.main(["classify", "--input", seed, "--model", model,
                   "--output", pred, "--label-col", "y"])
    assert rc == 0 and "accuracy 1.0000" in capsys.readouterr().out
    got = spark.read.parquet(pred)
    assert set(got.columns) == {"doc_id", "predicted", "score", "actual", "correct"}
    assert got.filter("predicted = 1").count() == 20

    # missing label column -> usage error on stderr
    rc = cli.main(["linear-train", "--input", seed, "--output", model,
                   "--label-col", "nope"])
    err = capsys.readouterr().err
    assert rc == 2 and "no 'nope' column" in err

    # artifact without the scale row -> classify refuses
    bare = str(tmp_path / "bare")
    clf_ops.write_linear_model(spark, [0.1] * 16, 0.0, bare)
    rc = cli.main(["classify", "--input", seed, "--model", bare, "--output", pred])
    err = capsys.readouterr().err
    assert rc == 2 and "records no" in err


def test_cli_graph_pagerank(spark, tmp_path, capsys):
    """graph: PageRank over an edge-list parquet — top-N print, ranks
    parquet, and usage errors for missing columns / bad params."""
    import epss_spark.cli as cli

    edges = str(tmp_path / "edges")
    spark.createDataFrame(
        [("hub", "x", 1), ("x", "hub", 1), ("hub", "y", 1), ("y", "hub", 1),
         ("x", "y", 1)],
        "src string, dst string, w long",
    ).write.parquet(edges)
    out = str(tmp_path / "ranks")
    rc = cli.main(["graph", "--input", edges, "--output", out,
                   "--weight-col", "w", "--iters", "8", "--top", "2"])
    cap = capsys.readouterr()
    assert rc == 0 and "pagerank over 3 nodes" in cap.out
    # the hub receives from both others: it must print first
    assert cap.out.strip().startswith("hub:") or "  hub:" in cap.out.splitlines()[0]
    ranks = {r.node: r.rank for r in spark.read.parquet(out).collect()}
    assert ranks["hub"] == max(ranks.values())

    rc = cli.main(["graph", "--input", edges, "--output", out,
                   "--src-col", "nope"])
    assert rc == 2 and "no 'nope' column" in capsys.readouterr().err
    rc = cli.main(["graph", "--input", edges, "--output", out,
                   "--damping", "2.0"])
    assert rc == 2 and "damping" in capsys.readouterr().err


def test_cli_graph_pagerank_seeded(spark, tmp_path, capsys):
    """graph --seeds: personalized ranks concentrate on the seed; a
    bad seed column is a usage error."""
    import epss_spark.cli as cli

    edges = str(tmp_path / "edges2")
    spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")],
        "src string, dst string",
    ).write.parquet(edges)
    seeds = str(tmp_path / "seeds")
    spark.createDataFrame([("a",)], "node string").write.parquet(seeds)
    out = str(tmp_path / "ranks2")
    rc = cli.main(["graph", "--input", edges, "--output", out,
                   "--seeds", seeds, "--iters", "8", "--top", "0"])
    assert rc == 0 and "pagerank over 3 nodes" in capsys.readouterr().out
    ranks = {r.node: r.rank for r in spark.read.parquet(out).collect()}
    assert ranks["a"] > ranks["b"] > ranks["c"]

    rc = cli.main(["graph", "--input", edges, "--output", out,
                   "--seeds", seeds, "--seed-col", "nope"])
    assert rc == 2 and "no 'nope' column" in capsys.readouterr().err
