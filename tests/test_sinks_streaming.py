"""Sinks, streaming, and CLI tests."""

from __future__ import annotations

import datetime as dt
import io
import json
import os

import pytest

# Full-gate tier: this whole module is heavyweight (streaming e2e: real availableNow queries, epoch stores, ~8 min).
# The per-commit smoke tier deselects it: pytest -m "not slow".
# The FULL suite (no -m) remains the green gate for every round.
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from epss_spark.sources import sinks
from epss_spark.sources.readers import read_any, read_snapshots
from epss_spark.streaming import scores_stream

D = dt.date


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------


def test_write_json_array_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    path = str(tmp_path / "out.json")
    sinks.write_json_array(df, path)
    back = read_any(spark, path, "json", df.schema)
    assert sorted(r.id for r in back.collect()) == [1, 2]


def test_render_console_formats(spark):
    df = spark.createDataFrame([(D(2024, 1, 1), "x", 1.5)], "d date, s string, v double")
    for fmt, probe in [("json", '"s": "x"'), ("jsonl", '"v": 1.5'), ("csv", "d,s,v")]:
        buf = io.StringIO()
        sinks.render_console(df, fmt=fmt, file=buf)
        assert probe in buf.getvalue(), (fmt, buf.getvalue())
    # dates serialize as ISO strings (reference json_encoder behavior)
    buf = io.StringIO()
    sinks.render_console(df, fmt="json", file=buf)
    assert "2024-01-01" in buf.getvalue()


def test_convert_and_merge(spark, tmp_path):
    df = spark.createDataFrame([(i, f"s{i}") for i in range(10)], "id long, s string")
    src = str(tmp_path / "src.csv")
    df.coalesce(1).write.option("header", True).csv(src)
    dst = str(tmp_path / "dst.jsonl")
    sinks.convert(spark, src, dst, schema=df.schema)
    assert read_any(spark, dst, "jsonl", df.schema).count() == 10
    merged = str(tmp_path / "merged.parquet")
    sinks.merge(spark, dst, merged, schema=df.schema, fmt="jsonl")
    assert spark.read.parquet(merged).count() == 10


def test_sort_file_plain_file_contract(spark, tmp_path):
    """Reference parity (epss/util.py:122-139): a plain FILE in means a
    plain sorted FILE out at the same path — not a Spark part-dir."""
    p = str(tmp_path / "data.csv")
    with open(p, "w") as f:
        f.write("id,v\n3,c\n1,a\n2,b\n")
    sinks.sort_file(spark, p, by=["id"], descending=True, schema="id long, v string")
    assert os.path.isfile(p)
    lines = open(p).read().strip().splitlines()
    assert lines[0] == "id,v" and [ln.split(",")[0] for ln in lines[1:]] == ["3", "2", "1"]


def test_write_excel_stdlib_fallback(spark, tmp_path):
    """No xlsx engine is installed here, so this exercises the stdlib OOXML
    writer end-to-end: valid zip, expected parts, values present."""
    import zipfile

    df = spark.createDataFrame(
        [(1, "a & b", 0.5, dt.date(2024, 1, 1), True), (2, None, None, dt.date(2024, 1, 2), False)],
        "id long, s string, v double, d date, flag boolean",
    )
    p = str(tmp_path / "out.xlsx")
    sinks.write_excel(df.orderBy("id"), p)
    with zipfile.ZipFile(p) as z:
        names = set(z.namelist())
        assert {"[Content_Types].xml", "xl/workbook.xml", "xl/worksheets/sheet1.xml"} <= names
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    assert "a &amp; b" in sheet  # XML escaping
    assert "<v>0.5</v>" in sheet  # numeric cell
    assert "2024-01-01" in sheet  # date as ISO inline string
    assert '<c r="A1" t="inlineStr"><is><t>id</t></is></c>' in sheet  # header row
    # every numeric/bool <v> literal must be a plain decimal — pandas
    # iterrows yields numpy scalars whose repr under numpy >= 2 would be
    # 'np.float64(0.5)' without the .item() unwrap
    import re

    for lit in re.findall(r"<c[^>]*>(?:<v>([^<]*)</v>)?", sheet):
        if lit:
            assert re.fullmatch(r"-?\d+(\.\d+)?([eE][-+]?\d+)?", lit), lit


def test_xlsx_cell_literals_for_numpy_scalars():
    """The minimal OOXML writer must render numpy scalar cells as plain
    literals (np.float64/np.int64/np.bool_), empty cells for NaN/inf."""
    import zipfile

    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "f": np.array([0.5, np.nan, np.inf], dtype=np.float64),
            "i": np.array([7, -3, 0], dtype=np.int64),
            "b": np.array([True, False, True]),
        }
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "np.xlsx")
        sinks._write_xlsx_minimal(pdf, p, "data")
        with zipfile.ZipFile(p) as z:
            sheet = z.read("xl/worksheets/sheet1.xml").decode()
    assert "<v>0.5</v>" in sheet and "<v>7</v>" in sheet and "<v>-3</v>" in sheet
    assert 't="b"><v>1</v>' in sheet and 't="b"><v>0</v>' in sheet
    assert "np.float64" not in sheet and "np.int64" not in sheet and "np.True_" not in sheet
    assert '<c r="A3"/>' in sheet and '<c r="A4"/>' in sheet  # NaN, inf -> empty


def test_convert_files_in_dir_per_file_layout(spark, tmp_path):
    """Reference epss/util.py:69-119 parity: one output file per input
    file, names preserved with swapped extension, idempotent skip."""
    src = tmp_path / "daily"
    src.mkdir()
    for d in ("2024-01-01", "2024-01-02", "2024-01-03"):
        (src / f"epss_scores-{d}.csv").write_text(f"cve,epss\nCVE-1,0.5\nCVE-2,0.7\n")
    dst = str(tmp_path / "parquet")
    out = sinks.convert_files_in_dir(
        spark, str(src), dst, "parquet", schema="cve string, epss double"
    )
    assert sorted(os.path.basename(p) for p in out) == [
        "epss_scores-2024-01-01.parquet",
        "epss_scores-2024-01-02.parquet",
        "epss_scores-2024-01-03.parquet",
    ]
    assert all(os.path.isfile(p) for p in out)  # plain files, not part-dirs
    assert spark.read.parquet(dst + "/*.parquet").count() == 6
    mtimes = {p: os.path.getmtime(p) for p in out}
    sinks.convert_files_in_dir(spark, str(src), dst, "parquet", schema="cve string, epss double")
    assert {p: os.path.getmtime(p) for p in out} == mtimes  # skip-if-exists


def test_render_console_bounded_by_default(spark):
    df = spark.range(3000).selectExpr("id", "id * 2 AS v")
    buf = io.StringIO()
    sinks.render_console(df, fmt="jsonl", file=buf)
    assert len(buf.getvalue().strip().splitlines()) == sinks.DEFAULT_CONSOLE_ROWS
    buf = io.StringIO()
    sinks.render_console(df, fmt="jsonl", file=buf, full=True)
    assert len(buf.getvalue().strip().splitlines()) == 3000


# ---------------------------------------------------------------------------
# snapshot scan: filename-date recovery + comment header skip
# ---------------------------------------------------------------------------


def test_read_snapshots_filename_date_and_header(spark, tmp_path):
    for d, rows in [
        ("2024-01-01", [("CVE-1", 0.5, 0.9), ("CVE-2", 0.1, 0.2)]),
        ("2024-01-02", [("CVE-1", 0.6, 0.9)]),
    ]:
        with open(tmp_path / f"epss_scores-{d}.csv", "w") as f:
            f.write("#model_version:v3,score_date:" + d + "\n")
            f.write("cve,epss,percentile\n")
            for r in rows:
                f.write(",".join(map(str, r)) + "\n")
    df = read_snapshots(spark, str(tmp_path), fmt="csv")
    got = {(r.date, r.cve): r.epss for r in df.collect()}
    assert got == {
        (D(2024, 1, 1), "CVE-1"): 0.5,
        (D(2024, 1, 1), "CVE-2"): 0.1,
        (D(2024, 1, 2), "CVE-1"): 0.6,
    }
    assert df.columns == ["date", "cve", "epss", "percentile"]


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def test_stream_scores_daily_volume(spark, tmp_path):
    for d, scores in [("2024-01-01", [0.1, 0.3]), ("2024-01-02", [0.2, 0.4, 0.6])]:
        with open(tmp_path / f"epss_scores-{d}.csv", "w") as f:
            f.write("cve,epss,percentile\n")
            for i, s in enumerate(scores):
                f.write(f"CVE-{i},{s},0.5\n")
    stream = scores_stream.stream_scores(spark, str(tmp_path))
    assert stream.isStreaming
    agg = scores_stream.daily_volume(stream)
    scores_stream.run_to_memory(agg, "daily_volume_test")
    got = {r.date: (r.n_scores, r.min_epss, r.max_epss) for r in spark.sql(
        "SELECT * FROM daily_volume_test").collect()}
    assert got == {
        D(2024, 1, 1): (2, 0.1, 0.3),
        D(2024, 1, 2): (3, 0.2, 0.6),
    }


def test_stream_events_window_counts(spark, tmp_path):
    # file-source streams read directories; stage the single-file table
    import shutil

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", events_dir / "events.parquet")
    agg = scores_stream.daily_change_counts(spark, str(events_dir))
    scores_stream.run_to_memory(agg, "event_counts_test")
    rows = spark.sql("SELECT * FROM event_counts_test").collect()
    assert sum(r.n for r in rows) == 1000  # all events land in some window
    assert {r.event_type for r in rows} == {"click", "view", "purchase", "signup", "error"}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Re-delivered (duplicate-key) events collapse to one row; distinct
    keys all survive. append output + availableNow drains the backlog."""
    import pyspark.sql.functions as F  # noqa: N812

    src = tmp_path / "dupev"
    src.mkdir()
    rows = [(i % 6, dt.datetime(2024, 1, 1, 12, 0, i % 6)) for i in range(18)]
    spark.createDataFrame(rows, "k long, ts timestamp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))
    stream = spark.readStream.schema("k long, ts timestamp").parquet(str(src))
    deduped = scores_stream.dedup_stream(stream, ["k"], ts_col="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT k FROM dedup_stream_test").collect()
    assert sorted(r.k for r in got) == [0, 1, 2, 3, 4, 5]


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------


def test_cli_dedup_action(spark, tmp_path, capsys):
    """The dedup subcommand end-to-end: minhash near-dup removal with the
    components policy keeps exactly one survivor per near-dup group."""
    from epss_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog at dawn"),
            (1, "the quick brown fox jumps over the lazy dog at dusk"),
            (2, "entirely different content about catalyst optimizers"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "kept")
    rc = main(
        ["dedup", "--input", src, "--output", out,
         "--method", "minhash", "--threshold", "0.3", "--policy", "components"]
    )
    assert rc == 0
    assert "kept 2/3 rows" in capsys.readouterr().out
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [0, 2]  # 1 is 0's near-dup; component min survives


def test_streaming_incremental_dedup_matches_batch_flow(spark, tmp_path):
    """streaming/dedup_stream: two micro-batches through foreachBatch must
    produce exactly the sequential batch outcome — batch-1's survivor is
    indexed before batch-2 runs, so a batch-2 dup of it is dropped."""
    import glob
    import os
    import shutil

    from epss_spark.operators import dedup as dedup_ops
    from epss_spark.streaming import dedup_stream

    corpus = spark.createDataFrame(
        [
            (5, "the quick brown fox jumps over the lazy dog at dawn"),
            (7, "entirely different content about catalyst optimizers"),
        ],
        "doc_id long, text string",
    )
    idx = tmp_path / "idx"
    with dedup_ops.shingle_cache(corpus) as shmap:
        ib, ish = dedup_ops.minhash_index(corpus, shmap=shmap)
        ib.write.parquet(str(idx / "bands"))
        ish.write.parquet(str(idx / "shingles"))

    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()

    def land_file(rows, name, mtime):
        staging = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(staging)
        )
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"{name}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    land_file(
        [
            (1, "the quick brown fox jumps over the lazy dog at dusk"),
            (10, "totally novel text with no duplicate anywhere in sight"),
            (11, "totally novel text with no duplicate anywhere in sight!"),
        ],
        "batch1",
        1_000_000_000,
    )
    land_file(
        [(20, "totally novel text with no duplicate anywhere in sight?")],
        "batch2",
        1_000_000_100,
    )

    stream = dedup_stream.stream_documents(
        spark, str(drop_dir), max_files_per_trigger=1
    )
    q = dedup_stream.start_incremental_dedup(
        stream,
        str(idx),
        str(tmp_path / "accepted"),
        str(tmp_path / "ckpt"),
        threshold=0.3,
    )
    q.awaitTermination(120)
    accepted = sorted(
        r.doc_id
        for r in dedup_stream.read_artifact(
            spark, str(tmp_path / "accepted")
        ).collect()
    )
    # 1 loses to indexed 5 (despite smaller id); 11 loses to batch twin 10;
    # 20 loses to 10 ONLY IF batch 1's survivor was indexed between batches
    assert accepted == [10]
    # and the index (flat batch-built base + stream epoch dirs) now holds
    # corpus + survivor — readable only through the layout-tolerant reader
    idx_ids = {
        r.doc_id
        for r in dedup_stream.read_artifact(spark, str(idx / "shingles")).collect()
    }
    assert idx_ids == {5, 7, 10}


def test_cli_incremental_dedup_flow(spark, tmp_path, capsys):
    """The nightly incremental flow end-to-end through the CLI:
    dedup-index over the corpus once, then `dedup --method incremental`
    on a batch — a batch doc duplicating an indexed doc drops REGARDLESS
    of id order, a batch-internal twin drops greedily, and
    --update-index makes day-2 see day-1's survivors."""
    from epss_spark.cli import main

    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            (5, "the quick brown fox jumps over the lazy dog at dawn"),
            (7, "entirely different content about catalyst optimizers"),
        ],
        "doc_id long, text string",
    ).write.parquet(corpus)
    idx = str(tmp_path / "idx")
    assert main(["dedup-index", "--input", corpus, "--index-dir", idx]) == 0
    assert "indexed 2 docs" in capsys.readouterr().out

    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [
            # smaller id than its indexed dup 5 — must STILL drop
            (1, "the quick brown fox jumps over the lazy dog at dusk"),
            (10, "totally novel text with no duplicate anywhere in sight"),
            (11, "totally novel text with no duplicate anywhere in sight!"),
        ],
        "doc_id long, text string",
    ).write.parquet(batch)
    out = str(tmp_path / "kept_batch")
    rc = main(
        ["dedup", "--input", batch, "--output", out, "--method", "incremental",
         "--threshold", "0.3", "--index-dir", idx, "--update-index"]
    )
    assert rc == 0
    assert "kept 1/3 batch rows" in capsys.readouterr().out
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [10]  # 1 loses to indexed 5; 11 loses to batch twin 10

    # day 2: a dup of day-1 survivor 10 must now be caught by the index
    batch2 = str(tmp_path / "batch2")
    spark.createDataFrame(
        [(20, "totally novel text with no duplicate anywhere in sight?")],
        "doc_id long, text string",
    ).write.parquet(batch2)
    out2 = str(tmp_path / "kept_batch2")
    rc = main(
        ["dedup", "--input", batch2, "--output", out2, "--method", "incremental",
         "--threshold", "0.3", "--index-dir", idx]
    )
    assert rc == 0
    assert "kept 0/1 batch rows" in capsys.readouterr().out


def test_cli_semantic_dedup(spark, tmp_path, capsys):
    """dedup --method semantic end-to-end: KMeans-clustered embedding
    space, near-identical vectors collapse to the min-id survivor."""
    from epss_spark.cli import main

    src = str(tmp_path / "vecs")
    spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    ).write.parquet(src)
    out = str(tmp_path / "kept_vecs")
    rc = main(
        ["dedup", "--input", src, "--output", out, "--method", "semantic",
         "--id-col", "vec_id", "--threshold", "0.99", "--n-lists", "3"]
    )
    assert rc == 0
    assert "kept 3/4 rows" in capsys.readouterr().out
    kept = sorted(r.vec_id for r in spark.read.parquet(out).collect())
    assert kept == [0, 3, 4]


def test_cli_date_range_and_urls(capsys):
    from epss_spark.cli import main

    assert main(["date-range", "--version", "v2"]) == 0
    out = capsys.readouterr().out.strip()
    assert out == "2022-02-04 2023-03-06"

    assert main(["urls", "-a", "2023-03-07", "-b", "2023-03-08"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == [
        "https://epss.cyentia.com/epss_scores-2023-03-07.csv.gz",
        "https://epss.cyentia.com/epss_scores-2023-03-08.csv.gz",
    ]


def test_cli_select_dsir(spark, tmp_path, capsys):
    """The select subcommand end-to-end: DSIR scoring of all docs, then
    Gumbel top-k sampling, with the target given as the in-corpus lang
    subset."""
    from epss_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (0, "the cat sat on the mat and the dog barked", "en"),
            (1, "le chat est sur le tapis et le chien", "fr"),
            (2, "the quick brown fox jumps over the lazy dog", "en"),
            (3, "der hund ist unter dem tisch und die katze", "de"),
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(src)

    out = str(tmp_path / "scores")
    rc = main(["select", "--input", src, "--output", out,
               "--target-lang", "en", "--n-buckets", "256"])
    assert rc == 0
    scores = {r.doc_id: r.dsir_logratio for r in spark.read.parquet(out).collect()}
    assert len(scores) == 4
    assert min(scores[0], scores[2]) > max(scores[1], scores[3])
    assert "4 docs -> 4 scored" in capsys.readouterr().out

    out2 = str(tmp_path / "sample")
    rc = main(["select", "--input", src, "--output", out2,
               "--target-lang", "en", "--n-buckets", "256", "-k", "2"])
    assert rc == 0
    assert spark.read.parquet(out2).count() == 2
    assert "4 docs -> 2 sampled" in capsys.readouterr().out

    # no target spec is a usage error, not a traceback
    assert main(["select", "--input", src, "--output", out]) == 2


def test_cli_prep_ops(spark, tmp_path, capsys):
    """The prep subcommand end-to-end: redact, chunk, and pack over the
    same tiny corpus, each writing a parquet the engine can re-read."""
    from epss_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (0, "mail me at a@b.co " + " ".join(f"w{i}" for i in range(9))),
            (1, "short doc"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "red")
    assert main(["prep", "--input", src, "--output", out, "--op", "redact"]) == 0
    red = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert red[0].n_email == 1 and "<EMAIL>" in red[0].text_redacted
    assert red[1].n_email == 0

    out = str(tmp_path / "chk")
    assert (
        main(["prep", "--input", src, "--output", out, "--op", "chunk",
              "--chunk-size", "4", "--stride", "3"]) == 0
    )
    chunks = spark.read.parquet(out).collect()
    # doc 0 normalizes to 15 tokens ("a@b.co" -> "a b co") -> starts
    # 1,4,7,10,13 -> 5 chunks; doc 1 -> 1
    assert sum(1 for r in chunks if r.doc_id == 0) == 5
    assert sum(1 for r in chunks if r.doc_id == 1) == 1

    out = str(tmp_path / "pak")
    assert (
        main(["prep", "--input", src, "--output", out, "--op", "pack",
              "--budget", "20", "--n-buckets", "1"]) == 0
    )
    packed = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert packed[0].n_tokens == 15 and packed[1].n_tokens == 2
    assert packed[0].bin == packed[1].bin == 0  # 15 + 2 <= 20 share a bin
    assert "pack: 2 docs -> 2 rows" in capsys.readouterr().out


def test_streaming_incremental_pack_matches_sequential_batches(spark, tmp_path):
    """streaming/pack_stream: two micro-batches must pack exactly like two
    sequential batch pack_sequences calls threading init_state by hand —
    bin numbering continues across batches per bucket."""
    import glob
    import os
    import shutil

    from epss_spark.operators import prep
    from epss_spark.streaming import pack_stream

    batch1 = [(i, " ".join(["t"] * (3 + 5 * i))) for i in range(6)]
    batch2 = [(i, " ".join(["t"] * (4 + 3 * i))) for i in range(6, 12)]
    budget, n_buckets = 20, 2

    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()

    def land_file(rows, name, mtime):
        staging = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(staging)
        )
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"{name}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    land_file(batch1, "batch1", 1_000_000_000)
    land_file(batch2, "batch2", 1_000_000_100)

    stream = pack_stream.stream_documents(spark, str(drop_dir), max_files_per_trigger=1)
    q = pack_stream.start_incremental_pack(
        stream,
        str(tmp_path / "state"),
        str(tmp_path / "packed"),
        str(tmp_path / "ckpt"),
        budget=budget,
        n_buckets=n_buckets,
    )
    q.awaitTermination(120)
    got = sorted(
        (r.doc_id, r.bucket, r.bin, r.n_tokens)
        for r in pack_stream.read_artifact(spark, str(tmp_path / "packed")).collect()
    )

    # reference: sequential batch calls threading the state explicitly
    df1 = spark.createDataFrame(batch1, "doc_id long, text string")
    df2 = spark.createDataFrame(batch2, "doc_id long, text string")
    p1 = prep.pack_sequences(df1, budget=budget, n_buckets=n_buckets)
    s1 = prep.pack_state(p1)
    p2 = prep.pack_sequences(df2, budget=budget, n_buckets=n_buckets, init_state=s1)
    want = sorted(
        (r.doc_id, r.bucket, r.bin, r.n_tokens)
        for r in p1.unionByName(p2).collect()
    )
    assert got == want
    # bin numbering really did continue: batch-2 rows never reuse a CLOSED
    # batch-1 bin, and at least one bucket advanced past its batch-1 bins
    max_bin_1 = {}
    for r in p1.collect():
        max_bin_1[r.bucket] = max(max_bin_1.get(r.bucket, 0), r.bin)
    p2_bins = {}
    for r in p2.collect():
        p2_bins.setdefault(r.bucket, set()).add(r.bin)
    assert any(
        max(bins) > max_bin_1.get(b, -1) for b, bins in p2_bins.items()
    )
    for b, bins in p2_bins.items():
        assert min(bins) >= max_bin_1.get(b, 0)
    # the persisted state matches the cumulative packing's open bins
    state = {
        r.bucket: (r.open_bin, r.open_fill)
        for r in pack_stream.read_pack_state(spark, str(tmp_path / "state")).collect()
    }
    fills = {}
    for doc_id, bucket, bin_, n in got:
        fills[(bucket, bin_)] = fills.get((bucket, bin_), 0) + n
    for b, (ob, of) in state.items():
        assert fills[(b, ob)] == of
        assert ob == max(bin_ for (bb, bin_) in fills if bb == b)


def test_streaming_pack_three_batches_never_overfills(spark, tmp_path):
    """Regression (round-6 review): pack_state must carry the RESUMED
    bin's prior fill into the new state. With small docs across three
    micro-batches the same bin is resumed repeatedly; if the state only
    summed each batch's own rows, batch 3 would overfill a bin past the
    budget. The invariant is checked on the cumulative packed output —
    ground truth independent of pack_state itself."""
    import glob
    import os
    import shutil

    from epss_spark.streaming import pack_stream

    budget = 20
    # every doc is 7 tokens; bucket count 1 makes the sequence exact:
    # bins must hold exactly floor(20/7)=2 docs (14 tokens) each
    batches = [[(i, " ".join(["t"] * 7))] for i in range(6)]  # 6 batches of 1 doc

    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    for k, rows in enumerate(batches):
        staging = tmp_path / f"stage_{k}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(staging)
        )
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"b{k}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + k, 1_000_000_000 + k))

    stream = pack_stream.stream_documents(spark, str(drop_dir), max_files_per_trigger=1)
    q = pack_stream.start_incremental_pack(
        stream,
        str(tmp_path / "state"),
        str(tmp_path / "packed"),
        str(tmp_path / "ckpt"),
        budget=budget,
        n_buckets=1,
    )
    q.awaitTermination(180)
    rows = pack_stream.read_artifact(spark, str(tmp_path / "packed")).collect()
    assert sorted(r.doc_id for r in rows) == list(range(6))
    fills, members = {}, {}
    for r in rows:
        fills[(r.bucket, r.bin)] = fills.get((r.bucket, r.bin), 0) + r.n_tokens
        members.setdefault((r.bucket, r.bin), 0)
        members[(r.bucket, r.bin)] += 1
    # cumulative (cross-batch!) fills respect the budget: 2 docs per bin
    assert all(f <= budget for f in fills.values()), fills
    assert sorted(members.values()) == [2, 2, 2]
    # state agrees with the cumulative picture
    st = {
        r.bucket: (r.open_bin, r.open_fill)
        for r in pack_stream.read_pack_state(spark, str(tmp_path / "state")).collect()
    }
    assert st[0] == (2, 14)


def test_cli_incremental_rejects_mismatched_scheme(spark, tmp_path, capsys):
    """dedup-index records its (num_hashes, bands) scheme in meta.json;
    `dedup --method incremental` reads it and hard-errors on an explicit
    override that disagrees (band keys across schemes never match, which
    would silently disable dedup)."""
    import json

    from epss_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog at dawn")],
        "doc_id long, text string",
    ).write.parquet(src)
    idx = str(tmp_path / "idx")
    rc = main(["dedup-index", "--input", src, "--index-dir", idx,
               "--num-hashes", "24", "--bands", "8"])
    assert rc == 0
    assert json.load(open(f"{idx}/meta.json")) == {"num_hashes": 24, "bands": 8}

    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [(1, "some new document text entirely")], "doc_id long, text string"
    ).write.parquet(batch)
    out = str(tmp_path / "out")
    rc = main(["dedup", "--method", "incremental", "--input", batch,
               "--output", out, "--index-dir", idx, "--bands", "4"])
    assert rc == 2
    assert "does not match the index scheme" in capsys.readouterr().err
    # without the override the scheme comes from meta.json and it works
    rc = main(["dedup", "--method", "incremental", "--input", batch,
               "--output", out, "--index-dir", idx])
    assert rc == 0


def test_cli_dedup_warns_on_inapplicable_flags(spark, tmp_path, capsys):
    from epss_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "some text here"), (1, "other text there")], "doc_id long, text string"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    # forgot --method incremental: the index flags must not be silently
    # swallowed by a successful-looking minhash run
    rc = main(["dedup", "--input", src, "--output", out,
               "--index-dir", str(tmp_path / "idx"), "--update-index"])
    assert rc == 0
    err = capsys.readouterr().err
    assert "--index-dir" in err and "--update-index" in err and "ignored" in err


def test_streaming_dedup_recrawl_does_not_duplicate_index_rows(spark, tmp_path):
    """A re-crawled surviving doc (id already indexed) must NOT append a
    second row set to the index — duplicate ids would make later
    verification nondeterministic. The stream keeps the original rows."""
    import glob
    import os
    import shutil

    from epss_spark.operators import dedup as dedup_ops
    from epss_spark.streaming import dedup_stream

    corpus = spark.createDataFrame(
        [(5, "the quick brown fox jumps over the lazy dog at dawn")],
        "doc_id long, text string",
    )
    idx = tmp_path / "idx"
    with dedup_ops.shingle_cache(corpus) as shmap:
        ib, ish = dedup_ops.minhash_index(corpus, shmap=shmap)
        ib.write.parquet(str(idx / "bands"))
        ish.write.parquet(str(idx / "shingles"))
    n_bands_before = spark.read.parquet(str(idx / "bands")).count()

    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    staging = tmp_path / "stage"
    spark.createDataFrame(
        [
            (5, "completely rewritten content for the re-crawled document"),
            (9, "a brand new never seen before document about planning"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(staging))
    part = glob.glob(str(staging / "part-*.parquet"))[0]
    shutil.move(part, str(drop_dir / "b1.parquet"))

    stream = dedup_stream.stream_documents(spark, str(drop_dir))
    q = dedup_stream.start_incremental_dedup(
        stream, str(idx), str(tmp_path / "accepted"), str(tmp_path / "ckpt"),
        threshold=0.3,
    )
    q.awaitTermination(120)
    sh = dedup_stream.read_artifact(spark, str(idx / "shingles"))
    # id 5 still has exactly ONE shingle row; id 9 was appended
    counts = {r.doc_id: r.cnt for r in sh.groupBy("doc_id").count().withColumnRenamed("count", "cnt").collect()}
    assert counts == {5: 1, 9: 1}
    # and only doc 9's band rows were added
    n_bands_after = dedup_stream.read_artifact(spark, str(idx / "bands")).count()
    assert n_bands_after == 2 * n_bands_before


def test_cli_dedup_lines_method(spark, tmp_path, capsys):
    from epss_spark.cli import main

    src = str(tmp_path / "docs_lines")
    spark.createDataFrame(
        [(0, "unique zero\nshared banner"), (1, "shared banner\nunique one")],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "out_lines")
    assert main(["dedup", "--method", "lines", "--input", src, "--output", out]) == 0
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert got[0].text == "unique zero\nshared banner"
    assert got[1].text == "unique one"  # banner deduped to doc 0
    assert "kept 2/2" in capsys.readouterr().out


def test_streaming_line_dedup_equals_sequential_batches(spark, tmp_path):
    """Stream == sequential-batch contract for line dedup: three
    micro-batches through start_incremental_line_dedup must accept
    exactly what chained dedup_batch_lines calls accept — later batches
    never re-admit earlier batches' lines."""
    import glob
    import os
    import shutil

    from epss_spark.operators import dedup as dedup_ops
    from epss_spark.streaming import dedup_stream

    batches = [
        [(0, "alpha\nbanner"), (1, "banner\nbeta")],
        [(10, "banner\ngamma"), (11, "beta\ndelta")],
        [(20, "delta\nalpha")],  # everything already seen -> doc drops
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    for k, rows in enumerate(batches):
        staging = tmp_path / f"stage_{k}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(staging)
        )
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"b{k}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + k, 1_000_000_000 + k))

    stream = dedup_stream.stream_documents(spark, str(drop_dir), max_files_per_trigger=1)
    q = dedup_stream.start_incremental_line_dedup(
        stream,
        str(tmp_path / "idx"),
        str(tmp_path / "accepted"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    got = {
        r.doc_id: r.text
        for r in dedup_stream.read_artifact(
            spark, str(tmp_path / "accepted")
        ).collect()
    }

    # sequential-batch reference: chain dedup_batch_lines by hand
    idx = dedup_ops.line_index(spark.createDataFrame([], "doc_id long, text string"))
    expected = {}
    for rows in batches:
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        kept, fps = dedup_ops.dedup_batch_lines(bdf, idx)
        expected.update({r.doc_id: r.text for r in kept.collect()})
        idx = idx.unionByName(fps)
    assert got == expected
    # spot-check the semantics, not just the equivalence
    assert got[0] == "alpha\nbanner" and got[1] == "beta"
    assert got[10] == "gamma" and got[11] == "delta"
    assert 20 not in got


def test_cli_dedup_semantic_incremental(spark, tmp_path, capsys):
    """dedup --method semantic-incremental: the nightly embedding-dedup
    loop through the CLI — day 1 bootstraps the index (model becomes
    the frozen scheme), day 2 is deduped against day 1's survivors; a
    --centroids that disagrees with the stored scheme is a hard error,
    and a missing model on first use is exit 2."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering as cl

    cents = [[1.0, 0.0], [0.0, 1.0]]
    model_path = str(tmp_path / "model")
    cl.write_model(spark, cents, model_path)
    schema = "vec_id long, embedding array<float>"
    day1 = str(tmp_path / "day1")
    spark.createDataFrame(
        [(0, [10.0, 1.0]), (1, [10.0, 1.05]), (2, [1.0, 10.0])], schema
    ).write.parquet(day1)
    day2 = str(tmp_path / "day2")
    spark.createDataFrame(
        [(10, [10.0, 0.95]), (11, [-5.0, 8.0])], schema
    ).write.parquet(day2)
    idx_dir = str(tmp_path / "sem_idx")

    # first use without --centroids: exit 2, names the fix
    rc = cli.main([
        "dedup", "--method", "semantic-incremental", "--input", day1,
        "--output", str(tmp_path / "o0"), "--index-dir", idx_dir,
        "--id-col", "vec_id",
    ])
    assert rc == 2 and "--centroids" in capsys.readouterr().err

    rc = cli.main([
        "dedup", "--method", "semantic-incremental", "--input", day1,
        "--output", str(tmp_path / "out1"), "--index-dir", idx_dir,
        "--centroids", model_path, "--id-col", "vec_id", "--update-index",
    ])
    assert rc == 0 and "kept 2/3" in capsys.readouterr().out
    kept1 = sorted(r.vec_id for r in spark.read.parquet(str(tmp_path / "out1")).collect())
    assert kept1 == [0, 2]  # 1 is a greedy in-batch dup of 0

    # day 2 needs no --centroids (the scheme is stored); 10 dups indexed 0
    rc = cli.main([
        "dedup", "--method", "semantic-incremental", "--input", day2,
        "--output", str(tmp_path / "out2"), "--index-dir", idx_dir,
        "--id-col", "vec_id", "--update-index",
    ])
    assert rc == 0 and "kept 1/2" in capsys.readouterr().out
    kept2 = sorted(r.vec_id for r in spark.read.parquet(str(tmp_path / "out2")).collect())
    assert kept2 == [11]

    # a disagreeing scheme is a hard error
    other_model = str(tmp_path / "model_other")
    cl.write_model(spark, [[2.0, 0.0], [0.0, 2.0]], other_model)
    rc = cli.main([
        "dedup", "--method", "semantic-incremental", "--input", day2,
        "--output", str(tmp_path / "out3"), "--index-dir", idx_dir,
        "--centroids", other_model, "--id-col", "vec_id",
    ])
    assert rc == 2 and "does not match the index scheme" in capsys.readouterr().err


def test_streaming_semantic_dedup_equals_sequential_batches(spark, tmp_path):
    """Stream == sequential-batch contract for the embedding-space
    incremental dedup: micro-batches through
    start_incremental_semantic_dedup must accept exactly what chained
    dedup_batch_semantic calls accept — later batches never re-admit a
    semantic near-duplicate of anything already indexed, replays are
    idempotent, and the self-building index bootstraps from empty."""
    import glob
    import os
    import shutil

    from epss_spark.operators import similarity
    from epss_spark.streaming import dedup_stream

    cents = [[1.0, 0.0], [0.0, 1.0]]
    schema = "vec_id long, embedding array<float>"
    batches = [
        [(0, [10.0, 1.0]), (1, [1.0, 10.0])],
        [(10, [10.0, 1.05]), (11, [-5.0, 8.0])],   # 10 dups 0; 11 novel
        [(20, [-5.0, 8.1]), (21, [-5.1, 8.0])],    # 20 dups 11; 21 dups 11
    ]
    drop_dir = tmp_path / "vdrops"
    drop_dir.mkdir()
    for k, rows in enumerate(batches):
        staging = tmp_path / f"vstage_{k}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"v{k}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + k, 1_000_000_000 + k))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir))
    )
    q = dedup_stream.start_incremental_semantic_dedup(
        stream,
        str(tmp_path / "vidx"),
        str(tmp_path / "vaccepted"),
        str(tmp_path / "vckpt"),
        cents,
        threshold=0.99,
    )
    q.awaitTermination(180)
    got = sorted(
        r.vec_id
        for r in dedup_stream.read_artifact(spark, str(tmp_path / "vaccepted")).collect()
    )

    # sequential-batch reference: chain dedup_batch_semantic by hand
    idx = similarity.semantic_index(spark.createDataFrame([], schema), cents)
    expected = []
    for rows in batches:
        bdf = spark.createDataFrame(rows, schema)
        kept, new_rows = similarity.dedup_batch_semantic(bdf, idx, cents, threshold=0.99)
        expected.extend(r.vec_id for r in kept.collect())
        idx = idx.unionByName(new_rows)
    assert got == sorted(expected)
    # spot-check the semantics, not just the equivalence
    assert got == [0, 1, 11]
    # the index holds exactly the accepted vectors' cells
    idx_rows = dedup_stream.read_artifact(
        spark, str(tmp_path / "vidx" / "semantic_cells")
    ).collect()
    assert sorted(r.vec_id for r in idx_rows) == [0, 1, 11]
    # replay idempotency: re-running epoch 1's batch overwrites, never
    # double-admits
    dedup_stream.process_semantic_batch(
        spark.createDataFrame(batches[1], schema), 1,
        str(tmp_path / "vidx" / "semantic_cells"),
        str(tmp_path / "vaccepted"), cents, threshold=0.99,
    )
    again = sorted(
        r.vec_id
        for r in dedup_stream.read_artifact(spark, str(tmp_path / "vaccepted")).collect()
    )
    assert again == got


def test_cli_analyze_and_search(spark, tmp_path, capsys):
    from epss_spark.cli import main

    src = str(tmp_path / "docs_an")
    spark.createDataFrame(
        [
            (0, "s0", "spark engine spark engine fast scan"),
            (1, "s0", "spark engine slow scan"),
            (2, "s1", "completely unrelated words here"),
        ],
        "doc_id long, source string, text string",
    ).write.parquet(src)

    assert main(["analyze", "--input", src, "--report", "vocab"]) == 0
    out = capsys.readouterr().out
    assert out.splitlines()[0].startswith("s0")  # ordered by stratum

    assert main(["analyze", "--input", src, "--report", "top-ngrams", "-k", "3"]) == 0
    out = capsys.readouterr().out
    assert len(out.splitlines()) == 3

    assert main(["search", "--input", src, "--terms", "spark, engine", "-k", "2"]) == 0
    out = capsys.readouterr().out
    lines = out.splitlines()
    assert len(lines) == 2 and lines[0].startswith("0 ")  # doc 0 has highest tf


def test_cli_prep_shard(spark, tmp_path, capsys):
    from epss_spark.cli import main

    src = str(tmp_path / "docs_shard")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id long, text string"
    ).write.parquet(src)
    out = str(tmp_path / "out_shard")
    assert main(["prep", "--input", src, "--output", out, "--op", "shard",
                 "--n-shards", "4"]) == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 20
    assert {r.shard for r in rows} <= set(range(4))
    assert all(r.pos >= 1 for r in rows)


def test_streaming_span_dedup_equals_sequential_batches(spark, tmp_path):
    """Stream == sequential-batch contract for span dedup: three
    micro-batches through start_incremental_span_dedup must accept
    exactly what chained dedup_batch_spans calls accept — later batches
    never re-admit earlier batches' spans."""
    import glob
    import os
    import shutil

    from epss_spark.operators import dedup as dedup_ops
    from epss_spark.streaming import dedup_stream

    k = 3
    batches = [
        [(0, "a b c d"), (1, "x a b c y")],      # doc 1 loses 'a b c' in-batch
        [(10, "m b c d n"), (11, "p q r s")],    # 'b c d' indexed from doc 0
        [(20, "p q r s")],                       # fully indexed -> drops
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    for i, rows in enumerate(batches):
        staging = tmp_path / f"stage_{i}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(staging)
        )
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = dedup_stream.stream_documents(spark, str(drop_dir), max_files_per_trigger=1)
    q = dedup_stream.start_incremental_span_dedup(
        stream,
        str(tmp_path / "idx"),
        str(tmp_path / "accepted"),
        str(tmp_path / "ckpt"),
        k=k,
    )
    q.awaitTermination(180)
    got = {
        r.doc_id: r.text
        for r in dedup_stream.read_artifact(
            spark, str(tmp_path / "accepted")
        ).collect()
    }

    idx = dedup_ops.span_index(
        spark.createDataFrame([], "doc_id long, text string"), k=k
    )
    expected = {}
    for rows in batches:
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        kept, fps = dedup_ops.dedup_batch_spans(bdf, idx, k=k)
        expected.update({r.doc_id: r.text for r in kept.collect()})
        idx = idx.unionByName(fps)
    assert got == expected
    assert got[0] == "a b c d" and got[1] == "x y"
    assert got[10] == "m n" and got[11] == "p q r s"
    assert 20 not in got


def test_streaming_bm25_index_equals_batch_build(spark, tmp_path):
    """Index-maintenance stream contract: after draining N micro-batches,
    the on-disk postings/doc_stats equal a one-shot bm25_index over the
    union, and bm25_lookup over them scores identically to bm25_topk."""
    import glob
    import os
    import shutil

    from epss_spark.operators import retrieval
    from epss_spark.streaming import dedup_stream

    batches = [
        [(0, "alpha beta beta gamma"), (1, "alpha delta")],
        [(10, "beta gamma gamma"), (11, "epsilon alpha")],
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    for i, rows in enumerate(batches):
        staging = tmp_path / f"stage_{i}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(staging)
        )
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = dedup_stream.stream_documents(spark, str(drop_dir), max_files_per_trigger=1)
    q = dedup_stream.start_bm25_index_maintenance(
        stream, str(tmp_path / "idx"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    allrows = [r for b in batches for r in b]
    alldf = spark.createDataFrame(allrows, "doc_id long, text string")
    bp, bs = retrieval.bm25_index(alldf)
    sp = dedup_stream.read_artifact(spark, str(tmp_path / "idx" / "postings"))
    ss = dedup_stream.read_artifact(spark, str(tmp_path / "idx" / "doc_stats"))
    assert sorted(map(tuple, sp.collect())) == sorted(map(tuple, bp.collect()))
    assert sorted(map(tuple, ss.collect())) == sorted(map(tuple, bs.collect()))
    direct = [tuple(r) for r in retrieval.bm25_topk(alldf, ["alpha", "gamma"]).collect()]
    indexed = [tuple(r) for r in retrieval.bm25_lookup(sp, ss, ["alpha", "gamma"]).collect()]
    assert direct == indexed and len(direct) > 0


def test_streaming_ann_index_equals_batch_build_and_replay(spark, tmp_path):
    """ANN index maintenance contract: after draining N micro-batches of
    new embeddings, read_artifact(index) equals a one-shot ivfpq_index
    over the union (frozen quantizer), ivfpq_topk over the maintained
    index equals the inline path, and a crash-retry replay of an epoch
    changes nothing."""
    import glob
    import os
    import shutil

    import numpy as np
    from pyspark.sql import functions as F

    from epss_spark.operators import similarity
    from epss_spark.streaming import dedup_stream

    rng = np.random.default_rng(13)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(30)]
    batches = [vecs[:15], vecs[15:]]
    alldf = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    by_id = {vid: [float(np.float32(x)) for x in v] for vid, v in vecs}
    coarse = [by_id[0], by_id[7], by_id[19]]
    books = similarity.sampled_pq_centroids(alldf, [2, 11, 23], m=2)

    drop_dir = tmp_path / "vdrops"
    drop_dir.mkdir()
    for i, rows in enumerate(batches):
        staging = tmp_path / f"vstage_{i}"
        spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
            1
        ).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"v{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = dedup_stream.stream_documents(
        spark, str(drop_dir), schema="vec_id long, embedding array<float>",
        max_files_per_trigger=1,
    )
    q = dedup_stream.start_ann_index_maintenance(
        stream, str(tmp_path / "annidx"), str(tmp_path / "annckpt"), coarse, books
    )
    q.awaitTermination(180)

    ipath = str(tmp_path / "annidx" / "ivfpq")
    maintained = dedup_stream.read_artifact(spark, ipath)
    batch_idx = similarity.ivfpq_index(alldf, coarse, books)
    assert sorted((r.vec_id, r.list_id, tuple(r.codes)) for r in maintained.collect()) == \
        sorted((r.vec_id, r.list_id, tuple(r.codes)) for r in batch_idx.collect())

    queries = alldf.filter(F.col("vec_id") < 3)
    inline = sorted(map(tuple, similarity.ivfpq_topk(
        queries, alldf, coarse, books, k=3, n_probe=2).collect()))
    via_artifact = sorted(map(tuple, similarity.ivfpq_topk(
        queries, alldf, coarse, books, k=3, n_probe=2, index=maintained).collect()))
    assert inline == via_artifact and len(inline) > 0

    # crash-retry: replay epoch 1 in full — index and search unchanged
    b2 = spark.createDataFrame(batches[1], "vec_id long, embedding array<float>")
    dedup_stream.process_ann_batch(b2, 1, ipath, coarse, books)
    replayed = dedup_stream.read_artifact(spark, ipath)
    assert sorted((r.vec_id, r.list_id, tuple(r.codes)) for r in replayed.collect()) == \
        sorted((r.vec_id, r.list_id, tuple(r.codes)) for r in batch_idx.collect())


def test_compact_artifact_flattens_epochs_preserving_content(spark, tmp_path):
    """Compaction rewrites flat base + epoch dirs into one flat layout:
    read_artifact sees identical rows before/after, a PLAIN
    spark.read.parquet now also works (no recursive lookup needed),
    epoch dirs are gone, and partition_by restores a pruned layout.
    Post-compaction epoch appends keep working (mixed layout)."""
    import os

    from epss_spark.streaming import dedup_stream

    pp = str(tmp_path / "idx" / "postings")
    b1 = spark.createDataFrame([(0, "alpha beta beta"), (1, "alpha")],
                               "doc_id long, text string")
    b2 = spark.createDataFrame([(10, "beta gamma")], "doc_id long, text string")
    ds = str(tmp_path / "idx" / "doc_stats")
    dedup_stream.process_bm25_batch(b1, 0, pp, ds)
    dedup_stream.process_bm25_batch(b2, 1, pp, ds)

    before = sorted(map(tuple, dedup_stream.read_artifact(spark, pp).collect()))

    # flat compaction: the maintenance-compatible form
    n = dedup_stream.compact_artifact(spark, pp, num_files=1)
    assert n == len(before)
    assert sorted(map(tuple, dedup_stream.read_artifact(spark, pp).collect())) == before
    assert not any(d.startswith("epoch-") for d in os.listdir(pp))
    assert spark.read.parquet(pp).count() == n  # plain read works on flat
    # the stream keeps appending epochs after flat compaction
    b3 = spark.createDataFrame([(20, "delta alpha")], "doc_id long, text string")
    dedup_stream.process_bm25_batch(b3, 2, pp, ds)
    assert dedup_stream.read_artifact(spark, pp).count() == n + 2

    # partitioned compaction: the end-of-stream serving layout —
    # partition column survives, pruning layout on disk, read_artifact
    # is partition-aware once no epoch dirs remain
    n2 = dedup_stream.compact_artifact(spark, pp, partition_by="term")
    assert n2 == n + 2
    assert "term=alpha" in set(os.listdir(pp))
    served = dedup_stream.read_artifact(spark, pp)
    assert sorted(served.columns) == ["doc_id", "term", "tf"]
    assert sorted(
        (r.term, r.doc_id, r.tf) for r in served.collect()
    ) == sorted(before + [("alpha", 20, 1), ("delta", 20, 1)])


# ---------------------------------------------------------------------------
# foreachBatch replay idempotency (at-least-once crash-retry semantics)
# ---------------------------------------------------------------------------


def test_bm25_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: if the epoch's writes land but the
    checkpoint commit fails, the SAME (batch, epoch_id) replays. BM25 is
    the consumer where plain appends are fatal — bm25_lookup COUNTS rows
    for N/avgdl/df/tf, so a double-append silently corrupts every future
    score. Replaying process_bm25_batch must leave postings, doc_stats,
    and lookup scores bit-identical."""
    from epss_spark.operators import retrieval
    from epss_spark.streaming import dedup_stream

    b1 = spark.createDataFrame(
        [(0, "alpha beta beta gamma"), (1, "alpha delta")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame([(10, "beta gamma gamma")], "doc_id long, text string")
    pp = str(tmp_path / "idx" / "postings")
    ds = str(tmp_path / "idx" / "doc_stats")
    dedup_stream.process_bm25_batch(b1, 0, pp, ds)
    dedup_stream.process_bm25_batch(b2, 1, pp, ds)

    def snapshot():
        sp = dedup_stream.read_artifact(spark, pp)
        ss = dedup_stream.read_artifact(spark, ds)
        scores = [
            tuple(r)
            for r in retrieval.bm25_lookup(sp, ss, ["alpha", "gamma"]).collect()
        ]
        return (
            sorted(map(tuple, sp.collect())),
            sorted(map(tuple, ss.collect())),
            scores,
        )

    before = snapshot()
    # crash-retry: epoch 1 replays in full
    dedup_stream.process_bm25_batch(b2, 1, pp, ds)
    assert snapshot() == before
    # and the replayed index still equals a one-shot batch build
    alldf = b1.unionByName(b2)
    direct = [tuple(r) for r in retrieval.bm25_topk(alldf, ["alpha", "gamma"]).collect()]
    assert before[2] == direct and len(direct) > 0


def test_span_batch_replay_is_idempotent(spark, tmp_path):
    """The span stream's replay failure mode under plain appends is worse
    than double rows: the retried batch would see its OWN first-attempt
    gram fps as 'indexed' and strip strictly MORE text, leaving two
    divergent copies of the doc. The epoch-scoped read (epochs < N only)
    must make the replay reproduce the first attempt exactly."""
    from epss_spark.streaming import dedup_stream

    fps = str(tmp_path / "gram_fps")
    acc = str(tmp_path / "accepted")
    b1 = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    b2 = spark.createDataFrame([(10, "m b c d n")], "doc_id long, text string")
    dedup_stream.process_span_batch(b1, 0, fps, acc, k=3)
    dedup_stream.process_span_batch(b2, 1, fps, acc, k=3)
    first = {
        r.doc_id: r.text
        for r in dedup_stream.read_artifact(spark, acc).collect()
    }
    assert first == {0: "a b c d", 10: "m n"}
    n_fps = dedup_stream.read_artifact(spark, fps).count()

    dedup_stream.process_span_batch(b2, 1, fps, acc, k=3)  # crash-retry
    again = {
        r.doc_id: r.text
        for r in dedup_stream.read_artifact(spark, acc).collect()
    }
    assert again == first  # notably 10 stays "m n", not stripped further
    assert dedup_stream.read_artifact(spark, fps).count() == n_fps


def test_line_batch_replay_is_idempotent(spark, tmp_path):
    from epss_spark.streaming import dedup_stream

    fps = str(tmp_path / "line_fps")
    acc = str(tmp_path / "accepted")
    b1 = spark.createDataFrame([(0, "alpha\nbanner")], "doc_id long, text string")
    b2 = spark.createDataFrame([(10, "banner\ngamma")], "doc_id long, text string")
    dedup_stream.process_line_batch(b1, 0, fps, acc)
    dedup_stream.process_line_batch(b2, 1, fps, acc)
    first = {
        r.doc_id: r.text
        for r in dedup_stream.read_artifact(spark, acc).collect()
    }
    assert first == {0: "alpha\nbanner", 10: "gamma"}
    n_fps = dedup_stream.read_artifact(spark, fps).count()

    dedup_stream.process_line_batch(b2, 1, fps, acc)  # crash-retry
    again = {
        r.doc_id: r.text
        for r in dedup_stream.read_artifact(spark, acc).collect()
    }
    assert again == first
    assert dedup_stream.read_artifact(spark, fps).count() == n_fps


def test_minhash_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying a minhash epoch must not re-admit the batch against its
    own survivors, nor append a second row set to the index: the accepted
    set and the per-id index row counts stay identical."""
    from epss_spark.operators import dedup as dedup_ops
    from epss_spark.streaming import dedup_stream

    corpus = spark.createDataFrame(
        [(5, "the quick brown fox jumps over the lazy dog at dawn")],
        "doc_id long, text string",
    )
    idx = tmp_path / "idx"
    with dedup_ops.shingle_cache(corpus) as shmap:
        ib, ish = dedup_ops.minhash_index(corpus, shmap=shmap)
        ib.write.parquet(str(idx / "bands"))
        ish.write.parquet(str(idx / "shingles"))

    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog at dusk"),
            (9, "a brand new never seen before document about planning"),
        ],
        "doc_id long, text string",
    )
    bands_p, sh_p = str(idx / "bands"), str(idx / "shingles")
    acc = str(tmp_path / "accepted")
    kwargs = dict(threshold=0.3)
    dedup_stream.process_minhash_batch(batch, 0, bands_p, sh_p, acc, **kwargs)

    def snapshot():
        accepted = sorted(
            r.doc_id for r in dedup_stream.read_artifact(spark, acc).collect()
        )
        sh = dedup_stream.read_artifact(spark, sh_p)
        per_id = sorted(
            map(tuple, sh.groupBy("doc_id").count().collect())
        )
        nb = dedup_stream.read_artifact(spark, bands_p).count()
        return accepted, per_id, nb

    before = snapshot()
    assert before[0] == [9]  # 1 lost to indexed near-dup 5
    dedup_stream.process_minhash_batch(batch, 0, bands_p, sh_p, acc, **kwargs)
    assert snapshot() == before


def test_streaming_keep_latest_equals_batch_replay_and_compaction(spark, tmp_path):
    """Keep-latest store contract: after draining N micro-batches of
    re-fetched snapshots, latest_snapshot == one-shot keep_latest over
    the union; an epoch replay changes nothing (max-merge idempotency);
    compacting through keep_latest preserves the serving view while
    dropping superseded rows."""
    import glob
    import os
    import shutil

    from epss_spark.operators import dedup
    from epss_spark.streaming import dedup_stream

    batches = [
        [("u1", 1, 100, "v1"), ("u2", 1, 101, "v1")],
        [("u1", 3, 102, "v3"), ("u3", 1, 103, "v1")],
        [("u1", 2, 104, "late-arrival"), ("u2", 2, 105, "v2")],
    ]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    for i, rows in enumerate(batches):
        staging = tmp_path / f"stage_{i}"
        spark.createDataFrame(
            rows, "url string, fetch_seq long, doc_id long, body string"
        ).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema("url string, fetch_seq long, doc_id long, body string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir))
    )
    q = dedup_stream.start_keep_latest_maintenance(
        stream, store, str(tmp_path / "ckpt"), "url", "fetch_seq", "doc_id"
    )
    q.awaitTermination(180)

    allrows = [r for b in batches for r in b]
    alldf = spark.createDataFrame(
        allrows, "url string, fetch_seq long, doc_id long, body string"
    )
    want = sorted(
        map(tuple, dedup.keep_latest(alldf, "url", "fetch_seq", "doc_id").collect())
    )
    got = sorted(
        map(
            tuple,
            dedup_stream.latest_snapshot(
                spark, store, "url", "fetch_seq", "doc_id"
            ).collect(),
        )
    )
    assert got == want
    # u1 must be its seq-3 fetch, not the late-arriving seq-2 one
    assert [t for t in got if t[0] == "u1"][0][1] == 3

    # crash-retry replay of the last epoch: serving view unchanged
    last_batch = spark.createDataFrame(
        batches[-1], "url string, fetch_seq long, doc_id long, body string"
    )
    dedup_stream.process_keep_latest_batch(
        last_batch, 2, store, "url", "fetch_seq", "doc_id"
    )
    got2 = sorted(
        map(
            tuple,
            dedup_stream.latest_snapshot(
                spark, store, "url", "fetch_seq", "doc_id"
            ).collect(),
        )
    )
    assert got2 == want

    # semantic compaction folds superseded versions away, view preserved
    n = dedup_stream.compact_artifact(
        spark,
        store,
        transform=lambda df: dedup.keep_latest(df, "url", "fetch_seq", "doc_id"),
    )
    assert n == len(want)  # exactly one surviving row per key
    got3 = sorted(
        map(
            tuple,
            dedup_stream.latest_snapshot(
                spark, store, "url", "fetch_seq", "doc_id"
            ).collect(),
        )
    )
    assert got3 == want


def _epoch_dirs(path):
    import glob
    import os

    return sorted(glob.glob(os.path.join(str(path), "epoch-*")))


def test_autocompact_bounds_epochs_and_preserves_snapshot(spark, tmp_path):
    """Auto-compaction contract (keep-latest store, the state-fold case):
    over 3N+ micro-batches with compact_every=N, (a) the epoch-dir count
    stays bounded by ~2N instead of growing linearly, (b) the serving
    snapshot is identical to an uncompacted run, and (c) replaying a
    compaction epoch — and a plain epoch after one — changes nothing."""
    from epss_spark.streaming import dedup_stream

    plain = str(tmp_path / "plain")
    auto = str(tmp_path / "auto")
    batches = []
    for e in range(10):
        batches.append(spark.createDataFrame(
            [(f"u{u}", e, e * 100 + u, f"v{e}_{u}") for u in range(e % 4 + 1)],
            "url string, fetch_seq long, doc_id long, text string",
        ))
    for e, b in enumerate(batches):
        dedup_stream.process_keep_latest_batch(
            b, e, plain, "url", "fetch_seq", "doc_id", compact_every=None
        )
        dedup_stream.process_keep_latest_batch(
            b, e, auto, "url", "fetch_seq", "doc_id", compact_every=3
        )
    want = sorted(map(tuple, dedup_stream.latest_snapshot(
        spark, plain, "url", "fetch_seq", "doc_id").collect()))
    got = sorted(map(tuple, dedup_stream.latest_snapshot(
        spark, auto, "url", "fetch_seq", "doc_id").collect()))
    assert got == want
    # (a) bounded: epochs below the newest marker (epoch 9) are GC'd at
    # the NEXT compaction; after epoch 9's compaction, dirs 0..5 from
    # before marker 6 are gone — far fewer than the 10 the plain run keeps
    assert len(_epoch_dirs(plain)) == 10
    assert len(_epoch_dirs(auto)) <= 2 * 3 + 1
    # (c) replay the last compaction epoch (9), then a plain epoch replay
    dedup_stream.process_keep_latest_batch(
        batches[9], 9, auto, "url", "fetch_seq", "doc_id", compact_every=3
    )
    got = sorted(map(tuple, dedup_stream.latest_snapshot(
        spark, auto, "url", "fetch_seq", "doc_id").collect()))
    assert got == want
    # the re-run compaction epoch must carry the marker again
    exists, _, epochs = dedup_stream._list_artifact(spark, auto)
    assert (9, True) in [(e, c) for e, _, c in epochs]


def test_autocompact_fact_store_keeps_bm25_counts_exact(spark, tmp_path):
    """Auto-compaction on an append-only fact store whose consumer COUNTS
    rows (BM25): compacted and uncompacted runs must score identically —
    any double-read of a subsumed epoch or flat base would corrupt
    df/tf/N. Starts from a FLAT batch-built index to pin flat-base
    subsumption, and replays both a compaction epoch and the epoch after
    it."""
    from epss_spark.operators import retrieval
    from epss_spark.streaming import dedup_stream

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, f"alpha beta doc{i} " + "gamma " * (i % 3)) for i in range(lo, hi)],
            "doc_id long, text string",
        )

    stores = {}
    for name, every in [("plain", None), ("auto", 2)]:
        pp = str(tmp_path / name / "postings")
        ds = str(tmp_path / name / "stats")
        # flat batch-built seed index
        p0, s0 = retrieval.bm25_index(mk(0, 4))
        p0.write.parquet(pp)
        s0.write.parquet(ds)
        for e in range(7):
            dedup_stream.process_bm25_batch(
                mk(10 * (e + 1), 10 * (e + 1) + 3), e, pp, ds,
                compact_every=every,
            )
        stores[name] = (pp, ds)

    def scores(pp, ds):
        sp = dedup_stream.read_artifact(spark, pp)
        ss = dedup_stream.read_artifact(spark, ds)
        return sorted(
            map(tuple, retrieval.bm25_lookup(sp, ss, ["alpha", "gamma"]).collect())
        )

    want = scores(*stores["plain"])
    assert scores(*stores["auto"]) == want
    pp, ds = stores["auto"]
    assert len(_epoch_dirs(pp)) <= 2 * 2 + 1
    # flat base is GC'd once a marker exists (subsumed by the fold)
    import glob
    import os

    assert glob.glob(os.path.join(pp, "part-*.parquet")) == []
    # replay the last compaction epoch (6) then the prior plain epoch (5)
    dedup_stream.process_bm25_batch(mk(70, 73), 6, pp, ds, compact_every=2)
    assert scores(pp, ds) == want
    dedup_stream.process_bm25_batch(mk(60, 63), 5, pp, ds, compact_every=2)
    assert scores(pp, ds) == want


def test_history_stream_equals_batch_and_replay(spark, tmp_path):
    """SCD-2 stream contract: after version-partitioned batches,
    history_snapshot == the one-shot batch snapshot_history over the
    union (runs closed across batch boundaries, re-opened fps, keys
    absent from later batches, null fps); replaying the last epoch
    changes nothing; late rows are dropped and counted."""
    from epss_spark.operators import dedup
    from epss_spark.streaming import history_stream

    schema = "url string, version long, snap_id long, fp string"
    batches = [
        # b0: a opens A; b opens (null)
        [("a", 1, 1, "A"), ("a", 2, 2, "A"), ("b", 1, 3, None)],
        # b1: a changes to B (closes A-run); b still null (same run)
        [("a", 3, 4, "B"), ("b", 2, 5, None)],
        # b2: a returns to A (new run, not merged with the old A-run);
        #     c appears; b absent entirely
        [("a", 4, 6, "A"), ("c", 1, 7, "X")],
    ]
    hdir = str(tmp_path / "hist")
    for e, rows in enumerate(batches):
        history_stream.process_history_batch(
            spark.createDataFrame(rows, schema), e, hdir,
            "url", "version", "fp", tiebreak_col="snap_id",
        )
    alldf = spark.createDataFrame([r for b in batches for r in b], schema)
    want = sorted(map(tuple, dedup.snapshot_history(
        alldf, "url", "version", "fp", "snap_id").collect()))
    got = sorted(map(tuple, history_stream.history_snapshot(
        spark, hdir, "url").select("url", "fp", "valid_from", "valid_to", "n_versions").collect()))
    assert got == want
    # replay of the last epoch is idempotent
    history_stream.process_history_batch(
        spark.createDataFrame(batches[-1], schema), 2, hdir,
        "url", "version", "fp", tiebreak_col="snap_id",
    )
    got = sorted(map(tuple, history_stream.history_snapshot(
        spark, hdir, "url").select("url", "fp", "valid_from", "valid_to", "n_versions").collect()))
    assert got == want
    # a late batch (version <= committed last) is dropped AND counted
    history_stream.process_history_batch(
        spark.createDataFrame([("a", 2, 99, "Z")], schema), 3, hdir,
        "url", "version", "fp", tiebreak_col="snap_id",
    )
    got = sorted(map(tuple, history_stream.history_snapshot(
        spark, hdir, "url").select("url", "fp", "valid_from", "valid_to", "n_versions").collect()))
    assert got == want  # history unchanged
    lates = {r.epoch: (r.n_late_events, r.n_late_keys)
             for r in history_stream.late_counts(spark, hdir).collect()}
    assert lates[3] == (1, 1) and lates[0] == (0, 0)


def test_history_stream_via_streaming_query(spark, tmp_path):
    """End-to-end through Structured Streaming (file drops +
    start_history_maintenance) with a small compact_every: result
    equals batch, and the open-store epoch dirs stay bounded."""
    import glob
    import os
    import shutil

    from epss_spark.operators import dedup
    from epss_spark.streaming import history_stream

    schema = "url string, version long, snap_id long, fp string"
    rows = [("u%d" % (i % 5), i // 5 + 1, i, "f%d" % (i % 3)) for i in range(40)]
    # version blocks -> batches arrive version-partitioned per key
    rows.sort(key=lambda r: r[1])
    batches = [rows[:10], rows[10:20], rows[20:30], rows[30:]]
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    for i, b in enumerate(batches):
        staging = tmp_path / f"stage_{i}"
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"b{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))
    hdir = str(tmp_path / "hist")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir))
    )
    q = history_stream.start_history_maintenance(
        stream, hdir, str(tmp_path / "ckpt"), "url", "version", "fp",
        tiebreak_col="snap_id", compact_every=2,
    )
    q.awaitTermination(180)
    alldf = spark.createDataFrame(rows, schema)
    want = sorted(map(tuple, dedup.snapshot_history(
        alldf, "url", "version", "fp", "snap_id").collect()))
    got = sorted(map(tuple, history_stream.history_snapshot(
        spark, hdir, "url").select("url", "fp", "valid_from", "valid_to", "n_versions").collect()))
    assert got == want
    assert len(_epoch_dirs(os.path.join(hdir, "open"))) <= 2 * 2 + 1


def test_streaming_pack_replay_is_idempotent(spark, tmp_path):
    """Crash-retry contract (review regression): replaying an epoch must
    REPLACE its packed rows and state, not append duplicates into fresh
    bins — the at-least-once corruption the epoch-scoped writes exist to
    prevent."""
    from epss_spark.streaming import pack_stream

    state = str(tmp_path / "state")
    packed = str(tmp_path / "packed")
    b0 = spark.createDataFrame(
        [(i, " ".join(["t"] * 7)) for i in range(2)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(i, " ".join(["t"] * 7)) for i in range(2, 4)], "doc_id long, text string"
    )
    pack_stream.process_pack_batch(b0, 0, state, packed, budget=20, n_buckets=1)
    pack_stream.process_pack_batch(b1, 1, state, packed, budget=20, n_buckets=1)
    want = sorted(
        map(tuple, pack_stream.read_artifact(spark, packed).collect())
    )
    st_want = sorted(
        map(tuple, pack_stream.read_pack_state(spark, state).collect())
    )
    # replay the LAST epoch (checkpoint commit lost) — output unchanged
    pack_stream.process_pack_batch(b1, 1, state, packed, budget=20, n_buckets=1)
    got = sorted(map(tuple, pack_stream.read_artifact(spark, packed).collect()))
    st_got = sorted(map(tuple, pack_stream.read_pack_state(spark, state).collect()))
    assert got == want
    assert st_got == st_want
    # every doc appears exactly once
    assert sorted(r[0] for r in got) == [0, 1, 2, 3]


def test_sort_file_dir_swap_failure_leaves_original_intact(spark, tmp_path, monkeypatch):
    """Review regression: if landing the sorted replacement fails mid-swap,
    the original dataset directory must be restored, not destroyed with
    the temp dir."""
    import shutil as _shutil

    from epss_spark.sources import sinks

    path = str(tmp_path / "data.parquet")
    spark.createDataFrame([(2, "b"), (1, "a")], "k long, v string").write.parquet(path)
    orig = sorted(map(tuple, spark.read.parquet(path).collect()))

    real_move = _shutil.move

    def exploding_move(src, dst, *a, **kw):
        if dst == path:
            raise OSError("simulated failure landing the replacement")
        return real_move(src, dst, *a, **kw)

    monkeypatch.setattr(_shutil, "move", exploding_move)
    with pytest.raises(OSError, match="simulated"):
        sinks.sort_file(spark, path, by=["k"])
    monkeypatch.undo()
    # the original is back, bit-for-bit
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == orig
    # and the normal path still works afterwards
    sinks.sort_file(spark, path, by=["k"])
    assert [r.k for r in spark.read.parquet(path).collect()] == [1, 2]


def test_run_to_memory_append_mode_for_non_aggregating_streams(spark, tmp_path):
    """Review regression: run_to_memory must work for non-aggregating
    streams via append mode (complete mode is rejected by Spark there)."""
    import datetime as dt

    from epss_spark.streaming import scores_stream

    src = tmp_path / "ev"
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0), (1, dt.datetime(2024, 1, 1), 1.0),
         (2, dt.datetime(2024, 1, 1), 2.0)],
        "event_id long, ts timestamp, value double",
    ).write.parquet(str(src))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .parquet(str(src))
    )
    dd = scores_stream.dedup_stream(stream, ["event_id"])
    scores_stream.run_to_memory(dd, "dedup_append_test", output_mode="append")
    rows = spark.sql("SELECT * FROM dedup_append_test").collect()
    assert sorted(r.event_id for r in rows) == [1, 2]


def test_daily_change_counts_restores_session_confs(spark, tmp_path):
    """Review regression: building the streaming query must not leave the
    legacy nanos configs flipped for unrelated batch reads in the session."""
    import datetime as dt

    from epss_spark.streaming import scores_stream

    src = tmp_path / "ev"
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 10, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(src))
    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    scores_stream.daily_change_counts(spark, str(src))
    after = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    assert after == before


def test_daily_change_counts_nanos_file_end_to_end(spark, tmp_path):
    """A real TIMESTAMP(NANOS) parquet must stream correctly through
    daily_change_counts with the probe confs RESTORED afterwards — the
    explicit readStream schema (ts long + truncation) carries the scan
    without the session-wide legacy flag."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from epss_spark.streaming import scores_stream

    src = tmp_path / "ev_nanos"
    os.makedirs(src)
    t = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(
            [1704067200_000_000_000, 1704067260_000_000_000], pa.timestamp("ns")
        ),
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["{}", "{}"]),
    })
    pq.write_table(t, str(src / "p.parquet"), version="2.6", store_schema=False)
    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    df = scores_stream.daily_change_counts(spark, str(src))
    # the probe conf is restored to whatever it was — not force-unset
    # (another component may legitimately hold it for the session)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) == before
    scores_stream.run_to_memory(df, "nanos_counts_test")
    rows = spark.sql("SELECT * FROM nanos_counts_test").collect()
    assert sorted((str(r.date), r.event_type, r.n) for r in rows) == [
        ("2024-01-01", "click", 1), ("2024-01-01", "view", 1),
    ]


def test_history_stream_null_version_dropped_and_counted(spark, tmp_path):
    """A NULL version is unorderable against the committed last_version:
    it must be DROPPED AND COUNTED as late — never silently vanish.
    Two-sided filters (version > last / version <= last) both evaluate
    to NULL and let the row fall through uncounted; the exact-complement
    predicate closes that hole (round-9 review regression)."""
    from epss_spark.streaming import history_stream

    schema = "url string, version long, snap_id long, fp string"
    hdir = str(tmp_path / "hist")
    history_stream.process_history_batch(
        spark.createDataFrame([("a", 1, 1, "A")], schema), 0, hdir,
        "url", "version", "fp", tiebreak_col="snap_id",
    )
    want = sorted(map(tuple, history_stream.history_snapshot(
        spark, hdir, "url").collect()))
    # NULL-version snapshots for a committed key AND for a brand-new key
    history_stream.process_history_batch(
        spark.createDataFrame([("a", None, 2, "B"), ("z", None, 3, "Z")], schema),
        1, hdir, "url", "version", "fp", tiebreak_col="snap_id",
    )
    got = sorted(map(tuple, history_stream.history_snapshot(
        spark, hdir, "url").collect()))
    assert got == want  # history unchanged — no row vanished INTO it either
    lates = {r.epoch: (r.n_late_events, r.n_late_keys)
             for r in history_stream.late_counts(spark, hdir).collect()}
    assert lates[1] == (2, 2)


def test_autocompact_crashed_fold_is_invisible_to_readers(spark, tmp_path):
    """Crash-window regression (round-9 review): a first-ever compaction
    dying after staging its full-state fold but before the swap must
    leave every read unchanged. The fold is staged OUTSIDE the store —
    with no marker anywhere, read_artifact falls back to a recursive
    listing of the store dir, and a fold staged inside it would double
    every row (BM25 df/tf/N corruption until the replay)."""
    from epss_spark.streaming import dedup_stream

    store = str(tmp_path / "store")
    for e in range(3):
        dedup_stream._write_epoch(
            spark.createDataFrame([(e, f"d{e}")], "doc_id long, text string"),
            store, e,
        )
    want = sorted(map(tuple, dedup_stream.read_artifact(spark, store).collect()))
    assert len(want) == 3
    # simulate the crash: the staged fold exists at the exact tmp path
    # autocompact_epoch uses (marker inside, as staged pre-swap), but
    # the swap never ran
    full = dedup_stream.read_artifact(spark, store)
    tmp = store.rstrip("/") + ".autocompact-2.tmp"
    full.write.mode("overwrite").parquet(tmp)
    (tmp_path / "store.autocompact-2.tmp" / "_COMPACTED").touch()
    got = sorted(map(tuple, dedup_stream.read_artifact(spark, store).collect()))
    assert got == want  # staged fold invisible to the serving read
    got2 = sorted(map(tuple, dedup_stream._read_committed(
        spark, store, 3, empty_schema="doc_id long, text string").collect()))
    assert got2 == want  # and to the per-batch state read


def test_history_store_autocompact_bounds_and_equality(spark, tmp_path):
    """Auto-compaction on the SCD-2 history stores: over 3N+ batches with
    compact_every=N, (a) the open-store epoch-dir count stays bounded,
    (b) history_snapshot is identical to an uncompacted run, and (c) a
    successful compaction leaves no stray swap siblings (`.tmp`/`.old`)
    next to either store."""
    import os

    from epss_spark.streaming import history_stream

    schema = "url string, version long, snap_id long, fp string"
    plain = str(tmp_path / "plain")
    auto = str(tmp_path / "auto")
    for e in range(10):
        rows = [(f"u{u}", e + 1, e * 10 + u, f"fp{(e // 3) % 2}_{u}")
                for u in range(e % 3 + 1)]
        for hdir, every in ((plain, None), (auto, 3)):
            history_stream.process_history_batch(
                spark.createDataFrame(rows, schema), e, hdir,
                "url", "version", "fp", tiebreak_col="snap_id",
                compact_every=every,
            )
    want = sorted(map(tuple, history_stream.history_snapshot(
        spark, plain, "url").collect()))
    got = sorted(map(tuple, history_stream.history_snapshot(
        spark, auto, "url").collect()))
    assert got == want and len(want) > 0
    n_epochs = len([d for d in os.listdir(auto + "/open")
                    if d.startswith("epoch-")])
    assert n_epochs <= 2 * 3 + 1
    strays = [n for base in (str(tmp_path), auto, plain)
              for n in os.listdir(base)
              if ".autocompact-" in n or ".compact-" in n]
    assert strays == []
    # late accounting survives compaction of the .late artifact too
    lates = {r.epoch for r in history_stream.late_counts(spark, auto).collect()}
    assert lates == set(range(10))


def test_replay_of_first_epoch_bootstraps_instead_of_wedging(spark, tmp_path):
    """ADVICE round-9 (medium): epoch 0 is written, the process dies
    BEFORE the streaming checkpoint commits, and the restart replays
    epoch 0 — _read_committed then sees a store holding only the
    replay's own in-flight dir. That must bootstrap (it is about to be
    overwritten with identical rows), not raise forever."""
    from epss_spark.streaming import history_stream

    schema = "url string, version long, snap_id long, fp string"
    hdir = str(tmp_path / "hist")
    b0 = spark.createDataFrame(
        [("a", 1, 1, "A"), ("a", 2, 2, "B"), ("b", 1, 3, "X")], schema
    )

    def snap():
        return sorted(map(tuple, history_stream.history_snapshot(
            spark, hdir, "url").collect()))

    history_stream.process_history_batch(
        b0, 0, hdir, "url", "version", "fp", tiebreak_col="snap_id"
    )
    snap1 = snap()
    # crash-replay of the very first epoch: previously raised RuntimeError
    # on every retry, permanently wedging the stream
    history_stream.process_history_batch(
        b0, 0, hdir, "url", "version", "fp", tiebreak_col="snap_id"
    )
    assert snap() == snap1
    # and the stream continues normally afterwards
    b1 = spark.createDataFrame([("b", 2, 4, "Y")], schema)
    history_stream.process_history_batch(
        b1, 1, hdir, "url", "version", "fp", tiebreak_col="snap_id"
    )
    got = {(r.url, r.fp): r.valid_to for r in history_stream.history_snapshot(
        spark, hdir, "url").collect()}
    assert got == {("a", "A"): 2, ("a", "B"): None, ("b", "X"): 2, ("b", "Y"): None}


def test_read_committed_genuinely_future_epochs_still_raise(spark, tmp_path):
    """The two-streams / checkpoint-reset anomaly keeps its named error:
    epochs STRICTLY greater than the one being processed cannot exist
    under one maintenance stream per directory."""
    import pytest as _pytest

    from epss_spark.streaming import dedup_stream

    path = str(tmp_path / "store")
    df = spark.createDataFrame([(1, 7)], "k long, __epoch long")
    dedup_stream._write_epoch(df, path, 5)
    with _pytest.raises(RuntimeError, match="epochs > 3"):
        dedup_stream._read_committed(spark, path, 3, empty_schema="k long, __epoch long")
    # the replayed-own-epoch case (epoch == before_epoch) bootstraps
    got = dedup_stream._read_committed(spark, path, 5, empty_schema="k long, __epoch long")
    assert got.count() == 0


def test_read_committed_own_epoch_without_schema_names_missing_base(spark, tmp_path):
    """empty_schema=None is the pre-built-index contract: a store holding
    only the replay's own epoch and no flat base raises a NAMED error
    (the base index was deleted), not an opaque schema-inference one."""
    import pytest as _pytest

    from epss_spark.streaming import dedup_stream

    path = str(tmp_path / "store")
    df = spark.createDataFrame([(1, 0)], "k long, __epoch long")
    dedup_stream._write_epoch(df, path, 0)
    with _pytest.raises(RuntimeError, match="pre-built index"):
        dedup_stream._read_committed(spark, path, 0)


def test_epoch_store_glob_metachar_path(spark, tmp_path):
    """Regression (round-11 ADVICE): a state path containing Hadoop glob
    metacharacters ([ ] * ? { }) must behave identically to a clean
    path — globStatus marker discovery silently matched nothing on such
    paths, so every compacted epoch read as a plain epoch and
    _read_committed double-counted the folded state against the
    not-yet-GC'd dirs it subsumes. _list_artifact now falls back to
    per-epoch marker probes and every spark.read site escapes the glob
    chars. Runs the history stream with in-stream compaction under a
    metachar dir and pins snapshot == batch + marker discovery."""
    from epss_spark.operators import dedup
    from epss_spark.streaming import dedup_stream, history_stream

    schema = "url string, version long, snap_id long, fp string"
    batches = [
        [(f"u{u}", e + 1, e * 10 + u, f"fp{(e // 2) % 2}_{u}") for u in range(3)]
        for e in range(6)
    ]
    hdir = str(tmp_path / "st[1]ate" / "hist{x}" / "s*t?")
    for e, rows in enumerate(batches):
        history_stream.process_history_batch(
            spark.createDataFrame(rows, schema), e, hdir,
            "url", "version", "fp", tiebreak_col="snap_id", compact_every=2,
        )
    # marker discovery: at least one committed epoch must read as
    # compacted (the glob path matched nothing here before the fix)
    _, _, epochs = dedup_stream._list_artifact(spark, hdir + "/runs")
    assert any(c for _, _, c in epochs), (
        "no _COMPACTED marker discovered under a glob-metachar path"
    )
    alldf = spark.createDataFrame([r for b in batches for r in b], schema)
    want = sorted(map(tuple, dedup.snapshot_history(
        alldf, "url", "version", "fp", "snap_id").collect()))
    got = sorted(map(tuple, history_stream.history_snapshot(spark, hdir, "url").select(
        "url", "fp", "valid_from", "valid_to", "n_versions").collect()))
    assert got == want


def test_contamination_stream_equals_batch_and_replay(spark, tmp_path):
    """Stream == batch for the contamination audit: per-batch hit deltas
    against the static eval sets sum to the one-shot
    contamination_report over the union (each doc arrives once), zero
    rows for the clean benchmark persist, a replayed epoch never
    double-counts, and the additive store compacts to bounded dirs."""
    import os

    from epss_spark.operators import dedup
    from epss_spark.streaming import contamination_stream as cs

    b0 = "the quick brown fox jumps over the lazy dog"
    eval_sets = spark.createDataFrame(
        [("b0", 1, b0), ("b1", 1, "completely different benchmark text here now")],
        "benchmark string, doc_id long, text string",
    )
    schema = "doc_id long, text string"
    corpus_rows = [
        (100, b0),                                                    # all tiers, b0
        (101, "prefix words the quick brown fox jumps over more trailing stuff"),
        (102, "nothing in common with any benchmark at all"),
        (103, b0 + " extra tail words beyond the copied benchmark sentence"),
        (104, "completely unrelated fourth batch document text"),
    ]
    batches = [corpus_rows[:2], corpus_rows[2:4], corpus_rows[4:]]
    state = str(tmp_path / "contam")
    for e, b in enumerate(batches):
        cs.process_contamination_batch(
            spark.createDataFrame(b, schema), e, state, eval_sets, k=3
        )
    want = sorted(
        map(tuple, dedup.contamination_report(
            spark.createDataFrame(corpus_rows, schema), eval_sets, k=3
        ).collect())
    )
    got = sorted(map(tuple, cs.contamination_snapshot(spark, state).collect()))
    assert got == want
    # the clean benchmark is present as checked-and-clean
    assert ("b1", "exact", 0, 0.0) in got
    # and something actually fired (the test bites)
    assert any(n > 0 for _, _, n, _ in got)

    # replay of the middle epoch: identical recompute, counts never double
    cs.process_contamination_batch(
        spark.createDataFrame(batches[1], schema), 1, state, eval_sets, k=3
    )
    got2 = sorted(map(tuple, cs.contamination_snapshot(spark, state).collect()))
    assert got2 == want

    # compaction: 6 single-doc epochs, compact_every=2 -> bounded dirs,
    # identical snapshot
    auto = str(tmp_path / "contam_auto")
    singles = [[r] for r in corpus_rows] + [[(105, "one more clean doc")]]
    for e, b in enumerate(singles):
        cs.process_contamination_batch(
            spark.createDataFrame(b, schema), e, auto, eval_sets, k=3,
            compact_every=2,
        )
    want6 = sorted(
        map(tuple, dedup.contamination_report(
            spark.createDataFrame([r for b in singles for r in b], schema),
            eval_sets, k=3,
        ).collect())
    )
    got6 = sorted(map(tuple, cs.contamination_snapshot(spark, auto).collect()))
    assert got6 == want6
    n_dirs = len([d for d in os.listdir(auto) if d.startswith("epoch-")])
    assert n_dirs <= 4


def test_contamination_stream_semantic_tier(spark, tmp_path):
    """The semantic rung monitored continuously: batches carrying an
    embedding column are cosine-checked against the static broadcast
    eval embeddings, the per-batch 'semantic' distinct counts sum to
    the one-shot report's over the union (a doc's semantic flags depend
    only on its own embedding + static state, so the additive argument
    holds exactly like the lexical tiers), and partial semantic inputs
    raise."""
    import pytest

    from epss_spark.operators import dedup
    from epss_spark.streaming import contamination_stream as cs

    eval_sets = spark.createDataFrame(
        [("b0", 1, "the original benchmark phrasing of the same idea")],
        "benchmark string, doc_id long, text string",
    )
    eval_vecs = spark.createDataFrame(
        [("b0", 1, [10.0, 1.2])],
        "benchmark string, doc_id long, embedding array<float>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    schema = "doc_id long, text string, embedding array<float>"
    rows = [
        (100, "completely reworded content, zero shared tokens", [10.0, 1.0]),
        (101, "unrelated filler document about other things", [-1.0, 10.0]),
        (102, "another reworded copy, still no shared tokens", [9.0, 1.1]),
    ]
    state = str(tmp_path / "contam_sem")
    for e, b in enumerate([rows[:1], rows[1:]]):
        cs.process_contamination_batch(
            spark.createDataFrame(b, schema), e, state, eval_sets, k=3,
            eval_vecs=eval_vecs, sem_centroids=cents, sem_threshold=0.97,
        )
    docs_union = spark.createDataFrame([(r[0], r[1]) for r in rows], "doc_id long, text string")
    vecs_union = spark.createDataFrame(
        [(r[0], r[2]) for r in rows], "vec_id long, embedding array<float>"
    )
    want = sorted(map(tuple, dedup.contamination_report(
        docs_union, eval_sets, k=3,
        corpus_vecs=vecs_union, eval_vecs=eval_vecs.withColumnRenamed("doc_id", "vec_id"),
        sem_centroids=cents, sem_threshold=0.97,
    ).collect()))
    got = sorted(map(tuple, cs.contamination_snapshot(spark, state).collect()))
    assert got == want
    sem_rows = [t for t in got if t[1] == "semantic"]
    assert sem_rows and sem_rows[0][2] == 2  # docs 100 and 102 flagged

    with pytest.raises(ValueError, match="semantic tier needs"):
        cs.process_contamination_batch(
            spark.createDataFrame(rows[:1], schema), 9, state, eval_sets, k=3,
            eval_vecs=eval_vecs,
        )


def test_contamination_stream_via_streaming_query(spark, tmp_path):
    """start_contamination_stream end-to-end: file drops consumed one per
    trigger (availableNow), snapshot equals the one-shot audit."""
    import glob
    import os
    import shutil

    from epss_spark.operators import dedup
    from epss_spark.streaming import contamination_stream as cs

    b0 = "the quick brown fox jumps over the lazy dog"
    eval_sets = spark.createDataFrame(
        [("b0", 1, b0)], "benchmark string, doc_id long, text string"
    )
    schema = "doc_id long, text string"
    rows = [(100, b0), (101, "unrelated first words entirely"),
            (102, "more unrelated second drop text")]
    drop_dir = tmp_path / "cdrops"
    drop_dir.mkdir()
    for i, r in enumerate(rows):
        staging = tmp_path / f"cstage_{i}"
        spark.createDataFrame([r], schema).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"d{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    state = str(tmp_path / "cq_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir))
    )
    q = cs.start_contamination_stream(
        stream, state, str(tmp_path / "cq_ckpt"), eval_sets, k=3
    )
    q.awaitTermination(180)

    want = sorted(
        map(tuple, dedup.contamination_report(
            spark.createDataFrame(rows, schema), eval_sets, k=3
        ).collect())
    )
    got = sorted(map(tuple, cs.contamination_snapshot(spark, state).collect()))
    assert got == want
    assert ("b0", "exact", 1, 0.333333) in got


def test_contamination_trend_per_epoch(spark, tmp_path):
    """contamination_trend: one row per (epoch, benchmark, method) with
    each epoch's rate over its OWN batch — the step-change monitor. Run
    uncompacted (the documented full-series mode)."""
    from epss_spark.streaming import contamination_stream as cs

    b0 = "the quick brown fox jumps over the lazy dog"
    eval_sets = spark.createDataFrame(
        [("b0", 1, b0)], "benchmark string, doc_id long, text string"
    )
    schema = "doc_id long, text string"
    state = str(tmp_path / "trend")
    cs.process_contamination_batch(
        spark.createDataFrame([(100, "clean words only here"),
                               (101, "more clean words")], schema),
        0, state, eval_sets, k=3, compact_every=None,
    )
    cs.process_contamination_batch(
        spark.createDataFrame([(102, b0), (103, "still clean")], schema),
        1, state, eval_sets, k=3, compact_every=None,
    )
    got = {
        (r.epoch, r.method): (r.n, r.n_docs, r.rate)
        for r in cs.contamination_trend(spark, state).collect()
    }
    # epoch 0: clean batch of 2; epoch 1: the exact copy lands -> 1/2
    assert got[(0, "exact")] == (0, 2, 0.0)
    assert got[(1, "exact")] == (1, 2, 0.5)
    assert got[(1, "near")] == (1, 2, 0.5)
    assert len(got) == 6  # 2 epochs x 3 methods, zero rows present


def test_stream_documents_glob_metachar_path(spark, tmp_path):
    """Structured Streaming's file source globs paths like batch reads —
    stream_documents/stream_scores escape metacharacters so a '[0]'-
    bearing drop directory streams its files instead of silently
    matching nothing."""
    import glob
    import shutil

    from epss_spark.streaming import dedup_stream

    drop = tmp_path / "dr[0]ps"
    drop.mkdir()
    staging = tmp_path / "gstage"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(staging))
    shutil.move(glob.glob(str(staging / "part-*.parquet"))[0], str(drop / "a.parquet"))

    seen = []
    stream = dedup_stream.stream_documents(spark, str(drop))
    q = (
        stream.writeStream.foreachBatch(
            lambda df, eid: seen.append(df.count())
        )
        .option("checkpointLocation", str(tmp_path / "gckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(seen) == 2


def test_kmeans_stream_equals_batch_replay_and_compaction(spark, tmp_path):
    """Stream == batch for k-means model maintenance: per-batch quantized
    sum deltas against the frozen centroids fold to EXACTLY
    kmeans_fit(union, n_iter=1) — integer sums commute, so the equality
    is bit-exact and delivery-order-invariant. Replayed epochs never
    double-weight; the additive store compacts to bounded dirs; empty
    clusters keep the frozen centroid."""
    import os

    from epss_spark.operators import clustering
    from epss_spark.streaming import kmeans_stream as ks

    schema = "vec_id long, embedding array<float>"
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (3, [10.0, 10.0]), (4, [11.0, 10.0]), (5, [10.0, 11.0]),
    ]
    frozen = [[0.0, 0.0], [10.0, 10.0], [100.0, 100.0]]
    batches = [rows[:2], rows[2:5], rows[5:]]
    state = str(tmp_path / "km")
    for e, b in enumerate(batches):
        ks.process_kmeans_batch(
            spark.createDataFrame(b, schema), e, state, frozen, dim=2
        )
    want = clustering.kmeans_fit(
        spark.createDataFrame(rows, schema), frozen, n_iter=1, dim=2
    )
    got = ks.kmeans_snapshot_centroids(spark, state, frozen, dim=2)
    assert got == want  # bit-exact, incl. the untouched frozen centroid
    assert got[2] == [100.0, 100.0]

    # replay of the middle epoch: identical recompute, sums never double
    ks.process_kmeans_batch(
        spark.createDataFrame(batches[1], schema), 1, state, frozen, dim=2
    )
    assert ks.kmeans_snapshot_centroids(spark, state, frozen, dim=2) == want

    # order-invariance: the same batches delivered in reverse epoch order
    state_rev = str(tmp_path / "km_rev")
    for e, b in enumerate(reversed(batches)):
        ks.process_kmeans_batch(
            spark.createDataFrame(b, schema), e, state_rev, frozen, dim=2
        )
    assert ks.kmeans_snapshot_centroids(spark, state_rev, frozen, dim=2) == want

    # compaction: 6 single-vector epochs, compact_every=2 -> bounded dirs,
    # identical model
    auto = str(tmp_path / "km_auto")
    for e, r in enumerate(rows):
        ks.process_kmeans_batch(
            spark.createDataFrame([r], schema), e, auto, frozen, dim=2,
            compact_every=2,
        )
    assert ks.kmeans_snapshot_centroids(spark, auto, frozen, dim=2) == want
    n_dirs = len([d for d in os.listdir(auto) if d.startswith("epoch-")])
    assert n_dirs <= 4


def test_kmeans_stream_via_streaming_query(spark, tmp_path):
    """start_kmeans_stream end-to-end: file drops consumed one per
    trigger (availableNow), snapshot model equals the one-shot
    kmeans_fit over everything streamed."""
    import glob
    import os
    import shutil

    from epss_spark.operators import clustering
    from epss_spark.streaming import kmeans_stream as ks

    schema = "vec_id long, embedding array<float>"
    rows = [
        (0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [10.0, 10.0]), (3, [12.0, 10.0]),
    ]
    drop_dir = tmp_path / "kdrops"
    drop_dir.mkdir()
    for i, r in enumerate(rows):
        staging = tmp_path / f"kstage_{i}"
        spark.createDataFrame([r], schema).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"d{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    frozen = [[0.0, 0.0], [10.0, 10.0]]
    state = str(tmp_path / "kq_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir))
    )
    q = ks.start_kmeans_stream(
        stream, state, str(tmp_path / "kq_ckpt"), frozen, dim=2
    )
    q.awaitTermination(180)

    want = clustering.kmeans_fit(
        spark.createDataFrame(rows, schema), frozen, n_iter=1, dim=2
    )
    assert ks.kmeans_snapshot_centroids(spark, state, frozen, dim=2) == want
    assert want[0] == pytest.approx([1.0, 0.0], abs=1e-9)


def test_kmeans_drift_gated_promotion_lifecycle(spark, tmp_path, capsys):
    """The composed promotion contract DEPLOYMENT.md prescribes, driven
    end-to-end through the CLI verbs: train a frozen window model
    (`cluster --op train`), stream vector deltas against it
    (kmeans_stream), then `cluster --op promote` folds the snapshot,
    audits total deliveries, gates on assignment drift, and either rolls
    the model forward or refuses. Each step pinned stream == batch."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering
    from epss_spark.streaming import kmeans_stream as ks

    schema = "vec_id long, embedding array<float>"
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (3, [10.0, 10.0]), (4, [11.0, 10.0]), (5, [10.0, 11.0]),
    ]
    vecs = spark.createDataFrame(rows, schema)
    in_path = str(tmp_path / "vecs")
    vecs.write.parquet(in_path)

    # 1. freeze a window model via the CLI train verb
    model_path = str(tmp_path / "model_v1")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", model_path,
        "--op", "train", "--init-ids", "0,3", "--n-iter", "1", "--dim", "2",
    ])
    assert rc == 0 and "model" in capsys.readouterr().out
    frozen = clustering.read_model(spark, model_path)
    init = clustering.init_centroids_by_id(vecs, [0, 3])
    assert frozen == clustering.kmeans_fit(vecs, init, n_iter=1, dim=2)

    # 2. the maintenance stream absorbs the corpus against the frozen model
    state = str(tmp_path / "km_state")
    for e, batch in enumerate([rows[:3], rows[3:]]):
        ks.process_kmeans_batch(
            spark.createDataFrame(batch, schema), e, state, frozen, dim=2
        )
    assert ks.kmeans_snapshot_total(spark, state) == len(rows)

    # 3a. audit branch: wrong expected-n refuses with exit 3, no artifact
    out_path = str(tmp_path / "model_v2")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", model_path, "--state", state, "--dim", "2",
        "--expected-n", "7",
    ])
    # refusal diagnostics land on stderr (scripts capture stderr on
    # nonzero exit), the happy path stays on stdout
    assert rc == 3 and "expected 7" in capsys.readouterr().err
    assert not (tmp_path / "model_v2").exists()

    # 3b. drift branch: a zero tolerance refuses with exit 2 iff anything
    # moved; here the one-step refresh is near-stationary, so first prove
    # the gate computes the real fraction
    snapshot = ks.kmeans_snapshot_centroids(spark, state, frozen, dim=2)
    moved = clustering.drift_fraction(
        clustering.assignment_drift(vecs, frozen, snapshot)
    )
    assert moved == 0.0  # both models split the two groups identically

    # force a refusal: stream against a clumped frozen model whose
    # one-step refresh genuinely reshuffles a cell — under
    # [[0,0],[0.5,0]] vector 1 sits in cell 1 with the far group, and
    # the refreshed cell-1 centroid (the 4-point mean (8, 7.75)) pulls
    # it back to cell 0: moved_frac = 1/6 > 0.0 tolerance
    clumped = [[0.0, 0.0], [0.5, 0.0]]
    state2 = str(tmp_path / "km_state2")
    for e, batch in enumerate([rows[:3], rows[3:]]):
        ks.process_kmeans_batch(
            spark.createDataFrame(batch, schema), e, state2, clumped, dim=2
        )
    clumped_model = str(tmp_path / "model_clumped")
    clustering.write_model(spark, clumped, clumped_model)
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", clumped_model, "--state", state2, "--dim", "2",
        "--max-moved-frac", "0.0",
    ])
    cap = capsys.readouterr().err
    assert rc == 2 and "REFUSED" in cap and "rebuild" in cap
    assert "0.1667" in cap  # the gate reports the real moved fraction
    assert not (tmp_path / "model_v2").exists()

    # 3c. happy path: correct audit count + default tolerance -> promoted
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", model_path, "--state", state, "--dim", "2",
        "--expected-n", str(len(rows)),
    ])
    assert rc == 0 and "promoted" in capsys.readouterr().out
    promoted = clustering.read_model(spark, out_path)
    assert promoted == snapshot  # the artifact IS the snapshot fold
    # and the snapshot fold is bit-identical to the one-step batch refresh
    assert promoted == clustering.kmeans_fit(vecs, frozen, n_iter=1, dim=2)

    # 4. the promoted model is consumable by the apply path (--centroids)
    stats_path = str(tmp_path / "stats_v2")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", stats_path,
        "--op", "stats", "--centroids", out_path, "--dim", "2",
    ])
    assert rc == 0
    got = {r.cluster_id: r.n_points for r in spark.read.parquet(stats_path).collect()}
    assert got == {0: 3, 1: 3}


def test_kmeans_stream_id_checksum_audit(spark, tmp_path, capsys):
    """The content half of the exactly-once audit: the store's
    (count, XOR of per-id 60-bit hashes) must equal the corpus's. A
    cross-epoch duplicate delivery PAIRED with a dropped row keeps
    sum(n) intact — invisible to the count-only --expected-n audit —
    but flips the XOR, and the promote gate refuses with exit 3. Also
    pins engine-portability: DuckDB's bit_xor over the same md5 spelling
    reproduces the corpus checksum bit-for-bit."""
    import duckdb

    import epss_spark.cli as cli
    from epss_spark.operators import clustering
    from epss_spark.streaming import kmeans_stream as ks

    schema = "vec_id long, embedding array<float>"
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (3, [10.0, 10.0]), (4, [11.0, 10.0]), (5, [10.0, 11.0]),
    ]
    vecs = spark.createDataFrame(rows, schema)
    in_path = str(tmp_path / "vecs")
    vecs.write.parquet(in_path)
    frozen = [[0.0, 0.0], [10.0, 10.0]]
    model_path = str(tmp_path / "model")
    clustering.write_model(spark, frozen, model_path)

    # clean store: absorbed checksum == corpus checksum, order-free
    state = str(tmp_path / "km_clean")
    for e, batch in enumerate([rows[:3], rows[3:]]):
        ks.process_kmeans_batch(
            spark.createDataFrame(batch, schema), e, state, frozen, dim=2
        )
    expected = ks.corpus_id_checksum(vecs)
    assert ks.kmeans_snapshot_checksum(spark, state) == expected
    assert expected[0] == 6 and expected[1] != 0
    # DuckDB replays the same checksum (engine-portable audit)
    want = duckdb.sql(
        "SELECT count(*), bit_xor(CAST('0x' || substr(md5(CAST(vec_id AS "
        f"VARCHAR)), 1, 15) AS BIGINT)) FROM '{in_path}/*.parquet'"
    ).fetchone()
    assert (int(want[0]), int(want[1])) == expected

    # tampered store: epoch 1 re-delivers id 4 in place of id 5 —
    # count-neutral (sum n still 6, so --expected-n PASSES) but the
    # multiset differs; the XOR catches it
    tampered_rows = rows[3:5] + [(4, [11.0, 10.0])]
    state2 = str(tmp_path / "km_tampered")
    for e, batch in enumerate([rows[:3], tampered_rows]):
        ks.process_kmeans_batch(
            spark.createDataFrame(batch, schema), e, state2, frozen, dim=2
        )
    assert ks.kmeans_snapshot_total(spark, state2) == 6  # count audit blind
    assert ks.kmeans_snapshot_checksum(spark, state2) != expected

    out_path = str(tmp_path / "model_v2")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", model_path, "--state", state2, "--dim", "2",
        "--expected-n", "6",
    ])
    cap = capsys.readouterr().err
    assert rc == 3 and "id checksum" in cap and "rebuild" in cap
    assert not (tmp_path / "model_v2").exists()

    # --no-id-audit: the documented escape hatch rolls it forward on
    # count alone (the operator owns the risk)
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", model_path, "--state", state2, "--dim", "2",
        "--expected-n", "6", "--no-id-audit",
    ])
    assert rc == 0 and "promoted" in capsys.readouterr().out

    # id_col=None store: no __xs column, checksum explicitly unavailable,
    # promote says so and relies on the count audit
    state3 = str(tmp_path / "km_noid")
    for e, batch in enumerate([rows[:3], rows[3:]]):
        ks.process_kmeans_batch(
            spark.createDataFrame(batch, schema), e, state3, frozen, dim=2,
            id_col=None,
        )
    assert ks.kmeans_snapshot_checksum(spark, state3) is None
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", model_path, "--state", state3, "--dim", "2",
        "--expected-n", "6",
    ])
    cap = capsys.readouterr()
    assert rc == 0 and "id audit unavailable" in cap.err and "promoted" in cap.out


def test_kmeans_store_mixed_xs_refuses_checksum(spark, tmp_path, capsys):
    """A store whose early epochs predate the __xs content-audit column
    (written with id_col=None here, standing in for an older build's
    layout) and whose later epochs carry it is MIXED: the model sums
    stay valid and readable, but the content checksum over it is
    undefined — a partial XOR (bit_xor skips NULLs) would falsely
    refuse a healthy store, and a silent None would quietly downgrade
    the gate. kmeans_snapshot_checksum raises the explicit 'predates
    the id audit' error, the promote CLI surfaces it as a refusal
    (exit 3, stderr), --no-id-audit remains the escape hatch, and the
    schema-merged NULL-poisoned compaction PRESERVES the mixed-ness
    evidence instead of losing the audited epochs' checksums."""
    import epss_spark.cli as cli
    import pytest
    from epss_spark.operators import clustering
    from epss_spark.streaming import kmeans_stream as ks

    schema = "vec_id long, embedding array<float>"
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (3, [10.0, 10.0]), (4, [11.0, 10.0]), (5, [10.0, 11.0]),
    ]
    vecs = spark.createDataFrame(rows, schema)
    in_path = str(tmp_path / "vecs")
    vecs.write.parquet(in_path)
    frozen = [[0.0, 0.0], [10.0, 10.0]]
    model_path = str(tmp_path / "model")
    clustering.write_model(spark, frozen, model_path)

    # epoch 0 pre-audit (no __xs), epoch 1 audited (__xs) -> mixed store
    state = str(tmp_path / "km_mixed")
    ks.process_kmeans_batch(
        spark.createDataFrame(rows[:3], schema), 0, state, frozen, dim=2,
        id_col=None,
    )
    ks.process_kmeans_batch(
        spark.createDataFrame(rows[3:], schema), 1, state, frozen, dim=2
    )
    # the MODEL half of the store is unaffected by the audit column's
    # history: count and fold still equal the batch refresh
    assert ks.kmeans_snapshot_total(spark, state) == 6
    assert ks.kmeans_snapshot_centroids(spark, state, frozen, dim=2) == \
        clustering.kmeans_fit(vecs, frozen, n_iter=1, dim=2)
    with pytest.raises(ValueError, match="predates the id audit"):
        ks.kmeans_snapshot_checksum(spark, state)

    out_path = str(tmp_path / "model_v2")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", model_path, "--state", state, "--dim", "2",
    ])
    cap = capsys.readouterr()
    assert rc == 3 and "predates the id audit" in cap.err
    assert not (tmp_path / "model_v2").exists()
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", model_path, "--state", state, "--dim", "2",
        "--expected-n", "6", "--no-id-audit",
    ])
    assert rc == 0 and "promoted" in capsys.readouterr().out

    # compaction preserves the evidence: epoch 2 lands on the every=2
    # cadence, folding epochs 0-2 (schema-merged, NULL-poisoned) — the
    # mixed store still refuses instead of reporting a partial checksum
    state2 = str(tmp_path / "km_mixed_compact")
    ks.process_kmeans_batch(
        spark.createDataFrame(rows[:2], schema), 0, state2, frozen, dim=2,
        id_col=None, compact_every=2,
    )
    ks.process_kmeans_batch(
        spark.createDataFrame(rows[2:4], schema), 1, state2, frozen, dim=2,
        compact_every=2,
    )
    ks.process_kmeans_batch(
        spark.createDataFrame(rows[4:], schema), 2, state2, frozen, dim=2,
        compact_every=2,
    )
    assert ks.kmeans_snapshot_total(spark, state2) == 6
    with pytest.raises(ValueError, match="predates the id audit"):
        ks.kmeans_snapshot_checksum(spark, state2)
    # while a uniformly-audited store compacted on the same cadence
    # still passes the audit bit-for-bit
    state3 = str(tmp_path / "km_audited_compact")
    for e, lo, hi in [(0, 0, 2), (1, 2, 4), (2, 4, 6)]:
        ks.process_kmeans_batch(
            spark.createDataFrame(rows[lo:hi], schema), e, state3, frozen,
            dim=2, compact_every=2,
        )
    assert ks.kmeans_snapshot_checksum(spark, state3) == ks.corpus_id_checksum(vecs)


def test_kmeans_promote_missing_id_col_is_usage_error(spark, tmp_path, capsys):
    """A typo'd --id-col must not quietly bypass the content gate: when
    the store CARRIES the __xs audit but --input lacks the id column,
    promote is a usage error (exit 2, stderr names the columns and the
    explicit --no-id-audit escape hatch) — unlike the id_col=None store,
    where the audit is structurally unavailable and the count audit is
    all there is."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering
    from epss_spark.streaming import kmeans_stream as ks

    schema = "vec_id long, embedding array<float>"
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [10.0, 10.0])]
    vecs = spark.createDataFrame(rows, schema)
    in_path = str(tmp_path / "vecs")
    vecs.write.parquet(in_path)
    frozen = [[0.0, 0.0], [10.0, 10.0]]
    model_path = str(tmp_path / "model")
    clustering.write_model(spark, frozen, model_path)
    state = str(tmp_path / "km_state")
    ks.process_kmeans_batch(vecs, 0, state, frozen, dim=2)

    out_path = str(tmp_path / "model_v2")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", model_path, "--state", state, "--dim", "2",
        "--id-col", "vec_idd",
    ])
    cap = capsys.readouterr()
    assert rc == 2 and "vec_idd" in cap.err and "--no-id-audit" in cap.err
    assert not (tmp_path / "model_v2").exists()
    # the explicit escape hatch (plus the count audit) still works
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "promote",
        "--centroids", model_path, "--state", state, "--dim", "2",
        "--id-col", "vec_idd", "--no-id-audit", "--expected-n", "3",
    ])
    assert rc == 0 and "promoted" in capsys.readouterr().out


def test_dim_drift_stream_equals_batch_replay_and_order(spark, tmp_path):
    """Stream == batch for the embedding-distribution monitor: per-batch
    per-dimension quantized-sum deltas fold to EXACTLY
    embedding_dim_drift(reference, union) — additive integer sums, so
    replay never double-counts and delivery order is irrelevant."""
    from epss_spark.operators import clustering
    from epss_spark.streaming import drift_stream as ds

    schema = "vec_id long, embedding array<float>"
    ref = spark.createDataFrame(
        [(100, [1.0, 2.0]), (101, [3.0, 4.0])], schema
    )
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.5]), (2, [2.0, 1.0]),
        (3, [3.0, 1.5]), (4, [4.0, 2.0]),
    ]
    batches = [rows[:2], rows[2:4], rows[4:]]
    state = str(tmp_path / "drift")
    for e, b in enumerate(batches):
        ds.process_dim_drift_batch(spark.createDataFrame(b, schema), e, state)
    want = {
        r.dim_idx: r
        for r in clustering.embedding_dim_drift(
            ref, spark.createDataFrame(rows, schema)
        ).collect()
    }
    got = {r.dim_idx: r for r in ds.drift_snapshot(spark, state, ref).collect()}
    assert got.keys() == want.keys() == {0, 1}
    for d in want:
        assert got[d] == want[d]  # bit-exact row equality
    assert ds.dim_drift_total(spark, state) == 5

    # replay of the middle epoch: identical recompute, sums never double
    ds.process_dim_drift_batch(spark.createDataFrame(batches[1], schema), 1, state)
    got2 = {r.dim_idx: r for r in ds.drift_snapshot(spark, state, ref).collect()}
    assert got2 == got

    # order-invariance: reversed delivery, same report
    state_rev = str(tmp_path / "drift_rev")
    for e, b in enumerate(reversed(batches)):
        ds.process_dim_drift_batch(spark.createDataFrame(b, schema), e, state_rev)
    got3 = {r.dim_idx: r for r in ds.drift_snapshot(spark, state_rev, ref).collect()}
    assert got3 == got

    # compaction: 5 single-vector epochs, compact_every=2 -> bounded
    # dirs, identical report
    import os

    auto = str(tmp_path / "drift_auto")
    for e, r in enumerate(rows):
        ds.process_dim_drift_batch(
            spark.createDataFrame([r], schema), e, auto, compact_every=2
        )
    got4 = {r.dim_idx: r for r in ds.drift_snapshot(spark, auto, ref).collect()}
    assert got4 == got
    assert len([d for d in os.listdir(auto) if d.startswith("epoch-")]) <= 4


def test_dim_drift_stream_id_checksum_audit(spark, tmp_path):
    """The drift stream's content audit (same design as kmeans_stream):
    the `.ids` sibling folds (count, XOR of per-id 60-bit hashes) and
    must equal corpus_id_checksum over everything delivered. A
    duplicate+drop tamper keeps dim_drift_total intact but flips the
    checksum; id_col=None stores no sibling and the audit reports
    unavailable."""
    from epss_spark.streaming import drift_stream as ds
    from epss_spark.streaming.kmeans_stream import corpus_id_checksum

    schema = "vec_id long, embedding array<float>"
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.5]), (2, [2.0, 1.0]),
        (3, [3.0, 1.5]), (4, [4.0, 2.0]),
    ]
    batches = [rows[:2], rows[2:4], rows[4:]]
    state = str(tmp_path / "drift_ck")
    for e, b in enumerate(batches):
        ds.process_dim_drift_batch(spark.createDataFrame(b, schema), e, state)
    expected = corpus_id_checksum(spark.createDataFrame(rows, schema))
    assert ds.dim_drift_checksum(spark, state) == expected
    assert ds.dim_drift_total(spark, state) == 5

    # compaction of the sibling: single-row epochs, bounded dirs, same checksum
    import os

    auto = str(tmp_path / "drift_ck_auto")
    for e, r in enumerate(rows):
        ds.process_dim_drift_batch(
            spark.createDataFrame([r], schema), e, auto, compact_every=2
        )
    assert ds.dim_drift_checksum(spark, auto) == expected
    assert len([d for d in os.listdir(auto + ".ids") if d.startswith("epoch-")]) <= 4

    # count-neutral tamper: epoch 2 re-delivers id 3 instead of id 4
    state2 = str(tmp_path / "drift_ck_bad")
    tampered = [rows[:2], rows[2:4], [(3, [3.0, 1.5])]]
    for e, b in enumerate(tampered):
        ds.process_dim_drift_batch(spark.createDataFrame(b, schema), e, state2)
    assert ds.dim_drift_total(spark, state2) == 5  # count audit blind
    assert ds.dim_drift_checksum(spark, state2) != expected

    # id_col=None: no sibling store, audit explicitly unavailable
    state3 = str(tmp_path / "drift_ck_noid")
    for e, b in enumerate(batches):
        ds.process_dim_drift_batch(
            spark.createDataFrame(b, schema), e, state3, id_col=None
        )
    assert ds.dim_drift_checksum(spark, state3) is None
    assert ds.dim_drift_total(spark, state3) == 5


def test_quality_stream_equals_batch_replay_and_order(spark, tmp_path):
    """Stream == batch for the model-quality monitor: per-batch
    per-cluster (n, silhouette sum, boundary count, margin sum) deltas
    against the frozen model fold to EXACTLY the batch
    cluster_silhouette + cluster_boundary reports over the union —
    additive integers, so replay never double-counts and delivery order
    is irrelevant. The `.ids` sibling carries the content audit."""
    import os

    from epss_spark.operators import clustering
    from epss_spark.streaming import quality_stream as qs
    from epss_spark.streaming.kmeans_stream import corpus_id_checksum

    schema = "vec_id long, embedding array<float>"
    frozen = [[0.0, 0.0], [10.0, 0.0]]
    rows = [
        (0, [0.0, 0.0]), (1, [4.9, 0.0]), (2, [2.0, 1.0]),
        (3, [10.0, 0.5]), (4, [8.0, 0.0]), (5, [11.0, 1.0]),
    ]
    thr = 30.0  # squared-L2 margin; flags the mid-line points
    batches = [rows[:2], rows[2:5], rows[5:]]
    state = str(tmp_path / "qual")
    for e, b in enumerate(batches):
        qs.process_quality_batch(
            spark.createDataFrame(b, schema), e, state, frozen, threshold=thr
        )
    union = spark.createDataFrame(rows, schema)
    want_sil = {
        r.cluster_id: (r.n_points, r.avg_silhouette)
        for r in clustering.cluster_silhouette(union, frozen).collect()
    }
    want_bd = {
        r.cluster_id: (r.n_points, r.n_boundary, r.avg_margin)
        for r in clustering.cluster_boundary(union, frozen, threshold=thr).collect()
    }
    got = {r.cluster_id: r for r in qs.quality_snapshot(spark, state).collect()}
    assert got.keys() == want_sil.keys() == want_bd.keys()
    for c, r in got.items():
        assert (r.n_points, r.avg_silhouette) == want_sil[c]  # bit-exact
        assert (r.n_points, r.n_boundary, r.avg_margin) == want_bd[c]
        assert r.boundary_frac == r.n_boundary / r.n_points
    assert qs.quality_total(spark, state) == 6
    assert qs.quality_checksum(spark, state) == corpus_id_checksum(union)

    # replay of the middle epoch: identical recompute, sums never double
    qs.process_quality_batch(
        spark.createDataFrame(batches[1], schema), 1, state, frozen, threshold=thr
    )
    got2 = {r.cluster_id: r for r in qs.quality_snapshot(spark, state).collect()}
    assert got2 == got

    # order-invariance: reversed delivery, same report
    state_rev = str(tmp_path / "qual_rev")
    for e, b in enumerate(reversed(batches)):
        qs.process_quality_batch(
            spark.createDataFrame(b, schema), e, state_rev, frozen, threshold=thr
        )
    got3 = {r.cluster_id: r for r in qs.quality_snapshot(spark, state_rev).collect()}
    assert got3 == got

    # compaction: 6 single-vector epochs, compact_every=2 -> bounded
    # dirs, identical report and checksum
    auto = str(tmp_path / "qual_auto")
    for e, r in enumerate(rows):
        qs.process_quality_batch(
            spark.createDataFrame([r], schema), e, auto, frozen, threshold=thr,
            compact_every=2,
        )
    got4 = {r.cluster_id: r for r in qs.quality_snapshot(spark, auto).collect()}
    assert got4 == got
    assert qs.quality_checksum(spark, auto) == corpus_id_checksum(union)
    assert len([d for d in os.listdir(auto) if d.startswith("epoch-")]) <= 4

    # id_col=None: audit explicitly unavailable
    state_noid = str(tmp_path / "qual_noid")
    qs.process_quality_batch(
        spark.createDataFrame(rows, schema), 0, state_noid, frozen,
        threshold=thr, id_col=None,
    )
    assert qs.quality_checksum(spark, state_noid) is None


def test_quality_stream_via_streaming_query(spark, tmp_path):
    """start_quality_stream end-to-end: file drops consumed one per
    trigger (availableNow), snapshot report equals the one-shot batch
    operators over everything streamed."""
    import glob
    import os
    import shutil

    from epss_spark.operators import clustering
    from epss_spark.streaming import quality_stream as qs

    schema = "vec_id long, embedding array<float>"
    rows = [(0, [0.0, 0.0]), (1, [4.0, 0.0]), (2, [10.0, 0.0]), (3, [7.0, 0.0])]
    drop_dir = tmp_path / "qdrops"
    drop_dir.mkdir()
    for i, r in enumerate(rows):
        staging = tmp_path / f"qstage_{i}"
        spark.createDataFrame([r], schema).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"q{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    frozen = [[0.0, 0.0], [10.0, 0.0]]
    state = str(tmp_path / "qq_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir))
    )
    q = qs.start_quality_stream(
        stream, state, str(tmp_path / "qq_ckpt"), frozen, threshold=30.0
    )
    q.awaitTermination(180)

    union = spark.createDataFrame(rows, schema)
    want = {
        r.cluster_id: (r.n_points, r.avg_silhouette)
        for r in clustering.cluster_silhouette(union, frozen).collect()
    }
    got = {
        r.cluster_id: (r.n_points, r.avg_silhouette)
        for r in qs.quality_snapshot(spark, state).collect()
    }
    assert got == want
    assert qs.quality_total(spark, state) == 4


def test_cli_cluster_quality_verb(spark, tmp_path, capsys):
    """cluster --op quality: the read verb for the continuous
    model-quality stream — prints the live per-cluster
    silhouette/boundary report (bit-equal to the batch operators over
    the absorbed corpus) behind the same exactly-once audits as
    promote: count mismatch and id-checksum mismatch REFUSE (exit 3,
    stderr) instead of printing numbers that describe a different
    multiset; a typo'd --id-col is a usage error; --no-id-audit stays
    the explicit escape hatch."""
    import epss_spark.cli as cli
    from epss_spark.operators import clustering
    from epss_spark.streaming import quality_stream as qs

    schema = "vec_id long, embedding array<float>"
    frozen = [[0.0, 0.0], [10.0, 0.0]]
    rows = [
        (0, [0.0, 0.0]), (1, [4.9, 0.0]), (2, [2.0, 1.0]),
        (3, [10.0, 0.5]), (4, [8.0, 0.0]), (5, [11.0, 1.0]),
    ]
    thr = 30.0
    state = str(tmp_path / "qual")
    for e, b in enumerate([rows[:3], rows[3:]]):
        qs.process_quality_batch(
            spark.createDataFrame(b, schema), e, state, frozen, threshold=thr
        )
    union = spark.createDataFrame(rows, schema)
    in_path = str(tmp_path / "vecs")
    union.write.parquet(in_path)

    out_path = str(tmp_path / "quality_report")
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "quality",
        "--state", state, "--expected-n", "6",
    ])
    cap = capsys.readouterr()
    assert rc == 0 and "6 vectors absorbed" in cap.out and "silhouette=" in cap.out
    got = {r.cluster_id: r for r in spark.read.parquet(out_path).collect()}
    want_sil = {
        r.cluster_id: (r.n_points, r.avg_silhouette)
        for r in clustering.cluster_silhouette(union, frozen).collect()
    }
    want_bd = {
        r.cluster_id: (r.n_points, r.n_boundary, r.avg_margin)
        for r in clustering.cluster_boundary(union, frozen, threshold=thr).collect()
    }
    for c, r in got.items():
        assert (r.n_points, r.avg_silhouette) == want_sil[c]
        assert (r.n_points, r.n_boundary, r.avg_margin) == want_bd[c]

    # --state is required
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "quality",
    ])
    assert rc == 2 and "--state is required" in capsys.readouterr().err
    # wrong expected count refuses
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "quality",
        "--state", state, "--expected-n", "7",
    ])
    assert rc == 3 and "expected 7" in capsys.readouterr().err
    # content audit: an --input that is NOT the absorbed corpus refuses
    tampered = str(tmp_path / "vecs_tampered")
    spark.createDataFrame(rows[:5] + [(9, [1.0, 1.0])], schema).write.parquet(tampered)
    rc = cli.main([
        "cluster", "--input", tampered, "--output", out_path, "--op", "quality",
        "--state", state,
    ])
    assert rc == 3 and "id checksum" in capsys.readouterr().err
    # typo'd --id-col is a usage error naming the escape hatch
    rc = cli.main([
        "cluster", "--input", in_path, "--output", out_path, "--op", "quality",
        "--state", state, "--id-col", "vec_idd",
    ])
    cap = capsys.readouterr()
    assert rc == 2 and "vec_idd" in cap.err and "--no-id-audit" in cap.err
    # the escape hatch reads the report without the content check
    rc = cli.main([
        "cluster", "--input", tampered, "--output", out_path, "--op", "quality",
        "--state", state, "--no-id-audit",
    ])
    assert rc == 0 and "absorbed" in capsys.readouterr().out


def test_dim_drift_stream_via_streaming_query(spark, tmp_path):
    """start_dim_drift_stream end-to-end: file drops consumed one per
    trigger (availableNow), snapshot report equals the one-shot batch
    monitor over everything streamed."""
    import glob
    import os
    import shutil

    from epss_spark.operators import clustering
    from epss_spark.streaming import drift_stream as ds

    schema = "vec_id long, embedding array<float>"
    rows = [(0, [0.0, 1.0]), (1, [2.0, 3.0]), (2, [4.0, 5.0])]
    drop_dir = tmp_path / "ddrops"
    drop_dir.mkdir()
    for i, r in enumerate(rows):
        staging = tmp_path / f"dstage_{i}"
        spark.createDataFrame([r], schema).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        dest = str(drop_dir / f"d{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))

    state = str(tmp_path / "dq_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir))
    )
    q = ds.start_dim_drift_stream(stream, state, str(tmp_path / "dq_ckpt"))
    q.awaitTermination(180)

    ref = spark.createDataFrame([(9, [1.0, 1.0])], schema)
    want = {
        r.dim_idx: r
        for r in clustering.embedding_dim_drift(
            ref, spark.createDataFrame(rows, schema)
        ).collect()
    }
    got = {r.dim_idx: r for r in ds.drift_snapshot(spark, state, ref).collect()}
    assert got == want and got[0].mean_b == 2.0
