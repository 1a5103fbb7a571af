"""Sinks (format conversion, console rendering, JSON/Excel writers), the
snapshot reader and the CLI's output paths."""

from __future__ import annotations

import datetime as dt
import io
import json
import os
import re
import zipfile

import pytest

from epss_spark.sources import sinks
from epss_spark.sources.readers import read_any, read_snapshots

D = dt.date


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


def test_render_console_bounded_by_default(spark):
    df = spark.range(3000).selectExpr("id", "id * 2 AS v")
    buf = io.StringIO()
    sinks.render_console(df, fmt="jsonl", file=buf)
    assert len(buf.getvalue().strip().splitlines()) == sinks.DEFAULT_CONSOLE_ROWS
    buf = io.StringIO()
    sinks.render_console(df, fmt="jsonl", file=buf, full=True)
    assert len(buf.getvalue().strip().splitlines()) == 3000


def test_render_console_full_table_runs_query_once(spark, capsys):
    """The CLI's default output: a full table needs the row count before
    show(), which must not cost a second execution of the query."""
    import uuid

    df = spark.range(40).selectExpr(
        "date_add(DATE'2023-03-07', CAST(id AS INT)) AS date", "CONCAT('CVE-', id) AS cve", "id / 7 AS epss"
    ).filter("id % 3 != 0")
    df.show(n=df.count(), truncate=False)
    expected = capsys.readouterr().out
    sc = spark.sparkContext
    group = f"render-{uuid.uuid4()}"
    sc.setJobGroup(group, "full table render")
    try:
        sinks.render_console(df, fmt="table", full=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert capsys.readouterr().out == expected
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


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


@pytest.fixture
def scores_root(spark, tmp_path):
    rows = [
        (D(2023, 3, 7) + dt.timedelta(days=d), f"CVE-{k}", (k + d) / 10.0, 0.5)
        for d in range(2)
        for k in range(3)
    ]
    root = str(tmp_path / "scores")
    spark.createDataFrame(
        rows, "date date, cve string, epss double, percentile double"
    ).write.partitionBy("date").parquet(root)
    # the CLI's canonical order: date asc, cve desc
    return root, sorted(sorted(rows, key=lambda r: r[1], reverse=True), key=lambda r: r[0])


def test_cli_scores_output_json(scores_root, tmp_path):
    from epss_spark.cli import main

    root, rows = scores_root
    out = str(tmp_path / "out.json")
    assert main(["scores", "--scores-path", root, "-a", "2023-03-07", "-b", "2023-03-08", "-o", out]) == 0
    with open(out) as f:
        got = json.load(f)
    assert got == [
        {"date": d.isoformat(), "cve": cve, "epss": epss, "percentile": pct}
        for d, cve, epss, pct in rows
    ]


def test_cli_scores_output_xlsx(scores_root, tmp_path):
    from epss_spark.cli import main

    root, rows = scores_root
    out = str(tmp_path / "out.xlsx")
    assert main(["scores", "--scores-path", root, "-a", "2023-03-07", "-b", "2023-03-08", "-o", out]) == 0
    with zipfile.ZipFile(out) as z:
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    got = [
        re.findall(r"<v>([^<]*)</v>|<t>([^<]*)</t>", row)
        for row in re.findall(r"<row [^>]*>(.*?)</row>", sheet)
    ]
    got = [[v or t for v, t in cells] for cells in got]
    assert got == [["date", "cve", "epss", "percentile"]] + [
        [d.isoformat(), cve, repr(epss), repr(pct)] for d, cve, epss, pct in rows
    ]
