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


@pytest.mark.parametrize("decompress", [True, False])
def test_truncated_download_is_fetched_again(spark, tmp_path, decompress):
    """A fetch cut off mid-body leaves no file the existence check would
    take as finished. Decompressing, the half gzip fails in gunzip
    (EOFError); kept gzipped, the fetch itself raises. Either way the
    re-run fetches again, reads every row and leaves no temporary file."""
    n = 2000
    csv = "cve,epss,percentile\n" + "".join(f"CVE-{i},0.{i:04d},0.5\n" for i in range(n))
    body = gzip.compress(csv.encode())
    calls = []

    def cut_off(url, dest):
        calls.append(url)
        with open(dest, "wb") as f:
            f.write(body[: len(body) // 2])
        if not decompress:
            raise ConnectionResetError("connection reset mid-body")

    def full(url, dest):
        calls.append(url)
        with open(dest, "wb") as f:
            f.write(body)

    raw = str(tmp_path / "raw")
    with pytest.raises(EOFError if decompress else ConnectionResetError):
        download_snapshot(raw, "2024-01-01", fetch=cut_off, decompress=decompress)
    assert os.listdir(raw) == []
    path = download_snapshot(raw, "2024-01-01", fetch=full, decompress=decompress)
    assert len(calls) == 2
    assert os.listdir(raw) == [os.path.basename(path)]
    assert read_snapshots(spark, path).count() == n


def test_snapshot_date_comes_from_file_name_not_parent_dir(spark, tmp_path):
    """A dated parent directory must not override the file's own date."""
    day_dir = tmp_path / "2099-12-31"
    day_dir.mkdir()
    (day_dir / "epss_scores-2024-01-01.csv").write_text("cve,epss,percentile\nCVE-A,0.1,0.5\n")
    got = read_snapshots(spark, str(day_dir)).select("date").distinct().collect()
    assert [r.date for r in got] == [dt.date(2024, 1, 1)]


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

