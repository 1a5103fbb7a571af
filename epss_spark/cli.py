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
"""

from __future__ import annotations

import argparse
import sys

from epss_spark.client import EPSSClient, get_date_range
from epss_spark.plans.query import Query
from epss_spark.session import get_spark
from epss_spark.sources.ingest import download_snapshots, iter_dates, snapshot_url
from epss_spark.sources.readers import date_partitioned_write, read_snapshots
from epss_spark.sources.sinks import render_console, write_file


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
        write_file(df, args.output_file)
    else:
        # full=True: the reference CLI prints the whole frame
        # (set_tbl_rows(-1)); boundedness is the library default, the CLI
        # keeps reference parity on explicit user action
        render_console(df, fmt=args.output_format, full=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
