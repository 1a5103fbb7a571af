"""HTTP ingestion of upstream daily snapshots, driver-side.

Mirrors the reference's download layer (epss/client.py:126-194): fetch
`epss_scores-{date}.csv.gz`, idempotently skip files that already exist,
fan out over a thread pool. Network code is import-guarded and injectable so
tests and the correctness harness never touch the network
(reference quirk: max-date discovery does a live HTTP HEAD,
epss/client.py:386-402 — here it is an injectable resolver).
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable

from epss_spark.functions.scalars import TIME, parse_date

BASE_URL = "https://epss.cyentia.com"


def snapshot_url(date: TIME) -> str:
    """URL builder (reference: epss/client.py:317-330)."""
    return f"{BASE_URL}/epss_scores-{parse_date(date).isoformat()}.csv.gz"


def iter_dates(min_date: TIME, max_date: TIME) -> Iterable[dt.date]:
    """One date per day in [min, max] (reference: epss/util.py:256-262)."""
    d, end = parse_date(min_date), parse_date(max_date)
    while d <= end:
        yield d
        d += dt.timedelta(days=1)


def _default_fetch(url: str, dest: str) -> None:
    import urllib.request

    with urllib.request.urlopen(url) as resp, open(dest, "wb") as f:  # noqa: S310
        shutil.copyfileobj(resp, f)


def _publish(dest: str, write: Callable[[str], None]) -> None:
    """Run `write` into a dot-prefixed sibling of `dest` (Spark's file
    listing skips it), then rename it into place, so an interrupted
    download never leaves a file the existence check would take as
    finished. The sibling is removed on failure."""
    tmp = os.path.join(os.path.dirname(dest), f".{os.path.basename(dest)}.part")
    try:
        write(tmp)
        os.replace(tmp, dest)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def download_snapshot(
    workdir: str,
    date: TIME,
    fetch: Callable[[str, str], None] | None = None,
    decompress: bool = True,
) -> str:
    """Idempotent single-day download (reference: epss/client.py:163-194):
    skip if the target file already exists. The target only ever appears
    complete (see `_publish`). `fetch` resolves at call time (None ->
    module-level _default_fetch) so tests can monkeypatch the module
    attribute and exercise the full CLI path without network."""
    date = parse_date(date)
    os.makedirs(workdir, exist_ok=True)
    dest = os.path.join(workdir, f"epss_scores-{date.isoformat()}.csv")
    url, fetch = snapshot_url(date), fetch or _default_fetch
    if not decompress:
        # the data stays gzipped: the .gz IS the artifact — return (and
        # idempotency-check) that path, not a .csv that never exists
        gz = dest + ".gz"
        if not os.path.exists(gz):
            _publish(gz, lambda tmp: fetch(url, tmp))
        return gz
    if os.path.exists(dest):
        return dest

    def fetch_and_gunzip(tmp: str) -> None:
        tmp_gz = tmp + ".gz"
        try:
            fetch(url, tmp_gz)
            with gzip.open(tmp_gz, "rb") as src, open(tmp, "wb") as out:
                shutil.copyfileobj(src, out)
        finally:
            if os.path.exists(tmp_gz):
                os.remove(tmp_gz)

    _publish(dest, fetch_and_gunzip)
    return dest


def download_snapshots(
    workdir: str,
    min_date: TIME,
    max_date: TIME,
    fetch: Callable[[str, str], None] | None = None,
    max_workers: int = 8,
) -> list[str]:
    """Thread-pooled multi-date fetch (reference: epss/client.py:126-161).
    I/O-bound driver work; the analytical parallelism lives in Spark tasks,
    not here."""
    dates = list(iter_dates(min_date, max_date))
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return list(pool.map(lambda d: download_snapshot(workdir, d, fetch=fetch), dates))


def resolve_max_date_http(timeout: float = 10.0) -> "dt.date":
    """Live max-date discovery (reference epss/client.py:386-402): HEAD the
    bare scores URL and regex the date out of the redirect Location header.
    Network-touching — production callers inject this as EPSSClient's
    max_date_resolver; tests and the correctness harness never call it."""
    import re
    import urllib.request

    class _NoRedirect(urllib.request.HTTPRedirectHandler):
        def redirect_request(self, *args, **kwargs):
            return None

    opener = urllib.request.build_opener(_NoRedirect)
    req = urllib.request.Request(f"{BASE_URL}/epss_scores-current.csv.gz", method="HEAD")
    try:
        opener.open(req, timeout=timeout)
        location = ""
    except urllib.error.HTTPError as e:  # 30x lands here with redirects disabled
        location = e.headers.get("Location", "")
    m = re.search(r"(\d{4}-\d{2}-\d{2})", location)
    if not m:
        raise ValueError(f"could not resolve max date from redirect {location!r}")
    return dt.date.fromisoformat(m.group(1))
