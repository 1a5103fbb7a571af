"""Seeded EPSS-like data for the benchmark, built with numpy + pyarrow only.

The program under test never sees the generator: it receives the files
written here and nothing else.

Model (one integer matrix, ``K[cve, day]`` = epss * 1e5, 0 = not yet
published):

- ``n_cves`` CVEs are present on the first day; ``NEW_PER_DAY`` more are
  published every later day (they never disappear).
- Every day about ``CHANGE_RATE`` of the present CVEs move to a new score
  (log-normal step, never equal to the old one), so a CVE's change events
  are its first day plus the days its score moved.
- The percentile is the score's rank within its day, 5 decimals, as upstream.
- CVE ids are fixed width, so no id is a substring of another and the CLI's
  default ``rlike`` watch-list match selects exactly the listed ids.

Days ``0 .. n_days-1`` form the base history, written as the ingest layout
(``date=``-partitioned Parquet, one file per day) together with its quantized
store (the change events, same layout). Days ``n_days .. n_days+INGEST_DAYS-1``
are written as upstream ``epss_scores-YYYY-MM-DD.csv.gz`` files: a
``#model_version`` comment line, a header, no date column.

Ground truth (event counts and an order-insensitive CRC32 sum over
``cve|date|epss*1e5``) is computed here from the model, never by the program.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import shutil
import zlib
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

START = dt.date(2023, 3, 7)  # first day of the EPSS v3 model epoch
SCALE = 100_000  # scores are multiples of 1e-5, like upstream
FORMAT_VERSION = 1  # bump when the model or the layout changes
INGEST_DAYS = 7  # upstream-format days after the base history
NEW_PER_DAY = 20  # CVEs published each day after the first
CHANGE_RATE = 0.01  # share of the present CVEs whose score moves each day
KEEP = 12  # generated datasets kept in the cache


@dataclass(frozen=True)
class Sizes:
    n_days: int
    n_cves: int

    @property
    def total_days(self) -> int:
        return self.n_days + INGEST_DAYS

    @property
    def total_cves(self) -> int:
        return self.n_cves + NEW_PER_DAY * (self.total_days - 1)


def day(i: int) -> dt.date:
    return START + dt.timedelta(days=i)


def cve_id(i: int) -> str:
    return f"CVE-{1999 + i % 25}-{i:07d}"


def build_matrix(seed: int, sizes: Sizes) -> np.ndarray:
    """The score matrix K (int32, total_cves x total_days; 0 = absent)."""
    rng = np.random.default_rng(seed)
    n, t = sizes.total_cves, sizes.total_days
    k = np.zeros((n, t), dtype=np.int32)
    # heavy-tailed like real EPSS: most scores are far below 0.01
    first = np.maximum(1, (SCALE * rng.random(n) ** 12).astype(np.int64))
    present = np.zeros(n, dtype=bool)
    cur = np.zeros(n, dtype=np.int64)
    for d in range(t):
        hi = sizes.n_cves + NEW_PER_DAY * d
        newly = ~present[:hi]
        idx = np.flatnonzero(newly)
        cur[idx] = first[idx]
        present[:hi] = True
        if d > 0:
            move = np.flatnonzero(rng.random(hi) < CHANGE_RATE)
            move = move[~np.isin(move, idx)]
            step = np.exp(rng.normal(0.0, 0.4, size=move.size))
            nxt = np.clip(np.rint(cur[move] * step), 1, SCALE).astype(np.int64)
            same = nxt == cur[move]
            nxt[same] = np.where(cur[move][same] < SCALE, cur[move][same] + 1, SCALE - 1)
            cur[move] = nxt
        k[:hi, d] = cur[:hi]
    return k


def percentiles(col: np.ndarray) -> np.ndarray:
    """Rank-based percentile of each present score within one day."""
    out = np.zeros(col.shape, dtype=np.float64)
    present = np.flatnonzero(col > 0)
    vals = col[present]
    # share of the day's scores <= this one (ties share the top rank)
    ranks = np.searchsorted(np.sort(vals), vals, side="right")
    out[present] = np.round(ranks / vals.size, 5)
    return out


def change_mask(w: np.ndarray) -> np.ndarray:
    """Change events of the window ``w`` quantized on its own: each CVE's
    first present day in the window, and every day its score moved."""
    prev = np.zeros_like(w)
    prev[:, 1:] = w[:, :-1]
    return (w > 0) & (w != prev)


def row_checksum(cve: str, date: str, score: int) -> int:
    """CRC32 of one change event; the benchmark sums it over a result (the
    same spelling as the Spark-side ``crc32(concat_ws('|', ...))``)."""
    return zlib.crc32(f"{cve}|{date}|{score}".encode())


def event_checksum(k: np.ndarray, mask: np.ndarray) -> tuple[int, int]:
    """(count, CRC32 sum) over the events in ``mask`` (columns = days from 0)."""
    rows, cols = np.nonzero(mask)
    total = sum(
        row_checksum(cve_id(r), day(c).isoformat(), int(k[r, c]))
        for r, c in zip(rows.tolist(), cols.tolist())
    )
    return int(rows.size), total


def _ids(n: int) -> np.ndarray:
    return np.array([cve_id(i) for i in range(n)], dtype=object)


def _day_table(k: np.ndarray, pct: np.ndarray, ids: np.ndarray, d: int, rows: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "cve": pa.array(ids[rows], pa.string()),
            "epss": pa.array(k[rows, d] / SCALE, pa.float64()),
            "percentile": pa.array(pct[rows, d], pa.float64()),
        }
    )


def _write_partition(root: str, d: int, table: pa.Table) -> None:
    part = os.path.join(root, f"date={day(d).isoformat()}")
    os.makedirs(part, exist_ok=True)
    pq.write_table(table, os.path.join(part, "part-00000.parquet"))


def _fixed5(v: np.ndarray) -> pa.Array:
    """Non-negative integer multiples of 1e-5, spelled with 5 decimals."""
    whole = pc.cast(pa.array(v // SCALE), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(v % SCALE), pa.string()), width=5, padding="0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _write_raw_day(path: str, k: np.ndarray, pct: np.ndarray, ids: np.ndarray, d: int) -> None:
    rows = np.flatnonzero(k[:, d] > 0)
    table = pa.table(
        {
            "cve": pa.array(ids[rows], pa.string()),
            "epss": _fixed5(k[rows, d].astype(np.int64)),
            "percentile": _fixed5(np.rint(pct[rows, d] * SCALE).astype(np.int64)),
        }
    )
    body = pa.BufferOutputStream()
    pcsv.write_csv(table, body, pcsv.WriteOptions(include_header=False, quoting_style="none"))
    with gzip.open(path, "wb", compresslevel=1) as f:
        f.write(f"#model_version:v2023.03.01,score_date:{day(d).isoformat()}T00:00:00+0000\n".encode())
        f.write(b"cve,epss,percentile\n")
        f.write(body.getvalue().to_pybytes())


class Dataset:
    """Paths and ground truth of one generated dataset (read-only)."""

    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, "meta.json")) as f:
            meta = json.load(f)
        self.seed = meta["seed"]
        self.sizes = Sizes(**meta["sizes"])
        self.truth = meta["truth"]
        self.history = os.path.join(root, "history")
        self.store = os.path.join(root, "store")
        self.raw = os.path.join(root, "raw")
        self._k: np.ndarray | None = None

    @property
    def k(self) -> np.ndarray:
        if self._k is None:
            self._k = build_matrix(self.seed, self.sizes)
        return self._k

    @property
    def base_rows(self) -> int:
        return self.truth["base_rows"]


def generate(root: str, seed: int, sizes: Sizes) -> None:
    """Write the whole dataset under ``root`` (which must not exist)."""
    k = build_matrix(seed, sizes)
    pct = np.stack([percentiles(k[:, d]) for d in range(sizes.total_days)], axis=1)
    ids = _ids(sizes.total_cves)
    base = k[:, : sizes.n_days]
    events = change_mask(base)
    for d in range(sizes.n_days):
        _write_partition(os.path.join(root, "history"), d, _day_table(k, pct, ids, d, np.flatnonzero(base[:, d] > 0)))
        _write_partition(os.path.join(root, "store"), d, _day_table(k, pct, ids, d, np.flatnonzero(events[:, d])))
    os.makedirs(os.path.join(root, "raw"))
    for d in range(sizes.n_days, sizes.total_days):
        _write_raw_day(os.path.join(root, "raw", f"epss_scores-{day(d).isoformat()}.csv.gz"), k, pct, ids, d)
    full = change_mask(k)
    base_events, base_sum = event_checksum(base, events)
    ingest = []
    for d in range(sizes.n_days, sizes.total_days):
        one_day = np.zeros_like(full)
        one_day[:, d] = full[:, d]
        ingest.append(event_checksum(k, one_day))
    truth = {
        "base_rows": int((base > 0).sum()),
        "base_events": base_events,
        "base_checksum": base_sum,
        # per ingested day: raw rows, new change events, their CRC32 sum
        "ingest_rows": [int((k[:, d] > 0).sum()) for d in range(sizes.n_days, sizes.total_days)],
        "ingest_events": [n for n, _ in ingest],
        "ingest_checksums": [c for _, c in ingest],
    }
    with open(os.path.join(root, "meta.json"), "w") as f:
        json.dump({"seed": seed, "sizes": asdict(sizes), "truth": truth}, f)


def cached(cache_dir: str, seed: int, sizes: Sizes) -> Dataset:
    """The dataset for (seed, sizes), generated on first use and kept under
    ``cache_dir``; only the ``KEEP`` most recently used datasets stay."""
    name = f"v{FORMAT_VERSION}_s{seed}_d{sizes.n_days}_n{sizes.n_cves}"
    root = os.path.join(cache_dir, name)
    if not os.path.exists(os.path.join(root, "meta.json")):
        shutil.rmtree(root, ignore_errors=True)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, sizes)
        os.replace(tmp, root)
    os.utime(root)
    others = [
        os.path.join(cache_dir, e)
        for e in os.listdir(cache_dir)
        if e != name and not e.endswith(".tmp")
    ]
    for old in sorted(others, key=os.path.getmtime)[: max(0, len(others) - (KEEP - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return Dataset(root)
