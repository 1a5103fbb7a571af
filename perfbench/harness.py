"""The three workloads, the correctness check on every op, and the metrics.

Every op drives the program through its public functions (``session``,
``client``, ``plans.query``, ``operators.quantize``, ``sources.readers``,
``sources.ingest``, ``sources.sinks``) and is checked against the
generator's model; a failed check or an exception counts as a failed op.

Workloads (closed loops; a client sends its next op when the last returns):

- ``history_quantize`` (1 client): the ops alternate between the
  reference's own quantization benchmark (full-range unsorted
  ``get_changed_scores``, consumed by a count + checksum aggregate) and the
  CLI export path (sorted ``get_changed_scores`` -> ``write_any`` to
  Parquet). Scan, window shuffle and sort dominate; plan build is a small
  share.
- ``analyst_lookups`` (2 clients, one ``EPSSClient`` each): a seeded mix of
  50% one-day snapshots with a score floor (800-1200 rows), 35% 7-day
  watch-list change queries (20-200 ids, the CLI's default ``rlike`` match)
  and 15% single-CVE full histories (``isin``); dates skew to recent days;
  every result is rendered as JSON lines. Results are small, so plan build, file listing,
  job scheduling and collect dominate.
- ``daily_ingest`` (1 client): one op is one new day: download the upstream
  ``.csv.gz`` (local-copy fetch) -> ``read_snapshots`` -> dynamic
  ``date_partitioned_write`` -> ``incremental_changed_scores`` against the
  quantized store -> append to the store. The write path the two read
  workloads never run. Every ``INGEST_DAYS`` days the dataset and store are
  reset to the generated state, outside the timed ops.
"""

from __future__ import annotations

import io
import os
import resource
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from epss_spark import client as client_mod
from epss_spark import session
from epss_spark.operators.quantize import incremental_changed_scores, quantize
from epss_spark.plans import query as query_mod
from epss_spark.sources import ingest, readers, sinks
from pyspark.sql import functions as F

import datagen
from datagen import day
from tracing import Tracer

CLIENTS = {"history_quantize": 1, "analyst_lookups": 2, "daily_ingest": 1}
LOOKUP_MIX = (("snapshot", 0.50), ("watchlist", 0.35), ("cve_history", 0.15))
MIX = {  # share of each op kind in a workload's ops
    "history_quantize": {"full_range": 0.5, "export": 0.5},
    "analyst_lookups": dict(LOOKUP_MIX),
    "daily_ingest": {"ingest_day": 1.0},
}
# untimed, checked ops before timing. The driver JVM's JIT keeps speeding
# the lookups up for their first ~40 s (the 10 s median fell 1320 -> 690 ms
# over 50 s on 4 cores), and a window that times the steep part of that
# curve moves with it; the full-range ops level off after 10-15 s.
WARMUP_S = {"history_quantize": 15.0, "analyst_lookups": 30.0, "daily_ingest": 15.0}


def interleave(mix, n: int = 20) -> tuple[str, ...]:
    """A fixed cycle of ``n`` op kinds in the mix's proportions, each kind
    spread evenly, so every run of a few dozen ops sees the same mix (a
    random draw per op moves the medians more than the program does)."""
    counts = dict.fromkeys((k for k, _ in mix), 0)
    out = []
    for i in range(1, n + 1):
        kind = max(mix, key=lambda kw: kw[1] * i - counts[kw[0]])[0]
        counts[kind] += 1
        out.append(kind)
    return tuple(out)


LOOKUP_CYCLE = interleave(LOOKUP_MIX)


@dataclass
class OpResult:
    kind: str
    latency_s: float
    ok: bool
    rows_written: int  # rows the op exported, rendered or stored
    bytes_written: int  # bytes of those rows as the program wrote them
    traced: bool = False  # ran with spans and a job group


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def spark_checksum(df) -> tuple[int, int]:
    """(rows, CRC32 sum) of a change-event frame, computed by Spark."""
    key = F.concat_ws(
        "|",
        "cve",
        F.col("date").cast("string"),
        F.round(F.col("epss") * datagen.SCALE).cast("long").cast("string"),
    )
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32(key)).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def table_checksum(table, date: str | None = None) -> tuple[int, int]:
    """(rows, CRC32 sum) of a change-event Arrow table (``date`` if the
    table has no date column), computed in Python."""
    cves = table.column("cve").to_pylist()
    scores = [round(e * datagen.SCALE) for e in table.column("epss").to_pylist()]
    dates = [date] * len(cves) if date else [str(d) for d in table.column("date").to_pylist()]
    return len(cves), sum(datagen.row_checksum(c, d, s) for c, d, s in zip(cves, dates, scores))


def scan_output_rows(df) -> int:
    """Rows the file scans of ``df``'s executed plan produced (its
    ``numOutputRows`` metrics), following adaptive stages and caches."""
    return _scan_rows(df._jdf.queryExecution().executedPlan())


def _scan_rows(node) -> int:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _scan_rows(node.executedPlan())
    if cls.endswith("QueryStageExec"):
        return _scan_rows(node.plan())
    if cls == "InMemoryTableScanExec":
        return _scan_rows(node.relation().cachedPlan())
    if cls == "FileSourceScanExec":
        metric = node.metrics().get("numOutputRows")
        return int(metric.get().value()) if metric.isDefined() else 0
    children = node.children()
    return sum(_scan_rows(children.apply(i)) for i in range(children.size()))


def retained_mb(spark) -> float:
    """Memory held after the run: this process's resident set plus the
    driver JVM's live heap (after a full GC) and non-heap (class data, JIT
    code). It moves with what the program holds; the JVM's peak RSS
    (``peak_rss_mb``) mostly shows how much of its fixed 1 GB heap the
    collector touched."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_bytes = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    with open("/proc/self/statm") as f:
        py_bytes = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    return (py_bytes + jvm_bytes) / 2**20


class Bench:
    """One benchmark process: a Spark session over one generated dataset."""

    def __init__(self, ds: datagen.Dataset, work_dir: str, seed: int):
        self.ds = ds
        self.work = work_dir
        self.seed = seed
        self.k = ds.k
        self.n_days = ds.sizes.n_days
        self.first, self.last = day(0), day(self.n_days - 1)
        self.spark = None
        self.tracer: Tracer | None = None
        self.setup_s = float("nan")
        self.get_spark_s = float("nan")
        self.examined: dict[int, float] = {}  # op id -> scan rows per result row
        self.emitted = 0  # change events of the last full-range quantize
        self._ingest_day = 0  # next day of the current ingest cycle

    # -- set-up ---------------------------------------------------------
    def client(self) -> client_mod.EPSSClient:
        return client_mod.EPSSClient(self.spark, self.ds.history, max_date_resolver=lambda: self.last)

    def setup(self) -> None:
        """Session start + client + first runnable op, once: in a fresh
        process this includes the JVM launch, which is what a CLI user pays
        (a restarted session on the running JVM takes a tenth as long)."""
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.client().get_scores_by_date(self.last, query_mod.Query(min_value=0.5)).count()
        self.setup_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, enabled=False)

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- history_quantize -----------------------------------------------
    def op_full_range(self, client) -> bool:
        t = self.tracer
        with t.span("client.build"):
            df = client.get_changed_scores(self.first, self.last, sort=False)
        with t.span("client.exec"):
            n, s = spark_checksum(df)
        self.emitted = n
        truth = self.ds.truth
        return (n, s) == (truth["base_events"], truth["base_checksum"])

    def op_export(self, client, out: str) -> None:
        t = self.tracer
        with t.span("client.build"):
            df = client.get_changed_scores(self.first, self.last, sort=True)
        with t.span("client.exec"), t.span("sources.sinks.write"):
            sinks.write_any(df, out)
        client.unpersist()

    def check_export(self, out: str) -> tuple[bool, int, int]:
        """Sorted (date asc, cve desc) and equal to the ground truth."""
        parts = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
        tables = [pq.read_table(os.path.join(out, p)) for p in parts]
        keys = [k for tb in tables for k in zip(tb.column("date").to_pylist(), tb.column("cve").to_pylist())]
        ordered = all(a[0] < b[0] or (a[0] == b[0] and a[1] >= b[1]) for a, b in zip(keys, keys[1:]))
        n = s = 0
        for tb in tables:
            tn, ts = table_checksum(tb)
            n, s = n + tn, s + ts
        truth = self.ds.truth
        return ordered and (n, s) == (truth["base_events"], truth["base_checksum"]), n, dir_bytes(out)

    def op_history(self, client, rng, i: int) -> OpResult:
        """Odd ``i``: the unsorted full-range quantize; even: the export."""
        if i % 2:
            t0 = time.perf_counter()
            with self.tracer.op("full_range") as op_id:
                ok = self.op_full_range(client)
            return OpResult("full_range", time.perf_counter() - t0, ok, 0, 0, op_id is not None)
        out = os.path.join(self.work, "export", "changed.parquet")
        t0 = time.perf_counter()
        with self.tracer.op("export") as op_id:
            self.op_export(client, out)
        latency = time.perf_counter() - t0
        ok, n, nbytes = self.check_export(out)
        return OpResult("export", latency, ok, n, nbytes, op_id is not None)

    # -- analyst_lookups ------------------------------------------------
    def recent_day(self, rng, lo: int, hi: int) -> int:
        """A day in [lo, hi], skewed toward hi (analysts look at recent data)."""
        return hi - int((hi - lo + 1) * rng.random() ** 3)

    def lookup(self, client, kind: str, q, build, oracle: int) -> OpResult:
        t = self.tracer
        with t.op(kind) as op_id:
            t0 = time.perf_counter()
            if op_id is not None:
                with t.span("plans.query.compile"):
                    query_mod.compile_predicate(q)
            with t.span("client.build"):
                df = build()
            buf = io.StringIO()
            with t.span("client.exec"), t.span("sources.sinks.render"):
                sinks.render_console(df, fmt="jsonl", file=buf, full=True)
            latency = time.perf_counter() - t0
            text = buf.getvalue()
            rows = text.count("\n")
            if op_id is not None:
                self.examined[op_id] = scan_output_rows(df) / max(rows, 1)
        return OpResult(kind, latency, rows == oracle, rows, len(text.encode()), op_id is not None)

    def op_lookup(self, client, rng, i: int, kind: str | None = None) -> OpResult:
        kind = kind or LOOKUP_CYCLE[i % len(LOOKUP_CYCLE)]
        k, sizes = self.k, self.ds.sizes
        if kind == "snapshot":
            d = self.recent_day(rng, 0, self.n_days - 1)
            col = k[:, d]
            present = np.sort(col[col > 0])
            floor = int(present[-min(int(rng.integers(800, 1201)), present.size)])
            q = query_mod.Query(min_value=floor / datagen.SCALE)
            return self.lookup(
                client, kind, q, lambda: client.get_scores_by_date(day(d), q), int((col >= floor).sum())
            )
        if kind == "watchlist":
            d0 = self.recent_day(rng, 1, self.n_days - 7)
            known = sizes.n_cves + datagen.NEW_PER_DAY * (d0 - 1)
            idx = np.sort(rng.choice(known, size=int(rng.integers(20, 201)), replace=False))
            q = query_mod.Query(ids=tuple(datagen.cve_id(i) for i in idx.tolist()))
            window = k[:, d0 - 1 : d0 + 7]
            oracle = int(datagen.change_mask(window[idx])[:, 1:].sum())
            return self.lookup(
                client, kind, q, lambda: client.get_changed_scores(day(d0), day(d0 + 6), q), oracle
            )
        i = int(rng.integers(sizes.n_cves + datagen.NEW_PER_DAY * (self.n_days - 1)))
        q = query_mod.Query(ids=(datagen.cve_id(i),), match="isin")
        oracle = int(datagen.change_mask(k[i : i + 1, : self.n_days]).sum())
        return self.lookup(client, kind, q, lambda: client.get_changed_scores(self.first, self.last, q), oracle)

    # -- daily_ingest ---------------------------------------------------
    def reset_ingest(self, root: str) -> None:
        """Dataset and store back to the generated state."""
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.ds.history, os.path.join(root, "history"))
        shutil.copytree(self.ds.store, os.path.join(root, "store"))

    def ingest_day(self, root: str, j: int) -> OpResult:
        """Ingest generated day ``n_days + j`` into the copy under ``root``."""
        d = self.n_days + j
        dataset, store = os.path.join(root, "history"), os.path.join(root, "store")
        raw_in = os.path.join(root, "downloads")
        since, new = day(d - 1), day(d)

        def fetch(url: str, dest: str) -> None:
            shutil.copyfile(os.path.join(self.ds.raw, url.rsplit("/", 1)[1]), dest)

        t = self.tracer
        with t.op("ingest_day") as op_id:
            t0 = time.perf_counter()
            with t.span("sources.ingest.download"):
                paths = ingest.download_snapshots(raw_in, new, new, fetch=fetch)
            with t.span("sources.readers.snapshot_write"):
                readers.date_partitioned_write(readers.read_snapshots(self.spark, paths), dataset, dynamic=True)
            with t.span("operators.quantize.incremental"):
                window = self.spark.read.parquet(dataset).filter(
                    (F.col("date") >= F.lit(since)) & (F.col("date") <= F.lit(new))
                )
                events = incremental_changed_scores(
                    self.spark.read.parquet(store), window, since=since, raw_tail=window
                )
                readers.date_partitioned_write(events.drop("delta"), store, mode="append")
            latency = time.perf_counter() - t0
        part = f"date={new.isoformat()}"
        truth = self.ds.truth
        got_rows = pq.read_table(os.path.join(dataset, part)).num_rows
        got = table_checksum(pq.read_table(os.path.join(store, part)), new.isoformat())
        ok = got_rows == truth["ingest_rows"][j] and got == (
            truth["ingest_events"][j],
            truth["ingest_checksums"][j],
        )
        nbytes = dir_bytes(os.path.join(dataset, part)) + dir_bytes(os.path.join(store, part))
        return OpResult("ingest_day", latency, ok, got_rows, nbytes, op_id is not None)

    def check_store(self, root: str, days_done: int) -> bool:
        """After ``days_done`` ingested days the store equals the full
        quantization of the extended history."""
        import pyarrow.dataset as pads

        table = pads.dataset(os.path.join(root, "store"), partitioning="hive").to_table()
        truth = self.ds.truth
        want = (
            truth["base_events"] + sum(truth["ingest_events"][:days_done]),
            truth["base_checksum"] + sum(truth["ingest_checksums"][:days_done]),
        )
        return table_checksum(table) == want

    def op_ingest(self, client, rng, i: int) -> OpResult:
        root = os.path.join(self.work, "ingest")
        if self._ingest_day == 0:
            self.reset_ingest(root)
        res = self.ingest_day(root, self._ingest_day)
        self._ingest_day += 1
        if self._ingest_day == datagen.INGEST_DAYS:
            res.ok = res.ok and self.check_store(root, self._ingest_day)
            self._ingest_day = 0
        return res

    def finish_ingest(self) -> bool:
        """Check a cycle the run ended in the middle of."""
        if self._ingest_day == 0:
            return True
        ok = self.check_store(os.path.join(self.work, "ingest"), self._ingest_day)
        self._ingest_day = 0
        return ok

    # -- loops ----------------------------------------------------------
    def op_fn(self, workload: str):
        return {
            "history_quantize": self.op_history,
            "analyst_lookups": self.op_lookup,
            "daily_ingest": self.op_ingest,
        }[workload]

    def run_loop(self, workload: str, seconds: float, stream: int) -> list[OpResult]:
        """Closed loop: each client sends its next op when the last returns,
        and stops when the next op would likely end after ``seconds`` (it is
        expected to take as long as the last). Inputs come from (seed,
        stream, client)."""
        fn = self.op_fn(workload)
        n_clients = CLIENTS[workload]
        results: list[list[OpResult]] = [[] for _ in range(n_clients)]
        deadline = time.perf_counter() + seconds

        def client_loop(c: int) -> None:
            rng = np.random.default_rng([self.seed, stream, c])
            cl = self.client()
            i = c * 10  # clients start at different points of the lookup cycle
            last = 0.0
            while time.perf_counter() + last < deadline:
                i += 1
                t0 = time.perf_counter()
                try:
                    results[c].append(fn(cl, rng, i))
                except Exception:  # a failed op is counted, the run goes on
                    traceback.print_exc(file=sys.stderr)
                    results[c].append(OpResult(workload, 0.0, False, 0, 0))
                last = time.perf_counter() - t0
            cl.close()

        threads = [threading.Thread(target=client_loop, args=(c,)) for c in range(n_clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        out = [r for rs in results for r in rs]
        if workload == "daily_ingest" and not self.finish_ingest():
            out.append(OpResult("store_check", 0.0, False, 0, 0))
        return out


def median(values) -> float:
    """Median of ``values``; NaN when there are none (an op kind the run
    never reached), which the result line reports as 0."""
    values = list(values)
    return statistics.median(values) if values else float("nan")


def by_kind(results: list[OpResult]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in results:
        out.setdefault(r.kind, []).append(r.latency_s)
    return out


def mix_p50_s(workload: str, ok: list[OpResult]) -> float:
    """The op kinds' median latencies weighted by their share of the mix.
    The plain median of a mix of kinds with different latencies jumps
    between the kinds' clusters from run to run; this moves only when
    some kind's latency does."""
    lat = by_kind(ok)
    mix = {k: w for k, w in MIX[workload].items() if k in lat}
    if not mix:
        return float("nan")
    return sum(w * statistics.median(lat[k]) for k, w in mix.items()) / sum(mix.values())


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + jvm_kb) / 1024


def end_to_end(bench: Bench, workload: str, results: list[OpResult]) -> dict:
    ok = [r for r in results if r.ok]
    busy = sum(r.latency_s for r in ok) / CLIENTS[workload] or float("nan")
    rows_written = sum(r.rows_written for r in ok)
    return {
        "setup_s": (bench.setup_s, "s"),
        "op_p50_ms": (1000 * mix_p50_s(workload, ok), "ms"),
        "ops_per_s": (len(ok) / busy, "1/s"),
        "bytes_per_row": (sum(r.bytes_written for r in ok) / max(rows_written, 1), "B/row"),
        "retained_mb": (retained_mb(bench.spark), "MB"),
        "ok_ops_ratio": (len(ok) / max(len(results), 1), "ratio"),
    }


def user_report(bench: Bench, workload: str, measured: list[OpResult], attempted: list[OpResult]) -> dict:
    """The workload's own user-facing metrics, printed by name above the
    result line: the per-workload readings of the end-to-end metrics, plus
    the tail percentile and peak memory. ``measured`` are the timed ops,
    ``attempted`` every op of the run."""
    ok = [r for r in measured if r.ok]
    lat = by_kind(ok)
    m = {"setup_s": (bench.setup_s, "s")}
    if workload == "history_quantize":
        full = lat.get("full_range", [])
        m["quantize_rows_per_s"] = (bench.ds.base_rows * len(full) / (sum(full) or float("nan")), "rows/s")
        m["export_changed_s"] = (median(lat.get("export", [])), "s")
    elif workload == "analyst_lookups":
        all_lat = sorted(r.latency_s for r in ok)
        m["lookup_p50_ms"] = (1000 * median(all_lat), "ms")
        # p90 has at least ten samples beyond it only from 100 lookups up
        p90 = statistics.quantiles(all_lat, n=10)[-1] if len(all_lat) >= 2 else float("nan")
        m["lookup_p90_ms"] = (1000 * p90, "ms")
        m["lookups_per_s"] = (len(ok) * CLIENTS[workload] / (sum(all_lat) or float("nan")), "1/s")
        for kind, _ in LOOKUP_MIX:
            m[f"{kind}_p50_ms"] = (1000 * median(lat.get(kind, [])), "ms")
    else:
        m["ingest_day_s"] = (median(lat.get("ingest_day", [])), "s")
        rows = sum(r.rows_written for r in ok)
        m["ingest_bytes_per_row"] = (sum(r.bytes_written for r in ok) / max(rows, 1), "B/row")
    m["failed_ops_ratio"] = (sum(not r.ok for r in attempted) / max(len(attempted), 1), "ratio")
    m["peak_rss_mb"] = (peak_rss_mb(bench.spark), "MB")
    m["ops_measured"] = (len(ok), "count")
    return m


CLIENT_OPS = ("snapshot", "watchlist", "cve_history", "full_range", "export")
QUERY_OPS = ("snapshot", "watchlist", "cve_history")


# -- traced run -------------------------------------------------------------


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_sweep(bench: Bench) -> list[OpResult]:
    """One traced call of every layer, so each traced run reports every
    per-layer metric whichever workload it ran."""
    t, spark, hist = bench.tracer, bench.spark, bench.ds.history
    for _ in range(3):
        with t.span("sources.readers.list"):
            spark.read.parquet(hist)
    lo = F.date_sub(F.lit(bench.first), 1)  # quantize's own one-day lookback
    with t.span("sources.readers.scan"):
        noop(spark.read.parquet(hist).filter((F.col("date") >= lo) & (F.col("date") <= F.lit(bench.last))))
    with t.span("operators.quantize.quantize"):
        noop(quantize(spark.read.parquet(hist), min_time=bench.first, max_time=bench.last))
    rng = np.random.default_rng([bench.seed, 99])
    client = bench.client()
    results = [bench.op_history(client, rng, i) for i in (1, 2)]
    results += [bench.op_lookup(client, rng, 0, kind) for kind in QUERY_OPS]
    root = os.path.join(bench.work, "sweep_ingest")
    bench.reset_ingest(root)
    results.append(bench.ingest_day(root, 0))
    client.close()
    return results


def per_layer(bench: Bench, workload: str, measured: list[OpResult], swept: list[OpResult]) -> dict:
    """Per-layer metrics of a traced run: ``measured`` are the workload's own
    ops, every other op of each kind traced, ``swept`` the layer sweep."""
    t = bench.tracer
    counts = t.job_counts()

    def spans(name: str, kind: str | None = None) -> list[dict]:
        return [s for s in t.spans if s["name"] == name and (kind is None or t.ops.get(s["op"]) == kind)]

    def dur(name: str, kind: str | None = None) -> float:
        return median(s["end"] - s["start"] for s in spans(name, kind))

    def ops_of(kind: str) -> list[int]:
        return [o for o, k in t.ops.items() if k == kind]

    m = {
        "session.get_spark_s": (bench.get_spark_s, "s"),
        "sources.readers.list_ms": (1000 * dur("sources.readers.list"), "ms"),
    }
    for kind in CLIENT_OPS:
        m[f"client.build_ms.{kind}"] = (1000 * dur("client.build", kind), "ms")
        m[f"client.exec_ms.{kind}"] = (1000 * dur("client.exec", kind), "ms")
        for c in ("jobs", "stages", "tasks"):
            m[f"client.{c}.{kind}"] = (median(counts[o][c] for o in ops_of(kind)), "count")
    m["client.sort_overhead_s"] = (dur("op.export") - dur("op.full_range"), "s")
    scan_s, quantize_s = dur("sources.readers.scan"), dur("operators.quantize.quantize")
    m["sources.readers.scan_s"] = (scan_s, "s")
    m["operators.quantize.quantize_s"] = (quantize_s, "s")
    m["operators.quantize.self_s"] = (quantize_s - scan_s, "s")
    m["operators.quantize.emit_ratio"] = (bench.emitted / bench.ds.base_rows, "ratio")
    m["operators.quantize.incremental_s"] = (dur("operators.quantize.incremental"), "s")
    for kind in QUERY_OPS:
        m[f"plans.query.compile_us.{kind}"] = (1e6 * dur("plans.query.compile", kind), "us")
        m[f"plans.query.rows_examined_per_row.{kind}"] = (
            median(bench.examined[o] for o in ops_of(kind) if o in bench.examined),
            "ratio",
        )
    m["sources.sinks.render_ms"] = (1000 * dur("sources.sinks.render"), "ms")
    m["sources.sinks.write_s"] = (dur("sources.sinks.write"), "s")
    m["sources.ingest.download_s"] = (dur("sources.ingest.download"), "s")
    m["sources.readers.snapshot_write_s"] = (dur("sources.readers.snapshot_write"), "s")
    ingested = [r for r in measured + swept if r.kind == "ingest_day" and r.traced]
    m["sources.readers.bytes_written"] = (median(r.bytes_written for r in ingested), "B")
    roots = [s for s in t.spans if s["name"].startswith("op.")]
    m["jvm.gc_s"] = (sum(s["gc_s"] for s in roots) / max(len(roots), 1), "s")
    m["spark.failed_tasks"] = (sum(c["failed_tasks"] for c in counts.values()), "count")
    # traced and untraced ops alternate within one window, so JIT warm-up
    # and host drift fall on both sides alike
    base = mix_p50_s(workload, [r for r in measured if r.ok and not r.traced])
    traced = mix_p50_s(workload, [r for r in measured if r.ok and r.traced])
    m["trace.overhead_pct"] = (100 * (traced / base - 1), "%")
    return m
