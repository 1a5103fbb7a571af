"""EPSS user-path benchmark. Run from the repository root:

    python3 perfbench/run.py --workload analyst_lookups --seed 1 --seconds 20 --trace 0

Workloads: history_quantize, analyst_lookups, daily_ingest (see harness.py
and README.md). The inputs are generated from ``--seed`` (cached under
``perfbench/.cache``); Spark, the JVM and the ops write only under
``perfbench/.work``. Progress goes to stderr. An untraced run first prints
the workload's own named metrics, one ``<workload> <name> <value> <unit>``
line each. The last line of stdout is one JSON object ``{"correct",
"attempted", "failed", "metrics"}`` holding the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``. Exits 2 when the
program (``epss_spark``) is not importable.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# days x CVEs of each workload's data, both about 0.9M dense rows. The
# lookups and the ingest get 120 days, as many as a 120-day production
# window: every spark.read.parquet(root) then lists more partitions than
# Spark's 32-path threshold and runs its parallel listing job, which is most
# of a lookup's plan build at full scale too. history_quantize gets fewer,
# larger days so that its full-range op stays bound by scan, shuffle and sort.
SIZES = {"history_quantize": (30, 30_000), "analyst_lookups": (120, 7_500), "daily_ingest": (120, 7_500)}


def spark_cpus(workload: str) -> int:
    """Spark task slots for ``workload``: every core, except that
    history_quantize gets half. Its scan and sort keep every slot busy, and
    on a shared 4-core host its runs then spread twice as much: 9% with 4
    slots against 4% with 2, over 4 interleaved runs of each."""
    n = len(os.sched_getaffinity(0))
    return max(1, n // 2) if workload == "history_quantize" else n


def configure_env(work: str, cpus: int) -> None:
    """Point every directory Spark, the JVM and Python write to at ``work``
    and give Spark ``cpus`` task slots."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms1g -XX:-UsePerfData" pyspark-shell'
    )


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def run_workload(
    workload: str, seed: int, seconds: float, trace: bool, ds, work: str, warmup_s: float | None = None
) -> tuple[dict, dict]:
    """Set up, warm up and measure one workload. Returns the result object
    and, for an untraced run, the workload's named user metrics."""
    import harness

    if warmup_s is None:
        warmup_s = harness.WARMUP_S[workload]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    bench = harness.Bench(ds, work, seed)
    try:
        log("set-up")
        bench.setup()
        log(f"set-up took {bench.setup_s:.2f} s; warm-up")
        warm = bench.run_loop(workload, warmup_s, stream=98)
        log(f"measuring {workload} for {seconds} s")
        if trace:
            # a half window and the layer sweep take about as long as an
            # untraced run
            bench.tracer.enabled = bench.tracer.alternate = True
            measured = bench.run_loop(workload, seconds / 2, stream=0)
            bench.tracer.alternate = False
            swept = harness.layer_sweep(bench)
            metrics = harness.per_layer(bench, workload, measured, swept)
            bench.tracer.write(os.path.join(work, f"spans-{workload}-{seed}.jsonl"))
            results = warm + measured + swept
            report = {}
        else:
            measured = bench.run_loop(workload, seconds, stream=0)
            metrics = harness.end_to_end(bench, workload, measured)
            results = warm + measured
            report = harness.user_report(bench, workload, measured, results)
        log("stopping")
    finally:
        bench.close()
    failed = sum(not r.ok for r in results)
    result = {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {
            name: {"value": value if math.isfinite(value) else 0.0, "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }
    return result, report


def stop_jvm() -> None:
    """Stop the JVM PySpark launched and wait until it has exited: it exits
    when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("history_quantize", "analyst_lookups", "daily_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(HERE, ".work")
    configure_env(work, spark_cpus(args.workload))
    sys.path.insert(0, ROOT)
    try:
        import epss_spark.client  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    import datagen

    log(f"inputs for seed {args.seed}")
    ds = datagen.cached(os.path.join(HERE, ".cache"), args.seed, datagen.Sizes(*SIZES[args.workload]))
    try:
        result, report = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), ds, os.path.join(work, "run")
        )
    finally:
        stop_jvm()
    for name, (value, unit) in report.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
