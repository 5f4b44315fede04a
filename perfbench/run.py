"""Benchmark entry point: one workload, one seed, one line of JSON results.

    python3 perfbench/run.py --workload crawl_extract --seed 1 \
        --seconds 12 --trace 0

Runs from any working directory. The engine package is imported from
the checkout this file sits in, and every file the run writes (inputs
cache, Spark scratch, event log, outputs) stays under ``perfbench/.work``.
The metric names and units come from ``BENCHMARK.json`` at the
checkout root: ``--trace 0`` prints its ``end_to_end`` metrics,
``--trace 1`` its ``per_layer`` metrics, measured in a run with the
Spark event log on and every public call labelled.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _jvm_peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the Spark JVM")


def start_session(work: str, trace: bool):
    """The benchmark's Spark session: ``local[4]``, a 3 GB driver heap,
    every scratch file under ``work``, and with ``trace`` the Spark
    event log in ``work/events``. Returns (session, JVM process)."""
    from pyspark import SparkContext

    from distributed_system___ocr_spark.session import get_spark
    from workloads import CORES

    events = os.path.join(work, "events")
    shutil.rmtree(events, ignore_errors=True)
    os.makedirs(events)
    # workers import the engine from this checkout whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.chdir(work)  # derby.log and any other cwd-relative file
    extra = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=2 * CORES, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SparkContext._gateway.proc


def stop_session(spark) -> None:
    """Stop the session, then the JVM (its Python workers exit with it),
    and wait for the process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    try:
        import distributed_system___ocr_spark as engine
    except ImportError as exc:
        engine = exc
    if not os.path.dirname(getattr(engine, "__file__", "")).startswith(ROOT):
        print(f"perfbench: no engine package in {ROOT}: {engine}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    spark, jvm = start_session(WORK, bool(args.trace))
    try:
        ctx = Ctx(spark, WORK, args.seed, args.seconds, bool(args.trace))
        e2e, layer = WORKLOADS[args.workload](ctx)
        e2e["setup_s"] = ctx.ready_at - T_START - ctx.gen_s
        layer["jvm.peak_rss_mb"] = _jvm_peak_rss_mb(jvm)
    finally:
        stop_session(spark)
    if ctx.finish_layer is not None:
        ctx.finish_layer()
    print(f"perfbench: ready {ctx.ready_at - T_START:.1f}s, "
          f"done {time.monotonic() - T_START:.1f}s after start",
          file=sys.stderr)

    for note in ctx.notes:
        print(f"perfbench: {note}", file=sys.stderr)
    print(f"perfbench: counts {json.dumps(ctx.counts, sort_keys=True)}",
          file=sys.stderr)
    print(f"perfbench: call seconds {json.dumps(ctx.times)}", file=sys.stderr)
    if args.trace:
        print(f"perfbench: layer {json.dumps(layer, sort_keys=True)}",
              file=sys.stderr)
    measured = layer if args.trace else e2e
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in measured]
    if missing:
        print(f"perfbench: not measured on {args.workload}, reported as 0: "
              + " ".join(missing), file=sys.stderr)
    metrics = {m["name"]: {"value": measured.get(m["name"], 0),
                           "unit": m["unit"]} for m in names}
    print(json.dumps({
        "correct": not ctx.failed,
        "attempted": ctx.attempted,
        "failed": len(ctx.failed),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
