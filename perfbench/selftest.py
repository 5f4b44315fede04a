"""Fast self-test of the benchmark at a tiny size (about two
minutes on 4 cores).

    python3 perfbench/selftest.py

It checks ``BENCHMARK.json`` against the metric-name and unit rules,
runs both workloads traced at a tiny size through the code the
benchmark runs, and requires every correctness check to pass and every
listed metric to be produced. Then it breaks one output on purpose (a
rendered report that lost a block) and requires the run to count the
call as failed. Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
# added by run.py around the workload, not by the workload itself
RUN_METRICS = {"setup_s", "jvm.peak_rss_mb"}


def check_spec(spec: dict) -> list[str]:
    errors = []
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    errors += [f"bad name {n!r}" for n in names if not NAME.fullmatch(n)]
    errors += [f"name {n!r} used twice" for n in set(names)
               if names.count(n) > 1]
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT.fullmatch(m["unit"]):
            errors.append(f"bad unit {m['unit']!r} of {m['name']}")
        if m["better"] not in ("higher", "lower"):
            errors.append(f"bad 'better' of {m['name']}")
    for m in spec["end_to_end"]:
        if not 0 < m["bound"] <= 0.25:
            errors.append(f"bound of {m['name']} outside (0, 0.25]")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        errors.append("setup_s must be an end-to-end metric in s, lower")
    return errors


def main() -> int:
    sys.path[:0] = [os.path.dirname(HERE), HERE]
    import run
    import workloads as w

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = check_spec(spec)

    w.CRAWL_PAGES, w.CRAWL_NEW = 120, 12
    w.CURATE_PAGES, w.CURATE_NEW = 150, 15
    w.SHA_SAMPLE = 20
    work = os.path.join(run.WORK, "selftest")
    spark, _ = run.start_session(work, trace=True)
    results = {}
    try:
        for name, fn in w.WORKLOADS.items():
            ctx = w.Ctx(spark, work, seed=7, seconds=0, trace=True)
            results[name] = (ctx, *fn(ctx))
            errors += [f"{name}: {n}" for n in ctx.notes
                       if "no pinned counts" not in n]

        # forced failure: the report loses one block, the check must see it
        from distributed_system___ocr_spark import report

        render = report.render_report
        report.render_report = lambda *a, **kw: render(*a, **kw).replace(
            "<img src=", "<img lost=", 1)
        try:
            ctx = w.Ctx(spark, work, seed=7, seconds=0, trace=False)
            w.crawl_extract(ctx)
        finally:
            report.render_report = render
        if not ctx.failed or len(ctx.failed) / ctx.attempted <= 0:
            errors.append("a report missing a block was not counted as failed")
    finally:
        run.stop_session(spark)

    produced = set(RUN_METRICS)
    for name, (ctx, e2e, layer) in results.items():
        ctx.finish_layer()
        produced |= set(layer)
        for m in spec["end_to_end"]:
            if m["name"] in RUN_METRICS:
                continue
            if not e2e.get(m["name"], 0) > 0:
                errors.append(f"{name}: {m['name']} missing or not > 0")
    listed = {m["name"] for m in spec["per_layer"]}
    errors += [f"per-layer {n} listed but never measured"
               for n in sorted(listed - produced)]
    errors += [f"per-layer {n} measured but not listed"
               for n in sorted(produced - listed - RUN_METRICS)]
    for e in errors:
        print(f"selftest: FAIL {e}", file=sys.stderr)
    print("selftest: ok" if not errors else f"selftest: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
