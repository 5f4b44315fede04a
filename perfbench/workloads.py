"""The benchmark workloads. Each drives the engine only through its
public functions, from one driver thread in a closed loop (the next
call starts when the previous one returned), and checks every output
outside the timed region.

A workload function takes a ``Ctx`` and returns ``(e2e, layer)``: the
end-to-end metrics of the untraced numbers, and the per-layer metrics
(filled only when ``ctx.trace`` is on).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq

from inputs import cached, write_documents, write_pages, write_texts
from tracing import Labels, read_event_log, total, wrapped

CORES = 4
CRAWL_PAGES, CRAWL_NEW = 3000, 300
CURATE_PAGES, CURATE_NEW = 600, 60
SHA_SAMPLE = 200

# registry queries that re-implement a chain stage keyed by doc_id (the
# curation twins), and the n-gram family, whose exploded-gram shuffle
# the chain's span removal and decontamination share
TWIN_QUERIES = (
    "quality_gate_verdict dedup_segments_keep_first lm_quality_tail_drop "
    "train_val_test_split remove_common_spans decontaminate_ngram_overlap "
    "common_ngram_fraction split_leakage_ngram"
).split()
# stages whose shuffle volume the n-gram and dedup work should move
SHUFFLE_STAGES = (
    "span_removal", "segment_dedup", "neardup_prune", "decontaminate",
    "lm_quality",
)

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


class Ctx:
    """One benchmark process: session, directories and call accounting."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool):
        self.spark = spark
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.labels = Labels(spark.sparkContext, trace)
        self.finish_layer = None  # set by a traced workload; runs after stop
        self.gen_s = 0.0  # input generation, kept out of setup_s
        self.ready_at: float | None = None
        self.attempted = 0
        self.failed: set = set()
        self.notes: list[str] = []
        self.counts: dict = {}
        self.times: dict[str, list[float]] = {}  # timed call seconds by label

    def input(self, name: str, build) -> str:
        t0 = time.monotonic()
        path = cached(self.inputs, name, build)
        if self.ready_at is None:
            self.gen_s += time.monotonic() - t0
        return path

    def out_dir(self, name: str) -> str:
        path = os.path.join(self.work, "out", name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def ready(self) -> None:
        self.labels.set(None)
        self.ready_at = time.monotonic()

    def call(self, key, label: str, fn, timed: bool = True):
        """Run one public call under ``label``; returns (result, seconds),
        result None when it raised."""
        if timed:
            self.attempted += 1
        else:
            label = f"setup.{label}"
        self.labels.role = label
        self.labels.set(label)
        t0 = time.monotonic()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed call is a datum
            out = None
            self.fail(key, f"raised {type(exc).__name__}: {exc}"[:300])
        sec = time.monotonic() - t0
        self.labels.set(None)
        if timed:
            self.times.setdefault(label, []).append(round(sec, 3))
        return out, sec

    def skip(self, key) -> None:
        self.attempted += 1
        self.fail(key, "not run: an earlier call of its iteration failed")

    def check(self, key, ok: bool, what: str) -> None:
        if not ok:
            self.fail(key, f"check failed: {what}")

    def fail(self, key, why: str) -> None:
        self.failed.add(key)
        self.notes.append(f"{key}: {why}")

    def loop(self, iteration, min_iterations: int = 1) -> int:
        """Closed loop: iterations back to back until ``seconds`` have
        passed and at least ``min_iterations`` ran."""
        t_end = time.monotonic() + self.seconds
        i = 0
        while i < min_iterations or time.monotonic() < t_end:
            iteration(i)
            i += 1
        return i


def _e2e(ctx: Ctx, full: list, append: list, n_full: int,
         n_append: int) -> dict:
    """End-to-end figures over every timed call of a run: documents per
    second over all full and append calls together, the geometric mean
    of the call seconds (so the shorter append call weighs as much as
    the full one), and each kind's own throughput. Totals rather than
    per-call medians: a run holds only a few calls of each kind, and a
    total over several seconds is steadier on a shared host."""
    def ok(xs):
        return [s for k, s in xs if k not in ctx.failed] or [s for _, s in xs]

    f, a = ok(full), ok(append or full)
    return {
        "docs_per_s": (n_full * len(f) + n_append * len(a)) / (sum(f) + sum(a)),
        "call_geomean_s": _geomean(f + a),
        "full_docs_per_s": n_full * len(f) / sum(f),
        "append_docs_per_s": n_append * len(a) / sum(a),
    }


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def _urls(path: str) -> list[str]:
    return pq.read_table(path, columns=["url"]).column("url").to_pylist()


def _warm_spark(ctx: Ctx, pages: str) -> None:
    """Pay Spark's first-job costs (class loading, Python worker start,
    the first Arrow stage, shuffle and parquet write) in set-up."""
    from distributed_system___ocr_spark.operators.extract import extract_stage

    extract_stage(ctx.spark.read.parquet(pages)).groupBy("lang").count() \
        .write.mode("overwrite").parquet(os.path.join(ctx.work, "out", "warm"))


# ---------------------------------------------------------------------------
# traced-only layer probes shared by both workloads
# ---------------------------------------------------------------------------

def _extractor_layer(ctx: Ctx, pages: str, layer: dict) -> None:
    """``extract_payload`` on the driver, single-threaded, over every
    payload of ``pages``; then ``extract_stage`` over the same pages into
    a noop sink, so the extractor's share of the stage's core time shows
    how much of the stage is spent outside it (the Arrow boundary and
    Spark)."""
    from distributed_system___ocr_spark.extractor.core import extract_payload
    from distributed_system___ocr_spark.operators.extract import extract_stage

    payloads = pq.read_table(pages, columns=["html"]).column("html").to_pylist()
    sec = {"html": 0.0, "pdf": 0.0, "error": 0.0}
    n = Counter()
    statuses = Counter()
    for p in payloads:
        t0 = time.perf_counter()
        r = extract_payload(p)
        dt = time.perf_counter() - t0
        # "error": every payload that yields no text (corrupt or empty)
        kind = {"ok": "html", "ok_pdf": "pdf"}.get(r.status, "error")
        sec[kind] += dt
        n[kind] += 1
        statuses[r.status] += 1
    for kind in sec:
        layer[f"extractor.{kind}_us_per_doc"] = (
            1e6 * sec[kind] / n[kind] if n[kind] else 0.0
        )
    layer["extractor.error_rows"] = statuses["error"] + statuses["too_large"]

    ctx.labels.set("layer.extract_stage")
    t0 = time.monotonic()
    extract_stage(ctx.spark.read.parquet(pages)).write.format("noop").mode(
        "overwrite").save()
    s = time.monotonic() - t0
    ctx.labels.set(None)
    layer["extract_stage.s"] = s
    layer["extract_stage.boundary_share"] = 1 - sum(sec.values()) / (s * CORES)


def _spark_layer(ctx: Ctx, layer: dict, timed_s: float,
                 e2e: dict) -> dict:
    """Stop-time event-log figures: Spark-wide totals over the timed
    calls, and the traced end-to-end values (traced minus untraced is
    the tracing overhead)."""
    stats = read_event_log(os.path.join(ctx.work, "events"))
    timed = total(
        {k: v for k, v in stats.items()
         if k and not k.startswith(("layer.", "setup"))},
        "",
    )
    layer["extract_stage.task_skew"] = total(
        stats, "layer.extract_stage"
    ).task_skew
    layer["spark.core_busy_share"] = timed.run_ms / 1e3 / (timed_s * CORES)
    layer["spark.shuffle_write_bytes"] = timed.shuffle_write
    layer["spark.spill_bytes"] = timed.spill
    layer["spark.gc_s"] = timed.gc_ms / 1e3
    layer["spark.jobs"] = timed.jobs
    for k, v in e2e.items():
        layer[f"traced.{k}"] = v
    return stats


# ---------------------------------------------------------------------------
# crawl_extract
# ---------------------------------------------------------------------------

def crawl_extract(ctx: Ctx):
    from distributed_system___ocr_spark import pipeline
    from distributed_system___ocr_spark.extractor.core import extract_payload
    from distributed_system___ocr_spark.pipeline import (
        read_extracted,
        run_pipeline,
    )
    from distributed_system___ocr_spark.report import render_report
    from pyspark.sql import functions as F

    spark, seed = ctx.spark, ctx.seed
    src = ctx.input(f"pages-s{seed}-n{CRAWL_PAGES}", lambda p: write_pages(
        p, CRAWL_PAGES, CRAWL_NEW, seed))

    old_urls = _urls(os.path.join(src, "old"))
    new_urls = _urls(os.path.join(src, "new"))
    want_full = len(set(old_urls))
    want_append = len(set(new_urls) - set(old_urls))

    def iteration(old, both, out, tag, timed=True):
        def full():
            info = run_pipeline(spark, old, out, run_id="full")
            ctx.labels.set(f"{ctx.labels.role}:report.render")
            html = render_report(
                spark.read.parquet(info["manifest_path"]),
                read_extracted(spark, out),
            )
            return info, html

        r1, t1 = ctx.call(("full", tag), "full", full, timed)
        if r1 is None:
            if timed:
                ctx.skip(("append", tag))
            return r1, t1, None, None
        r2, t2 = ctx.call(("append", tag), "append", lambda: run_pipeline(
            spark, both, out, run_id="append"), timed)
        return r1, t1, r2, t2

    # set-up: one untimed round of the same two calls compiles the plans,
    # starts the Python workers and pays Spark's first-job costs
    old = spark.read.parquet(os.path.join(src, "old"))
    both = spark.read.parquet(os.path.join(src, "old"), os.path.join(src, "new"))
    iteration(old, both, ctx.out_dir("warm"), "warm", timed=False)
    ctx.ready()

    full_s, append_s = [], []
    targets = [
        (pipeline, "pending", "resume.antijoin"),
        (pipeline, "extract_stage", "pipeline.extract_dedup"),
        (pipeline, "commit_run", "pipeline.commit"),
        (pipeline, "lineage_from_extracted", "pipeline.lineage"),
        (pipeline, "build_manifest", "pipeline.manifest"),
    ] if ctx.trace else []
    all_counts = dict(Counter(old_urls + new_urls))
    sample = random.Random(seed).sample(sorted(set(old_urls)), SHA_SAMPLE)
    pages = pq.read_table(os.path.join(src, "old"),
                          columns=["url", "html"]).to_pydict()
    payload = dict(zip(pages["url"], pages["html"]))

    def one(i):
        out = ctx.out_dir("crawl")
        r1, t1, info2, t2 = iteration(old, both, out, i)
        full_s.append((("full", i), t1))
        if t2 is not None:
            append_s.append((("append", i), t2))
        if r1 is None or info2 is None:
            return
        # checks, between the timed calls of successive iterations
        info1, html = r1
        ctx.check(("full", i), info1["n_extracted_this_run"] == want_full,
                  f"first run extracted {info1['n_extracted_this_run']}, "
                  f"want {want_full} distinct urls")
        ctx.check(("full", i), html.count("<img src=") == len(old_urls),
                  "report blocks != submitted pages")
        ctx.check(("append", i), info2["n_extracted_this_run"] == want_append,
                  f"resume extracted {info2['n_extracted_this_run']}, "
                  f"want {want_append} new distinct urls")
        # the manifest, rewritten by the resume run over all pages, holds
        # every submitted url with its multiplicity and a status
        man = pq.read_table(info2["manifest_path"]).to_pydict()
        ctx.check(("append", i),
                  dict(zip(man["url"], man["n_occurrences"])) == all_counts,
                  "manifest urls/multiplicities != submitted pages")
        ctx.check(("append", i), None not in man["status"],
                  "manifest url without an extraction status")
        # committed text == pure-Python extractor output, by sha256
        rows = read_extracted(spark, out).where(
            F.col("url").isin(sample)).select("url", "text").collect()
        got = {r["url"]: r["text"] for r in rows}
        bad = [u for u in sample if u not in got or _sha(got[u]) != _sha(
            extract_payload(payload[u]).text)]
        ctx.check(("full", i), not bad,
                  f"{len(bad)} sampled urls differ from extract_payload")

    # two iterations at least: the calls still speed up from one
    # iteration to the next, so a run must not end after one
    with wrapped(ctx.labels, targets):
        ctx.loop(one, min_iterations=2)
    timed_s = sum(s for _, s in full_s + append_s)
    ctx.counts.update(extracted_full=want_full, extracted_append=want_append)

    e2e = _e2e(ctx, full_s, append_s, len(old_urls),
               len(old_urls) + len(new_urls))
    layer: dict = {}
    if ctx.trace:
        _extractor_layer(ctx, os.path.join(src, "old"), layer)
        secs = ctx.labels.seconds
        n_iter = len(full_s) or 1
        for name in ("pipeline.extract_dedup", "pipeline.commit",
                     "pipeline.lineage", "pipeline.manifest",
                     "report.render"):
            layer[f"{name}.s"] = secs.get(f"full:{name}", 0.0) / n_iter
        layer["resume.antijoin.s"] = secs.get(
            "append:resume.antijoin", 0.0) / n_iter
        ctx.finish_layer = lambda: _crawl_stats(ctx, layer, timed_s, e2e,
                                                n_iter)
    return e2e, layer


def _crawl_stats(ctx, layer, timed_s, e2e, n_iter):
    stats = _spark_layer(ctx, layer, timed_s, e2e)
    for name, label in (("pipeline.extract_dedup", "full:pipeline.extract_dedup"),
                        ("pipeline.manifest", "full:pipeline.manifest"),
                        ("resume.antijoin", "append:resume.antijoin")):
        layer[f"{name}.shuffle_bytes"] = total(
            stats, label).shuffle_write / n_iter


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# curate_chain
# ---------------------------------------------------------------------------

def _curate_kwargs(n_docs: int, eval_docs) -> tuple[dict, dict]:
    """Every opt-in stage, with the kwargs shape of ``bench.py``'s
    curation bench; the host quota and the span-removal threshold keep
    that bench's ratios to the corpus (25% and 2.5% of its docs)."""
    per_doc = dict(
        blocked_domains=["host19.example.com"],
        quality_min_chars=30,
        domain_cap=max(1, n_docs // 4),
        decon_eval=eval_docs,
        split_fracs=(0.9, 0.05),
    )
    full = dict(
        per_doc,
        remove_spans_min_docs=max(2, n_docs // 40),
        segment_dedup_n=32,
        semdedup_tau=0.92,
        lm_quality_drop_z=2.0,
        cluster_alpha=0.5,
        sample_alpha=0.7,
    )
    return full, per_doc


def _norm_cell(v):
    """Cell normalisation of tests/oracle_harness.py (floats to 9
    places, naive ISO timestamps, sequences and structs as tuples)."""
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        if hasattr(v, "tzinfo"):
            return v.replace(tzinfo=None).isoformat()
        return v.isoformat()
    return v


def _norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted((tuple(_norm_cell(r[i]) for i in idx) for r in rows),
                  key=repr)


def _oracle_diff(table, con, sql: str) -> str | None:
    """None when the Arrow result equals the DuckDB oracle's rows."""
    cur = con.execute(sql)
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    s_cols = table.column_names
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    if table.num_rows != len(d_rows):
        return f"rows {table.num_rows} != {len(d_rows)}"
    s_rows = list(zip(*(table.column(c).to_pylist() for c in s_cols)))
    if _norm_rows(s_cols, s_rows) != _norm_rows(d_cols, d_rows):
        return "values differ"
    return None


def curate_chain(ctx: Ctx):
    import pandas as pd

    from distributed_system___ocr_spark import curation
    from distributed_system___ocr_spark.curation import (
        audit_curation_chain,
        run_curation,
        run_curation_increment,
    )

    spark, seed = ctx.spark, ctx.seed
    pages = ctx.input(f"pages-s{seed}-n{CURATE_PAGES}", lambda p: write_pages(
        p, CURATE_PAGES, CURATE_NEW, seed))
    texts = ctx.input(f"texts-s{seed}-n{CURATE_PAGES}",
                      lambda p: write_texts(pages, p))
    n_docs, n_new = (
        sum(pq.read_metadata(os.path.join(texts, part, f)).num_rows
            for f in os.listdir(os.path.join(texts, part)))
        for part in ("old", "new")
    )
    docs = spark.read.parquet(os.path.join(texts, "old"))
    inc = spark.read.parquet(os.path.join(texts, "new"))
    eval_docs = spark.createDataFrame(pd.DataFrame(
        [{"text": f"benchmark holdout prompt {i} zq{i}a zq{i}b zq{i}c zq{i}d"}
         for i in range(200)]
    ))
    full_kw, inc_kw = _curate_kwargs(n_docs, eval_docs)
    _warm_spark(ctx, os.path.join(pages, "new"))
    ctx.ready()

    stage_targets = [
        (curation, "remove_boilerplate_spans", "span_removal"),
        (curation, "dedup_segments_first", "segment_dedup"),
        (curation, "exact_dedup_survivors", "exact_dedup"),
        (curation, "neardup_survivors", "neardup_prune"),
        (curation, "semdedup_prune", "semdedup"),
        (curation, "decontaminate_against", "decontaminate"),
        (curation, "lm_quality_survivors", "lm_quality"),
        (curation, "cluster_balance_docs", "cluster_balance"),
        (curation, "temperature_sample", "temperature_sample"),
    ] if ctx.trace else []
    full_s, inc_s = [], []
    stage_sec: dict = {}

    def one(i):
        out = ctx.out_dir("curate")
        info, t = ctx.call(("curate", i), "curate", lambda: run_curation(
            spark, docs, out, run_id="full", **full_kw))
        full_s.append((("curate", i), t))
        if info is None:
            ctx.skip(("increment", i))
            return
        inc_info, t = ctx.call(("increment", i), "increment",
                               lambda: run_curation_increment(
                                   spark, inc, out, run_id="inc", **inc_kw))
        inc_s.append((("increment", i), t))
        if inc_info is None:
            return
        stage_sec.update(curation=info["stage_sec"],
                         increment=inc_info["stage_sec"])
        # checks, after the timed calls
        n_bad = audit_curation_chain(spark, out).count()
        ctx.check(("increment", i), n_bad == 0,
                  f"audit_curation_chain found {n_bad} violations")
        ctx.check(("curate", i), 0 < info["n_survivors"] <= info["n_chunks"],
                  "survivors must be > 0 and <= chunks")
        _check_pins(ctx, {
            "survivors": info["n_survivors"], "chunks": info["n_chunks"],
            "increment_survivors": inc_info["n_survivors"]}, i)

    with wrapped(ctx.labels, stage_targets):
        ctx.loop(one)
    timed_s = sum(s for _, s in full_s + inc_s)

    e2e = _e2e(ctx, full_s, inc_s, n_docs, n_new)
    layer: dict = {}
    if ctx.trace:
        for call, secs in stage_sec.items():
            for k, v in secs.items():
                layer[f"{call}.{k}.s"] = v
        _twin_queries(ctx, texts, layer)
        _extractor_layer(ctx, os.path.join(pages, "old"), layer)
        n_iter = len(full_s) or 1

        def finish():
            stats = _spark_layer(ctx, layer, timed_s, e2e)
            for st in SHUFFLE_STAGES:
                layer[f"curation.{st}.shuffle_bytes"] = total(
                    stats, f"curate:{st}").shuffle_write / n_iter
            for q in TWIN_QUERIES:
                layer[f"plans.{q}.shuffle_bytes"] = total(
                    stats, f"layer.plans.{q}").shuffle_write

        ctx.finish_layer = finish
    return e2e, layer


def _twin_queries(ctx: Ctx, texts: str, layer: dict) -> None:
    """Traced runs only: each twin query once, built and collected over
    the chain's own corpus as the registry's ``documents`` table, split
    into plan build (which may run eager jobs) and execution, and
    checked against its DuckDB oracle."""
    import duckdb

    from distributed_system___ocr_spark.plans import REGISTRY

    tables = ctx.input(f"documents-{os.path.basename(texts)}",
                       lambda p: write_documents(texts, p))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(tables, 'documents.parquet')}'")
    for q in TWIN_QUERIES:
        ctx.attempted += 1
        ctx.labels.set(f"layer.plans.{q}")
        try:
            t0 = time.monotonic()
            df = REGISTRY[q]["builder"](ctx.spark, tables)
            t1 = time.monotonic()
            res = df.toArrow()
            t2 = time.monotonic()
        except Exception as exc:  # noqa: BLE001 — a failed call is a datum
            ctx.fail((q, 0), f"raised {type(exc).__name__}: {exc}"[:300])
            continue
        finally:
            ctx.labels.set(None)
        layer[f"plans.{q}.build_s"] = t1 - t0
        layer[f"plans.{q}.exec_s"] = t2 - t1
        diff = _oracle_diff(res, con, REGISTRY[q]["sql"])
        ctx.check((q, 0), diff is None, f"DuckDB oracle: {diff}")
    con.close()


def _check_pins(ctx: Ctx, counts: dict, i: int) -> None:
    """curate_chain counts pinned for this seed and size must repeat
    exactly. Seeds without a pin are checked by the invariants only,
    and the run says so."""
    ctx.counts.update(counts)
    with open(PINS) as f:
        pins = json.load(f).get(f"s{ctx.seed}-n{CURATE_PAGES}")
    if pins is None:
        ctx.notes.append(f"seed {ctx.seed}: no pinned counts, "
                         "invariant checks only")
        return
    for k, want in pins.items():
        call = "increment" if k == "increment_survivors" else "curate"
        ctx.check((call, i), counts.get(k) == want,
                  f"{k} = {counts.get(k)}, pinned {want}")


WORKLOADS = {"crawl_extract": crawl_extract, "curate_chain": curate_chain}
