"""End-to-end pipeline tests: determinism, multiplicity, resume,
lineage, plan hygiene (SURVEY.md §5.2/§5.4)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distributed_system___ocr_spark.operators.extract import extract_stage
from distributed_system___ocr_spark.operators.manifest import latest_per_key
from distributed_system___ocr_spark.operators.partitioning import (
    salted_repartition,
)
from distributed_system___ocr_spark.pipeline import read_extracted, run_pipeline

from conftest import jobs_of_call


def test_end_to_end(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    info = run_pipeline(spark, pages, out, run_id="r1", num_partitions=8)

    n_urls = pages.select("url").distinct().count()
    assert info["n_extracted_this_run"] == n_urls

    extracted = read_extracted(spark, out)
    assert extracted.count() == n_urls
    assert extracted.select("url").distinct().count() == n_urls

    # manifest multiplicity: counts re-expand to the input size
    manifest = spark.read.parquet(info["manifest_path"])
    assert manifest.count() == n_urls
    assert (
        manifest.agg(F.sum("n_occurrences")).collect()[0][0] == pages.count()
    )
    # every url got a status (errors are rows, never dropped)
    assert manifest.filter(F.col("status").isNull()).count() == 0

    # lineage accounting covers every extracted row exactly once
    lineage = spark.read.parquet(info["lineage_path"])
    agg = lineage.agg(
        F.sum("rows_out").alias("rows"),
        F.sum("n_ok").alias("ok"),
        F.sum("n_pdf").alias("pdf"),
        F.sum("n_empty").alias("empty"),
        F.sum("n_failed").alias("failed"),
    ).collect()[0]
    assert agg["rows"] == n_urls
    assert agg["ok"] + agg["pdf"] + agg["empty"] + agg["failed"] == n_urls
    assert agg["ok"] > 0 and agg["pdf"] > 0
    assert (lineage.select("wall_ms").agg(F.min("wall_ms")).collect()[0][0]) >= 0


def test_byte_identical_across_parallelism(spark, pages):
    """The correctness contract (§2c-1): same text per url no matter
    the partitioning."""
    d = latest_per_key(pages)
    h1 = (
        extract_stage(salted_repartition(d, num_partitions=2))
        .select("url", F.sha2("text", 256).alias("h"))
        .collect()
    )
    h2 = (
        extract_stage(salted_repartition(d, num_partitions=13, seed=7))
        .select("url", F.sha2("text", 256).alias("h"))
        .collect()
    )
    m1 = {r["url"]: r["h"] for r in h1}
    m2 = {r["url"]: r["h"] for r in h2}
    assert m1 == m2
    assert len(m1) == d.count()


def test_rerun_is_stable_and_resume_skips_done(spark, pages, tmp_path):
    """Kill-rerun semantics: a second run over a superset input
    extracts ONLY new urls (anti-join resume, zero reprocessing)."""
    out = str(tmp_path / "out")
    # deterministic subset by url hash — limit() on a repartitioned df
    # has unstable ROW IDENTITY across executions (classic no-ORDER-BY
    # LIMIT), so "which 300 rows" would differ between the pipeline's
    # run and this test's recount
    first = pages.filter(F.abs(F.xxhash64("url")) % 5 != 0)
    info1 = run_pipeline(spark, first, out, run_id="r1", num_partitions=4)
    n1 = first.select("url").distinct().count()
    assert info1["n_extracted_this_run"] == n1

    info2 = run_pipeline(spark, pages, out, run_id="r2", num_partitions=4)
    n_all = pages.select("url").distinct().count()
    assert info2["n_extracted_this_run"] == n_all - n1  # zero reprocessed

    extracted = read_extracted(spark, out)
    assert extracted.count() == n_all
    assert extracted.select("url").distinct().count() == n_all

    # a third run with nothing new extracts nothing AND commits nothing:
    # scheduled resubmissions must not grow the snapshot run list with
    # empty run dirs (the small-files problem, manufactured)
    snap_before = read_extracted(spark, out).select("run_id").distinct().count()
    info3 = run_pipeline(spark, pages, out, run_id="r3", num_partitions=4)
    assert info3["n_extracted_this_run"] == 0
    assert info3.get("skipped_empty_run") is True
    assert info3["snapshot"]["runs"] == ["r1", "r2"]
    assert not os.path.exists(os.path.join(out, "extracted", "run_id=r3"))
    assert (
        read_extracted(spark, out).select("run_id").distinct().count()
        == snap_before
    )


def test_crash_before_commit_invisible(spark, pages, tmp_path):
    """A run dir without a snapshot commit must be invisible to readers
    and re-done on resume (exactly-once boundary)."""
    out = str(tmp_path / "out")
    run_pipeline(spark, pages.limit(100), out, run_id="r1", num_partitions=4)
    # simulate a crashed run: data files exist, never committed
    orphan = os.path.join(out, "extracted", "run_id=orphan")
    extract_stage(latest_per_key(pages.limit(150))).write.parquet(orphan)
    snap_runs = read_extracted(spark, out).select("run_id").distinct().collect()
    assert {r["run_id"] for r in snap_runs} == {"r1"}


def test_replay_of_committed_run_id_rejected(spark, pages, tmp_path):
    """Replaying a committed run_id must not clobber its data files
    (found by runtime probe: the overwrite emptied the run dir)."""
    import pytest

    out = str(tmp_path / "out")
    run_pipeline(spark, pages.limit(50), out, run_id="r1", num_partitions=4)
    with pytest.raises(ValueError, match="already committed"):
        run_pipeline(spark, pages.limit(50), out, run_id="r1", num_partitions=4)
    assert read_extracted(spark, out).count() > 0


def test_crashed_snapshot_does_not_block_retry(spark, pages, tmp_path):
    """A crash AFTER snapshot-N.json is written but BEFORE the LATEST
    flip leaves an unpublished snapshot naming the run. That run never
    committed, so retrying its run_id must succeed (the replay guard
    only honors snapshots at or below LATEST)."""
    import json

    out = str(tmp_path / "out")
    run_pipeline(spark, pages.limit(50), out, run_id="r1", num_partitions=4)
    # simulate the crash residue: snapshot-1.json exists, LATEST still
    # points at snapshot-0
    ck = os.path.join(out, "_checkpoint")
    with open(os.path.join(ck, "snapshot-1.json"), "w") as f:
        json.dump({"n": 1, "runs": ["r1", "r-crashed"]}, f)
    info = run_pipeline(
        spark, pages.limit(50), out, run_id="r-crashed", num_partitions=4
    )
    assert info["run_id"] == "r-crashed"
    # its commit superseded the stale residue: snapshot-1 now real
    assert read_extracted(spark, out).count() > 0


def test_replay_after_compact_rejected(spark, pages, tmp_path):
    """The replay guard must cover run_ids from EVERY snapshot, not
    just the latest: after compact() the latest snapshot lists only
    compacted-N, but replaying r1 would rewrite a data dir that the
    pre-compaction snapshot still references (time travel would then
    read clobbered data)."""
    import pytest

    from distributed_system___ocr_spark.operators.resume import compact

    out = str(tmp_path / "out")
    run_pipeline(spark, pages.limit(50), out, run_id="r1", num_partitions=4)
    compact(spark, out)
    with pytest.raises(ValueError, match="already committed"):
        run_pipeline(spark, pages.limit(50), out, run_id="r1", num_partitions=4)
    # the pre-compaction snapshot still reads its original files
    assert read_extracted(spark, out, snapshot=0).count() > 0


def test_extract_scan_prunes_text_column(spark, pages, tmp_path):
    """The extract stage must not read (or ship through Arrow) the
    input's text column — on real Common-Crawl tables it carries KBs
    per row of previously extracted text. Pinned at the SCAN: the
    parquet ReadSchema excludes it."""
    src = str(tmp_path / "pages_src")
    pages.limit(50).write.parquet(src)
    plan = (
        extract_stage(spark.read.parquet(src))
        ._jdf.queryExecution().executedPlan().toString()
    )
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" in read_schema
    assert "text" not in read_schema


def test_plan_hygiene_no_rowwise_python(spark, pages):
    """Audit (§7-4): extract stage plan = one MapInPandas, no
    row-at-a-time Python (BatchEvalPython), input exchange is the
    salted hash repartition."""
    d = salted_repartition(pages, num_partitions=8)
    plan = extract_stage(d)._jdf.queryExecution().executedPlan().toString()
    assert ("MapInArrow" in plan) or ("PythonMapInArrow" in plan)
    assert "BatchEvalPython" not in plan
    assert "xxhash64" in plan  # the salted exchange


def test_error_rows_counted_complete(spark):
    """Corrupt payloads yield rows that count toward completion
    (Worker.java:86-98 + Manager.java:223 analogue)."""
    import pandas as pd
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    from distributed_system___ocr_spark.extractor.core import (
        MAX_PAYLOAD_BYTES,
    )

    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(5)],
            "warc_ts": [ts] * 5,
            "html": [b"<p>" + b"good content " * 5 + b"</p>",
                     b"\xff\xfe garbage", b"", None,
                     b"x" * (MAX_PAYLOAD_BYTES + 1)],
            "text": [""] * 5,
            "lang": ["en"] * 5,
        }
    )
    df = spark.createDataFrame(pdf)
    res = extract_stage(df).collect()
    assert len(res) == 5  # nothing dropped
    by_url = {r["url"]: r for r in res}
    assert by_url["u0"]["status"] == "ok"
    assert by_url["u2"]["status"] == "empty"
    assert by_url["u3"]["status"] == "empty"
    assert by_url["u4"]["status"] == "too_large"

    # too_large counts as failed in lineage (done/failed accounting)
    from distributed_system___ocr_spark.operators.lineage import (
        lineage_from_extracted,
    )

    lin = lineage_from_extracted(extract_stage(df), "t").agg(
        F.sum("n_failed")).collect()[0][0]
    assert lin == 1


# Spark jobs per call on this file's fixture (`pages`, num_partitions=4):
# (before the row count was observed on the extraction write, now). Each
# job costs ~0.1 s JVM-only and 0.3-0.5 s with a Python UDF.
JOBS_PER_CALL = {"full": (14, 9), "resume": (21, 10), "empty": (5, 3)}


def test_calls_run_few_jobs_all_in_callers_group(spark, pages, tmp_path):
    """A full run, a resume and an empty resume each run at most the
    measured number of jobs, and every one of them — the lineage and
    manifest writes on their own threads included — carries the
    caller's job group (the threads inherit it)."""
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    first = pages.filter(F.abs(F.xxhash64("url")) % 5 != 0)
    calls = [
        ("full", first, "j1"),
        ("resume", pages, "j2"),
        ("empty", pages, "j3"),
    ]
    for name, df, rid in calls:
        info, grouped, stray = jobs_of_call(
            sc, f"jobs-{name}-{tmp_path.name}",
            lambda: run_pipeline(spark, df, out, run_id=rid,
                                 num_partitions=4),
        )
        before, now = JOBS_PER_CALL[name]
        assert now < before
        assert 0 < len(grouped) <= now, (name, len(grouped))
        assert not stray, (name, sorted(stray))
    assert info.get("skipped_empty_run") is True


def test_orphan_run_dir_is_not_processed(spark, pages, tmp_path):
    """Resume reads the processed urls from the committed run dirs
    only: a run dir that was written but never committed does not
    count, so a resume re-extracts its urls."""
    out = str(tmp_path / "out")
    first = pages.filter(F.abs(F.xxhash64("url")) % 3 == 0)
    info1 = run_pipeline(spark, first, out, run_id="r1", num_partitions=4)
    n1 = info1["n_extracted_this_run"]
    orphan_pages = pages.filter(F.abs(F.xxhash64("url")) % 3 == 1)
    orphan = os.path.join(out, "extracted", "run_id=orphan")
    extract_stage(latest_per_key(orphan_pages)).write.parquet(orphan)

    info2 = run_pipeline(spark, pages, out, run_id="r2", num_partitions=4)
    n_all = pages.select("url").distinct().count()
    assert info2["n_extracted_this_run"] == n_all - n1
    assert read_extracted(spark, out).count() == n_all


def test_manifest_failure_propagates_after_lineage_finishes(
    spark, pages, tmp_path, monkeypatch
):
    """An error in the manifest write leaves run_pipeline only once the
    concurrent lineage write has finished (its _SUCCESS marker is there
    when the error arrives), whether it is raised while building the
    manifest frame or by the write on its thread."""
    import threading
    import time

    import pytest
    from pyspark import InheritableThread
    from pyspark.sql.functions import udf

    from distributed_system___ocr_spark import pipeline

    @udf("long")
    def slow(n):
        time.sleep(0.5)
        return n

    orig_lineage = pipeline.lineage_from_extracted
    monkeypatch.setattr(
        pipeline, "lineage_from_extracted",
        lambda df, rid: orig_lineage(df, rid).withColumn(
            "rows_out", slow("rows_out")),
    )

    def raise_now(pages, extracted):
        raise RuntimeError("manifest boom")

    def raise_on_write(pages, extracted):
        return spark.range(1).select(
            F.raise_error(F.lit("manifest boom")).cast("string").alias("x")
        )

    for i, broken in enumerate((raise_now, raise_on_write)):
        monkeypatch.setattr(pipeline, "build_manifest", broken)
        out = str(tmp_path / f"out{i}")
        with pytest.raises(Exception, match="manifest boom"):
            run_pipeline(spark, pages.limit(40), out, run_id="r1",
                         num_partitions=4)
        lineage = os.path.join(out, "lineage", "run_id=r1")
        assert os.path.exists(os.path.join(lineage, "_SUCCESS")), broken
        assert not [t for t in threading.enumerate()
                    if isinstance(t, InheritableThread)]


def test_read_extracted_plans_without_a_job(spark, pages, tmp_path):
    """``read_extracted`` reads with the written schema, so it runs no
    footer-inference job, and it still discovers the ``run_id``
    partition column with the type a schema-less read infers: int for
    numeric-only run ids, string once any id is not a number."""
    from distributed_system___ocr_spark.operators.resume import run_dirs

    sc = spark.sparkContext
    half = pages.filter(F.abs(F.xxhash64("url")) % 2 == 0)
    for run_ids, run_id_type in ((["0001"], "int"),
                                 (["0001", "r2"], "string")):
        out = str(tmp_path / "-".join(run_ids))
        for rid, df in zip(run_ids, (half, pages)):
            run_pipeline(spark, df, out, run_id=rid, num_partitions=4)
        df, grouped, stray = jobs_of_call(
            sc, f"read-{len(run_ids)}-{tmp_path.name}",
            lambda: read_extracted(spark, out),
        )
        assert not grouped and not stray
        inferred = spark.read.option(
            "basePath", os.path.join(out, "extracted")
        ).parquet(*run_dirs(out, run_ids))
        assert df.schema == inferred.schema
        assert dict(df.dtypes)["run_id"] == run_id_type
