"""End-to-end extraction pipeline (SURVEY.md §3.2 Spark equivalent).

    pages --filter(O2)--> anti-join resume vs committed run dirs -->
    [salted repartition(O3) if forced] --> mapInPandas extract
    (O4/O5/O6) --> last-wins dedup on extracted text (O8) --> write
    extracted(O11), row count observed --> commit snapshot -->
    lineage(O17) || manifest(O7/O10), written concurrently

Shuffle budget: ZERO shuffles of raw payload bytes on the default path
(file scans are byte-uniform; the only exchanges carry extracted text
for the dedup window and tiny key/count rows for resume + manifest).
At scale the extract stage dominates and its input partitioning comes
straight from the scan splits.

Cross-run semantics: within a run, last-wins dedup by (warc_ts,
xxhash64(text)); across runs, the FIRST committed extraction of a url
wins — a later re-crawl of an already-processed url is dropped by the
resume anti-join, mirroring the reference's one-result-per-distinct-url
contract (Manager.java:218-219). Re-extract a re-crawl by starting a
fresh out_dir (or a compaction run over the manifest).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.extract import EXTRACTED_SCHEMA, extract_stage
from .operators.lineage import lineage_from_extracted
from .operators.manifest import build_manifest, filter_nonblank, latest_per_key
from .operators.partitioning import salted_repartition
from .operators.resume import (
    all_committed_run_ids,
    commit_run,
    load_snapshot,
    pending,
    processed_urls,
    run_dirs,
)
from .writes import write_concurrently


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    num_partitions: int | None = None,
    write_manifest: bool = True,
) -> dict:
    """Run (or resume) the extraction job; returns summary counts/paths.

    run_id is a caller-supplied parameter (deterministic, resumable) —
    the reference's random UUID job ids (GeneralUtils.java:46-48) are
    replaced so reruns are addressable.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    if run_id in all_committed_run_ids(out_dir):
        # Replaying an EVER-committed run must not clobber its data
        # files (the overwrite below would; after compact() the latest
        # snapshot forgets old run_ids but time travel still reads
        # their dirs). Retrying a CRASHED run_id is fine — it never
        # reached any snapshot. Idempotent-rerun means: new run_id,
        # resume skips done urls.
        raise ValueError(
            f"run_id {run_id!r} is already committed in {out_dir}; "
            "rerun with a fresh run_id to resume"
        )
    pages = filter_nonblank(pages)

    # Resume: drop urls of the run dirs a prior snapshot committed.
    processed = processed_urls(spark, out_dir)
    todo = pending(pages, processed)

    # O3: uniform fan-out for the expensive stage. File scans are
    # already byte-uniform (maxPartitionBytes), so by default the
    # payload bytes NEVER cross a shuffle — at 10^12 docs a payload
    # shuffle would be the single largest cost in the job. An explicit
    # num_partitions forces a salted exchange (skewed/non-file sources,
    # or when the caller must match a parallelism level in benches).
    if num_partitions is not None:
        todo = salted_repartition(todo, "url", num_partitions)

    # O4/O5/O6: extract EVERY occurrence (scan-partitioned), then O8:
    # dedup last-wins on the extracted rows — text is ~1/3 the bytes of
    # raw payloads, so the dedup window's shuffle moves far less than a
    # pre-extraction dedup would, for ~5% redundant extraction work
    # (measured 3.1k -> 8k+ docs/s end-to-end; BENCH/BASELINE.md).
    extracted = latest_per_key(
        extract_stage(todo), order="warc_ts", tie_col="text"
    )

    # O11: write this run's data files. The row count rides along the
    # write as an observed metric: no read-back, no second job.
    run_dir = run_dirs(out_dir, [run_id])[0]
    written = Observation()
    extracted.observe(written, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(run_dir)
    n_extracted = written.get["n"]

    # Nothing was pending -> commit NOTHING. Without this, every
    # scheduled resubmission appends an empty run dir + snapshot entry
    # and rebuilds the manifest over the full input — manufacturing
    # the small-files problem compact() exists to fix.
    if processed is not None and n_extracted == 0:
        shutil.rmtree(run_dir)
        return {
            "run_id": run_id,
            "snapshot": load_snapshot(out_dir),
            "n_extracted_this_run": 0,
            "extracted_path": None,
            "manifest_path": None,
            "lineage_path": None,
            "skipped_empty_run": True,
        }

    # Atomic snapshot publish (exactly-once boundary).
    snap = commit_run(out_dir, run_id)

    # O17 lineage of this run + O7/O10 manifest over the FULL input vs
    # ALL committed runs, both from the written files (the schema is
    # the one just written, so the reads plan without a job).
    lineage_path = os.path.join(out_dir, "lineage", f"run_id={run_id}")
    read = spark.read.schema(extracted.schema)
    writes = [(
        lambda: lineage_from_extracted(read.parquet(run_dir), run_id),
        lineage_path,
    )]
    manifest_path = None
    if write_manifest:
        manifest_path = os.path.join(out_dir, "manifest")
        writes.append((
            lambda: build_manifest(
                pages, read.parquet(*run_dirs(out_dir, snap["runs"]))
            ),
            manifest_path,
        ))
    write_concurrently(writes)

    return {
        "run_id": run_id,
        "snapshot": snap,
        "n_extracted_this_run": n_extracted,
        "extracted_path": run_dir,
        "manifest_path": manifest_path,
        "lineage_path": lineage_path,
    }


def read_extracted(
    spark: SparkSession, out_dir: str, snapshot: int | None = None
) -> DataFrame:
    """All committed extracted rows (snapshot-scoped, like an Iceberg
    table read — uncommitted run dirs are never visible).

    ``snapshot=n`` time-travels to an earlier commit: the read sees
    exactly the runs listed by snapshot-n.json (snapshots are
    immutable; the data files they reference are never rewritten)."""
    import json as _json

    if snapshot is None:
        snap = load_snapshot(out_dir)
    else:
        path = os.path.join(out_dir, "_checkpoint", f"snapshot-{snapshot}.json")
        with open(path) as f:
            snap = _json.load(f)
    if not snap or not snap["runs"]:
        raise FileNotFoundError(f"no committed snapshot under {out_dir}")
    base = os.path.join(out_dir, "extracted")
    # the written schema, so the read plans without a footer-inference
    # job; the run_id partition column is still discovered from paths
    return spark.read.schema(EXTRACTED_SCHEMA).option(
        "basePath", base
    ).parquet(*run_dirs(out_dir, snap["runs"]))
