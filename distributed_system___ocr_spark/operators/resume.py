"""Checkpointed snapshot manifests + resume (SURVEY.md §4 custom row).

The reference has NO resume: if the manager dies, all accounting is
lost (Manager.java:50-60 heap maps; clients only see
MANAGER_TERMINATED, Manager.java:430-437). This module is the
Spark-native replacement for its count-based completion barrier (O9)
and at-least-once redelivery (O14): output commits are atomic
(write to run dir, then single-writer snapshot JSON rename), and a
restarted job left-anti-joins the input against the urls of the
committed run dirs, so killed jobs resume with ZERO reprocessing and
duplicates from retries are impossible (exactly-once output).

Layout (plain parquet standing in for Iceberg — no Iceberg runtime jar
in this container; the snapshot JSON mirrors Iceberg's
snapshot->manifest-list indirection and a real catalog slots in here):

    out_dir/
      extracted/run_id=<rid>/*.parquet   data files, partitioned by run;
                                         their url column is the
                                         processed set of the run
      lineage/run_id=<rid>/*.parquet     per-partition metrics
      manifest/*.parquet                 final url->count summary
      _checkpoint/
        snapshot-<n>.json                {"runs": [...], "n": n}
        LATEST                           name of current snapshot (atomic rename)

Out_dirs written before the processed set was read from the run dirs
also hold ``_checkpoint/processed/<rid>.parquet``; nothing reads it.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bloom import build_bloom, fits_broadcast, with_bloom_flag
from .extract import EXTRACTED_SCHEMA


def _ckpt(out_dir: str) -> str:
    return os.path.join(out_dir, "_checkpoint")


def _atomic_write(path: str, content: str) -> None:
    """tmp + fsync + rename + dir fsync: crash- AND power-loss-safe —
    no reader (or the replay guard) ever sees a torn file, and the
    rename can't outlive the data on journaled filesystems."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d)
    with os.fdopen(fd, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)  # persist the rename itself
    finally:
        os.close(dfd)


def load_snapshot(out_dir: str) -> dict | None:
    latest = os.path.join(_ckpt(out_dir), "LATEST")
    if not os.path.exists(latest):
        return None
    with open(latest) as f:
        name = f.read().strip()
    with open(os.path.join(_ckpt(out_dir), name)) as f:
        return json.load(f)


def all_committed_run_ids(out_dir: str) -> set[str]:
    """Union of run_ids across every COMMITTED snapshot (n <= the one
    LATEST points at). After compact() the latest snapshot lists only
    ``compacted-N``, but historical snapshots still reference the
    original run dirs — replaying one of those run_ids would rewrite
    data files that older snapshots point at, breaking time travel.
    The replay guard therefore checks this set, not the latest
    snapshot's.

    Snapshots NEWER than LATEST are ignored: a crash between writing
    snapshot-N.json and the LATEST rename leaves an uncommitted
    snapshot file whose run never published — retrying that run_id is
    exactly what resume is for. (Snapshot files are themselves written
    via tmp+rename, so a parseable-but-stale file is the only
    crash residue possible.)"""
    latest = load_snapshot(out_dir)
    if latest is None:
        return set()
    ck = _ckpt(out_dir)
    runs: set[str] = set()
    for n in range(latest["n"] + 1):
        path = os.path.join(ck, f"snapshot-{n}.json")
        try:
            with open(path) as f:
                runs.update(json.load(f).get("runs", []))
        except (FileNotFoundError, json.JSONDecodeError) as e:
            # fail LOUD: snapshots at or below LATEST are committed and
            # written fsync+atomically, so a missing/torn one means the
            # checkpoint store is corrupt — silently skipping it would
            # let a replay overwrite data files that time travel still
            # reads (the exact clobber this guard exists to prevent)
            raise RuntimeError(
                f"corrupt checkpoint: committed {path} is unreadable; "
                "repair the _checkpoint dir before writing new runs"
            ) from e
    return runs


def run_dirs(out_dir: str, runs: list[str]) -> list[str]:
    """The data dirs of ``runs`` under ``out_dir/extracted``."""
    base = os.path.join(out_dir, "extracted")
    return [os.path.join(base, f"run_id={r}") for r in runs]


def processed_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The ``url`` column of the run dirs the current snapshot lists.
    Only those dirs are read, never a glob over ``extracted/``, so a
    crashed run dir that never reached a snapshot stays invisible —
    that is the exactly-once property. The schema is given, so the
    read plans without a footer-inference job."""
    snap = load_snapshot(out_dir)
    if not snap or not snap["runs"]:
        return None
    return spark.read.schema("url string").parquet(
        *run_dirs(out_dir, snap["runs"])
    )


def _publish(out_dir: str, snap: dict) -> None:
    ck = _ckpt(out_dir)
    os.makedirs(ck, exist_ok=True)
    name = f"snapshot-{snap['n']}.json"
    _atomic_write(os.path.join(ck, name), json.dumps(snap))
    _atomic_write(os.path.join(ck, "LATEST"), name)  # atomic commit point


def commit_run(out_dir: str, run_id: str) -> dict:
    """Atomically publish a snapshot that adds ``run_id``'s written
    run dir to the committed runs. Single writer assumed (documented;
    a real catalog provides CAS here)."""
    prev = load_snapshot(out_dir)
    snap = {
        "n": (prev["n"] + 1) if prev else 0,
        "runs": (prev["runs"] if prev else []) + [run_id],
    }
    _publish(out_dir, snap)
    return snap


def pending(pages: DataFrame, processed: DataFrame | None) -> DataFrame:
    """Rows of ``pages`` whose url is not yet processed.

    Exact mechanism: left-anti join on url. While Catalyst's size
    estimate of the processed set fits the broadcast threshold, that
    is all (the planner broadcasts it). Past it, a bloom prefilter
    splits the input first — rows whose url hash misses the bloom are
    DEFINITELY unprocessed and skip the anti-join shuffle entirely;
    only bloom hits (processed + false positives) pay it. At 10^12
    docs with a mostly-complete prior run, that converts the anti-join
    from full-input-shuffle to tiny-remnant-shuffle. Choosing the path
    runs no job; only the bloom path counts the processed set.

    Known cost: the two branches each re-scan ``pages`` (the probe is
    a cheap numpy UDF; payloads are NOT shuffled either way). Caching
    the flagged frame would materialize payload bytes — worse than the
    second scan at any scale.
    """
    if processed is None:
        return pages
    keys = processed.select("url")
    if fits_broadcast(keys):
        return pages.join(keys, "url", "left_anti")
    bloom = build_bloom(keys, "url", expected=keys.count(), fpp=0.01)
    flagged = with_bloom_flag(pages, "url", bloom)
    definitely_new = flagged.filter(~F.col("_in_bloom")).drop("_in_bloom")
    candidates = flagged.filter(F.col("_in_bloom")).drop("_in_bloom")
    remnant = candidates.join(keys, "url", "left_anti")
    return definitely_new.unionByName(remnant)


def compact(
    spark: SparkSession,
    out_dir: str,
    target_partitions: int | None = None,
) -> dict:
    """Iceberg-style rewrite: merge all committed run dirs into one
    compacted run and publish a snapshot that references only it.

    Many incremental resume runs leave many small run dirs (the
    small-files problem — at 10^12 docs the metadata and open-cost of
    thousands of tiny runs dominates scan planning). Compaction
    rewrites data files; it never mutates old ones, so time travel to
    pre-compaction snapshots keeps working.
    """
    snap = load_snapshot(out_dir)
    if not snap or not snap["runs"]:
        raise FileNotFoundError(f"nothing to compact under {out_dir}")
    base = os.path.join(out_dir, "extracted")
    all_runs = spark.read.schema(EXTRACTED_SCHEMA).option(
        "basePath", base
    ).parquet(*run_dirs(out_dir, snap["runs"])).drop("run_id")
    n = snap["n"] + 1
    new_run = f"compacted-{n}"
    dest = os.path.join(base, f"run_id={new_run}")
    if target_partitions:
        all_runs = all_runs.coalesce(target_partitions)
    all_runs.write.mode("overwrite").parquet(dest)
    new_snap = {"n": n, "runs": [new_run]}
    _publish(out_dir, new_snap)  # atomic flip
    return new_snap
