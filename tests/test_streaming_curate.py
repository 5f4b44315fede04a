"""Continuous curation: a file stream of extracted docs appends to one
committed curation chain — batch 0 bootstraps the base, every later
micro-batch is a run_curation_increment, and the snapshot log makes
the whole chain exactly-once across stream restarts."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from distributed_system___ocr_spark.curation import (
    load_curation_snapshot,
    read_curated,
)
from distributed_system___ocr_spark.streaming.stream import (
    curate_foreach_batch,
)


def _write_docs(spark, path, rows, mtime):
    # plain single parquet FILES (pyarrow), not Spark output dirs: the
    # file stream lists files under src/ and cannot descend into
    # non-partition subdirectories
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(rows)[["url", "text", "lang"]]
        ),
        path,
    )
    # the file source orders batches by modification time: pin it so
    # batch order is deterministic across filesystems
    os.utime(path, (mtime, mtime))


def _rows(prefix, n, host):
    return [
        {"url": f"https://{host}/{prefix}{i:03d}",
         "text": f"{prefix} doc %03d " % i
         + " ".join(f"{prefix}{i:03d}w{j:02d}" for j in range(60)),
         "lang": "en"}
        for i in range(n)
    ]


def test_streaming_curation_bootstraps_then_increments(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "cur")
    ck = str(tmp_path / "ck")
    t0 = time.time() - 100
    b0 = _rows("alpha", 8, "a.com")
    _write_docs(spark, os.path.join(src, "f0.parquet"), b0, t0)
    # batch 1: novel docs + an exact clone of an alpha survivor (must
    # drop keep-first against the committed base)
    b1 = _rows("beta", 4, "z.com") + [
        {"url": "https://z.com/clone", "text": b0[2]["text"],
         "lang": "en"},
    ]
    _write_docs(spark, os.path.join(src, "f1.parquet"), b1, t0 + 10)

    runs = curate_foreach_batch(
        spark, src, out, run_prefix="c", checkpoint_dir=ck,
        options={"maxFilesPerTrigger": 1},
    )
    assert [r["run_id"] for r in runs] == ["c-0", "c-1"]
    snap = load_curation_snapshot(out)
    assert snap["latest_run"] == "c-1"
    assert snap["run_parents"] == {"c-0": None, "c-1": "c-0"}
    cum = {
        r["url"]
        for r in read_curated(spark, out, cumulative=True).collect()
    }
    assert cum == {r["url"] for r in b0} | {
        r["url"] for r in b1 if r["url"] != "https://z.com/clone"
    }

    # restart on the same checkpoint: nothing new -> zero batches
    assert curate_foreach_batch(
        spark, src, out, run_prefix="c", checkpoint_dir=ck,
        options={"maxFilesPerTrigger": 1},
    ) == []

    # a third file lands -> exactly one more increment, chained
    b2 = _rows("gamma", 3, "q.com")
    _write_docs(spark, os.path.join(src, "f2.parquet"), b2, t0 + 20)
    runs3 = curate_foreach_batch(
        spark, src, out, run_prefix="c", checkpoint_dir=ck,
        options={"maxFilesPerTrigger": 1},
    )
    assert [r["run_id"] for r in runs3] == ["c-2"]
    snap = load_curation_snapshot(out)
    assert snap["run_parents"]["c-2"] == "c-1"
    assert read_curated(spark, out, cumulative=True).count() == len(cum) + 3


def test_streaming_curation_replayed_batch_skips(spark, tmp_path):
    """A replayed epoch (fresh stream checkpoint, committed snapshot)
    must SKIP, not double-commit and not crash on the replay-guard
    ValueError."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "cur")
    t0 = time.time() - 100
    _write_docs(
        spark, os.path.join(src, "f0.parquet"), _rows("alpha", 6, "a.com"),
        t0,
    )
    runs = curate_foreach_batch(
        spark, src, out, run_prefix="c",
        checkpoint_dir=str(tmp_path / "ck1"),
    )
    assert runs[0]["run_id"] == "c-0" and "skipped_replay" not in runs[0]
    n = read_curated(spark, out, cumulative=True).count()
    # fresh checkpoint -> the file re-delivers as epoch 0 again
    replay = curate_foreach_batch(
        spark, src, out, run_prefix="c",
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    assert replay == [{"run_id": "c-0", "skipped_replay": True}]
    assert read_curated(spark, out, cumulative=True).count() == n


def test_streaming_curation_rejects_corpus_global_knobs(spark, tmp_path):
    """Every corpus-global stage of the curation table (``inc=False``)
    is rejected up front, before any stream starts, with its message."""
    from distributed_system___ocr_spark.curation import _STAGES

    switches = [s.switch for s in _STAGES if s.inc is False]
    assert len(switches) == 6
    ck = tmp_path / "ck"
    for k in switches:
        with pytest.raises(ValueError) as exc:
            curate_foreach_batch(
                spark, str(tmp_path / "missing"), str(tmp_path / "o"),
                checkpoint_dir=str(ck), **{k: 1},
            )
        assert str(exc.value) == (
            f"{k} is a corpus-global stage — its statistics are "
            "properties of the whole corpus, so it cannot run per "
            "micro-batch; run a full batch re-curate instead"
        )
    assert not ck.exists() and not spark.streams.active
