"""Incremental curation: append a new crawl batch against a committed
base run without re-curating the corpus (the 100-TB operating mode —
a monthly snapshot lands and only the new documents flow through the
chain, deduped against what is already committed).

Keep-first semantics: committed survivors are never revoked; a new doc
drops if it exact- or near-duplicates ANY committed survivor; quotas
(domain cap) fill only the remaining headroom. Corpus-global stages
(span removal, segment dedup, SemDeDup, LM-quality, cluster balance,
temperature) are rejected in incremental mode — their statistics are
properties of the whole corpus and require a full re-curate."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from distributed_system___ocr_spark.curation import (
    load_curation_snapshot,
    read_curated,
    run_curation,
    run_curation_increment,
)

from conftest import jobs_of_call


def _base_docs(spark):
    # base urls sort BEFORE increment urls, so full-batch min-url
    # dedup picks the same representatives keep-first picks — the
    # equivalence fixture's load-bearing property
    rows = [
        {"url": f"https://a.com/b{i:03d}",
         "text": "base document %03d " % i
         + " ".join(f"b{i:03d}w{j:02d}" for j in range(60)),
         "lang": "en"}
        for i in range(12)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def _inc_docs(spark):
    base = {r["url"]: r["text"] for r in _base_docs(spark).collect()}
    rows = [
        # novel docs
        {"url": f"https://z.com/n{i:03d}",
         "text": "novel increment doc %03d " % i
         + " ".join(f"n{i:03d}w{j:02d}" for j in range(60)),
         "lang": "en"}
        for i in range(5)
    ]
    # exact clone of a base survivor (different url) -> must drop
    rows.append({"url": "https://z.com/exact-clone",
                 "text": base["https://a.com/b003"], "lang": "en"})
    # near-dup of a base survivor (one token changed) -> must drop
    rows.append({"url": "https://z.com/near-clone",
                 "text": base["https://a.com/b005"].replace(
                     "b005w30", "changed"), "lang": "en"})
    # resubmitted base url (already processed) -> resume-dropped
    rows.append({"url": "https://a.com/b001",
                 "text": base["https://a.com/b001"], "lang": "en"})
    # near-dup PAIR inside the increment -> min url survives
    nn = ("fresh pair body " +
          " ".join(f"pairw{j:02d}" for j in range(60)))
    rows.append({"url": "https://z.com/pair-a", "text": nn, "lang": "en"})
    rows.append({"url": "https://z.com/pair-b",
                 "text": nn.replace("pairw30", "tweaked"), "lang": "en"})
    # blank -> input-filtered
    rows.append({"url": "https://z.com/blank", "text": "", "lang": "en"})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_increment_keep_first_dedup_and_resume(spark, tmp_path):
    out = str(tmp_path / "cur")
    run_curation(spark, _base_docs(spark), out, run_id="base")
    info = run_curation_increment(
        spark, _inc_docs(spark), out, run_id="inc1",
    )
    inc_survivors = {
        r["url"] for r in read_curated(spark, out, run_id="inc1").collect()
    }
    assert inc_survivors == (
        {f"https://z.com/n{i:03d}" for i in range(5)}
        | {"https://z.com/pair-a"}
    )
    # cumulative view = base survivors + increment survivors
    cum = {
        r["url"]
        for r in read_curated(spark, out, cumulative=True).collect()
    }
    assert cum == inc_survivors | {
        f"https://a.com/b{i:03d}" for i in range(12)
    }
    # lineage accounts the resume drop and both dedup drops
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["resume_anti_join"] == (10, 9)   # b001 resubmission
    assert lin["exact_dedup"][0] - lin["exact_dedup"][1] == 1
    assert lin["neardup_prune"][1] == 6
    assert info["n_survivors"] == 6


def test_increment_equals_full_batch_curation(spark, tmp_path):
    """THE equivalence gate: base-then-increment must produce the same
    cumulative survivor set as one full curation over the union (the
    fixture's base urls sort first, so min-url representatives and
    keep-first agree)."""
    out_inc = str(tmp_path / "inc")
    out_full = str(tmp_path / "full")
    run_curation(spark, _base_docs(spark), out_inc, run_id="base")
    run_curation_increment(spark, _inc_docs(spark), out_inc,
                           run_id="inc1")
    all_docs = _base_docs(spark).unionByName(_inc_docs(spark))
    run_curation(spark, all_docs, out_full, run_id="full")
    cum = {
        (r["url"], r["text"])
        for r in read_curated(spark, out_inc, cumulative=True).collect()
    }
    full = {
        (r["url"], r["text"])
        for r in read_curated(spark, out_full).collect()
    }
    assert cum == full


def test_increment_noop_resume_and_replay_guard(spark, tmp_path):
    out = str(tmp_path / "cur")
    run_curation(spark, _base_docs(spark), out, run_id="base")
    run_curation_increment(spark, _inc_docs(spark), out, run_id="i1")
    # identical batch against the same parent -> barrier no-op
    info2 = run_curation_increment(
        spark, _inc_docs(spark), out, run_id="i2",
    )
    assert info2.get("skipped_noop") is True
    # replaying a committed run_id is rejected
    with pytest.raises(ValueError, match="already committed"):
        run_curation_increment(spark, _inc_docs(spark), out, run_id="i1")
    # a CHANGED batch re-curates and chains onto the latest run
    extra = spark.createDataFrame(pd.DataFrame([
        {"url": "https://z.com/extra",
         "text": "another genuinely novel text "
         + " ".join(f"xw{j:02d}" for j in range(60)), "lang": "en"},
    ]))
    info3 = run_curation_increment(
        spark, _inc_docs(spark).unionByName(extra), out, run_id="i3",
    )
    assert "skipped_noop" not in info3
    snap = load_curation_snapshot(out)
    assert snap["run_parents"]["i3"] == "i1"
    assert snap["run_parents"]["i1"] == "base"
    assert snap["run_parents"]["base"] is None
    cum = {
        r["url"]
        for r in read_curated(spark, out, cumulative=True).collect()
    }
    assert "https://z.com/extra" in cum
    # i3 re-evaluated the i1 batch but resume-dropped ALL of it: only
    # the extra doc is new work
    assert read_curated(spark, out, run_id="i3").count() == 1


def test_increment_rejects_corpus_global_stages_and_no_base(
    spark, tmp_path
):
    out = str(tmp_path / "cur")
    with pytest.raises(FileNotFoundError, match="no committed"):
        run_curation_increment(spark, _base_docs(spark), out,
                               run_id="i0")
    run_curation(spark, _base_docs(spark), out, run_id="base")
    for knob in ("remove_spans_min_docs", "segment_dedup_n",
                 "lm_quality_drop_z"):
        with pytest.raises(ValueError, match="full re-curate"):
            run_curation_increment(
                spark, _inc_docs(spark), out, run_id="ix",
                **{knob: 2},
            )
    with pytest.raises(ValueError, match="full re-curate"):
        run_curation_increment(spark, _inc_docs(spark), out,
                               run_id="ix", semdedup_tau=0.9)
    with pytest.raises(ValueError, match="full re-curate"):
        run_curation_increment(spark, _inc_docs(spark), out,
                               run_id="ix", cluster_alpha=0.5)
    with pytest.raises(ValueError, match="full re-curate"):
        run_curation_increment(spark, _inc_docs(spark), out,
                               run_id="ix", sample_alpha=0.5)


def test_increment_domain_cap_fills_remaining_quota(spark, tmp_path):
    """cap=3 with 2 committed base docs on the host leaves ONE slot:
    the longest new doc on that host wins it; other hosts are
    unaffected."""
    out = str(tmp_path / "cur")
    base = spark.createDataFrame(pd.DataFrame([
        {"url": f"https://hot.com/b{i}",
         "text": "base hot doc "
         + " ".join(f"hb{i}w{j:02d}" for j in range(50)), "lang": "en"}
        for i in range(2)
    ]))
    run_curation(spark, base, out, run_id="base")
    inc = spark.createDataFrame(pd.DataFrame([
        {"url": "https://hot.com/short",
         "text": "short "
         + " ".join(f"hsw{j}" for j in range(30)), "lang": "en"},
        {"url": "https://hot.com/long",
         "text": "long "
         + " ".join(f"hlw{j:03d}" for j in range(90)), "lang": "en"},
        {"url": "https://cold.com/only",
         "text": "cold host doc "
         + " ".join(f"cw{j:02d}" for j in range(50)), "lang": "en"},
    ]))
    info = run_curation_increment(
        spark, inc, out, run_id="inc", domain_cap=3,
    )
    got = {r["url"] for r in read_curated(spark, out, run_id="inc").collect()}
    assert got == {"https://hot.com/long", "https://cold.com/only"}
    assert info["n_after_domain_cap"] == 2


def test_increment_split_stamp_and_packed_layout(spark, tmp_path):
    """The increment's survivors carry the same growth-stable salted
    split stamp as a base run, and cumulative reads union split and
    splitless runs without schema errors."""
    out = str(tmp_path / "cur")
    run_curation(spark, _base_docs(spark), out, run_id="base")
    run_curation_increment(
        spark, _inc_docs(spark), out, run_id="inc",
        split_fracs=(0.6, 0.2),
    )
    inc = read_curated(spark, out, run_id="inc")
    assert set(inc.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"
    }
    cum = read_curated(spark, out, cumulative=True)
    assert "split" in cum.columns
    assert cum.filter(F.col("url").startswith("https://a.com")).filter(
        F.col("split").isNotNull()
    ).count() == 0  # base run had no split stage; nulls, not errors


def test_vacuum_retains_ancestors_of_kept_increments(spark, tmp_path):
    """vacuum keep_last=1 keeps the latest increment AND its whole
    parent chain (cumulative reads depend on every ancestor), while
    an unrelated superseded full run is dropped."""
    from distributed_system___ocr_spark.curation import vacuum_curation

    out = str(tmp_path / "cur")
    run_curation(spark, _base_docs(spark), out, run_id="base")
    run_curation_increment(spark, _inc_docs(spark), out, run_id="inc")
    snap = vacuum_curation(out, keep_last=1)
    assert set(snap["runs"]) == {"base", "inc"}  # ancestor retained
    assert snap["run_parents"] == {"base": None, "inc": "base"}
    cum = {
        r["url"]
        for r in read_curated(spark, out, cumulative=True).collect()
    }
    assert any(u.startswith("https://a.com") for u in cum)
    assert any(u.startswith("https://z.com") for u in cum)


def test_cli_increment_after_extraction_grows(spark, tmp_path):
    """The north-rule workflow end-to-end through the CLI: extract a
    batch, curate it, extract MORE pages into the same output (per-url
    resume), then --curate --increment — only the newly extracted urls
    are new curation work, committed as a chained run."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def _run_cli(*args):
        env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_CPUS="4")
        out = subprocess.run(
            [sys.executable, "-m",
             "distributed_system___ocr_spark.cli", *args],
            capture_output=True, text=True, timeout=300, env=env,
            cwd="/tmp",
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    ex_out = str(tmp_path / "ex")
    cur_out = str(tmp_path / "cur")
    _run_cli("--synthetic", "300", "--output", ex_out, "--run-id", "e1",
             "--no-manifest")
    base_info = _run_cli("--curate", "--input", ex_out,
                         "--output", cur_out, "--run-id", "base")
    _run_cli("--synthetic", "500", "--output", ex_out, "--run-id", "e2",
             "--no-manifest")
    inc_info = _run_cli("--curate", "--increment", "--input", ex_out,
                        "--output", cur_out, "--run-id", "inc")
    # the increment resume-dropped every url the base run evaluated
    assert inc_info["n_after_resume"] < inc_info["n_input"]
    assert inc_info["n_after_resume"] > 0
    assert inc_info["n_survivors"] > 0
    base_urls = {
        r["url"]
        for r in read_curated(spark, cur_out, run_id="base").collect()
    }
    inc_urls = {
        r["url"]
        for r in read_curated(spark, cur_out, run_id="inc").collect()
    }
    assert not (base_urls & inc_urls)
    cum = read_curated(spark, cur_out, cumulative=True).count()
    assert cum == len(base_urls) + len(inc_urls)
    snap = load_curation_snapshot(cur_out)
    assert snap["run_parents"] == {"base": None, "inc": "base"}


def test_chain_bands_reuses_stored_bands_and_falls_back(
    spark, tmp_path
):
    """The persisted survivor bands are actually USED (the happy path
    is a parquet scan, no re-minhash of committed text) and the
    algorithm-version check falls back to recomputation — with
    identical band rows either way."""
    import json as _json
    import os

    from distributed_system___ocr_spark.curation import (
        _BANDS_META,
        _chain_bands,
    )

    out = str(tmp_path / "cur")
    run_curation(spark, _base_docs(spark), out, run_id="base")
    stored = _chain_bands(spark, out, ["base"])
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "Scan parquet" in plan
    rows = {
        (r["id"], r["band_idx"], r["band_val"])
        for r in stored.collect()
    }
    assert rows
    meta_path = os.path.join(
        out, "curated", "run_id=base", _BANDS_META
    )
    with open(meta_path, "w") as f:
        _json.dump({"token_hash_version": -1}, f)
    recomputed = _chain_bands(spark, out, ["base"])
    plan2 = recomputed._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan2
    assert {
        (r["id"], r["band_idx"], r["band_val"])
        for r in recomputed.collect()
    } == rows


def test_increment_fully_resumed_batch_commits_empty_run(
    spark, tmp_path
):
    """A batch whose every url was already evaluated (resubmitted
    after an unrelated commit changed the chain head, so the no-op
    barrier does not fire) commits an EMPTY survivors run without
    errors, and cumulative reads over the chain still work."""
    out = str(tmp_path / "cur")
    run_curation(spark, _base_docs(spark), out, run_id="base")
    run_curation_increment(spark, _inc_docs(spark), out, run_id="i1")
    extra = spark.createDataFrame(pd.DataFrame([
        {"url": "https://z.com/solo",
         "text": "solo novel text "
         + " ".join(f"sw{j:02d}" for j in range(60)), "lang": "en"},
    ]))
    run_curation_increment(spark, extra, out, run_id="i2")
    # resubmit the i1 batch: fp differs from i2's commit, so it runs
    # — and every url resume-drops
    info = run_curation_increment(
        spark, _inc_docs(spark), out, run_id="i3",
    )
    assert "skipped_noop" not in info
    assert info["n_after_resume"] == 0
    assert info["n_survivors"] == 0 and info["n_chunks"] == 0
    assert read_curated(spark, out, run_id="i3").count() == 0
    cum = read_curated(spark, out, cumulative=True)
    assert cum.count() > 0
    assert cum.filter(F.col("url") == "https://z.com/solo").count() == 1


def test_read_packed_cumulative_unions_chain_with_run_id(
    spark, tmp_path
):
    """The training handoff over a chain: cumulative packed read
    unions base + increment bins with a run_id disambiguator (each
    run numbers bins from 0), and requesting a split fails loudly
    when a chain member was never split-stamped."""
    from distributed_system___ocr_spark.curation import (
        export_packed_jsonl,
        read_packed,
    )

    out = str(tmp_path / "cur")
    run_curation(spark, _base_docs(spark), out, run_id="base")
    run_curation_increment(spark, _inc_docs(spark), out, run_id="inc")
    latest_only = read_packed(spark, out).count()
    cum = read_packed(spark, out, cumulative=True)
    assert set(cum.select("run_id").distinct().toPandas()["run_id"]) == {
        "base", "inc"
    }
    assert cum.count() > latest_only
    # bins are keyed (run_id, lang, bin_id): ids from different runs
    # may collide on (lang, bin_id) alone
    assert cum.select("run_id", "lang", "bin_id").distinct().count() >= \
        cum.select("lang", "bin_id").distinct().count()
    with pytest.raises(ValueError, match="not split-stamped"):
        read_packed(spark, out, split="train", cumulative=True)
    dest = str(tmp_path / "chain.jsonl")
    n = export_packed_jsonl(spark, out, dest, cumulative=True)
    assert n == cum.count()


def test_increment_fully_resumed_batch_commits_with_split_fracs(
    spark, tmp_path
):
    """The zero-survivor increment edge WITH the split stamp on: an
    empty partitionBy("split") write leaves only _SUCCESS (no schema
    file), so neither the in-run packed read-back nor any later chain
    read may depend on schema inference (round-6 review repro — the
    splitless twin above passed while the benched split increment
    crashed before its snapshot commit)."""
    from distributed_system___ocr_spark.curation import read_packed

    out = str(tmp_path / "cur")
    sf = (0.6, 0.2)
    run_curation(
        spark, _base_docs(spark), out, run_id="base", split_fracs=sf
    )
    run_curation_increment(
        spark, _inc_docs(spark), out, run_id="i1", split_fracs=sf
    )
    extra = spark.createDataFrame(pd.DataFrame([
        {"url": "https://z.com/solo",
         "text": "solo novel text "
         + " ".join(f"sw{j:02d}" for j in range(60)), "lang": "en"},
    ]))
    run_curation_increment(
        spark, extra, out, run_id="i2", split_fracs=sf
    )
    # resubmit the i1 batch: fp differs from i2's commit, so it runs
    # — every url resume-drops and the packed set is EMPTY
    info = run_curation_increment(
        spark, _inc_docs(spark), out, run_id="i3", split_fracs=sf,
    )
    assert "skipped_noop" not in info
    assert info["n_survivors"] == 0 and info["n_chunks"] == 0
    # chain reads over the empty-run chain still work, including the
    # split-pruned training read (the empty run's packed dir must
    # carry a readable schema with the split column)
    cum = read_packed(spark, out, cumulative=True)
    tr = read_packed(spark, out, split="train", cumulative=True)
    assert 0 < tr.count() <= cum.count()
    assert read_packed(spark, out).count() == 0  # latest run = i3


# Spark jobs per call on this file's fixture (`_base_docs` full run,
# then the `_inc_docs` increment): (before each checkpoint was counted
# inside its own job and the tail's writes ran side by side, now).
# Each job costs ~0.1 s JVM-only and 0.3-0.5 s with a Python UDF.
CURATION_JOBS_PER_CALL = {"full": (26, 25), "increment": (45, 43)}
# the same with every opt-in stage on (`_all_stage_kwargs`), which adds
# the SemDeDup, cluster-balance and components-round checkpoints
ALL_STAGE_JOBS_PER_CALL = {"full": (98, 80), "increment": (52, 45)}


def _all_stage_kwargs(spark, n_docs: int) -> tuple[dict, dict]:
    """Every opt-in stage, in the kwargs shape of the benchmark's
    curation chain: (full run, increment)."""
    per_doc = dict(
        blocked_domains=["host19.example.com"],
        quality_min_chars=30,
        domain_cap=max(1, n_docs // 4),
        decon_eval=spark.createDataFrame(pd.DataFrame(
            {"text": ["benchmark holdout prompt zq1a zq1b zq1c zq1d"]}
        )),
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


def _assert_few_jobs_in_callers_group(
    spark, tmp_path, bounds, full_kw=None, inc_kw=None
):
    out = str(tmp_path / "cur")
    sc = spark.sparkContext
    base, inc = _base_docs(spark), _inc_docs(spark)
    calls = [
        ("full", lambda: run_curation(
            spark, base, out, run_id="base", **(full_kw or {}))),
        ("increment", lambda: run_curation_increment(
            spark, inc, out, run_id="inc1", **(inc_kw or {}))),
    ]
    for name, call in calls:
        info, grouped, stray = jobs_of_call(
            sc, f"curation-{name}-{tmp_path.name}", call
        )
        before, now = bounds[name]
        assert now < before
        assert 0 < len(grouped) <= now, (name, len(grouped))
        assert not stray, (name, sorted(stray))
        assert info["n_survivors"] > 0


def test_curation_calls_run_few_jobs_all_in_callers_group(spark, tmp_path):
    """A full run and an increment each run at most the measured number
    of jobs, and every one of them — the survivors, manifest, band,
    hash and packed writes on their own threads included — carries the
    caller's job group."""
    _assert_few_jobs_in_callers_group(
        spark, tmp_path, CURATION_JOBS_PER_CALL
    )


def test_all_stage_curation_calls_run_few_jobs(spark, tmp_path):
    """The same bound with every opt-in stage on, so the SemDeDup,
    cluster-balance and components-round checkpoints are pinned too."""
    full_kw, inc_kw = _all_stage_kwargs(spark, _base_docs(spark).count())
    _assert_few_jobs_in_callers_group(
        spark, tmp_path, ALL_STAGE_JOBS_PER_CALL, full_kw, inc_kw
    )


def test_written_bands_equal_minhash_of_survivors(spark, tmp_path):
    """The bands a run writes beside its survivors (the near-dup
    stage's bands, semi-joined on the survivor urls) equal the bands
    recomputed from those survivors' text, as sets — for a full run and
    an increment, each with a stage after near-dup that drops docs."""
    from distributed_system___ocr_spark.operators.neardup import (
        minhash_bands,
    )

    out = str(tmp_path / "cur")
    base, inc = _base_docs(spark), _inc_docs(spark)
    texts = {r["url"]: r["text"] for r in base.unionByName(inc).collect()}
    # decontamination runs after near-dup and drops one doc per run
    evals = spark.createDataFrame(pd.DataFrame({"text": [
        texts["https://a.com/b007"], texts["https://z.com/n002"],
    ]}))
    full = run_curation(spark, base, out, run_id="base", decon_eval=evals)
    step = run_curation_increment(
        spark, inc, out, run_id="inc1", decon_eval=evals
    )
    for info, dropped in ((full, "https://a.com/b007"),
                          (step, "https://z.com/n002")):
        assert info["n_after_decon"] < info["n_after_neardup"]
        run_dir = os.path.dirname(info["survivors_path"])
        survivors = spark.read.parquet(info["survivors_path"])
        assert dropped not in {r["url"] for r in survivors.collect()}
        written = {
            tuple(r)
            for r in spark.read.parquet(os.path.join(run_dir, "bands"))
            .select("id", "band_idx", "band_val").collect()
        }
        recomputed = {
            tuple(r)
            for r in minhash_bands(survivors, id_col="url").collect()
        }
        assert written and written == recomputed


# The committed input fingerprints, lineage rows and result keys of an
# all-stage full run and increment on this file's fixture: a snapshot
# committed by an earlier build of the stage table must still
# no-op-resume, and every stage keeps its lineage row and result key.
ALL_STAGE_FINGERPRINTS = {
    "full": {
        "n_docs": 12, "content_sum": "42998731835482491915",
        "algo": [5, 1, 128, 8], "config": [2048, 1792, 8192],
        "url_blocklist": [1, ["host19.example.com"]],
        "quality_gate": [30, None, 0.05], "domain_cap": 3,
        "span_removal": [2, 5], "segment_dedup": 32,
        "semdedup": [0.92, ["feature_hash", 1]],
        "decon": [5, {"n_docs": 1, "content_sum": "6327784786072708681"}],
        "lm_quality": 2.0, "cluster_balance": [0.5, 3, 1],
        "sample_alpha": 0.7, "split": [0.9, 0.05],
    },
    "increment": {
        "n_docs": 10, "content_sum": "22933065016927666060",
        "algo": [5, 1, 128, 8], "config": [2048, 1792, 8192],
        "url_blocklist": [1, ["host19.example.com"]],
        "quality_gate": [30, None, 0.05], "domain_cap": 3,
        "decon": [5, {"n_docs": 1, "content_sum": "6327784786072708681"}],
        "split": [0.9, 0.05], "incremental": True,
    },
}
ALL_STAGE_LINEAGE = {
    "full": [
        (0, "input", 12, 12), (1, "url_canonicalize", 12, 12),
        (2, "url_blocklist", 12, 12), (3, "quality_gate", 12, 12),
        (4, "domain_cap", 12, 3), (5, "span_removal", 3, 3),
        (6, "segment_dedup", 3, 3), (7, "exact_dedup", 3, 3),
        (8, "neardup_prune", 3, 3), (9, "semdedup", 3, 3),
        (10, "decontaminate", 3, 3), (11, "lm_quality", 3, 3),
        (12, "cluster_balance", 3, 3), (13, "temperature_sample", 3, 3),
        (14, "split_stamp", 3, 3), (15, "chunk", 3, 3), (16, "pack", 3, 1),
    ],
    "increment": [
        (0, "input", 11, 10), (1, "url_canonicalize", 10, 10),
        (2, "resume_anti_join", 10, 9), (3, "url_blocklist", 9, 9),
        (4, "quality_gate", 9, 9), (5, "domain_cap", 9, 3),
        (6, "exact_dedup", 3, 3), (7, "neardup_prune", 3, 3),
        (8, "decontaminate", 3, 3), (9, "split_stamp", 3, 3),
        (10, "chunk", 3, 3), (11, "pack", 3, 2),
    ],
}
RESULT_KEYS = {
    "run_id", "snapshot", "n_raw_input", "n_input", "n_after_resume",
    "n_after_url_blocklist", "n_after_quality_gate", "n_after_domain_cap",
    "n_after_span_removal", "n_after_segment_dedup", "n_after_exact_dedup",
    "n_after_neardup", "n_after_semdedup", "n_after_decon",
    "n_after_lm_quality", "n_after_cluster_balance", "n_survivors",
    "n_chunks", "n_bins", "stage_sec", "survivors_path", "packed_path",
    "lineage_path",
}
# the stage kernels the benchmark's traced run wraps to label each stage
TRACED_KERNELS = (
    "remove_boilerplate_spans", "dedup_segments_first",
    "exact_dedup_survivors", "neardup_survivors", "semdedup_prune",
    "decontaminate_against", "lm_quality_survivors",
    "cluster_balance_docs", "temperature_sample",
)
CORPUS_GLOBAL = {
    "remove_spans_min_docs": 2, "segment_dedup_n": 32, "semdedup_tau": 0.9,
    "lm_quality_drop_z": 2.0, "cluster_alpha": 0.5, "sample_alpha": 0.7,
}


def test_all_stage_chain_pins_fingerprints_lineage_and_kernels(
    spark, tmp_path, monkeypatch
):
    """An all-stage full run and increment commit the pinned
    fingerprints, lineage rows and result keys; each stage kernel is
    looked up in the module when it runs (a patched kernel runs, once
    per full call); and each corpus-global kwarg is rejected in an
    increment with its message."""
    from distributed_system___ocr_spark import curation

    calls = dict.fromkeys(TRACED_KERNELS, 0)
    for name in TRACED_KERNELS:
        def counted(*a, _kernel=getattr(curation, name), _name=name, **k):
            calls[_name] += 1
            return _kernel(*a, **k)

        monkeypatch.setattr(curation, name, counted)
    out = str(tmp_path / "cur")
    base, inc = _base_docs(spark), _inc_docs(spark)
    full_kw, inc_kw = _all_stage_kwargs(spark, base.count())
    info = run_curation(spark, base, out, run_id="base", **full_kw)
    assert calls == dict.fromkeys(TRACED_KERNELS, 1)
    for knob, value in CORPUS_GLOBAL.items():
        with pytest.raises(ValueError) as exc:
            run_curation_increment(
                spark, inc, out, run_id="ix", **inc_kw, **{knob: value}
            )
        assert str(exc.value) == (
            f"{knob} is a corpus-global stage — its statistics are "
            "properties of the whole corpus, so it needs a full "
            "re-curate, not an increment"
        )
    infos = {"full": info}
    snaps = {"full": load_curation_snapshot(out)}
    infos["increment"] = run_curation_increment(
        spark, inc, out, run_id="inc1", **inc_kw
    )
    snaps["increment"] = load_curation_snapshot(out)
    for mode in ("full", "increment"):
        assert snaps[mode]["input_fingerprint"] == (
            ALL_STAGE_FINGERPRINTS[mode]
        )
        lineage = spark.read.parquet(infos[mode]["lineage_path"])
        assert sorted(
            tuple(r) for r in lineage.select(
                "stage_idx", "stage", "n_in", "n_out"
            ).collect()
        ) == ALL_STAGE_LINEAGE[mode]
        assert set(infos[mode]) == RESULT_KEYS
    assert infos["full"]["n_after_resume"] is None
    assert infos["increment"]["n_after_semdedup"] is None
