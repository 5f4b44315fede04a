"""End-to-end curation pipeline (curation.run_curation + cli --curate):
the chained dataflow the registry operators previously only exposed
one hop at a time — mirroring the reference manager chaining its whole
pipeline (Manager.java:326-348 -> 250-293)."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from distributed_system___ocr_spark.curation import (
    load_curation_snapshot,
    read_curated,
    run_curation,
)

def _text(i: int) -> str:
    # per-doc-unique token stream: originals share (almost) no 3-token
    # shingle with each other, so the only near-dup pairs above the
    # (128, 8)-banding ~0.75 jaccard threshold are the injected clones
    body = " ".join(f"w{i:03d}q{j:02d}" for j in range(80))
    return f"document {i:03d} mentions a dog here {body}"


def _docs(spark, n=40, extra=()):
    rows = []
    for i in range(n):
        rows.append(
            {"url": f"https://ex.com/d{i:03d}",
             "text": _text(i), "lang": "en" if i % 3 else "fr"}
        )
    # exact clones of every 8th doc (different url, identical text)
    for i in range(0, n, 8):
        rows.append(
            {"url": f"https://mirror.com/d{i:03d}",
             "text": _text(i), "lang": "en" if i % 3 else "fr"}
        )
    # near-dup clones of every 10th doc (one word changed out of ~85)
    for i in range(0, n, 10):
        rows.append(
            {"url": f"https://scrape.com/d{i:03d}",
             "text": _text(i).replace("dog", "cat"),
             "lang": "en" if i % 3 else "fr"}
        )
    # blank row (must be filtered, not clustered)
    rows.append({"url": "https://ex.com/blank", "text": "", "lang": "en"})
    rows.extend(extra)
    return spark.createDataFrame(pd.DataFrame(rows))


def test_curation_end_to_end_drops_all_clones(spark, tmp_path):
    out = str(tmp_path / "cur")
    docs = _docs(spark)
    info = run_curation(spark, docs, out, run_id="c1")

    # every injected clone url is gone; every original survives
    survivors = {r["url"] for r in read_curated(spark, out).collect()}
    assert not any(u.startswith("https://mirror.com") for u in survivors)
    assert not any(u.startswith("https://scrape.com") for u in survivors)
    assert "https://ex.com/blank" not in survivors
    assert survivors == {f"https://ex.com/d{i:03d}" for i in range(40)}

    # the near-dup gate actually fired (not a 0-pair pass)
    assert info["n_after_exact_dedup"] > info["n_survivors"]
    assert info["n_input"] > info["n_after_exact_dedup"]

    # lineage records every stage with consistent drop accounting,
    # including the blank row dropped before fingerprinting
    lin = {
        r["stage"]: (r["n_in"], r["n_out"], r["n_dropped"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["input"] == (info["n_input"] + 1, info["n_input"], 1)
    assert lin["exact_dedup"] == (
        info["n_input"], info["n_after_exact_dedup"],
        info["n_input"] - info["n_after_exact_dedup"],
    )
    assert lin["neardup_prune"][1] == info["n_survivors"]
    assert lin["chunk"][1] == info["n_chunks"]

    # chunks tile the survivors: stitching de-overlapped chunks in
    # order reconstructs each text byte-for-byte
    packed = spark.read.parquet(info["packed_path"]).collect()
    by_url: dict[str, list] = {}
    for r in packed:
        by_url.setdefault(r["url"], []).append((r["chunk_idx"], r["chunk"]))
    texts = {r["url"]: r["text"] for r in read_curated(spark, out).collect()}
    for url, chunks in by_url.items():
        chunks.sort()
        stitched = chunks[0][1]
        for idx, chunk in chunks[1:]:
            stitched = stitched[: idx * 1792] + chunk
        assert stitched == texts[url], url

    # packing: bins are budget-bounded and ids contiguous per lang
    bins: dict[tuple, int] = {}
    for r in packed:
        bins[(r["lang"], r["bin_id"])] = (
            bins.get((r["lang"], r["bin_id"]), 0) + r["n_chars"]
        )
    for (lang, b), total in bins.items():
        assert total <= 8192 + 2048, (lang, b, total)
    for lang in {k[0] for k in bins}:
        ids = sorted(b for l, b in bins if l == lang)
        assert ids == list(range(len(ids))), (lang, ids)


@pytest.mark.parametrize(
    "chunk_size,chunk_stride",
    [(2048, 1792), (512, 256), (100, 100), (64, 1), (7, 3)],
)
def test_chunk_tiling_invariant_across_configs(
    spark, chunk_size, chunk_stride
):
    """For ANY valid (size, stride) config: chunks cover every char,
    de-overlapped stitching reconstructs the text byte-for-byte, and
    every chunk except possibly the last per doc is full-size."""
    from distributed_system___ocr_spark.curation import chunk_docs

    docs = _docs(spark, n=6)
    texts = {r["url"]: r["text"] for r in docs.collect() if r["text"]}
    chunks: dict[str, list] = {}
    for r in chunk_docs(docs, chunk_size, chunk_stride).collect():
        chunks.setdefault(r["url"], []).append((r["chunk_idx"], r["chunk"]))
    assert set(chunks) == set(texts)
    for url, cs in chunks.items():
        cs.sort()
        assert [i for i, _ in cs] == list(range(len(cs)))
        stitched = cs[0][1]
        for idx, chunk in cs[1:]:
            stitched = stitched[: idx * chunk_stride] + chunk
        assert stitched == texts[url], (url, chunk_size, chunk_stride)


def test_curation_resume_noop_and_replay_guard(spark, tmp_path):
    out = str(tmp_path / "cur2")
    docs = _docs(spark, n=20)
    info1 = run_curation(spark, docs, out, run_id="c1")
    assert "skipped_noop" not in info1

    # unchanged corpus, fresh run_id -> completion barrier no-op
    info2 = run_curation(spark, docs, out, run_id="c2")
    assert info2.get("skipped_noop") is True
    assert info2["survivors_path"] is None
    assert load_curation_snapshot(out)["latest_run"] == "c1"

    # replaying a committed run_id is rejected
    with pytest.raises(ValueError, match="already committed"):
        run_curation(spark, docs, out, run_id="c1")

    # a CHANGED corpus re-curates into a new snapshot
    more = _docs(
        spark, n=20,
        extra=[{"url": "https://ex.com/new", "lang": "en",
                "text": "a genuinely novel document with plenty of "
                        "fresh words that no other text shares in any "
                        "shingle of three consecutive tokens anywhere"}],
    )
    info3 = run_curation(spark, more, out, run_id="c3")
    assert "skipped_noop" not in info3
    snap = load_curation_snapshot(out)
    assert snap["latest_run"] == "c3" and snap["n"] == 1
    assert "https://ex.com/new" in {
        r["url"] for r in read_curated(spark, out).collect()
    }

    # time travel: the earlier committed run is still addressable and
    # does NOT contain the later corpus's new doc; an uncommitted id
    # is refused
    old = {r["url"] for r in read_curated(spark, out, run_id="c1").collect()}
    assert "https://ex.com/new" not in old and old
    with pytest.raises(FileNotFoundError, match="not committed"):
        read_curated(spark, out, run_id="never-ran")

    # chunk/pack config is part of the dataflow identity: the same
    # corpus with a different chunk size must RE-curate (code-review
    # finding: it previously no-op'ed and left stale packing)
    info4 = run_curation(spark, more, out, run_id="c4", chunk_size=512,
                         chunk_stride=256)
    assert "skipped_noop" not in info4
    assert load_curation_snapshot(out)["latest_run"] == "c4"

    # invalid chunk/pack parameters are rejected up front
    with pytest.raises(ValueError, match="positive"):
        run_curation(spark, more, out, run_id="c5", chunk_stride=0)
    with pytest.raises(ValueError, match="uncovered gaps"):
        run_curation(spark, more, out, run_id="c5", chunk_size=100,
                     chunk_stride=200)


def test_quality_gate_stage_drops_and_refingerprints(spark, tmp_path):
    """Opt-in quality gate: short docs drop before dedup with lineage
    accounting, and the gate config is part of the dataflow identity —
    the same corpus with a different gate must re-curate, not no-op."""
    out = str(tmp_path / "curq")
    docs = _docs(
        spark, n=12,
        extra=[
            {"url": "https://ex.com/tiny", "text": "too small",
             "lang": "en"},
            {"url": "https://ex.com/repeat",
             "text": "spam ham " * 120, "lang": "en"},
        ],
    )
    info = run_curation(
        spark, docs, out, run_id="q1", quality_min_chars=100,
        quality_dup_bigram_max=0.5,
    )
    survivors = {r["url"] for r in read_curated(spark, out).collect()}
    assert "https://ex.com/tiny" not in survivors      # too short
    assert "https://ex.com/repeat" not in survivors    # repetitive
    assert "https://ex.com/d003" in survivors
    assert info["n_after_quality_gate"] == info["n_input"] - 2
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["quality_gate"] == (info["n_input"],
                                   info["n_after_quality_gate"])

    # same corpus, same gate -> no-op; different gate -> re-curates
    assert run_curation(
        spark, docs, out, run_id="q2", quality_min_chars=100,
        quality_dup_bigram_max=0.5,
    ).get("skipped_noop") is True
    info3 = run_curation(
        spark, docs, out, run_id="q3", quality_min_chars=5,
        quality_dup_bigram_max=1.0,
    )
    assert "skipped_noop" not in info3
    assert info3["n_after_quality_gate"] == info3["n_input"]


def test_curation_crash_before_commit_leaves_no_snapshot(
    spark, tmp_path, monkeypatch
):
    """Parity with the extraction pipeline's crash test: a failure
    after the data writes but BEFORE the atomic snapshot commit must
    leave the output uncommitted — read_curated refuses, a rerun with
    a fresh run_id re-curates cleanly, and no partially-written state
    is mistaken for a result."""
    import distributed_system___ocr_spark.curation as cur

    out = str(tmp_path / "cur")
    docs = _docs(spark, n=8)

    real_atomic = cur._atomic_write
    def crashing_atomic(path, payload):
        raise RuntimeError("simulated crash before snapshot commit")

    monkeypatch.setattr(cur, "_atomic_write", crashing_atomic)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_curation(spark, docs, out, run_id="c1")
    assert load_curation_snapshot(out) is None
    with pytest.raises(FileNotFoundError):
        read_curated(spark, out)

    monkeypatch.setattr(cur, "_atomic_write", real_atomic)
    info = run_curation(spark, docs, out, run_id="c2")
    assert load_curation_snapshot(out)["latest_run"] == "c2"
    assert info["n_survivors"] > 0
    assert read_curated(spark, out).count() == info["n_survivors"]


def test_export_packed_jsonl_round_trips(spark, tmp_path):
    """The JSONL training-handoff export must carry exactly the packed
    chunks of the latest committed snapshot."""
    from distributed_system___ocr_spark.curation import (
        export_packed_jsonl,
        read_packed,
    )

    out = str(tmp_path / "cur")
    dest = str(tmp_path / "chunks.jsonl")
    run_curation(spark, _docs(spark, n=10), out, run_id="c1")
    n = export_packed_jsonl(spark, out, dest)
    packed = {
        (r["url"], r["chunk_idx"], r["chunk"], r["bin_id"])
        for r in read_packed(spark, out).collect()
    }
    exported = {
        (r["url"], r["chunk_idx"], r["chunk"], r["bin_id"])
        for r in spark.read.json(dest).collect()
    }
    assert n == len(packed) and packed == exported

    # a legitimately-empty packed set exports 0 without crashing on
    # schema inference over zero JSON files (code-review finding)
    out2 = str(tmp_path / "cur_empty")
    run_curation(
        spark, _docs(spark, n=4), out2, run_id="e1",
        quality_min_chars=10_000_000,
    )
    assert export_packed_jsonl(
        spark, out2, str(tmp_path / "empty.jsonl")
    ) == 0


def test_cli_curate_runs_extract_then_curation(spark, tmp_path):
    """spark-submit surface: extract with the normal CLI, then --curate
    over the extraction output — the reference's one-command chained
    dataflow. Each CLI call runs in a fresh subprocess JVM (the CLI
    owns and stops its session, same protocol as test_cli.py)."""
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
    jsonl_out = str(tmp_path / "chunks.jsonl")
    _run_cli("--synthetic", "400", "--output", ex_out, "--run-id", "e1",
             "--no-manifest")
    info = _run_cli("--curate", "--input", ex_out, "--output", cur_out,
                    "--run-id", "c1", "--export-jsonl", jsonl_out,
                    "--blocked-domains", "host00.example.com,nosuch.org")
    assert info["n_survivors"] > 0
    assert info["n_chunks"] >= info["n_survivors"]
    assert info["wall_sec"] > 0
    assert info["exported_chunks"] == info["n_chunks"]
    assert spark.read.json(jsonl_out).count() == info["n_chunks"]
    got = read_curated(spark, cur_out)
    assert got.filter(F.length("text") == 0).count() == 0
    assert got.count() == info["n_survivors"]
    lin = {
        r["stage"]: r for r in
        spark.read.parquet(info["lineage_path"]).collect()
    }
    # input stage records raw -> non-blank (the O2 filter drop count)
    assert lin["input"]["n_in"] == info["n_raw_input"]
    assert lin["input"]["n_out"] == info["n_input"]
    assert info["n_raw_input"] >= info["n_input"]
    # the --blocked-domains flag reached the composed stage: host00
    # docs dropped at the first cut, none survive
    assert lin["url_blocklist"]["n_in"] > lin["url_blocklist"]["n_out"]
    assert got.filter(
        F.col("url").contains("host00.example.com")
    ).count() == 0


# --------------------------------------------------------------------------
# round-5 opt-in stages: span removal, decontamination, temperature
# sampling — wired INTO the resumable pipeline (round-4 verdict item 3)
# --------------------------------------------------------------------------

_BOILER = "COOKIE BANNER ACCEPT ALL TRACKING NOTICE"


def _boiler_docs(spark, n=12):
    rows = []
    for i in range(n):
        body = " ".join(f"u{i:03d}w{j:02d}" for j in range(60))
        rows.append(
            {"url": f"https://ex.com/b{i:03d}",
             "text": f"{_BOILER} {body}", "lang": "en"}
        )
    # one doc without the boilerplate (must pass through untouched)
    rows.append(
        {"url": "https://ex.com/clean",
         "text": " ".join(f"clean{j:02d}" for j in range(60)),
         "lang": "en"}
    )
    return spark.createDataFrame(pd.DataFrame(rows))


def test_span_removal_stage_strips_boilerplate(spark, tmp_path):
    out = str(tmp_path / "cur")
    docs = _boiler_docs(spark)
    info = run_curation(
        spark, docs, out, run_id="s1", remove_spans_min_docs=3,
    )
    texts = {r["url"]: r["text"] for r in read_curated(spark, out).collect()}
    assert texts, "no survivors"
    for url, text in texts.items():
        for tok in _BOILER.split():
            assert tok not in text.split(), (url, tok)
    # the clean doc passes through with its exact token stream
    assert texts["https://ex.com/clean"] == " ".join(
        f"clean{j:02d}" for j in range(60)
    )
    assert info["n_after_span_removal"] == info["n_after_quality_gate"]
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["span_removal"] == (
        info["n_after_quality_gate"], info["n_after_span_removal"]
    )

    # span config is part of the dataflow identity
    assert run_curation(
        spark, docs, out, run_id="s2", remove_spans_min_docs=3,
    ).get("skipped_noop") is True
    assert "skipped_noop" not in run_curation(
        spark, docs, out, run_id="s3", remove_spans_min_docs=100,
    )


def test_span_removal_drops_docs_emptied_to_blank(spark, tmp_path):
    """A doc that is ALL boilerplate must drop at the span stage (it
    cannot train), with the drop visible in lineage."""
    out = str(tmp_path / "cur")
    docs = _boiler_docs(spark).unionByName(
        spark.createDataFrame(pd.DataFrame([
            {"url": "https://ex.com/allboiler", "text": _BOILER,
             "lang": "en"},
        ]))
    )
    info = run_curation(
        spark, docs, out, run_id="s1", remove_spans_min_docs=3,
    )
    survivors = {r["url"] for r in read_curated(spark, out).collect()}
    assert "https://ex.com/allboiler" not in survivors
    assert info["n_after_span_removal"] < info["n_after_quality_gate"]


def test_decontamination_stage_drops_eval_overlap(spark, tmp_path):
    out = str(tmp_path / "cur")
    docs = _docs(spark, n=16)
    # eval corpus shares an exact 5-gram with doc 3 only (its unique
    # token stream)
    eval_docs = spark.createDataFrame(pd.DataFrame([
        {"text": " ".join(f"w003q{j:02d}" for j in range(5))},
        {"text": "an unrelated benchmark prompt about nothing shared"},
    ]))
    info = run_curation(
        spark, docs, out, run_id="d1", decon_eval=eval_docs,
    )
    survivors = {r["url"] for r in read_curated(spark, out).collect()}
    assert "https://ex.com/d003" not in survivors
    assert "https://ex.com/d004" in survivors
    assert info["n_after_decon"] == info["n_after_neardup"] - 1
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["decontaminate"] == (
        info["n_after_neardup"], info["n_after_decon"]
    )

    # same eval -> no-op; CHANGED EVAL CONTENT must re-curate (the
    # eval corpus is an input: fingerprint covers it)
    assert run_curation(
        spark, docs, out, run_id="d2", decon_eval=eval_docs,
    ).get("skipped_noop") is True
    eval2 = spark.createDataFrame(pd.DataFrame([
        {"text": " ".join(f"w007q{j:02d}" for j in range(5))},
    ]))
    info3 = run_curation(
        spark, docs, out, run_id="d3", decon_eval=eval2,
    )
    assert "skipped_noop" not in info3
    assert "https://ex.com/d007" not in {
        r["url"] for r in read_curated(spark, out).collect()
    }


def test_temperature_sampling_stage_rebalances(spark, tmp_path):
    out = str(tmp_path / "cur")
    rows = []
    for i in range(40):  # 40 en docs vs 4 fr docs
        body = " ".join(f"e{i:03d}x{j:02d}" for j in range(60))
        rows.append({"url": f"https://en.com/{i}", "text": body,
                     "lang": "en"})
    for i in range(4):
        body = " ".join(f"f{i:03d}y{j:02d}" for j in range(60))
        rows.append({"url": f"https://fr.com/{i}", "text": body,
                     "lang": "fr"})
    docs = spark.createDataFrame(pd.DataFrame(rows))
    info = run_curation(
        spark, docs, out, run_id="t1", sample_alpha=0.3,
    )
    survivors = [r for r in read_curated(spark, out).collect()]
    by_lang = {}
    for r in survivors:
        by_lang.setdefault(r["lang"], set()).add(r["url"])
    # smallest language keeps 100%; the dominant one is downsampled
    assert len(by_lang.get("fr", set())) == 4
    assert 0 < len(by_lang["en"]) < 40
    assert info["n_survivors"] == len(survivors)
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["temperature_sample"] == (
        info["n_after_decon"], info["n_survivors"]
    )
    # deterministic: same corpus + alpha -> no-op; different alpha
    # re-curates
    assert run_curation(
        spark, docs, out, run_id="t2", sample_alpha=0.3,
    ).get("skipped_noop") is True
    assert "skipped_noop" not in run_curation(
        spark, docs, out, run_id="t3", sample_alpha=0.9,
    )


_ALL_STAGE_NAMES = [
    "input", "url_canonicalize", "url_blocklist", "quality_gate",
    "domain_cap",
    "span_removal", "segment_dedup", "exact_dedup", "neardup_prune",
    "semdedup", "decontaminate", "lm_quality", "cluster_balance",
    "temperature_sample", "split_stamp", "chunk", "pack",
]


def test_all_stages_compose_in_one_run(spark, tmp_path):
    """The full opt-in dataflow in one resumable job: gate + domain
    cap + span removal + dedup + semdedup + decon + lm-quality +
    sampling + split + chunk + pack, with a consistent lineage chain
    (each stage's n_in == predecessor's n_out)."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, n=30).unionByName(_boiler_docs(spark, n=6))
    eval_docs = spark.createDataFrame(pd.DataFrame([
        {"text": " ".join(f"w005q{j:02d}" for j in range(5))},
    ]))
    kwargs = dict(
        canonicalize_urls=True,
        quality_min_chars=50, quality_dup_bigram_max=0.8,
        domain_cap=100, remove_spans_min_docs=3,
        segment_dedup_n=64,  # wide tiles: rewrites only exact-tile dups
        semdedup_tau=0.99, decon_eval=eval_docs,
        lm_quality_drop_z=4.0, cluster_alpha=0.95, sample_alpha=0.5,
        split_fracs=(0.7, 0.15),
    )
    info = run_curation(spark, docs, out, run_id="all1", **kwargs)
    lin = sorted(
        (r["stage_idx"], r["stage"], r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    )
    names = [s for _, s, _, _ in lin]
    assert names == _ALL_STAGE_NAMES
    for (_, _, _, prev_out), (_, stage, n_in, _) in zip(lin, lin[1:]):
        assert n_in == prev_out, (stage, n_in, prev_out)
    assert info["n_survivors"] > 0 and info["n_bins"] > 0
    assert "https://ex.com/d005" not in {
        r["url"] for r in read_curated(spark, out).collect()
    }
    # the split column rides survivors, chunks and bins; bins are
    # split-pure by construction (pack partitions on (lang, split))
    packed = spark.read.parquet(info["packed_path"]).collect()
    assert {r["split"] for r in packed} <= {"train", "val", "test"}
    by_bin: dict[tuple, set] = {}
    for r in packed:
        by_bin.setdefault((r["lang"], r["split"], r["bin_id"]),
                          set()).add(r["split"])
    assert all(len(s) == 1 for s in by_bin.values())
    # unchanged everything -> no-op resume of the composed dataflow
    assert run_curation(
        spark, docs, out, run_id="all2", **kwargs
    ).get("skipped_noop") is True
    # toggling any ROUND-6 stage knob re-curates (fingerprint covers
    # domain cap, semdedup tau, lm-quality z and split fractions)
    for delta in (
        {"domain_cap": 5}, {"semdedup_tau": 0.5},
        {"lm_quality_drop_z": 0.1}, {"split_fracs": (0.8, 0.1)},
        {"segment_dedup_n": 8}, {"cluster_alpha": 0.4},
    ):
        info2 = run_curation(
            spark, docs, out, run_id=f"all-{list(delta)[0]}",
            **{**kwargs, **delta},
        )
        assert "skipped_noop" not in info2, delta


# --------------------------------------------------------------------------
# round-6 opt-in stages: domain cap, SemDeDup prune, LM-quality tail
# drop, train/val/test split — composed into the resumable pipeline
# (round-5 verdict item 1)
# --------------------------------------------------------------------------


def test_domain_cap_stage_caps_hosts_and_heap_limits(spark, tmp_path):
    """Per-host quota inside the pipeline: hot hosts drop to the cap
    (longest-texts-win, url tie-break), lineage records the drop, the
    cap is fingerprinted, and the executed plan uses WindowGroupLimit
    (per-partition top-K heap before the shuffle)."""
    from distributed_system___ocr_spark.curation import domain_cap_docs

    out = str(tmp_path / "cur")
    rows = []
    for i in range(20):  # hot host: 20 docs
        body = " ".join(f"h{i:03d}x{j:02d}" for j in range(40 + i))
        rows.append({"url": f"https://hot.com/{i:03d}", "text": body,
                     "lang": "en"})
    for i in range(3):   # cold host: 3 docs
        body = " ".join(f"c{i:03d}y{j:02d}" for j in range(40))
        rows.append({"url": f"https://cold.com/{i:03d}", "text": body,
                     "lang": "en"})
    docs = spark.createDataFrame(pd.DataFrame(rows))
    info = run_curation(spark, docs, out, run_id="dc1", domain_cap=5)
    survivors = {r["url"] for r in read_curated(spark, out).collect()}
    hot = {u for u in survivors if u.startswith("https://hot.com")}
    cold = {u for u in survivors if u.startswith("https://cold.com")}
    assert len(hot) == 5 and len(cold) == 3
    # longest texts win: docs 15..19 have the most tokens
    assert hot == {f"https://hot.com/{i:03d}" for i in range(15, 20)}
    assert info["n_after_domain_cap"] == 8
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["domain_cap"] == (info["n_input"], 8)
    plan = (
        domain_cap_docs(docs, 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    # same cap -> no-op; different cap -> re-curates
    assert run_curation(
        spark, docs, out, run_id="dc2", domain_cap=5
    ).get("skipped_noop") is True
    assert "skipped_noop" not in run_curation(
        spark, docs, out, run_id="dc3", domain_cap=2
    )


def test_semdedup_stage_drops_semantic_twin(spark, tmp_path):
    """SemDeDup in the pipeline: a doc that is a full REVERSAL of
    another (identical token bag -> cosine 1.0 under the hashed
    bag-of-words featurization, but every 3-shingle differs, so exact
    dedup AND MinHash both miss it) drops at the semdedup stage; the
    min-url representative survives."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, n=12)
    base = _text(4)
    toks = base.split()
    # reverse the token order: same multiset, zero shared 3-shingles
    perm = " ".join(reversed(toks))
    docs = docs.unionByName(spark.createDataFrame(pd.DataFrame([
        {"url": "https://zmirror.com/d004-permuted", "text": perm,
         "lang": "en"},
    ])))
    info = run_curation(
        spark, docs, out, run_id="sd1", semdedup_tau=0.95,
    )
    survivors = {r["url"] for r in read_curated(spark, out).collect()}
    assert "https://zmirror.com/d004-permuted" not in survivors
    assert "https://ex.com/d004" in survivors  # min-url representative
    assert info["n_after_semdedup"] == info["n_after_neardup"] - 1
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["semdedup"] == (
        info["n_after_neardup"], info["n_after_semdedup"]
    )
    # same tau -> no-op; different tau -> re-curates
    assert run_curation(
        spark, docs, out, run_id="sd2", semdedup_tau=0.95,
    ).get("skipped_noop") is True
    assert "skipped_noop" not in run_curation(
        spark, docs, out, run_id="sd3", semdedup_tau=0.5,
    )


def test_semdedup_stage_external_embeddings_fingerprinted(
    spark, tmp_path
):
    """Supplying model embeddings switches the provider; their CONTENT
    joins the fingerprint (changed vectors must re-curate), and
    embeddings without the tau switch error out."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, n=8)
    urls = [r["url"] for r in docs.select("url").collect()]
    # two near-identical vectors for d000 and its mirror; others spread
    def vec(i, twin):
        v = [0.0] * 8
        v[i % 8] = 1.0
        if twin:
            v[(i + 1) % 8] = 0.05
        return v
    emb_rows = []
    for j, u in enumerate(sorted(urls)):
        twin = "mirror" in u or "d000" in u
        emb_rows.append({"url": u, "v": vec(0 if twin else j, twin)})
    emb = spark.createDataFrame(pd.DataFrame(emb_rows))
    info = run_curation(
        spark, docs, out, run_id="e1", semdedup_tau=0.9,
        semdedup_embeddings=emb,
    )
    assert info["n_after_semdedup"] <= info["n_after_neardup"]
    assert run_curation(
        spark, docs, out, run_id="e2", semdedup_tau=0.9,
        semdedup_embeddings=emb,
    ).get("skipped_noop") is True
    # changed embedding content -> re-curate
    emb2 = spark.createDataFrame(pd.DataFrame(
        [{**r, "v": [x * 2 for x in r["v"]]} for r in emb_rows]
    ))
    assert "skipped_noop" not in run_curation(
        spark, docs, out, run_id="e3", semdedup_tau=0.9,
        semdedup_embeddings=emb2,
    )
    with pytest.raises(ValueError, match="semdedup_tau"):
        run_curation(spark, docs, out, run_id="e4",
                     semdedup_embeddings=emb)


def test_lm_quality_stage_drops_low_quality_tail(spark, tmp_path):
    """LM-quality tail drop: a doc made of corpus-unique gibberish
    tokens scores far below its language's mean and drops; ordinary
    docs sharing the common vocabulary survive. The z knob is
    fingerprinted."""
    out = str(tmp_path / "cur")
    common = " ".join("the quick brown fox jumps over lazy dogs"
                      .split() * 5)
    rows = [
        # shared high-frequency vocabulary + enough per-doc unique
        # filler that the docs are NOT MinHash near-dups of each other
        {"url": f"https://ex.com/c{i:02d}",
         "text": common + " "
         + " ".join(f"u{i:02d}w{j:02d}" for j in range(40)),
         "lang": "en"}
        for i in range(12)
    ]
    rows.append({
        "url": "https://ex.com/gibberish",
        "text": " ".join(f"zzqx{j:03d}" for j in range(80)),
        "lang": "en",
    })
    docs = spark.createDataFrame(pd.DataFrame(rows))
    info = run_curation(
        spark, docs, out, run_id="lm1", lm_quality_drop_z=1.0,
    )
    survivors = {r["url"] for r in read_curated(spark, out).collect()}
    assert "https://ex.com/gibberish" not in survivors
    assert "https://ex.com/c03" in survivors
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["lm_quality"][1] == info["n_after_lm_quality"]
    assert info["n_after_lm_quality"] < info["n_after_decon"]
    assert run_curation(
        spark, docs, out, run_id="lm2", lm_quality_drop_z=1.0,
    ).get("skipped_noop") is True
    assert "skipped_noop" not in run_curation(
        spark, docs, out, run_id="lm3", lm_quality_drop_z=3.0,
    )


def test_split_stage_stamps_deterministic_split(spark, tmp_path):
    """The split column must be the documented pure function of the
    url ("split:"-salted md5 bucket of 1M against the fraction
    thresholds — salted so the stamp is independent of every sampling
    stage's acceptance bucket) — verified against an independent
    Python md5 computation — and ride chunks and packed bins;
    fractions are fingerprinted."""
    import hashlib

    out = str(tmp_path / "cur")
    docs = _docs(spark, n=30)
    info = run_curation(
        spark, docs, out, run_id="sp1", split_fracs=(0.6, 0.2),
    )
    got = {r["url"]: r["split"]
           for r in read_curated(spark, out).collect()}
    assert got
    for url, split in got.items():
        b = int(
            hashlib.md5(f"split:{url}".encode()).hexdigest()[:8], 16
        ) % 1_000_000
        want = ("train" if b < 600_000
                else "val" if b < 800_000 else "test")
        assert split == want, (url, b)
    packed = spark.read.parquet(info["packed_path"]).collect()
    for r in packed:
        assert r["split"] == got[r["url"]]

    # the packed layout is PARTITIONED by split: a train-only reader
    # prunes val/test files at the directory level
    import os as _os

    from distributed_system___ocr_spark.curation import read_packed

    subdirs = {d for d in _os.listdir(info["packed_path"])
               if d.startswith("split=")}
    assert subdirs == {f"split={s}" for s in
                       {r["split"] for r in packed}}
    train = read_packed(spark, out, split="train")
    assert {r["split"] for r in train.collect()} == {"train"}
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan, plan
    with pytest.raises(ValueError, match="not split-stamped"):
        # e1: an earlier unsplit fixture dir
        out_unsplit = str(tmp_path / "cur_unsplit")
        run_curation(spark, docs, out_unsplit, run_id="u1")
        read_packed(spark, out_unsplit, split="train")

    assert run_curation(
        spark, docs, out, run_id="sp2", split_fracs=(0.6, 0.2),
    ).get("skipped_noop") is True
    assert "skipped_noop" not in run_curation(
        spark, docs, out, run_id="sp3", split_fracs=(0.8, 0.1),
    )
    with pytest.raises(ValueError, match="split_fracs"):
        run_curation(spark, docs, out, run_id="sp4",
                     split_fracs=(0.9, 0.2))


def test_vacuum_refuses_while_run_in_flight(spark, tmp_path):
    """Round-6 advice: a vacuum racing a live curation run must fail
    loudly instead of sweeping the run's staging dirs; stale sentinels
    of dead processes are swept, not honored; a failed run removes its
    sentinel (only a hard kill leaves one)."""
    import os

    from distributed_system___ocr_spark.curation import (
        _inflight_path,
        vacuum_curation,
    )

    out = str(tmp_path / "cur")
    run_curation(spark, _docs(spark, n=6), out, run_id="c1")
    run_curation(spark, _docs(spark, n=8), out, run_id="c2")
    # no sentinels after committed runs
    ck = os.path.join(out, "_checkpoint")
    assert not [f for f in os.listdir(ck) if f.startswith("INFLIGHT-")]

    # live sentinel (this test's pid) -> vacuum refuses
    with open(_inflight_path(out, "racer"), "w") as f:
        f.write(str(os.getpid()))
    with pytest.raises(RuntimeError, match="in flight"):
        vacuum_curation(out, keep_last=1)

    # dead-pid sentinel is stale debris: swept, vacuum proceeds
    os.remove(_inflight_path(out, "racer"))
    with open(_inflight_path(out, "ghost"), "w") as f:
        f.write("999999999")
    snap = vacuum_curation(out, keep_last=1)
    assert snap["runs"] == ["c2"]
    assert not os.path.exists(_inflight_path(out, "ghost"))
    # removed_paths is IN the persisted snapshot (round-6 advice:
    # disk and returned object must agree)
    with open(os.path.join(ck, f"snapshot-{snap['n']}.json")) as f:
        on_disk = json.load(f)
    assert on_disk == snap
    assert any("run_id=c1" in p for p in snap["removed_paths"])


def test_vacuum_tolerates_missing_historical_snapshot(spark, tmp_path):
    """Round-6 advice: one manually-deleted historical snapshot file
    must not block retention forever."""
    import os

    from distributed_system___ocr_spark.curation import vacuum_curation

    out = str(tmp_path / "cur")
    run_curation(spark, _docs(spark, n=6), out, run_id="c1")
    run_curation(spark, _docs(spark, n=8), out, run_id="c2")
    run_curation(spark, _docs(spark, n=10), out, run_id="c3")
    os.remove(os.path.join(out, "_checkpoint", "snapshot-0.json"))
    snap = vacuum_curation(out, keep_last=2)
    assert snap["runs"] == ["c2", "c3"]
    assert read_curated(spark, out).count() > 0


def test_algorithm_version_bump_recurates(spark, tmp_path, monkeypatch):
    """Round-4 advice (medium): a code upgrade that changes stage
    output for the same input must re-curate, not false no-op-resume —
    the dataflow version (and the minhash algorithm constants it
    stands with) are part of the fingerprint."""
    import distributed_system___ocr_spark.curation as cur

    out = str(tmp_path / "cur")
    docs = _docs(spark, n=10)
    run_curation(spark, docs, out, run_id="v1")
    assert run_curation(spark, docs, out, run_id="v2").get(
        "skipped_noop"
    ) is True
    monkeypatch.setattr(cur, "CURATION_DATAFLOW_VERSION", 99)
    info = run_curation(spark, docs, out, run_id="v3")
    assert "skipped_noop" not in info
    assert load_curation_snapshot(out)["latest_run"] == "v3"


def test_cli_rejects_quality_flags_without_gate_switch():
    """Round-4 advice: --quality-max-chars / --quality-dup-bigram-max
    silently did nothing without --quality-min-chars; now they error
    out before any Spark work."""
    import pytest as _pytest

    from distributed_system___ocr_spark.cli import main

    for flags in (
        ["--quality-max-chars", "500"],
        ["--quality-dup-bigram-max", "0.1"],
    ):
        with _pytest.raises(SystemExit) as exc:
            main(["--synthetic", "10", "--output", "/tmp/x",
                  "--run-id", "r", *flags])
        assert exc.value.code == 2


def test_chunk_n_chars_arithmetic_equals_length(spark):
    """n_chars is computed arithmetically (least(size, len - idx*stride))
    so size-only consumers prune the chunk bytes — it must equal
    length(chunk) on every row for any config."""
    from distributed_system___ocr_spark.curation import chunk_docs

    docs = _docs(spark, n=8)
    for size, stride in ((2048, 1792), (100, 100), (7, 3)):
        rows = chunk_docs(docs, size, stride).collect()
        assert rows
        for r in rows:
            assert r["n_chars"] == len(r["chunk"]), (size, stride, r)


def test_vacuum_curation_retention_and_guards(spark, tmp_path):
    """Retention maintenance (round 5): drop old committed runs and
    crashed-run debris, keep time travel for the survivors, keep the
    replay guard for vacuumed ids, and keep the no-op-resume barrier
    across a vacuum."""
    import os

    from distributed_system___ocr_spark.curation import vacuum_curation

    out = str(tmp_path / "cur")
    d1, d2, d3 = _docs(spark, n=8), _docs(spark, n=10), _docs(spark, n=12)
    run_curation(spark, d1, out, run_id="c1")
    run_curation(spark, d2, out, run_id="c2")
    run_curation(spark, d3, out, run_id="c3")
    # crashed-run debris: a data dir no snapshot ever committed
    os.makedirs(os.path.join(out, "curated", "run_id=zombie", "survivors"))

    with pytest.raises(ValueError, match=">= 1"):
        vacuum_curation(out, keep_last=0)
    snap = vacuum_curation(out, keep_last=2)
    assert snap["runs"] == ["c2", "c3"]
    assert snap["vacuumed_runs"] == ["c1"]
    assert snap["latest_run"] == "c3"

    # kept runs stay addressable; the vacuumed one refuses cleanly
    assert read_curated(spark, out, run_id="c3").count() > 0
    assert read_curated(spark, out, run_id="c2").count() > 0
    with pytest.raises(FileNotFoundError, match="not committed"):
        read_curated(spark, out, run_id="c1")
    assert not os.path.exists(os.path.join(out, "curated", "run_id=c1"))
    assert not os.path.exists(os.path.join(out, "lineage", "run_id=c1"))
    assert not os.path.exists(os.path.join(out, "curated", "run_id=zombie"))

    # reusing a vacuumed run_id is still rejected (path ambiguity)
    with pytest.raises(ValueError, match="already committed"):
        run_curation(spark, d3, out, run_id="c1")

    # the fingerprint barrier survives the vacuum: unchanged corpus
    # no-ops, and the vacuumed_runs guard carries into new snapshots
    info = run_curation(spark, d3, out, run_id="c4")
    assert info.get("skipped_noop") is True
    info2 = run_curation(spark, d1, out, run_id="c5")  # changed corpus
    assert "skipped_noop" not in info2
    with pytest.raises(ValueError, match="already committed"):
        run_curation(spark, d1, out, run_id="c1")

    # a second vacuum down to 1 keeps only the new latest
    snap2 = vacuum_curation(out, keep_last=1)
    assert snap2["runs"] == ["c5"]
    assert set(snap2["vacuumed_runs"]) == {"c1", "c2", "c3"}
    assert read_curated(spark, out).count() > 0


def test_cli_vacuum_curation_mode(spark, tmp_path):
    """The CLI maintenance mode runs without a Spark session and
    prints the new snapshot."""
    import os
    import subprocess
    import sys

    out = str(tmp_path / "cur")
    run_curation(spark, _docs(spark, n=6), out, run_id="c1")
    run_curation(spark, _docs(spark, n=8), out, run_id="c2")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    res = subprocess.run(
        [sys.executable, "-m", "distributed_system___ocr_spark.cli",
         "--vacuum-curation", "1", "--output", out, "--run-id", "m1"],
        capture_output=True, text=True, timeout=120, env=env, cwd="/tmp",
    )
    assert res.returncode == 0, res.stderr[-1500:]
    info = json.loads(res.stdout.strip().splitlines()[-1])
    assert info["vacuumed_snapshot"]["runs"] == ["c2"]
    assert read_curated(spark, out).count() > 0


def test_segment_dedup_stage_keeps_first_occurrence(spark, tmp_path):
    """Keep-first tile dedup inside the pipeline: a later full
    duplicate empties and drops, a partial duplicate keeps only its
    novel tiles, the first occurrence survives verbatim; the tile
    width is fingerprinted."""
    out = str(tmp_path / "cur")
    t1 = " ".join(f"alpha{j:02d}" for j in range(8))   # one 8-token tile
    t2 = " ".join(f"beta{j:02d}" for j in range(8))
    novel = " ".join(f"gamma{j:02d}" for j in range(8))
    docs = spark.createDataFrame(pd.DataFrame([
        # url order defines "first": a.com < b.com < c.com
        {"url": "https://a.com/1", "text": f"{t1} {t2}", "lang": "en"},
        {"url": "https://b.com/1", "text": f"{t1} {novel}", "lang": "en"},
        {"url": "https://c.com/1", "text": f"{t1} {t2}", "lang": "en"},
    ]))
    info = run_curation(
        spark, docs, out, run_id="sd1", segment_dedup_n=8,
    )
    surv = {
        r["url"]: r["text"] for r in read_curated(spark, out).collect()
    }
    assert surv["https://a.com/1"] == f"{t1} {t2}"
    assert surv["https://b.com/1"] == novel
    assert "https://c.com/1" not in surv
    assert info["n_after_segment_dedup"] == 2
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["segment_dedup"] == (3, 2)
    # same width -> no-op resume; different width -> re-curates
    assert run_curation(
        spark, docs, out, run_id="sd2", segment_dedup_n=8,
    ).get("skipped_noop") is True
    assert "skipped_noop" not in run_curation(
        spark, docs, out, run_id="sd3", segment_dedup_n=4,
    )


def test_cluster_balance_stage_drops_and_records_lineage(spark, tmp_path):
    """Cluster-balanced sampling inside the pipeline: the stage fires
    (some dominant-cell docs drop), lineage records the drop, alpha is
    fingerprinted (same alpha -> no-op resume; the all-stages test's
    delta loop covers re-curation on change), and the keep-set is
    deterministic across a fresh run into a fresh dir."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, n=40)
    info = run_curation(spark, docs, out, run_id="cb1", cluster_alpha=0.5)
    assert info["n_after_cluster_balance"] < info["n_after_lm_quality"]
    assert info["n_after_cluster_balance"] == info["n_survivors"]
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["cluster_balance"] == (
        info["n_after_lm_quality"], info["n_survivors"]
    )
    surv1 = {r["url"] for r in read_curated(spark, out).collect()}
    assert run_curation(
        spark, docs, out, run_id="cb2", cluster_alpha=0.5
    ).get("skipped_noop") is True
    out2 = str(tmp_path / "cur2")
    run_curation(spark, docs, out2, run_id="cb3", cluster_alpha=0.5)
    surv2 = {r["url"] for r in read_curated(spark, out2).collect()}
    assert surv1 == surv2


def test_split_stamp_independent_of_sampling_bucket(spark, tmp_path):
    """Round-6 review finding: the split stamp's bucket is salted, so
    a survivor population pre-filtered by an UNSALTED acceptance
    bucket (what any sampling stage's survivors look like) still
    receives val/test at the configured fractions. Under a shared
    bucket, survivors with bucket < 300k could never reach the
    val/test thresholds at (0.8, 0.1) and val+test would be EMPTY."""
    import hashlib

    from distributed_system___ocr_spark.curation import stamp_split

    rows = [
        {"url": f"https://ex.com/{i:05d}", "text": "x", "lang": "en"}
        for i in range(5000)
        if int(hashlib.md5(f"https://ex.com/{i:05d}".encode())
               .hexdigest()[:8], 16) % 1_000_000 < 300_000
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    stamped = stamp_split(docs, 0.8, 0.1).groupBy("split").count()
    by = {r["split"]: r["count"] for r in stamped.collect()}
    n = sum(by.values())
    assert n == len(rows) and n > 1000
    assert by.get("val", 0) > 0 and by.get("test", 0) > 0
    # ~10% each, wide deterministic bounds
    assert 0.05 < by["val"] / n < 0.15
    assert 0.05 < by["test"] / n < 0.15


def test_url_blocklist_stage_drops_blocked_domains(spark, tmp_path):
    """Composed url_blocklist stage: docs from a blocked domain (or
    subdomain) drop as the FIRST cut, lineage records it, the
    normalized blocklist is fingerprinted (reordered/respelled lists
    no-op-resume, a grown list re-curates), and a DataFrame blocklist
    fingerprints by CONTENT."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, n=24)  # ex.com + every-8th mirror.com clones
    info = run_curation(
        spark, docs, out, run_id="b1",
        blocked_domains=["mirror.com"],
    )
    survivors = {r["url"] for r in read_curated(spark, out).collect()}
    assert survivors and not any("mirror.com" in u for u in survivors)
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["url_blocklist"][0] - lin["url_blocklist"][1] == 3
    assert info["n_after_url_blocklist"] == lin["url_blocklist"][1]
    # respelled same-content list -> no-op resume
    assert run_curation(
        spark, docs, out, run_id="b2",
        blocked_domains=[".MIRROR.com", "mirror.com"],
    ).get("skipped_noop") is True
    # grown list -> re-curates
    assert "skipped_noop" not in run_curation(
        spark, docs, out, run_id="b3",
        blocked_domains=["mirror.com", "ex.com"],
    )


def test_url_blocklist_stage_dataframe_content_fingerprint(
    spark, tmp_path
):
    out = str(tmp_path / "cur")
    docs = _docs(spark, n=16)
    bl = spark.createDataFrame(pd.DataFrame({"domain": ["mirror.com"]}))
    run_curation(spark, docs, out, run_id="d1", blocked_domains=bl)
    survivors = {r["url"] for r in read_curated(spark, out).collect()}
    assert survivors and not any("mirror.com" in u for u in survivors)
    # same content, different row order/spelling -> no-op resume
    bl2 = spark.createDataFrame(
        pd.DataFrame({"domain": [".Mirror.COM", "mirror.com"]})
    )
    assert run_curation(
        spark, docs, out, run_id="d2", blocked_domains=bl2,
    ).get("skipped_noop") is True
    # changed content -> re-curates; DataFrame and list agree
    bl3 = spark.createDataFrame(
        pd.DataFrame({"domain": ["mirror.com", "nosuch.org"]})
    )
    info3 = run_curation(
        spark, docs, out, run_id="d3", blocked_domains=bl3,
    )
    assert "skipped_noop" not in info3
    # an empty-after-normalization list disables the stage entirely
    out2 = str(tmp_path / "cur2")
    info0 = run_curation(
        spark, docs, out2, run_id="e1", blocked_domains=[],
    )
    assert info0["n_after_url_blocklist"] == info0["n_input"]


def test_input_fingerprints_fold_equals_separate_aggregates(spark):
    """The one aggregation over every input gives each fingerprint the
    value its own aggregate gave, so a committed snapshot's
    ``input_fingerprint`` still compares equal: a blank doc counts in
    the raw count only, and a null eval text is summed (xxhash64 of a
    null is the seed) but not counted."""
    from distributed_system___ocr_spark.curation import _fingerprints

    docs = _docs(spark, n=8)
    evals = spark.createDataFrame(pd.DataFrame(
        {"text": ["an eval prompt here", None, "another eval prompt"]}
    ))
    emb = spark.createDataFrame(pd.DataFrame({
        "url": ["https://ex.com/d000", "https://ex.com/d001"],
        "v": [[0.5, 1.0], [0.25, -2.0]],
    }))
    blocked = spark.createDataFrame(pd.DataFrame(
        {"d": [".Evil.NET", "evil.net", "Blocked.Example.com", None]}
    ))

    def agg(df, n, h):
        row = df.agg(
            n.alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")
        ).collect()[0]
        return row["n"], str(row["h"])

    nb = F.col("text").isNotNull() & (F.length("text") > 0)
    n_raw = docs.count()
    n, h = agg(
        docs, F.count(F.when(nb, 1)),
        F.when(nb, F.xxhash64(F.col("url"), F.col("text"), F.col("lang"))),
    )
    en, eh = agg(evals, F.count("text"), F.xxhash64(F.col("text")))
    vn, vh = agg(
        emb, F.count("*"),
        F.xxhash64(F.col("url"), F.col("v").cast("string")),
    )
    dom = F.lower(F.regexp_replace(F.col("d"), r"^\.", ""))
    bn, bh = agg(
        blocked.select(dom.alias("d")).distinct(), F.count("*"),
        F.xxhash64(F.col("d")),
    )
    assert (n_raw - n, en) == (1, 2)  # the fixture has both edge cases

    fp, raw, others = _fingerprints(
        docs, eval_docs=evals, embeddings=emb, blocked=blocked
    )
    assert (fp, raw) == ({"n_docs": n, "content_sum": h}, n_raw)
    assert others == {
        "decon": {"n_docs": en, "content_sum": eh},
        "semdedup": {"n_vecs": vn, "content_sum": vh},
        "url_blocklist": {"n_domains": bn, "content_sum": bh},
    }
    assert _fingerprints(docs) == (fp, raw, {})


def test_pack_count_is_distinct_bins_when_chunks_exceed_target(
    spark, tmp_path
):
    """With chunk_size > pack_target a chunk longer than the target
    skips bin ids (bin_id = floor(running length / target)), so the
    lineage 'pack' count is the number of DISTINCT bins, not a per-key
    max(bin_id) + 1."""
    rows = [
        {"url": f"https://ex.com/long{i:02d}",
         "text": " ".join(f"t{i:02d}x{j:03d}" for j in range(250)),
         "lang": "en"}
        for i in range(6)
    ]
    out = str(tmp_path / "cur")
    info = run_curation(
        spark, spark.createDataFrame(pd.DataFrame(rows)), out,
        run_id="p1", chunk_size=4096, chunk_stride=4096, pack_target=1000,
    )
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["pack"] == (6, 6) and info["n_bins"] == 6
    # one 1,999-char chunk per doc: the max + 1 shortcut would report
    # 10 bins
    bins = [
        r["bin_id"]
        for r in spark.read.parquet(info["packed_path"]).collect()
    ]
    assert sorted(bins) == [0, 1, 3, 5, 7, 9]
