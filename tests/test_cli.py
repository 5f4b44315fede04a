"""CLI surface test: spark-submit-style invocation in a subprocess
(fresh JVM, no shared session), run + resume."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(*args):
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "-m", "distributed_system___ocr_spark.cli", *args],
        capture_output=True, text=True, timeout=300, env=env, cwd="/tmp",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_cli_run_and_resume(tmp_path):
    out_dir = str(tmp_path / "out")
    report = str(tmp_path / "report.html")
    info1 = _run_cli(
        "--synthetic", "300", "--output", out_dir, "--run-id", "c1",
        "--report", report, "--seed", "7",
    )
    assert info1["n_extracted_this_run"] > 250
    assert os.path.exists(report)
    with open(report) as f:
        html = f.read()
    assert html.startswith("<html>\n<title>OCR</title>")

    info2 = _run_cli(
        "--synthetic", "300", "--output", out_dir, "--run-id", "c2",
        "--no-manifest", "--seed", "7",
    )
    assert info2["n_extracted_this_run"] == 0  # full resume, zero re-done

    # scheduled-resubmission scenario WITH --report: the skip-empty
    # path returns manifest_path=None; the report must render from the
    # prior run's persisted manifest instead of crashing on
    # spark.read.parquet(None)
    report3 = str(tmp_path / "report3.html")
    info3 = _run_cli(
        "--synthetic", "300", "--output", out_dir, "--run-id", "c3",
        "--report", report3, "--seed", "7",
    )
    assert info3.get("skipped_empty_run") is True
    assert info3["report_path"] == report3
    with open(report3) as f:
        assert f.read().startswith("<html>\n<title>OCR</title>")


def test_spark_submit_pyfiles_launch(tmp_path):
    """The north_rule's launch contract, run for real: package the
    engine as a zip, ship it via spark-submit --py-files, and drive a
    run through the submit.py shim (module-relative imports mean the
    package must come from the zip, not the checkout)."""
    import shutil
    import zipfile

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        from pyspark import find_spark_home

        spark_submit = os.path.join(
            find_spark_home._find_spark_home(), "bin", "spark-submit"
        )
    zip_path = str(tmp_path / "engine.zip")
    pkg = os.path.join(REPO, "distributed_system___ocr_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    out_dir = str(tmp_path / "out")
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }  # package must resolve from the zip
    env["SPARK_GRAFT_CPUS"] = "4"
    # run the shim from OUTSIDE the checkout: python puts the script's
    # dir on sys.path, so leaving it in the repo would let the package
    # resolve from the checkout instead of proving the zip works
    shim = str(tmp_path / "submit.py")
    shutil.copy(os.path.join(REPO, "submit.py"), shim)
    res = subprocess.run(
        [spark_submit, "--master", "local[4]", "--py-files", zip_path,
         shim,
         "--synthetic", "80", "--output", out_dir, "--run-id", "sub1",
         "--no-manifest"],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    info = json.loads(res.stdout.strip().splitlines()[-1])
    assert info["n_extracted_this_run"] > 60
    assert os.path.isdir(os.path.join(out_dir, "extracted", "run_id=sub1"))


def test_cli_report_without_manifest_fails_fast(tmp_path):
    """--report needs the manifest; the combination must be rejected in
    arg validation, BEFORE the pipeline spends a whole run."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "-m", "distributed_system___ocr_spark.cli",
         "--synthetic", "10", "--output", str(tmp_path / "o"),
         "--run-id", "x", "--report", str(tmp_path / "r.html"),
         "--no-manifest"],
        capture_output=True, text=True, timeout=60, env=env, cwd="/tmp",
    )
    assert out.returncode == 2  # argparse error exit, no Spark startup
    assert "--no-manifest" in out.stderr


def test_cli_blocked_domains_list_is_whitespace_stripped():
    """"a.com, b.com" must block b.com: a leading space survives
    run_curation's lower()/lstrip(".") normalization and matches no
    real host, silently half-disabling a safety filter (round-6
    review). Pure parse — no Spark session needed."""
    from distributed_system___ocr_spark.cli import _blocked_domains_arg

    assert _blocked_domains_arg(
        "adult.com, spam.com , ,x.org", spark=None
    ) == ["adult.com", "spam.com", "x.org"]
    assert _blocked_domains_arg(None, spark=None) is None
    assert _blocked_domains_arg("", spark=None) is None


def test_cli_export_cumulative_requires_export_jsonl(tmp_path):
    """--export-cumulative only parameterizes the JSONL export;
    without --export-jsonl it must fail fast (parser.error) instead
    of running the whole curation and exporting nothing."""
    import pytest

    from distributed_system___ocr_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main([
            "--synthetic", "10", "--curate",
            "--output", str(tmp_path / "o"), "--run-id", "x",
            "--export-cumulative",
        ])
    assert exc.value.code == 2


def test_cli_curate_forwards_every_run_curation_keyword(
    tmp_path, monkeypatch
):
    """``--curate`` passes every keyword of ``run_curation`` (all but
    spark, docs and out_dir), so a stage cannot ship without its flag.
    run_curation, the session and the input read are stubbed."""
    import inspect
    import types

    from distributed_system___ocr_spark import (
        cli,
        curation,
        pipeline,
        session,
    )

    expected = set(inspect.signature(curation.run_curation).parameters)
    seen = {}

    def fake_run_curation(spark, docs, out_dir, **kw):
        seen.update(kw)
        return {}

    monkeypatch.setattr(curation, "run_curation", fake_run_curation)
    monkeypatch.setattr(pipeline, "read_extracted", lambda spark, path: None)
    monkeypatch.setattr(
        session, "get_spark",
        lambda *a, **k: types.SimpleNamespace(stop=lambda: None),
    )
    assert cli.main([
        "--input", str(tmp_path), "--curate", "--output",
        str(tmp_path / "o"), "--run-id", "x",
    ]) == 0
    assert set(seen) == expected - {"spark", "docs", "out_dir"}
