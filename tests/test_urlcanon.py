"""URL canonicalization as a composed curation stage: spelling twins
of one resource must collapse BEFORE any url-keyed decision (resume,
dedup tie-breaks, host quotas, packing keys). The registry query
canonicalize_urls pins the shared staged logic against the DuckDB
oracle; these tests pin the composable stage built on it."""

from __future__ import annotations

import pandas as pd
import pytest

from distributed_system___ocr_spark.curation import (
    read_curated,
    run_curation,
    run_curation_increment,
)
from distributed_system___ocr_spark.operators.urlcanon import (
    canonicalize_docs,
)

from conftest import jobs_of_call


def _doc(url, text):
    return {"url": url, "text": text, "lang": "en"}


_BODY = "shared body " + " ".join(f"w{j:02d}" for j in range(60))


def test_canonicalize_docs_collapses_spelling_twins(spark):
    docs = spark.createDataFrame(pd.DataFrame([
        # one resource, three spellings; min RAW url ("HTTPS://..."
        # sorts before "https://...") wins keep-first
        _doc("HTTPS://A.com:443/x/./y/../z?b=2&a=1#frag", "first"),
        _doc("https://a.com/x/z?a=1&b=2", "second"),
        _doc("https://a.com:443/x/z?b=2&a=1", "third"),
        # a different resource survives untouched
        _doc("https://b.com/other", "other"),
    ]))
    got = {
        r["url"]: r["text"] for r in canonicalize_docs(docs).collect()
    }
    assert got == {
        "https://a.com/x/z?a=1&b=2": "first",
        "https://b.com/other": "other",
    }


def test_composed_canonicalize_stage_and_fingerprint(spark, tmp_path):
    out = str(tmp_path / "cur")
    docs = spark.createDataFrame(pd.DataFrame([
        # one resource, two spellings, RE-CRAWLED with fully different
        # content: neither exact nor near dedup can collapse them —
        # only url identity can
        _doc("HTTP://www.E.com:80/p?y=2&x=1", "crawl one "
             + " ".join(f"a{j:02d}" for j in range(60))),
        _doc("http://www.e.com/p?x=1&y=2", "crawl two "
             + " ".join(f"b{j:02d}" for j in range(60))),
        _doc("http://www.e.com/q", "distinct body "
             + " ".join(f"q{j:02d}" for j in range(60))),
    ]))
    info = run_curation(
        spark, docs, out, run_id="c1", canonicalize_urls=True,
    )
    surv = {
        r["url"] for r in read_curated(spark, out).collect()
    }
    assert surv == {"http://www.e.com/p?x=1&y=2", "http://www.e.com/q"}
    # the stage's lineage row records the collapse
    lin = {
        r["stage"]: (r["n_in"], r["n_out"])
        for r in spark.read.parquet(info["lineage_path"]).collect()
    }
    assert lin["url_canonicalize"] == (3, 2)
    # same corpus WITHOUT the knob is a different dataflow identity:
    # it must re-curate, not falsely no-op-resume
    info2 = run_curation(spark, docs, out, run_id="c2")
    assert "skipped_noop" not in info2
    assert read_curated(spark, out).count() == 3  # twins kept raw


def test_increment_canonicalization_must_match_chain(spark, tmp_path):
    out = str(tmp_path / "cur")
    base = spark.createDataFrame(pd.DataFrame([
        _doc("https://a.com/keep", _BODY + " base"),
    ]))
    run_curation(spark, base, out, run_id="b", canonicalize_urls=True)

    # mismatched increment fails loudly, before any Spark job
    inc_raw = spark.createDataFrame(pd.DataFrame([
        _doc("https://z.com/new", _BODY + " new"),
    ]))

    def mismatched():
        with pytest.raises(ValueError, match="must match the committed"):
            run_curation_increment(spark, inc_raw, out, run_id="i0")

    _, jobs, stray = jobs_of_call(
        spark.sparkContext, f"canon-mismatch-{tmp_path.name}", mismatched
    )
    assert not jobs and not stray

    # matched increment: a new SPELLING of a committed url
    # canonicalizes to the same identity and resume-drops
    inc = spark.createDataFrame(pd.DataFrame([
        _doc("HTTPS://A.COM:443/keep#f", _BODY + " respelled"),
        _doc("https://z.com/new", "novel text "
             + " ".join(f"n{j:02d}" for j in range(60))),
    ]))
    info = run_curation_increment(
        spark, inc, out, run_id="i1", canonicalize_urls=True,
    )
    assert info["n_after_resume"] == 1  # the respelled twin dropped
    assert {
        r["url"] for r in read_curated(spark, out, run_id="i1").collect()
    } == {"https://z.com/new"}


def test_canonicalize_docs_passes_unparseable_urls_through(spark):
    """Round-6 verdict item 1 (URL_CANON_VERSION 2): urls whose scheme
    does not parse (schemeless, mailto:, bare paths) keep their RAW
    identity — v1 canonicalized them ALL to the literal "://" and the
    keep-first collapse destroyed every such doc but one."""
    docs = spark.createDataFrame(pd.DataFrame([
        _doc("example.com/a", "doc a " + _BODY),
        _doc("other.org/b", "doc b " + _BODY),
        _doc("mailto:x@y.z", "doc c " + _BODY),
        _doc("relative/path", "doc d " + _BODY),
        _doc("1http://bad-scheme.com/e", "doc e " + _BODY),
        # a parseable url still canonicalizes alongside them
        _doc("HTTPS://F.com:443/x?b=2&a=1#frag", "doc f " + _BODY),
    ]))
    got = {r["url"]: r["text"][:5] for r in canonicalize_docs(docs).collect()}
    assert got == {
        "example.com/a": "doc a",
        "other.org/b": "doc b",
        "mailto:x@y.z": "doc c",
        "relative/path": "doc d",
        "1http://bad-scheme.com/e": "doc e",
        "https://f.com/x?a=1&b=2": "doc f",
    }


def test_canonicalize_docs_rows_in_rows_out_per_distinct_resource(spark):
    """Row count out == number of distinct canonical identities (no
    silent destruction of unparseable urls; parseable spelling twins
    still collapse)."""
    rows = [_doc(f"scheme-less-{i}/p", f"body {i} " + _BODY)
            for i in range(10)]
    rows += [_doc("https://a.com/x", "x one " + _BODY),
             _doc("HTTPS://A.COM:443/x", "x two " + _BODY)]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    out = canonicalize_docs(docs)
    assert out.count() == 11  # 10 unparseable + 1 collapsed resource


def test_full_run_processed_manifest_carries_canonical_urls(
    spark, tmp_path
):
    """Round-6 advice item 1: a canonicalizing FULL run must write its
    processed-url manifest from the POST-canonicalization output. Base
    urls whose raw spelling is NOT canonical (and urls the base
    evaluated-and-DROPPED) must still resume-drop when resubmitted
    under any spelling."""
    out = str(tmp_path / "cur")
    base = spark.createDataFrame(pd.DataFrame([
        # raw spelling differs from canonical form
        _doc("HTTPS://A.COM:443/keep?b=2&a=1#x", _BODY + " base"),
        # evaluated but DROPPED by the gate (too short)
        _doc("https://drop.me:443/short", "tiny"),
    ]))
    run_curation(
        spark, base, out, run_id="b",
        canonicalize_urls=True, quality_min_chars=30,
    )
    inc = spark.createDataFrame(pd.DataFrame([
        # canonical respelling of the committed base url
        _doc("https://a.com/keep?a=1&b=2", _BODY + " resubmitted"),
        # respelling of the base-DROPPED url: evaluated, so it must
        # resume-drop, not be re-evaluated
        _doc("HTTPS://DROP.ME/short", "resubmitted longer text "
             + " ".join(f"r{j:02d}" for j in range(60))),
        _doc("https://z.com/new", "novel text "
             + " ".join(f"n{j:02d}" for j in range(60))),
    ]))
    info = run_curation_increment(
        spark, inc, out, run_id="i1",
        canonicalize_urls=True, quality_min_chars=30,
    )
    assert info["n_after_resume"] == 1  # only the genuinely new url
    assert {
        r["url"] for r in read_curated(spark, out, run_id="i1").collect()
    } == {"https://z.com/new"}


def test_fragment_strip_runs_once_per_row(spark, tmp_path):
    """The fragment strip feeds all four url parts; staged in its own
    projection it appears once in the optimized plan of both the chain
    stage and the registry query, not once per part."""
    from conftest import TESTDATA

    from distributed_system___ocr_spark.plans.textops3 import (
        canonicalize_urls,
    )

    src = str(tmp_path / "docs")
    spark.createDataFrame(pd.DataFrame([
        _doc("HTTPS://A.com:443/x/./y/../z?b=2&a=1#frag", "a"),
    ])).write.parquet(src)  # a file scan: a local relation would fold
    plans = [
        canonicalize_docs(spark.read.parquet(src)),
        canonicalize_urls(spark, TESTDATA),
    ]
    for df in plans:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("#.*$") == 1, plan
