"""URL/domain blocklist operator (operators/urlfilter.py): both scale
paths, label-boundary semantics, and the null/unparseable contract."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from distributed_system___ocr_spark.operators.urlfilter import (
    filter_blocked_domains,
    host_of,
    host_suffixes,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        {"url": "https://blocked.example.com/a", "doc": "exact"},
        {"url": "https://deep.sub.blocked.example.com/b", "doc": "sub"},
        {"url": "https://notblocked.example.com/c", "doc": "sibling"},
        {"url": "https://xblocked.example.com/d", "doc": "prefix-look"},
        {"url": "https://blocked.example.com.evil.net/e", "doc": "infix"},
        {"url": "HTTPS://User:pw@BLOCKED.Example.COM:443/f", "doc": "messy"},
        {"url": "https://fine.org/g", "doc": "fine"},
        {"url": "no-scheme-here", "doc": "hostless"},
        {"url": None, "doc": "nullurl"},
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


BLOCKED = ["blocked.example.com", ".Evil.NET"]

# label-boundary semantics: exact host and subdomains drop; name
# lookalikes without a "." boundary and hosts merely CONTAINING the
# domain as an infix survive; scheme/userinfo/port casing normalizes;
# unparseable/null urls are unknown, not known-bad -> survive
EXPECT_SURVIVORS = {"sibling", "prefix-look", "fine", "hostless", "nullurl"}


def test_literal_path_label_boundary_semantics(docs):
    got = {r["doc"] for r in filter_blocked_domains(docs, BLOCKED).collect()}
    assert got == EXPECT_SURVIVORS


def test_dataframe_path_matches_literal_path(spark, docs):
    bl = spark.createDataFrame(
        pd.DataFrame({"domain": BLOCKED})
    )
    got = {r["doc"] for r in filter_blocked_domains(docs, bl).collect()}
    assert got == EXPECT_SURVIVORS


def test_empty_blocklist_is_identity(docs):
    assert filter_blocked_domains(docs, []).count() == docs.count()


def test_host_of_normalizes():
    import pandas as _pd

    from distributed_system___ocr_spark.session import get_spark

    spark = get_spark("t-urlhost", master="local[2]")
    df = spark.createDataFrame(
        _pd.DataFrame({"url": ["HTTPS://u:p@A.B.Example.COM:8443/x?q#f"]})
    )
    row = df.select(host_of(F.col("url")).alias("h")).first()
    assert row["h"] == "a.b.example.com"
    sfx = df.select(
        host_suffixes(host_of(F.col("url"))).alias("s")
    ).first()["s"]
    assert sfx == ["a.b.example.com", "b.example.com", "example.com", "com"]


def test_literal_path_plan_is_scan_stage_only(docs):
    """The config-sized-blocklist path must stay a pure scan-stage
    filter: zero exchanges, zero joins, zero Python."""
    plan = (
        filter_blocked_domains(docs, BLOCKED)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("Exchange", "Join", "BatchEvalPython"):
        assert bad not in plan, plan


def test_host_of_equals_lower_on_mixed_hosts(spark):
    """ASCII hosts are lowercased by translate, non-ASCII ones by
    lower(): the result equals lowering every host with lower()."""
    urls = [
        "HTTPS://A.B.Example.COM:8443",
        "http://ÄB.Example.com",
        "https://İSTANBUL.example.com",
        "https://ΣΑΣ.gr",
        "no-scheme-here",
        None,
    ]
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    authority = F.regexp_extract(
        F.col("url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1
    )
    no_user = F.regexp_replace(authority, r"^[^@]*@", "")
    lowered = F.lower(F.regexp_replace(no_user, r":\d+$", ""))
    rows = df.select(
        host_of(F.col("url")).alias("h"), lowered.alias("l")
    ).collect()
    assert [r["h"] for r in rows] == [r["l"] for r in rows]
    assert rows[0]["h"] == "a.b.example.com"
    assert rows[1]["h"] == "äb.example.com"
