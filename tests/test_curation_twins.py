"""Each curation stage that has an oracle-gated registry counterpart
must give that query's rows on the same corpus. Both sides run one
kernel (operators/, functions/), so the DuckDB oracle in
test_queries.py gates the code the chain runs; this pins the adapters:
the chain's url key against the registry's doc_id, and each side's
parameters and column selection.

The ``documents`` table is relabelled as the chain's (url, text, lang)
schema: a zero-padded doc_id where the stage orders by url, and the
plain doc_id string where the stage draws an md5 bucket from url (the
registry hashes ``CAST(doc_id AS VARCHAR)``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_system___ocr_spark import curation
from distributed_system___ocr_spark.plans import curationops as reg

SF = "/root/testdata/sf0.01"


def _docs(spark, padded: bool):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    url = F.col("doc_id").cast("string")
    if padded:
        url = F.lpad(url, 12, "0")
    return d.select(url.alias("url"), "text", "lang")


def _rewrite(chain, registry, text_col, count_col):
    """(chain {doc_id: text}, registry {doc_id: text}, docs the
    registry rewrote). The registry has no row for a 0-token doc; the
    chain keeps it with empty text."""
    rows = registry.collect()
    got = {int(r["url"]): r["text"] for r in chain.collect()}
    want = {r["doc_id"]: r[text_col] for r in rows}
    assert all(got[k] == "" for k in got.keys() - want.keys())
    return (
        {k: got[k] for k in want}, want, sum(r[count_col] > 0 for r in rows)
    )


def span_removal(spark):
    chain = curation.remove_boilerplate_spans(
        _docs(spark, True), reg._SPAN_MIN_DOCS, reg._SPAN_N
    )
    return _rewrite(
        chain, reg.remove_common_spans(spark, SF), "cleaned_text", "n_removed"
    )


def segment_dedup(spark):
    chain = curation.dedup_segments_first(_docs(spark, True), reg._SEG_N)
    return _rewrite(
        chain, reg.dedup_segments_keep_first(spark, SF), "deduped_text",
        "n_dropped",
    )


def lm_tail_drop(spark):
    docs = _docs(spark, True)
    got = {int(r["url"]) for r in
           curation.lm_quality_survivors(docs, reg._ZB_HI).collect()}
    want = {r["doc_id"] for r in
            reg.lm_quality_tail_drop(spark, SF).collect()}
    return got, want, docs.count() - len(want)


def temperature_sample(spark):
    docs = _docs(spark, False)
    got = {int(r["url"]) for r in
           curation.temperature_sample(docs, reg._TEMP_ALPHA).collect()}
    want = {r["doc_id"] for r in
            reg.temperature_sampled_corpus(spark, SF).collect()}
    return got, want, docs.count() - len(want)


def split_stamp(spark):
    got = {(int(r["url"]), r["split"]) for r in
           curation.stamp_split(_docs(spark, False), *reg._SPLIT_FRACS)
           .collect()}
    want = {(r["doc_id"], r["split"]) for r in
            reg.train_val_test_split(spark, SF).collect()}
    return got, want, len({s for _, s in want}) - 1


def quality_gate(spark):
    """The registry verdict adds a stopword cut the chain gate does not
    make: compare against the rows no other reason rejects."""
    docs = _docs(spark, True)
    got = {int(r["url"]) for r in curation.quality_gate(
        docs, reg._QG_MIN_CHARS, reg._QG_MAX_CHARS, reg._QG_DUP_BG_MAX
    ).collect()}
    want = {
        r["doc_id"]
        for r in reg.quality_gate_verdict(spark, SF).collect()
        if not set(filter(None, r["reasons"].split(","))) - {"low_stopword"}
    }
    return got, want, docs.count() - len(want)


@pytest.mark.parametrize("twin", [
    span_removal, segment_dedup, lm_tail_drop, temperature_sample,
    split_stamp, quality_gate,
], ids=lambda f: f.__name__)
def test_chain_stage_equals_registry_query(spark, twin):
    got, want, fired = twin(spark)
    assert got == want
    # a stage that changes nothing at this sf would make the equality
    # vacuous
    assert fired > 0, twin.__name__
