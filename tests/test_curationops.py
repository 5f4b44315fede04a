"""Round-4 curation-signal queries: SemDeDup invariants (rows-only —
these tests ARE its correctness gate) and gate-fires evidence for the
oracled boilerplate/temperature-sampling queries."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from distributed_system___ocr_spark.plans.curationops import (
    _SEMDEDUP_TAU,
    semdedup_pairs,
    temperature_sampled_corpus,
)

SF = "/root/testdata/sf0.001"


def _pairs_set(df):
    return {
        (r["a_id"], r["b_id"], r["cell"], r["cos_sim"])
        for r in df.collect()
    }


def test_semdedup_complete_and_exact_within_cells(spark):
    """The query must return EXACTLY the numpy-brute-forced qualifying
    pairs under the same trained cell assignment: completeness (no
    same-cell pair above tau missing), soundness (nothing below tau or
    cross-cell), and cosine values matching exact float64 to 6 dp."""
    from distributed_system___ocr_spark.operators.kmeans import kmeans_train
    from distributed_system___ocr_spark.plans.curationops import semdedup_k
    from distributed_system___ocr_spark.plans.vectorops import (
        _TRAINED_CENTROIDS,
        _emb_fingerprint,
        _model_cache_get,
        _spark_dvec,
        ivf_cell_udf,
    )

    got = _pairs_set(semdedup_pairs(spark, SF))
    assert got, "gate never fired: zero semantic near-dup pairs"

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", _spark_dvec(F.col("embedding")).alias("v")
    )
    k = semdedup_k(emb.count())
    cents = _model_cache_get(
        _TRAINED_CENTROIDS,
        (_emb_fingerprint(SF), "semdedup", k),
        lambda: kmeans_train(emb, k=k, iters=3),
    )
    rows = (
        emb.withColumn("cell", ivf_cell_udf(cents)(F.col("v")))
        .collect()
    )
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(
            (r["vec_id"], np.asarray(r["v"], dtype=np.float64))
        )
    expected = set()
    for cell, members in by_cell.items():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (ai, av), (bi, bv) = members[i], members[j]
                cos = float(
                    av @ bv / (np.sqrt(av @ av) * np.sqrt(bv @ bv))
                )
                if cos >= _SEMDEDUP_TAU:
                    expected.add((ai, bi, cell, round(cos, 6)))
    assert got == expected


def test_semdedup_deterministic_across_invocations(spark):
    assert _pairs_set(semdedup_pairs(spark, SF)) == _pairs_set(
        semdedup_pairs(spark, SF)
    )


def test_semdedup_k_scales_with_corpus():
    """Round-5 scale fix: the quantizer size must GROW with the corpus
    (k ~ sqrt(N)) instead of pinning parallelism and per-cell memory
    at a fixed 16 cells — floored for small fixtures, capped for the
    assignment-cost regime, never above N."""
    from distributed_system___ocr_spark.plans.curationops import (
        _SEMDEDUP_K_MAX,
        _SEMDEDUP_K_MIN,
        semdedup_k,
    )

    assert semdedup_k(5) == 5                      # never above N
    assert semdedup_k(200) == _SEMDEDUP_K_MIN      # floor
    n = 1_000_000
    assert semdedup_k(n) == 1000
    assert semdedup_k(100 * n) == 10 * semdedup_k(n)  # 100x data -> 10x k
    assert semdedup_k(10**13) == _SEMDEDUP_K_MAX   # cap
    # per-cell expected size N/k stays ~sqrt(N): at 10x the corpus,
    # k grows so cells grow only ~sqrt(10)x, not 10x
    assert semdedup_k(10 * n) / semdedup_k(n) >= 3


def test_semdedup_chunked_matmul_equals_unchunked(spark):
    """The block-chunked within-cell cosine scan must emit exactly the
    pairs of one full matmul — forcing a block size smaller than the
    cell exercises the cross-block upper-triangle bookkeeping."""
    import distributed_system___ocr_spark.operators.semdedup as sd

    base = _pairs_set(semdedup_pairs(spark, SF))
    orig = sd._SEMDEDUP_BLOCK
    sd._SEMDEDUP_BLOCK = 7  # smaller than every cell at this sf
    try:
        chunked = _pairs_set(semdedup_pairs(spark, SF))
    finally:
        sd._SEMDEDUP_BLOCK = orig
    assert chunked == base and base


def test_semdedup_megacell_subsplit_equals_unsplit(spark):
    """Round-6 (verdict item 5): forcing the sub-split bound below
    every cell size makes each cell fan out over g*(g+1)/2 block-pair
    tasks — the emitted pair set must be IDENTICAL to the unsplit
    plan (each unordered pair lands in exactly one block pair), and
    the split must actually fire (plan honesty: more input groups
    than cells). Composing both knobs (tiny block + tiny bound)
    exercises chunked cross-block scans inside sub-split cells."""
    import distributed_system___ocr_spark.operators.semdedup as sd

    base = _pairs_set(semdedup_pairs(spark, SF))
    orig_f, orig_b = sd._SEMDEDUP_SPLIT_FACTOR, sd._SEMDEDUP_BLOCK
    sd._SEMDEDUP_SPLIT_FACTOR = 0.2  # bound ~4 at N=500: every cell splits
    try:
        split = _pairs_set(semdedup_pairs(spark, SF))
        sd._SEMDEDUP_BLOCK = 3
        split_chunked = _pairs_set(semdedup_pairs(spark, SF))
    finally:
        sd._SEMDEDUP_SPLIT_FACTOR, sd._SEMDEDUP_BLOCK = orig_f, orig_b
    assert split == base and base
    assert split_chunked == base


def test_common_ngram_gate_fires(spark):
    """The corpus's dup/near-dup docs must produce nonzero cross-doc
    common grams — a 0-common pass is not evidence (round-1 lesson)."""
    from distributed_system___ocr_spark.plans.curationops import (
        common_ngram_fraction,
    )

    res = common_ngram_fraction(spark, SF)
    assert res.filter(F.col("n_common") > 0).count() > 0
    # frac bounded and consistent
    bad = res.filter(
        (F.col("common_frac") < 0) | (F.col("common_frac") > 1)
        | (F.col("n_common") > F.col("n_grams"))
    )
    assert bad.count() == 0


def test_remove_common_spans_fires_and_conserves(spark):
    """The removal gate must fire (the corpus's dup docs share
    5-grams), removed+kept must tile the token stream, and untouched
    docs must reassemble to their exact token sequence."""
    from distributed_system___ocr_spark.plans.curationops import (
        remove_common_spans,
    )

    res = {r["doc_id"]: r for r in remove_common_spans(spark, SF).collect()}
    docs = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    assert any(r["n_removed"] > 0 for r in res.values())
    assert any(r["n_removed"] == 0 for r in res.values())
    for did, r in res.items():
        toks = docs[did]
        assert r["n_tokens"] == len(toks)
        kept = [t for t in r["cleaned_text"].split(" ") if t]
        assert len(kept) == r["n_tokens"] - r["n_removed"]
        if r["n_removed"] == 0:
            assert kept == toks
        else:
            # kept tokens are an order-preserving subsequence
            it = iter(toks)
            assert all(k in it for k in kept)


def test_quality_gate_every_reason_fires(spark):
    """Each drop reason must actually occur at test sf (a verdict that
    never rejects is not evidence), keep must equal reasons == '',
    and the reason string must be deterministically ordered."""
    from distributed_system___ocr_spark.plans.curationops import (
        quality_gate_verdict,
    )

    rows = quality_gate_verdict(spark, SF).collect()
    fired = set()
    order = ["too_short", "too_long", "repetitive", "low_stopword"]
    for r in rows:
        reasons = r["reasons"].split(",") if r["reasons"] else []
        fired.update(reasons)
        assert r["keep"] == (not reasons)
        # fixed ordering: as listed in `order`
        idx = [order.index(x) for x in reasons]
        assert idx == sorted(idx)
    assert {"too_short", "too_long", "repetitive"} <= fired, fired
    assert any(r["keep"] for r in rows) and not all(r["keep"] for r in rows)


def test_approx_distinct_bounded_error_and_deterministic(spark):
    from distributed_system___ocr_spark.plans.curationops import (
        approx_distinct_users,
    )

    got = {
        r["event_type"]: (r["approx_users"], r["n_events"])
        for r in approx_distinct_users(spark, SF).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, n_exact in exact.items():
        approx = got[et][0]
        assert abs(approx - n_exact) <= max(2, 0.10 * n_exact), (
            et, approx, n_exact,
        )
    again = {
        r["event_type"]: (r["approx_users"], r["n_events"])
        for r in approx_distinct_users(spark, SF).collect()
    }
    assert got == again


def test_funnel_stages_ordered_and_populated(spark):
    """Every funnel level must occur at test sf (a funnel where nobody
    converts is not evidence) and matched timestamps must be strictly
    ordered click < view < purchase."""
    from distributed_system___ocr_spark.plans.curationops import (
        funnel_stages,
    )

    rows = funnel_stages(spark, SF).collect()
    assert any(r["funnel_stage"] == 3 for r in rows)
    for r in rows:
        if r["funnel_stage"] >= 2:
            assert r["first_click_ts"] < r["first_view_ts"]
        if r["funnel_stage"] == 3:
            assert r["first_view_ts"] < r["first_purchase_ts"]
        if r["funnel_stage"] < 3:
            assert r["first_purchase_ts"] is None

    # the dense fixture converts every user; prove the partial stages
    # on a crafted corpus: u1 full funnel, u2 click+view (purchase
    # BEFORE the view must not count), u3 click only (view BEFORE the
    # click must not count), u4 never clicks
    import datetime as dt
    import tempfile

    import pandas as pd

    t0 = dt.datetime(2024, 6, 1)

    def ev(i, user, typ, mins):
        return {"event_id": i, "ts": t0 + dt.timedelta(minutes=mins),
                "user_id": user, "event_type": typ, "value": 1.0,
                "props": None}

    pdf = pd.DataFrame([
        ev(1, 1, "click", 0), ev(2, 1, "view", 5), ev(3, 1, "purchase", 9),
        ev(4, 2, "purchase", 1), ev(5, 2, "click", 2), ev(6, 2, "view", 7),
        ev(7, 3, "view", 1), ev(8, 3, "click", 4),
        ev(9, 4, "view", 2), ev(10, 4, "signup", 3),
    ])
    sf2 = tempfile.mkdtemp(prefix="funnel_sf_")
    spark.createDataFrame(pdf).write.parquet(f"{sf2}/events.parquet")
    got = {r["user_id"]: r["funnel_stage"]
           for r in funnel_stages(spark, sf2).collect()}
    assert got == {1: 3, 2: 2, 3: 1, 4: 0}


def test_mixture_budget_caps_and_allocates(spark):
    """The allocation must spend (close to) the budget unless capped,
    boost low-resource languages (higher epochs than the dominant
    language), and never exceed the max-epoch cap."""
    from distributed_system___ocr_spark.plans.curationops import (
        _MIX_MAX_EPOCHS,
        mixture_token_budget,
    )

    rows = {r["lang"]: r for r in mixture_token_budget(spark, SF).collect()}
    assert all(r["epochs"] <= _MIX_MAX_EPOCHS + 1e-9 for r in rows.values())
    biggest = max(rows.values(), key=lambda r: r["n_tokens"])
    smallest = min(rows.values(), key=lambda r: r["n_tokens"])
    assert smallest["epochs"] > biggest["epochs"]


def test_dsir_discriminates_toward_target(spark):
    """Importance weights must be higher on average for the target
    slice's own docs than for the rest — otherwise the ratio model
    is not discriminating and the query is a no-signal pass."""
    from distributed_system___ocr_spark.plans.curationops import (
        dsir_importance_weight,
    )

    res = dsir_importance_weight(spark, SF).withColumn(
        "is_target", (F.col("doc_id") % 50 == 0)
    )
    means = {
        r["is_target"]: r["m"]
        for r in res.groupBy("is_target")
        .agg(F.avg(F.col("importance") / F.col("n_tokens")).alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_temperature_sampling_rebalances(spark):
    """Alpha < 1 must downsample the dominant language while keeping
    the smallest language in full — and the keep set must be the
    deterministic md5-bucket one (stable across invocations)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    in_counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    out = temperature_sampled_corpus(spark, SF)
    out_counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    min_lang = min(in_counts, key=lambda k: in_counts[k])
    max_lang = max(in_counts, key=lambda k: in_counts[k])
    # smallest language: keep_thresh == 10^6 -> every doc kept
    assert out_counts[min_lang] == in_counts[min_lang]
    # dominant language provably downsampled, but not emptied
    assert 0 < out_counts[max_lang] < in_counts[max_lang]
    # every language still represented
    assert set(out_counts) == set(in_counts)
    # deterministic: same keep set on re-run
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in temperature_sampled_corpus(spark, SF).collect()}
    assert a == b


def test_profile_sketch_bounded_error_and_no_text_exchange(spark):
    """The default (sketch) profile must stay within HLL++ error of
    the exact profile on every column, agree exactly on n_rows/nulls/
    avg_len, and its plan must NOT shuffle text values — the whole
    point of sketching (round-4 verdict item 3)."""
    from distributed_system___ocr_spark.plans.curationops import (
        profile_documents,
        profile_documents_sketch,
    )

    sk = profile_documents_sketch(spark, SF)
    exact = {
        r["column_name"]: r for r in profile_documents(spark, SF).collect()
    }
    got = {r["column_name"]: r for r in sk.collect()}
    assert set(got) == set(exact) == {"text", "lang", "source"}
    for c, r in got.items():
        e = exact[c]
        assert (r["n_rows"], r["n_nulls"], r["avg_len"]) == (
            e["n_rows"], e["n_nulls"], e["avg_len"]
        )
        assert abs(r["n_distinct"] - e["n_distinct"]) <= max(
            2, 0.10 * e["n_distinct"]
        ), (c, r["n_distinct"], e["n_distinct"])

    import re

    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "approx_count_distinct" in plan
    # exact distinct over a column puts the column INTO a
    # hash-partitioned exchange key; the sketch plan must not
    # (key lists any column order — the round-6 single-pass rewrite
    # groups all distinct columns into one Expand exchange)
    hp_text = re.compile(r"hashpartitioning\([^)]*\btext#")
    assert not hp_text.search(plan)
    exact_plan = (
        profile_documents(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert hp_text.search(exact_plan)  # audit detects it
    # round-6 verdict item 2: profiling C columns costs ONE corpus
    # scan in BOTH modes (one wide aggregation + unpivot), not C
    # unioned scans (an executed AQE plan string appends an
    # "== Initial Plan ==" copy — count the final section only)
    for p in (plan, exact_plan):
        final_section = p.split("== Initial Plan ==")[0]
        assert len(re.findall(r"FileScan parquet", final_section)) == 1, p


def test_domain_cap_fires_and_uses_window_group_limit(spark):
    """Per-domain quota: no source exceeds the cap, the gate actually
    drops rows at test sf, survivors are the deterministic top-K
    (longest, doc_id tie-break), and the physical plan contains
    WindowGroupLimit — the per-partition top-K heap that makes a hot
    domain ship K rows per map task instead of millions."""
    from distributed_system___ocr_spark.plans.curationops import (
        _DOMAIN_CAP,
        domain_cap_survivors,
    )

    df = domain_cap_survivors(spark, SF)
    rows = df.collect()
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0 < len(rows) < total  # the cap fired
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append((r["n_chars"], r["doc_id"]))
    full = {
        r["source"]: sorted(
            ((rr["n_chars"], rr["doc_id"])
             for rr in spark.read.parquet(f"{SF}/documents.parquet")
             .select("source", "n_chars", "doc_id").collect()
             if rr["source"] == r["source"]),
            key=lambda x: (-x[0], x[1]),
        )
        for r in rows
    }
    for src, kept in by_src.items():
        assert len(kept) <= _DOMAIN_CAP
        expect = full[src][:_DOMAIN_CAP]
        assert sorted(kept, key=lambda x: (-x[0], x[1])) == expect, src
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_lm_quality_zbuckets_ordered_and_all_fire(spark):
    """Head/middle/tail must all occur (a bucketing that never fires
    is not evidence), and mean score must strictly decrease
    head > middle > tail within every language that has all three."""
    from distributed_system___ocr_spark.plans.curationops import (
        lm_quality_zbuckets,
    )

    rows = lm_quality_zbuckets(spark, SF).collect()
    buckets = {r["bucket"] for r in rows}
    assert buckets == {"head", "middle", "tail"}
    by_lang: dict[str, dict[str, list]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {}).setdefault(
            r["bucket"], []
        ).append(r["avg_logprob"])
    checked = 0
    for lang, bk in by_lang.items():
        if set(bk) == {"head", "middle", "tail"}:
            mean = {b: sum(v) / len(v) for b, v in bk.items()}
            assert mean["head"] > mean["middle"] > mean["tail"], lang
            checked += 1
    assert checked > 0


def test_unigram_model_queries_explode_tokens_once(spark):
    """Round-6 verdict item: the corpus-sized tokenize+explode must
    appear ONCE in each unigram-model query's plan, and in the curation
    chain's lm_quality stage, which runs the same kernel keyed on url.
    The old shapes re-derived it per subtree (3x in lm_quality_zbuckets, 4x in
    dsir_importance_weight), multiplying the dominant scan cost. The
    model totals now derive from the vocab-sized tf frame and the
    per-doc score weights logp by the staged term count (value
    equality is the DuckDB oracle's job; this pins the plan shape)."""
    from distributed_system___ocr_spark.plans.curationops import (
        dsir_importance_weight,
        lm_quality_zbuckets,
        unigram_logprob_score,
    )

    # static bounds: Catalyst COPIES (not shares) a subtree with two
    # consumers, so the frame feeding both the model and the score
    # side still prints once per consumer — the bounds below are the
    # minimum each query's dataflow admits without a materialization
    # (unigram 2: tf-side + score-side; lm 4: the score subtree feeds
    # both the per-lang stats and the final select; dsir 3: the
    # term-vocab frame feeds the smoothing constants and the ratio)
    def chain_lm_quality(spark, sf_dir):
        # the chain stage runs the same kernel keyed on url; the
        # explicit isnotnull(key) filter must hold there too
        from distributed_system___ocr_spark.curation import (
            lm_quality_survivors,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("url"), "text", "lang"
        )
        return lm_quality_survivors(docs, 0.5)

    for q, max_static in (
        (unigram_logprob_score, 2),
        (lm_quality_zbuckets, 4),
        (dsir_importance_weight, 3),
        (chain_lm_quality, 4),
    ):
        df = q(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = plan.count("Generate explode")
        assert n <= max_static, (q.__name__, n)
        # executed-level guarantee: the duplicated staged-frame
        # subtrees end in IDENTICAL exchanges, which AQE runs once and
        # reuses — so the token explode executes once regardless of
        # the static copy count
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert ("ReusedExchange" in final or "ReusedQueryStage" in final
                or "reused" in final.lower()), q.__name__


def test_doc_length_quantiles_sketch_bounded_rank_error(spark):
    """The GK sketch quantiles must sit within the documented rank
    error of the exact distribution (at accuracy=10000 and test-sf
    group sizes the summary is effectively exact — assert a tight
    rank bound, not value closeness), be deterministic, and respect
    p25 <= p50 <= p75 <= p99 plus the min/max envelope."""
    from distributed_system___ocr_spark.plans.curationops import (
        doc_length_quantiles_sketch,
    )

    rows = {r["lang"]: r for r in
            doc_length_quantiles_sketch(spark, SF).collect()}
    assert rows
    vals_by_lang: dict[str, list] = {}
    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        vals_by_lang.setdefault(r["lang"], []).append(r["n_chars"])
    for lang, r in rows.items():
        vals = sorted(vals_by_lang[lang])
        n = len(vals)
        assert r["n_docs"] == n
        assert r["min_chars"] == vals[0] and r["max_chars"] == vals[-1]
        assert (r["p25"] <= r["p50"] <= r["p75"] <= r["p99"])
        for p, got in (("p25", .25), ("p50", .5), ("p75", .75), ("p99", .99)):
            q = r[p]
            assert vals[0] <= q <= vals[-1]
            # rank of the sketch answer within eps=1/accuracy (+1 for
            # boundary discreteness) of the target rank
            import bisect
            lo = bisect.bisect_left(vals, q)
            hi = bisect.bisect_right(vals, q) - 1
            target = got * (n - 1)
            eps = n / 10_000 + 1
            assert lo - eps <= target <= hi + eps, (lang, p, q)
    again = {r["lang"]: r for r in
             doc_length_quantiles_sketch(spark, SF).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_train_val_test_split_proportions_and_stability(spark):
    """Every doc lands in exactly one split; per-lang proportions sit
    near 80/10/10 (hash uniformity, tolerance not assumption); and
    the assignment is growth-stable — restricting to any sub-corpus
    leaves every doc's split unchanged (the property that keeps eval
    sets uncontaminated across corpus refreshes)."""
    from distributed_system___ocr_spark.plans.curationops import (
        train_val_test_split,
    )

    rows = train_val_test_split(spark, SF).collect()
    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rows) == n
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + 1
    assert set(by_split) == {"train", "val", "test"}
    assert 0.70 <= by_split["train"] / n <= 0.90
    for s in ("val", "test"):
        assert 0.04 <= by_split[s] / n <= 0.18, (s, by_split)

    # growth stability: the split of a doc is a pure function of
    # doc_id — recomputing over the corpus again (or any subset)
    # yields the identical assignment
    again = {r["doc_id"]: r["split"]
             for r in train_val_test_split(spark, SF).collect()}
    assert {r["doc_id"]: r["split"] for r in rows} == again


def test_semdedup_survivors_min_rep_matches_union_find(spark):
    """Rows-only gate for the drop form: survivors must equal a
    Python union-find over the pair set (min-id representative per
    component, singletons survive), the gate must actually drop rows,
    and the result must be deterministic."""
    from distributed_system___ocr_spark.plans.curationops import (
        semdedup_survivors_min_rep,
    )

    pairs = _pairs_set(semdedup_pairs(spark, SF))
    assert pairs
    all_ids = {
        r["vec_id"]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id").collect()
    }
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    expected = {i for i in all_ids if find(i) == i}

    got = {
        r["vec_id"]
        for r in semdedup_survivors_min_rep(spark, SF).collect()
    }
    assert got == expected
    assert len(got) < len(all_ids)  # the gate fired
    again = {
        r["vec_id"]
        for r in semdedup_survivors_min_rep(spark, SF).collect()
    }
    assert got == again


def test_lm_quality_tail_drop_is_zbuckets_keep_set(spark):
    """The act-on-it form must keep exactly the head+middle docs of
    the z-buckets (same kernel, verdict applied)."""
    from distributed_system___ocr_spark.plans.curationops import (
        lm_quality_tail_drop,
        lm_quality_zbuckets,
    )

    zb = {r["doc_id"]: r["bucket"]
          for r in lm_quality_zbuckets(spark, SF).collect()}
    kept = {r["doc_id"] for r in lm_quality_tail_drop(spark, SF).collect()}
    assert kept == {d for d, b in zb.items() if b != "tail"}
    assert kept and len(kept) < len(zb)  # the tail is non-empty


def test_connected_components_releases_superseded_blocks(spark):
    """Round-6 memory fix: components must leave at most ONE stored
    block set behind (the final labels checkpoint) — the round-5 shape
    leaked every iteration's checkpoint, which accumulated across the
    two components calls per curation run into a driver-heap OOM. Also
    pins the _free_ckpt internal-API shape (LogicalRDD.rdd): if a
    Spark upgrade changes it, this fails loudly instead of silently
    regressing to GC-eventually."""
    import pandas as pd

    from distributed_system___ocr_spark.operators.components import (
        _free_ckpt,
        connected_components,
    )

    jsc = spark.sparkContext._jsc.sc()

    def stored_ids():
        # id-keyed, not count-keyed: blocks left by EARLIER tests in
        # the session can be async-released by the ContextCleaner mid-
        # test, so totals drift; new-id deltas don't (round-6 flake)
        return {i.id() for i in jsc.getRDDStorageInfo()}

    base = stored_ids()

    # _free_ckpt works on the current Spark's plan shape
    ck = spark.createDataFrame(pd.DataFrame({"x": [1, 2]})).localCheckpoint()
    assert len(stored_ids() - base) == 1
    _free_ckpt(ck)
    assert not (stored_ids() - base)

    verts = spark.createDataFrame(pd.DataFrame({"id": list(range(50))}))
    edges = spark.createDataFrame(pd.DataFrame(
        {"src": [0, 1, 2, 10, 11], "dst": [1, 2, 3, 11, 12]}))
    out = connected_components(verts, edges)
    comp = {r["id"]: r["component"] for r in out.collect()}
    assert comp[3] == 0 and comp[12] == 10 and comp[49] == 49
    # a multi-iteration run leaves exactly one NEW checkpoint (the
    # final labels) — sym and every superseded round were released
    assert len(stored_ids() - base) == 1


def test_connected_components_runs_the_edge_pipeline_once(spark):
    """The edge pipeline runs once per edge row: the symmetrizing plan
    references the edge frame 4 times, and a Python kernel above the
    edges' last exchange (SemDeDup's pair kernel) would run once per
    reference without the edge checkpoint."""
    from distributed_system___ocr_spark.operators.components import (
        connected_components,
    )

    calls = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def counted(s: pd.Series) -> pd.Series:
        calls.add(len(s))
        return s

    src, dst = [0, 1, 2, 10, 11], [1, 2, 3, 11, 12]
    edges = spark.createDataFrame(
        pd.DataFrame({"src": src, "dst": dst})
    ).select(counted("src").alias("src"), "dst")
    verts = spark.createDataFrame(pd.DataFrame({"id": list(range(20))}))
    comp = {
        r["id"]: r["component"]
        for r in connected_components(verts, edges).collect()
    }
    assert comp[3] == 0 and comp[12] == 10 and comp[19] == 19
    assert calls.value == len(src)


def test_counted_checkpoint_count_equals_count(spark):
    """The checkpoint helper's observed count equals ``count()``, on a
    non-empty and on an empty frame, with an extra aggregate riding
    along."""
    from distributed_system___ocr_spark.operators.components import (
        _counted_ckpt,
    )

    full = spark.range(100).groupBy(
        (F.col("id") % 7).alias("k")
    ).count()
    empty = full.filter(F.col("k") < 0)
    for df, total in ((full, 100), (empty, None)):
        ck, seen = _counted_ckpt(df, F.sum("count").alias("total"))
        assert seen["n"] == df.count() == ck.count()
        assert seen["total"] == total


def test_dedup_segments_keep_first_semantics(spark):
    """Keep-first gate must fire; every distinct tile survives EXACTLY
    once corpus-wide, at its global min-(doc_id, s) occurrence; docs
    with no drops reassemble byte-identically."""
    from distributed_system___ocr_spark.plans.curationops import (
        _SEG_N,
        dedup_segments_keep_first,
    )

    res = {
        r["doc_id"]: r
        for r in dedup_segments_keep_first(spark, SF).collect()
    }
    docs = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
        if r["text"] and r["text"].strip()
    }
    assert any(r["n_dropped"] > 0 for r in res.values())
    assert any(r["n_dropped"] == 0 for r in res.values())

    # independent python reference: first occurrence in (doc_id, s)
    # order wins, all later occurrences drop
    first = {}
    for did in sorted(docs):
        toks = docs[did]
        for s in range(0, len(toks), _SEG_N):
            seg = " ".join(toks[s : s + _SEG_N])
            first.setdefault(seg, (did, s))
    for did in sorted(docs):
        toks = docs[did]
        tiles = [
            " ".join(toks[s : s + _SEG_N])
            for s in range(0, len(toks), _SEG_N)
        ]
        kept = [
            seg
            for s, seg in zip(range(0, len(toks), _SEG_N), tiles)
            if first[seg] == (did, s)
        ]
        r = res[did]
        assert r["n_segments"] == len(tiles)
        assert r["n_dropped"] == len(tiles) - len(kept)
        assert r["deduped_text"] == " ".join(kept)


def test_cluster_balanced_sample_flattens_and_keeps_smallest(spark):
    """D4-style diversification invariants on a crafted 2-cluster
    corpus (k fixed at 2): a cell at or below the uniform target
    keeps 100%, the dominant cell downsamples at ~(t/n_c)^(1-alpha),
    the kept-set is deterministic, and the post-sample cell ratio is
    flatter than the input ratio."""
    import pandas as pd

    from distributed_system___ocr_spark.operators.diversify import (
        cluster_balanced_keep,
    )

    rows = []
    for i in range(360):  # dominant topic: vocab A
        body = " ".join(f"alpha{(i + j) % 13:02d}" for j in range(30))
        rows.append({"url": f"https://big.com/{i:04d}", "text": body,
                     "lang": "en"})
    for i in range(40):   # minority topic: vocab B (disjoint tokens)
        body = " ".join(f"beta{(i + j) % 13:02d}" for j in range(30))
        rows.append({"url": f"https://small.com/{i:04d}", "text": body,
                     "lang": "en"})
    docs = spark.createDataFrame(pd.DataFrame(rows))
    kept1 = {
        r["url"] for r in
        cluster_balanced_keep(docs, alpha=0.5, k=2).collect()
    }
    kept2 = {
        r["url"] for r in
        cluster_balanced_keep(docs, alpha=0.5, k=2).collect()
    }
    assert kept1 == kept2  # stateless md5 acceptance, no RNG
    small = {u for u in kept1 if u.startswith("https://small.com")}
    big = {u for u in kept1 if u.startswith("https://big.com")}
    # below the uniform target t = 400/2 = 200: keeps 100%
    assert len(small) == 40
    # dominant cell rate (200/360)^(1-0.5) = 0.745 -> ~268 of 360;
    # the md5 bucket is deterministic, bounds allow its binomial-like
    # spread
    assert 230 <= len(big) <= 305
    # flatter than the 9:1 input ratio
    assert len(big) / len(small) < 8


def test_cluster_balance_embeds_each_doc_once(spark):
    """Cluster balance checkpoints its embedded frame once: the count,
    the k-means sample collect and the cell assignment read it, and
    each would re-run the embedding kernel without the checkpoint."""
    from distributed_system___ocr_spark.operators.diversify import (
        cluster_balanced_keep,
    )

    calls = spark.sparkContext.accumulator(0)

    @F.pandas_udf("array<double>")
    def counted(i: pd.Series) -> pd.Series:
        calls.add(len(i))
        # 30 docs on one axis, 10 on another: a dominant cell
        return i.map(lambda x: [1.0, 0.0] if x < 30 else [0.0, 1.0])

    urls = [f"https://ex.com/d{i:03d}" for i in range(40)]
    docs = spark.createDataFrame(pd.DataFrame(
        {"url": urls, "text": [f"doc {i}" for i in range(40)]}
    ))
    emb = spark.createDataFrame(pd.DataFrame(
        {"url": urls, "i": list(range(40))}
    )).select("url", counted("i").alias("v"))
    kept = cluster_balanced_keep(docs, alpha=0.5, embeddings=emb, k=2)
    assert 10 < kept.count() < 40
    assert calls.value == len(urls)


def test_cluster_balance_bucket_independent_of_unsalted_bucket(spark):
    """Round-6 review finding: stacked rate filters on ONE bucket
    compose as min, not product. The cluster acceptance bucket is
    salted, so survivors of a downsampled cell must still SPAN the
    unsalted bucket space (under the old shared bucket, every
    survivor of a rate-r cell had unsalted bucket < r*1e6 by
    construction — a downstream unsalted filter or split stamp then
    saw a fully-correlated population)."""
    import hashlib

    import pandas as pd

    from distributed_system___ocr_spark.operators.diversify import (
        cluster_balanced_keep,
    )

    rows = []
    for i in range(360):
        body = " ".join(f"alpha{(i + j) % 13:02d}" for j in range(30))
        rows.append({"url": f"https://big.com/{i:04d}", "text": body,
                     "lang": "en"})
    for i in range(40):
        body = " ".join(f"beta{(i + j) % 13:02d}" for j in range(30))
        rows.append({"url": f"https://small.com/{i:04d}", "text": body,
                     "lang": "en"})
    docs = spark.createDataFrame(pd.DataFrame(rows))
    kept_big = [
        r["url"]
        for r in cluster_balanced_keep(docs, alpha=0.5, k=2).collect()
        if r["url"].startswith("https://big.com")
    ]
    # big-cell rate is (200/360)^0.5 = 0.745 -> threshold 745k; the
    # UNSALTED buckets of its survivors must exceed that (the old
    # shared-bucket code made this structurally impossible)
    unsalted = [
        int(hashlib.md5(u.encode()).hexdigest()[:8], 16) % 1_000_000
        for u in kept_big
    ]
    assert sum(1 for b in unsalted if b >= 745_000) >= 10


def test_semdedup_survivors_external_embeddings_restricted_to_docs(spark):
    """An external embedding table naturally covers the WHOLE corpus;
    ids absent from the stage's ``docs`` (pruned upstream) must not
    take part in clustering — a foreign id pairing with a unique
    in-corpus doc and sorting lower would become the cluster's min-id
    label, silently deleting that doc with nothing kept in its place
    (round-6 review repro), and the pair work would be O(full corpus)
    instead of O(survivors)."""
    import pandas as pd

    from distributed_system___ocr_spark.operators.semdedup import (
        semdedup_survivors,
    )

    rows = [
        {"url": f"https://ex.com/d{i:03d}", "text": f"doc {i}",
         "lang": "en"}
        for i in range(8)
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))

    def vec(i, bump=0.0):
        v = [0.0] * 8
        v[i] = 1.0
        if bump:
            v[(i + 1) % 8] = bump
        return v

    # near-orthogonal in-corpus vectors: no real near-dup at tau=0.9
    emb_rows = [
        {"url": r["url"], "v": vec(i)} for i, r in enumerate(rows)
    ]
    # foreign id: sorts BEFORE every doc url, vector IDENTICAL to
    # d000's (identical vectors land in the same quantizer cell at
    # any k, so the cos=1.0 pair is guaranteed) — it would pair with
    # d000 and become its component label
    emb_rows.append({"url": "aaa-foreign", "v": vec(0)})
    emb = spark.createDataFrame(pd.DataFrame(emb_rows))

    got = {
        r["url"]
        for r in semdedup_survivors(
            docs, tau=0.9, embeddings=emb, id_col="url",
            text_col="text",
        ).collect()
    }
    assert got == {r["url"] for r in rows}


def test_cluster_balance_external_embeddings_restricted_to_docs(spark):
    """Round-6 advice: foreign ids in a caller-supplied embedding
    table must not inflate n, the trained k, or the uniform target
    t = N/k — they are semi-joined away before counting and training
    (the semdedup_survivors contract). With the corpus-sized foreign
    bulk excluded, every in-docs cell sits at/below the uniform target
    and keeps 100%."""
    import pandas as pd

    from distributed_system___ocr_spark.operators.diversify import (
        cluster_balanced_keep,
    )

    rows = [
        {"url": f"https://ex.com/d{i:03d}", "text": f"doc {i}",
         "lang": "en"}
        for i in range(6)
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))

    def vec(i):
        v = [0.0] * 8
        v[i % 8] = 1.0
        return v

    own_rows = [{"url": r["url"], "v": vec(i)}
                for i, r in enumerate(rows)]
    # a large FOREIGN block, all in one tight cluster: if it took
    # part, n would be 106, the k choice and the uniform target
    # t = n/k would shift, and the in-docs keep rates would deflate
    foreign = [{"url": f"zzz-foreign-{j:03d}", "v": vec(0)}
               for j in range(100)]
    emb_full = spark.createDataFrame(pd.DataFrame(own_rows + foreign))
    emb_own = spark.createDataFrame(pd.DataFrame(own_rows))

    def kept(emb):
        return {
            r["url"]
            for r in cluster_balanced_keep(
                docs, alpha=0.5, embeddings=emb, k=3, id_col="url",
                text_col="text",
            ).collect()
        }

    # the corpus-wide table must behave EXACTLY like the restricted
    # one (foreign rows semi-joined away before n/train/target)
    assert kept(emb_full) == kept(emb_own)
