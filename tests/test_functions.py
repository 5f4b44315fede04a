"""Unit tests for functions/: strict-order vector kernels, bloom."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from distributed_system___ocr_spark.functions.vectors import (
    _seq_dot,
    lsh_bucket_udf,
)


def _vec_df(spark, n=50, d=16, seed=3):
    rng = np.random.RandomState(seed)
    rows = [
        (i, rng.uniform(-1, 1, d).tolist(), rng.uniform(-1, 1, d).tolist())
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )


def test_seq_dot_matches_catalyst_fold(spark):
    """``_seq_dot`` sums in strict dim order, bit-identical to the
    Catalyst ``aggregate(zip_with(...))`` left fold (operators/pq.py
    relies on it); numpy's pairwise/BLAS dot differs in ulps."""
    df = _vec_df(spark)
    fold = F.aggregate(
        F.zip_with("a", "b", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rows = df.select("a", "b", fold.alias("f")).collect()
    got = _seq_dot(
        np.array([r["a"] for r in rows]), np.array([r["b"] for r in rows])
    )
    assert got.tolist() == [r["f"] for r in rows]  # bit-exact


def test_ivf_cell_udf_matches_catalyst_fold(spark):
    """The numpy cell assignment must be bit-identical to the
    interpreted Catalyst argmin it replaced (ann_ivf_topk round-1
    form), including first-argmin tie semantics."""
    from distributed_system___ocr_spark.functions.vectors import ivf_cell_udf

    df = _vec_df(spark, n=80, d=16, seed=9)
    rng = np.random.RandomState(11)
    cents = [rng.uniform(-0.3, 0.3, 16).round(6).tolist() for _ in range(5)]

    def fold_dot(col, lit_vec):
        return F.aggregate(
            F.zip_with(col, lit_vec, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    dists = F.array(*[
        fold_dot("a", F.col("a"))
        - 2 * fold_dot("a", F.array(*[F.lit(x) for x in c]))
        + F.lit(sum(x * x for x in c))
        for c in cents
    ])
    rows = df.select(
        F.array_position(dists, F.array_min(dists)).alias("catalyst"),
        ivf_cell_udf(cents)(F.col("a")).alias("kernel"),
    ).collect()
    for r in rows:
        assert r["kernel"] == r["catalyst"]


def test_winnow_kernel_matches_definition():
    """Pure-function check of functions.fingerprint against a direct
    transliteration of the winnowing definition."""
    import hashlib

    from distributed_system___ocr_spark.functions.fingerprint import winnow

    text = "the quick brown fox jumps over the lazy dog the quick brown fox"
    toks = [t for t in text.split(" ") if t]
    hs = [
        int(hashlib.md5(" ".join(toks[i:i + 3]).encode()).hexdigest()[:8], 16)
        for i in range(len(toks) - 2)
    ]
    expected = sorted({min(hs[i - 3:i + 1]) for i in range(3, len(hs))})
    assert winnow(text).tolist() == expected
    # degenerate inputs: no full window -> empty
    assert winnow("").shape[0] == 0
    assert winnow("a b c d e").shape[0] == 0  # 3 grams < window of 4
    assert winnow("a b c d e f").shape[0] == 1  # exactly one full window


def test_lsh_bucket_udf(spark):
    df = _vec_df(spark, d=8)
    planes = [[0.5] * 8, [-0.25] * 8]
    rows = df.select(
        "id", "a",
        lsh_bucket_udf(planes)(F.col("a")).alias("bucket"),
    ).collect()
    for r in rows:
        a = np.array(r["a"])
        expected = sum(
            (1 << i)
            for i, p in enumerate(planes)
            if sum(x * y for x, y in zip(a, p)) > 0
        )
        assert r["bucket"] == expected
