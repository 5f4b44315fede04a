"""Stateless rate and quota selections shared by the curation chain
and the registry: temperature-based language rebalancing and the
per-group top-K quota. Both are parameterised by key or ordering
columns, so the chain (``url``) and the registry (``doc_id``) run the
same plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.bucket import salted_bucket


def temperature_sample(docs: DataFrame, alpha: float, key: str) -> DataFrame:
    """``docs`` rows that survive temperature-based language
    rebalancing (XLM-R style), plus their ``keep_thresh``: keep rate
    r_l = (n_l / n_min)^(alpha-1), so the smallest language keeps 100%
    and dominant languages are downsampled toward a flatter mixture.
    Selection is the engine's md5-bucket filter on ``key`` with the
    integer threshold round(rate * 10^6) — no RNG, an identical
    keep-set on rerun/resume, and an exact cross-engine comparison.
    The bucket is UNSALTED: the oracle-gated
    ``temperature_sampled_corpus`` query pins this exact formula. The
    per-lang counts are a languages-sized aggregate, safe to broadcast
    at any corpus size."""
    c = docs.groupBy("lang").agg(F.count("*").alias("_n"))
    m = c.agg(F.min("_n").alias("_n_min"))
    r = c.crossJoin(F.broadcast(m)).select(
        "lang",
        F.round(
            F.pow(F.col("_n") / F.col("_n_min"), alpha - 1) * 1_000_000, 0
        ).cast("long").alias("keep_thresh"),
    )
    return docs.join(F.broadcast(r), "lang").filter(
        salted_bucket(key, 1_000_000) < F.col("keep_thresh")
    )


def top_k_per_group(
    df: DataFrame, group: str, order: list[Column | str], k: int | Column
) -> DataFrame:
    """At most ``k`` rows per ``group`` value, first by ``order`` (which
    must end in a unique tie-break for a deterministic survivor set).
    With a literal ``k`` the rank <= K predicate over the per-group
    window plans as WindowGroupLimit — a per-partition top-K heap
    BEFORE the shuffle, so a hot group ships K rows per map task, not
    millions. A Column ``k`` (a per-row remaining quota) keeps the
    plain window filter."""
    w = Window.partitionBy(group).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
