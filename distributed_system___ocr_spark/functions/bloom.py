"""Distributed bloom filter over a key column.

Used as the processed-url prefilter for resume (BASELINE.json
north_rule: "per-partition checkpointed manifests (Iceberg snapshot +
processed-url bloom filter)"). The bloom is best-effort — false
positives fall through to the exact left-anti join; false negatives
are impossible — so correctness never depends on it, it only prunes
the anti-join's shuffle input (a semi-join reduction, the classic
trick for 10^12-row resume where shipping the full key set is
unaffordable).

Hashing stays JVM-side (two xxhash64 columns, double hashing h1+i*h2);
only the vectorized numpy bit-probe runs in Python.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_H2_SEED = 0xB100F


@dataclass
class Bloom:
    m_bits: int
    k: int
    bits: bytes  # little-endian bit array, len = ceil(m_bits/8)

    def might_contain_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        arr = np.frombuffer(self.bits, dtype=np.uint8)
        m = np.uint64(self.m_bits)
        out = np.ones(len(h1), dtype=bool)
        u1 = h1.astype(np.uint64)
        u2 = h2.astype(np.uint64)
        for i in range(self.k):
            idx = (u1 + np.uint64(i) * u2) % m
            byte = (idx >> np.uint64(3)).astype(np.int64)
            bit = (idx & np.uint64(7)).astype(np.uint8)
            out &= (arr[byte] >> bit) & 1 == 1
        return out


def _params(expected: int, fpp: float) -> tuple[int, int]:
    expected = max(expected, 1)
    m = math.ceil(-expected * math.log(fpp) / (math.log(2) ** 2))
    k = max(1, round(m / expected * math.log(2)))
    return m, k


def _hash_cols(col):
    """col: one column name or a sequence of names (a composite key
    hashes all parts in one xxhash64 call — no string concat)."""
    cols = [col] if isinstance(col, str) else list(col)
    parts = [F.col(c) for c in cols]
    return (
        F.xxhash64(*parts).alias("_bh1"),
        F.xxhash64(*parts, F.lit(_H2_SEED)).alias("_bh2"),
    )


def fits_broadcast(df: DataFrame) -> bool:
    """True when Catalyst's size estimate of ``df`` is within the
    session's ``spark.sql.autoBroadcastJoinThreshold`` — the planner's
    own rule for broadcasting a join side, so a bloom built for it
    could prune nothing a broadcast join would not. Reading the
    estimate plans the frame but runs no job; a threshold of -1 (no
    broadcasts) always says False."""
    jdf = df._jdf
    stats = jdf.queryExecution().optimizedPlan().stats()
    size = int(stats.sizeInBytes())
    conf = jdf.sparkSession().sessionState().conf()
    return 0 <= size <= conf.autoBroadcastJoinThreshold()


def build_bloom(df: DataFrame, col: str, expected: int, fpp: float = 0.01) -> Bloom:
    """Aggregate per-partition partial bit arrays, OR them on the
    driver. Driver traffic = nbytes * num_partitions (1.2 MB per 10^6
    keys at 1% fpp), independent of row count."""
    m_bits, k = _params(expected, fpp)
    nbytes = (m_bits + 7) // 8
    hdf = df.select(*_hash_cols(col))

    def partial(batches):
        import pandas as pd

        bits = np.zeros(nbytes, dtype=np.uint8)
        m = np.uint64(m_bits)
        for pdf in batches:
            u1 = pdf["_bh1"].to_numpy().astype(np.uint64)
            u2 = pdf["_bh2"].to_numpy().astype(np.uint64)
            for i in range(k):
                idx = (u1 + np.uint64(i) * u2) % m
                np.bitwise_or.at(
                    bits,
                    (idx >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
                )
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    agg = np.zeros(nbytes, dtype=np.uint8)
    for row in hdf.mapInPandas(partial, "bits binary").collect():
        agg |= np.frombuffer(row["bits"], dtype=np.uint8)
    return Bloom(m_bits, k, agg.tobytes())


def with_bloom_flag(
    df: DataFrame, col: str, bloom: Bloom, flag: str = "_in_bloom"
) -> DataFrame:
    """Add a boolean membership column. The bloom rides to executors as
    a broadcast variable (pickled once, not per task)."""
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(bloom)

    @F.pandas_udf("boolean")
    def probe(h1, h2):
        import pandas as pd

        res = bc.value.might_contain_hashes(h1.to_numpy(), h2.to_numpy())
        return pd.Series(res)

    return (
        df.select("*", *_hash_cols(col))
        .withColumn(flag, probe(F.col("_bh1"), F.col("_bh2")))
        .drop("_bh1", "_bh2")
    )


def bloom_semi_reduce(
    small: DataFrame,
    large: DataFrame,
    col,
    expected: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """Filter ``large`` to rows whose key PROBABLY appears in
    ``small`` — the bloom semi-join reduction, pointed the OTHER way
    from the resume prefilter: there the bloom summarizes the big
    processed set to split the input; here it summarizes the SMALL
    side (an increment batch) so the corpus-sized side (a chain's
    hash/band manifest) is pruned in its scan stage and never
    shuffles its non-matching bulk into the sort-merge join. False
    negatives are impossible, so the downstream exact join still sees
    every true match; false positives only add join input. ``col`` is
    one column name or a sequence (composite key); ``expected`` sizes
    the bitset (default: ``small``'s row count; over-estimating only
    costs bits, under-estimating only raises fpp — correctness is
    unaffected either way).

    While ``large`` fits the broadcast threshold (``fits_broadcast``)
    it is returned unchanged: the join broadcasts it whole, and the
    bloom build and probe would be two Python-UDF stages for
    nothing."""
    if fits_broadcast(large):
        return large
    if expected is None:
        expected = small.count()
    bloom = build_bloom(small, col, expected, fpp)
    flagged = with_bloom_flag(large, col, bloom, flag="_bloom_hit")
    return flagged.filter(F.col("_bloom_hit")).drop("_bloom_hit")
