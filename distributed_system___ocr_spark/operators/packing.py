"""Two-phase greedy sequence packing: an EXACT distributed prefix sum.

Greedy packing assigns each chunk to training bin
``floor(preceding_cumulative_chars / target)`` under a deterministic
total order per language. The naive plan is one
``Window.partitionBy(lang).orderBy(key)`` — which serializes a whole
language into ONE task's sort (round-4 verdict: on a Common-Crawl
shaped corpus ~half the chunks are one language, so at 100x a single
task sorts half the corpus). This module replaces it with the
classic two-phase scan, the same shape as
``sessionize_events_salted``'s per-(key, bucket) local windows:

  phase 1: a local cumulative sum per (lang, bucket), where ``bucket``
           is a MONOTONE function of the leading order key — every row
           of bucket b precedes every row of bucket b+1 in the global
           order, so buckets tile the order into contiguous ranges;
  phase 2: per-(lang, bucket) totals (a bounded aggregate: at most
           langs x n_buckets rows at ANY corpus size) -> exclusive
           prefix offsets over the tiny totals frame -> broadcast
           back and add.

global_preceding = local_preceding + offset reconstructs the exact
single-window prefix sum — bin assignment is byte-identical to the
naive plan for the same order (pinned by the DuckDB oracle on
``pack_docs_greedy`` and by the equality property test), while the
expensive sort/scan runs with langs x n_buckets -way parallelism and
no task ever holds more than one bucket's rows.

Replaces the reference's implicit "packing" (it has none — workers
emit one result per input line, Manager.java:250-293); this is the
LLM-pipeline operator layered on the same engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Buckets per language. The bin assignment is invariant to this value
# (the two-phase sum is exact for any monotone tiling) — it only sets
# the parallelism of the pack stage, so it is a constant, not config
# that must enter resume fingerprints.
N_PACK_BUCKETS = 512


def monotone_hash_bucket(col: str | Column) -> Column:
    """A uniform, order-consistent bucket of a string key via its
    xxhash64: an arithmetic right shift by 55 maps the full signed
    int64 range onto [-256, 255] MONOTONically (shiftright IS exact
    signed floor division by 2^55 — unlike a shift-and-mask, it keeps
    signed order), and xxhash64's output is uniform regardless of the
    key distribution — so the buckets are balanced for ANY corpus,
    with no stats pass. Use when the global pack order is
    (bucket(key), key, ...) — i.e. the hash leads the order.

    Round-6 advice fix: the previous floor(h / 2^55) ran in DOUBLE
    division, and |h| can reach 2^63 >> 2^53, so boundary keys could
    round into the adjacent bucket (and values near int64 max could
    yield 256, outside the documented range). The shift is exact
    integer arithmetic; the (rare) keys whose bucket changes shift the
    pack order, which is why CURATION_DATAFLOW_VERSION covers it."""
    return F.shiftright(F.xxhash64(col), 55).cast("int")


def greedy_pack_bins(
    df: DataFrame,
    target: int,
    bucket_col: str,
    order_cols: list[str],
    part_col: str | list[str] = "lang",
    size_col: str = "n_chars",
) -> DataFrame:
    """Append ``bin_id`` = floor(global_preceding / target) where
    global_preceding is the exact prefix sum of ``size_col`` under the
    total order (``part_col``; ``bucket_col``; ``order_cols``).
    ``part_col`` may be a list — bins are then pure per key tuple
    (e.g. (lang, split): a training bin never mixes splits).

    REQUIRES: ``bucket_col`` is monotone in the global order (all rows
    of a lower bucket precede all rows of a higher bucket), and
    (``bucket_col``, ``order_cols``) is a total order within
    ``part_col`` (no ties), else the prefix sum is ill-defined.
    """
    parts = [part_col] if isinstance(part_col, str) else list(part_col)
    w_local = (
        Window.partitionBy(*parts, bucket_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local_preceding = F.sum(size_col).over(w_local) - F.col(size_col)

    # bounded aggregate: grouping keys are (parts, bucket) — at most
    # |part tuples| x N_PACK_BUCKETS rows at any corpus size, so the
    # static broadcast is safe (the tree-walk audit's "reducing
    # Aggregate" rule); the groupBy reads only (parts, bucket, size)
    totals = df.groupBy(*parts, bucket_col).agg(
        F.sum(size_col).alias("_bucket_total")
    )
    w_off = (
        Window.partitionBy(*parts)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *parts,
        bucket_col,
        F.coalesce(F.sum("_bucket_total").over(w_off), F.lit(0)).alias(
            "_bucket_offset"
        ),
    )
    joined = df.join(F.broadcast(offsets), [*parts, bucket_col])
    return joined.withColumn(
        "bin_id",
        F.floor((local_preceding + F.col("_bucket_offset")) / target).cast(
            "long"
        ),
    ).drop("_bucket_offset")


def chunk_text(
    docs: DataFrame, chunk_size: int, chunk_stride: int, cols: tuple[str, ...]
) -> DataFrame:
    """(*cols, chunk_idx, chunk, n_chars): fixed-size character chunks
    of ``text`` starting every ``chunk_stride`` chars (overlap =
    size - stride) — the pre-tokenizer form of sequence slicing that
    feeds the packer. A bounded per-row explode (len/stride rows), no
    shuffle: it runs in the scan stage. Empty texts yield no chunk."""
    idx = F.explode(
        F.sequence(
            F.lit(0),
            F.floor(
                F.greatest(F.length("text") - 1, F.lit(0)) / chunk_stride
            ).cast("int"),
        )
    )
    c = docs.filter(F.length("text") > 0).select(
        *cols, "text", idx.alias("chunk_idx")
    )
    chunk = F.expr(
        f"substring(text, chunk_idx * {int(chunk_stride)} + 1, "
        f"{int(chunk_size)})"
    )
    # n_chars arithmetically, NOT length(substring(...)): equivalent
    # (== length(chunk), pinned in tests), but lets a consumer that
    # only needs sizes — the two-phase packer's per-bucket totals
    # branch — prune the chunk bytes instead of re-materializing every
    # substring just to measure it (one full text scan saved per pack)
    n_chars = F.least(
        F.lit(int(chunk_size)),
        F.length("text") - F.col("chunk_idx") * int(chunk_stride),
    )
    return c.select(
        *cols,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        chunk.alias("chunk"),
        n_chars.cast("long").alias("n_chars"),
    )
