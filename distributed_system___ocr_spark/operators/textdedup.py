"""Text dedup kernels: exact dedup, cross-doc repeated-span removal,
keep-first segment dedup and the n-gram explode behind
decontamination.

Each kernel is parameterised by its key column, so the curation
chain (keyed on ``url``) and the oracle-gated registry queries (keyed
on ``doc_id``) run the same code; the chain stage and the registry
query only pick parameters and select or rename columns. ``docs``
needs the key and a ``text`` column and must be key-unique:
reassembly groups token streams by key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokens import ngrams, tokens


def exact_dedup(docs: DataFrame, key: str) -> DataFrame:
    """``docs`` plus ``content_hash`` = md5(text), one row per exact
    text: the min ``key`` wins (a deterministic representative). One
    hash-partitioned window, no pairwise work."""
    w = Window.partitionBy("content_hash").orderBy(key)
    return (
        docs.withColumn("content_hash", F.md5(F.col("text").cast("binary")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ngram_explode(
    docs: DataFrame, n: int, cols: tuple[str, ...] = ()
) -> DataFrame:
    """(*cols, g): one row per token ``n``-gram occurrence in ``text``;
    docs shorter than ``n`` tokens yield no rows. The token array is
    staged once per row, and the explode is linear in tokens."""
    return (
        docs.select(*cols, tokens().alias("t"))
        .filter(F.size("t") >= n)
        .select(*cols, F.explode(ngrams(n)).alias("g"))
    )


def remove_common_spans(
    docs: DataFrame,
    key: str,
    min_docs: int = 3,
    n: int = 5,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(key, *carry, n_tokens, n_removed, text): every token position
    covered by any occurrence of an ``n``-gram that appears in >=
    ``min_docs`` distinct docs is dropped, and the surviving tokens
    are rejoined in order by single spaces (inter-token whitespace is
    canonicalized). A doc with no tokens keeps an empty text.

    Scale shape: one tokenize + gram posexplode; the gram document
    frequency is annotated IN PLACE with a window over the gram
    partition (dense_rank by key peaks at the distinct-doc count, max
    fans it back — both spill-safe) instead of a groupBy + join back,
    so the corpus-sized explode executes once. The n x coverage
    explode runs over MATCHED grams only and aggregates to one
    positions array per doc; the rebuild is then a per-row array
    program — keep_pos = array_except(1..size, cov) (hash-set linear),
    kept = transform(keep_pos, p -> t[p]) — so the token stream never
    crosses a shuffle."""
    staged = docs.select(key, *carry, tokens().alias("t"))
    grams = (
        staged.filter(F.size("t") >= n)
        .select(key, F.posexplode(ngrams(n)).alias("s0", "g"))
        .select(key, (F.col("s0") + 1).alias("s"), "g")
    )
    dr = F.dense_rank().over(Window.partitionBy("g").orderBy(key))
    cd = F.max("_dr").over(Window.partitionBy("g"))
    cov = (
        grams.withColumn("_dr", dr)
        .withColumn("_cd", cd)
        .filter(F.col("_cd") >= min_docs)
        .select(
            key,
            F.explode(
                F.sequence(F.col("s"), F.col("s") + n - 1)
            ).alias("pos"),
        )
        .groupBy(key)
        .agg(F.collect_set("pos").alias("_cov"))  # dedups; per-doc bounded
    )
    cov_arr = F.coalesce(F.col("_cov"), F.array())
    keep_pos = F.when(
        F.size("t") > 0,
        F.array_except(F.sequence(F.lit(1), F.size("t")), cov_arr),
    ).otherwise(F.array())  # sequence(1, 0) would count DOWN
    kept = F.transform(keep_pos, lambda p: F.element_at("t", p))
    return staged.join(cov, key, "left").select(
        key,
        *carry,
        F.size("t").cast("long").alias("n_tokens"),
        F.size(cov_arr).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("text"),
    )


def dedup_segments_keep_first(
    docs: DataFrame, key: str, n: int = 8, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(key, *carry, n_segments, n_dropped, text): keep-FIRST global
    segment dedup — the C4 "three-sentence span" / CCNet paragraph
    rule. Each doc is tiled into non-overlapping ``n``-token segments;
    the globally first occurrence (min (key, s)) of every distinct
    segment survives, every later occurrence (any doc, any position)
    is dropped, and each doc is reassembled from its surviving tiles
    in order. A doc with no tokens, or reduced to previously-seen
    segments, keeps an empty text.

    Scale shape: the tile explode is linear; the winner per distinct
    segment is ONE segment-keyed min(struct(key, s)) aggregation —
    partially aggregatable, so a web-scale boilerplate tile collapses
    map-side instead of single-task-sorting a mega-group in a
    row_number window (min over the unique (key, s) equals the
    row_number() = 1 occurrence). Reassembly is a per-doc collect +
    array_sort (bounded by the doc's own tiles) and one key join; the
    segment text crosses the shuffle once, since the winner must carry
    it. n_segments is arithmetic — ceil(n_tokens / n) — so the totals
    side never re-runs the tile explode."""
    staged = docs.select(key, *carry, tokens().alias("t"))
    tiles = F.expr(
        f"transform(sequence(1, size(t), {int(n)}), "
        f"i -> struct(i AS s, concat_ws(' ', slice(t, i, {int(n)})) AS seg))"
    )
    segs = (
        staged.filter(F.size("t") > 0)
        .select(key, F.explode(tiles).alias("x"))
        .select(key, F.col("x.s").alias("s"), F.col("x.seg").alias("seg"))
    )
    winners = (
        segs.groupBy("seg")
        .agg(F.min(F.struct(key, "s")).alias("w"))
        .select(F.col(f"w.{key}").alias(key), F.col("w.s").alias("s"), "seg")
    )
    kept = winners.groupBy(key).agg(
        F.count("*").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("_text"),
    )
    totals = staged.select(
        key, *carry,
        F.expr(f"(size(t) + {int(n) - 1}) div {int(n)}").alias("n_segments"),
    )
    return totals.join(kept, key, "left").select(
        key,
        *carry,
        "n_segments",
        (F.col("n_segments") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
        F.coalesce("_text", F.lit("")).alias("text"),
    )
