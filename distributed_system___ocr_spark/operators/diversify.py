"""Cluster-balanced sampling (D4-style diversification, Tirumala et
al. 2023): temperature-flatten the corpus across TRAINED embedding
cells, the semantic analogue of per-language temperature rebalancing.
Dominant semantic clusters (template farms, one-topic crawls) are
downsampled toward the uniform per-cell share; cells at or below the
share keep 100%.

Scale shape: one Arrow-batched embed scan (shared feature-hash
featurization, or caller-supplied model vectors), a bounded-sample
k-means train (operators.kmeans), a broadcast-centroid assignment
scan, ONE k-sized per-cell count aggregate (k ~ sqrt(N), <= 65536 —
safe to broadcast), and a stateless md5-bucket acceptance filter in
the scan stage. No pairwise work, no RNG: the keep-set is identical
on rerun/resume, the same determinism contract as temperature_sample.

Reference analogue: none — the reference OCRs every url it is given
(SURVEY §2d); this is an LLM-pipeline capability layered on the same
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import _counted_ckpt, _free_ckpt
from .kmeans import kmeans_train
from .semdedup import feature_hash_embed, semdedup_k
from ..functions.bucket import salted_bucket
from ..functions.vectors import ivf_cell_udf

# version of the cell-balance dataflow (train/assign/acceptance):
# part of the curation resume fingerprint alongside the embed version
# v2: acceptance bucket gained the "cluster_balance:" salt (stacked
# rate filters on one unsalted bucket compose as min, not product) and
# unembedded docs keep 100% with a NULL cell under supplied embeddings
# v3: caller-supplied embeddings are restricted to the docs actually
# reaching the stage (round-6 advice: foreign ids inflated n, the k
# choice and the uniform target, silently deflating every cell's keep
# rate — and the pair/train work was O(full table), not O(docs))
CLUSTER_BALANCE_VERSION = 3


def cluster_balanced_keep(
    docs: DataFrame,
    alpha: float,
    embeddings: DataFrame | None = None,
    k: int | None = None,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Kept rows of ``docs`` under cell-temperature sampling: embed,
    quantize with a k ~ sqrt(N) trained k-means (or a caller-fixed
    ``k``), then keep each doc of cell c with rate
    r_c = min(1, (t / n_c)^(1-alpha)) where t = N/k is the UNIFORM
    target share — cells at or below the target keep 100%, oversized
    cells downsample toward it; alpha=1 keeps everything, alpha=0
    flattens fully to the target. (NOT the per-language
    (n_l/n_min)^(alpha-1) rule temperature_sample uses: with
    k ~ sqrt(N) cells a single-doc outlier cell would set n_min=1 and
    nuke the whole corpus; anchoring to the uniform share instead of
    the minimum is robust to singleton cells.) Selection is a
    stateless SALTED md5-bucket filter on the id (integer threshold
    rate * 10^6), so the keep-set is deterministic — no RNG, identical
    on rerun/resume. The salt matters: stacked rate filters on the
    SAME bucket compose as min(r1, r2) instead of r1*r2 (a doc
    surviving a 0.5-rate cell filter has bucket < 500k by
    construction, so a downstream unsalted 0.7-rate language filter
    keeps ALL of it) — each sampling/stamping stage in a chain must
    draw from an independent bucket.

    Caller-supplied ``embeddings`` contract: docs WITHOUT an embedding
    row cannot be assigned a cell and keep 100% (cell NULL) — the same
    never-dropped-for-being-unembedded behavior as
    semdedup_survivors; embedding ids absent from ``docs`` are
    IGNORED (semi-joined away before counting n, training and the
    uniform target — the semdedup_survivors contract, round-6 advice).

    Output: the surviving ``docs`` rows plus their ``cell``
    (nullable long).
    """
    if embeddings is None:
        emb = feature_hash_embed(docs, id_col=id_col, text_col=text_col)
    else:
        # restrict to the docs actually reaching the stage (the
        # semdedup_survivors contract): an external embedding table
        # naturally covers the WHOLE corpus, but foreign ids would
        # inflate n, the k choice and the uniform target t = N/k —
        # silently deflating every cell's keep rate (round-6 advice).
        # Duplicate embedding rows per id remain the caller's contract
        # (same as semdedup_survivors).
        emb = embeddings.join(
            docs.select(id_col), id_col, "left_semi"
        ).select(
            F.col(id_col).alias("_id"),
            F.transform(F.col("v"), lambda x: x.cast("double")).alias("v"),
        )
    # checkpoint the embedded frame, counting it in the same job: the
    # k-means sample collect and the cell assignment both read it, and
    # each would re-run the embed kernel over an unmaterialized frame
    emb, seen = _counted_ckpt(emb)
    n = seen["n"]
    if n == 0:
        _free_ckpt(emb)
        # nothing to balance: keep everything, unassigned
        return docs.withColumn("cell", F.lit(None).cast("long"))
    kk = k if k is not None else semdedup_k(n)
    cents = kmeans_train(
        emb, k=kk, iters=3, vec_col="v", id_col="_id", n=n
    )
    # checkpoint the narrow (id, cell) frame: it feeds BOTH the
    # per-cell counts and the final join, and the cell UDF would
    # otherwise re-run once per subtree
    assigned = emb.select(
        F.col("_id"), ivf_cell_udf(cents)(F.col("v")).alias("cell")
    ).localCheckpoint()
    _free_ckpt(emb)  # assigned carries (id, cell); emb superseded
    # k-sized (<= 65536 rows): a bounded reducing aggregate, safe to
    # broadcast statically at any corpus size
    counts = assigned.groupBy("cell").agg(F.count("*").alias("_n"))
    target = float(n) / float(kk)
    rates = counts.select(
        "cell",
        F.round(
            F.least(
                F.lit(1.0),
                F.pow(F.lit(target) / F.col("_n"), 1.0 - alpha),
            ) * 1_000_000, 0
        ).cast("long").alias("_keep_thresh"),
    )
    # the stage-unique salt decorrelates this filter from every other
    # md5-bucket stage in a composed chain
    bucket = salted_bucket(id_col, 1_000_000, salt="cluster_balance:")
    return (
        docs.join(
            assigned.withColumnRenamed("_id", id_col), id_col, "left"
        )
        .join(F.broadcast(rates), "cell", "left")
        .filter(
            bucket < F.coalesce(F.col("_keep_thresh"), F.lit(1_000_000))
        )
        .drop("_keep_thresh")
    )
