"""SemDeDup (Abbas et al. 2023) building blocks: k-means-cell +
within-cell cosine near-dup pairs, scale-hardened, plus the
drop-survivors form the curation pipeline composes.

Scale shape (the three defenses, each pinned by tests):

1. **k ~ sqrt(N)** (``semdedup_k``): expected cell size ~sqrt(N) keeps
   the within-cell pair work ~N overall while the cell count (= the
   parallelism) GROWS with the corpus (round-5 fix — a fixed k was
   both a parallelism ceiling and an (N/k)^2 blowup).
2. **Block-chunked matmul** (``_SEMDEDUP_BLOCK``): the within-cell
   cosine scan runs in row blocks, bounding task MEMORY at
   block x cell floats no matter how a cell skews.
3. **Mega-cell sub-split** (round-6, verdict item 5): a cell larger
   than ``_SEMDEDUP_SPLIT_FACTOR * sqrt(N)`` is split into g
   deterministic hash sub-groups and its pair work fans out over the
   g*(g+1)/2 sub-group BLOCK PAIRS — so one pathologically hot cell
   (a dominant near-duplicate cluster) no longer lands in ONE
   applyInPandas task's wall-clock; each task sees at most ~2 bound-
   sized sides. Every unordered pair lands in exactly one block pair
   (the sub-group of an id is a pure function of the id), so the
   emitted pair set is identical to the unsplit plan — pinned by the
   crafted-mega-cell equality test.

Nothing here is all-pairs across cells; the quantizer trains on a
bounded deterministic sample (operators.kmeans).

Reference analogue: none — the reference OCRs every url it is given,
duplicates included (SURVEY §2d); this is the LLM-pipeline capability
layered on the same engine.
"""

from __future__ import annotations

import math
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import ivf_cell_udf
from .components import (
    _counted_ckpt,
    _free_ckpt,
    connected_components,
)
from .kmeans import kmeans_train

_SEMDEDUP_K_MIN = 16
_SEMDEDUP_K_MAX = 65536
# rows per block of the within-cell cosine matmul: bounds task memory
# at block x side floats no matter how large a cell skews
_SEMDEDUP_BLOCK = 4096
# sub-split cells larger than FACTOR * sqrt(N): with k ~ sqrt(N) the
# EXPECTED cell is sqrt(N), so 8x expected marks genuine skew; the
# oversized cell's pair work (inherently ~cell^2/2) then spreads over
# g*(g+1)/2 tasks instead of one
_SEMDEDUP_SPLIT_FACTOR = 8

# version of the default text->vector featurization below: part of
# the curation resume fingerprint (a changed featurization changes
# which docs are semantic near-dups)
SEMDEDUP_EMBED_VERSION = 1
_EMBED_DIM = 64


def semdedup_k(n_vectors: int) -> int:
    """Quantizer size for a corpus of ``n_vectors``: sqrt(N) clamped
    to [_SEMDEDUP_K_MIN, _SEMDEDUP_K_MAX] and never above N (k-means
    cannot place more centroids than points)."""
    k = int(round(max(1, n_vectors) ** 0.5))
    return max(1, min(max(_SEMDEDUP_K_MIN, k), _SEMDEDUP_K_MAX, n_vectors))


def _split_bound(n_vectors: int) -> int:
    return max(1, int(_SEMDEDUP_SPLIT_FACTOR * math.sqrt(max(1, n_vectors))))


def semdedup_cell_pairs(
    assigned: DataFrame,
    tau: float,
    n_vectors: int,
    id_type: str = "long",
) -> DataFrame:
    """All (a_id < b_id) pairs with cosine >= ``tau`` WITHIN a cell,
    over ``assigned(_id, v array<double>, cell int)``. Exact within
    cells (float64 matmul, 6-dp rounded cosine), deterministic, and
    wall-clock-safe under cell skew via the mega-cell sub-split.

    Each row of an oversized cell (g sub-groups) replicates g times —
    once per block pair it participates in — which is the pair work
    itself divided across tasks, not new work."""
    block = _SEMDEDUP_BLOCK

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["cell"].iloc[0])
        same = bool(pdf["_bi"].iloc[0] == pdf["_bj"].iloc[0])
        out_a, out_b, out_cos = [], [], []
        if same:
            ids = pdf["_id"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            m = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
            norms = np.sqrt((m * m).sum(axis=1))
            n = len(ids)
            for s in range(0, n, block):
                blk = (m[s : s + block] @ m.T) / np.outer(
                    norms[s : s + block], norms
                )
                bi, bj = np.nonzero(blk >= tau)
                gi = bi + s
                upper = bj > gi  # global j > i: upper triangle only
                out_a.append(ids[gi[upper]])
                out_b.append(ids[bj[upper]])
                out_cos.append(np.round(blk[bi[upper], bj[upper]], 6))
        else:
            lmask = pdf["_l"].to_numpy()
            lf, rf = pdf[lmask], pdf[~lmask]
            if len(lf) and len(rf):
                lids = lf["_id"].to_numpy()
                lo = np.argsort(lids)
                lids = lids[lo]
                ml = np.stack(lf["v"].to_numpy()[lo]).astype(np.float64)
                rids = rf["_id"].to_numpy()
                ro = np.argsort(rids)
                rids = rids[ro]
                mr = np.stack(rf["v"].to_numpy()[ro]).astype(np.float64)
                nl = np.sqrt((ml * ml).sum(axis=1))
                nr = np.sqrt((mr * mr).sum(axis=1))
                for s in range(0, len(lids), block):
                    blk = (ml[s : s + block] @ mr.T) / np.outer(
                        nl[s : s + block], nr
                    )
                    bi, bj = np.nonzero(blk >= tau)
                    la, rb = lids[bi + s], rids[bj]
                    # cross-block pair orientation: emit (min, max) so
                    # a_id < b_id globally, matching the same-block path
                    out_a.append(np.minimum(la, rb))
                    out_b.append(np.maximum(la, rb))
                    out_cos.append(np.round(blk[bi, bj], 6))
        if out_a:
            a = np.concatenate(out_a)
            b = np.concatenate(out_b)
            cs = np.concatenate(out_cos)
        else:
            a = b = np.array([], dtype=object)
            cs = np.array([], dtype=np.float64)
        return pd.DataFrame(
            {
                "a_id": a,
                "b_id": b,
                "cell": np.full(len(a), cell),
                "cos_sim": cs,
            }
        )

    counts = assigned.groupBy("cell").agg(F.count("*").alias("_cn"))
    bound = _split_bound(n_vectors)
    # cells-sized frame (<= k rows, k <= 65536): a bounded reducing
    # aggregate, safe to broadcast statically
    splits = counts.select(
        "cell", F.ceil(F.col("_cn") / bound).cast("int").alias("_g")
    )
    staged = (
        assigned.join(F.broadcast(splits), "cell")
        .withColumn(
            "_s", F.pmod(F.xxhash64(F.col("_id")), F.col("_g")).cast("int")
        )
    )
    left = staged.select(
        "cell", "_id", "v",
        F.col("_s").alias("_bi"),
        F.explode(
            F.sequence(F.col("_s"), F.col("_g") - 1)
        ).alias("_bj"),
        F.lit(True).alias("_l"),
    )
    right = staged.filter(F.col("_s") > 0).select(
        "cell", "_id", "v",
        F.explode(
            F.sequence(F.lit(0), F.col("_s") - 1)
        ).alias("_bi"),
        F.col("_s").alias("_bj"),
        F.lit(False).alias("_l"),
    )
    return (
        left.unionByName(right)
        .groupBy("cell", "_bi", "_bj")
        .applyInPandas(
            block_pairs,
            f"a_id {id_type}, b_id {id_type}, cell int, cos_sim double",
        )
    )


def feature_hash_embed(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    dim: int = _EMBED_DIM,
) -> DataFrame:
    """Deterministic hashed bag-of-words embedding (the hashing trick:
    crc32 token -> signed bucket, L2-normalized) — the default
    text->vector provider for the curation SemDeDup stage when no
    model embeddings are supplied. A real encoder slots into the same
    (id, v) contract; versioned via SEMDEDUP_EMBED_VERSION because a
    changed featurization changes the survivor set. Runs as one
    Arrow-batched scan-stage pandas UDF — no shuffle, no state."""

    @F.pandas_udf("array<double>")
    def _embed(texts: pd.Series) -> pd.Series:
        # memoize (bucket, sign) per UNIQUE token within the batch:
        # web text repeats its vocabulary heavily, so this cuts the
        # crc32 count from total-tokens to batch-vocabulary
        memo: dict[str, tuple[int, float]] = {}
        out = []
        for t in texts:
            vec = np.zeros(dim, dtype=np.float64)
            for tok in (t or "").split():
                bs = memo.get(tok)
                if bs is None:
                    h = zlib.crc32(tok.encode("utf-8"))
                    bs = (h % dim, 1.0 if (h >> 16) & 1 else -1.0)
                    memo[tok] = bs
                vec[bs[0]] += bs[1]
            nrm = float(np.sqrt((vec * vec).sum()))
            if nrm > 0:
                vec /= nrm
            out.append(vec.tolist())
        return pd.Series(out)

    return docs.select(
        F.col(id_col).alias("_id"), _embed(F.col(text_col)).alias("v")
    )


def semdedup_survivors(
    docs: DataFrame,
    tau: float,
    embeddings: DataFrame | None = None,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Semantic near-dup pruning of ``docs``: embed (or take supplied
    ``embeddings(id, v)``), quantize with a corpus-sized k ~ sqrt(N)
    trained k-means, pair within cells at cosine >= tau, cluster the
    pairs (connected components) and keep the min-id representative of
    every cluster — the same representative rule as the MinHash
    near-dup stage, so the two prune stages compose predictably."""
    if embeddings is None:
        emb = feature_hash_embed(docs, id_col=id_col, text_col=text_col)
    else:
        # semi-join to the docs actually in this stage: an external
        # embedding table naturally covers the WHOLE corpus, but ids
        # absent from ``docs`` (pruned upstream) must not take part —
        # a foreign id that pairs with a survivor and sorts lower
        # becomes the cluster's min-id label (connected_components
        # labels from edge endpoints) and the survivor drops with
        # nothing kept in its place (round-6 review finding); the
        # pair work would also be O(full corpus), not O(survivors)
        emb = embeddings.join(
            docs.select(id_col), id_col, "left_semi"
        ).select(
            F.col(id_col).alias("_id"),
            F.transform(F.col("v"), lambda x: x.cast("double")).alias("v"),
        )
    # checkpoint the embedded frame, counting it in the same job: it
    # feeds the k-means training sample and (via ``assigned``) BOTH
    # subtrees of the pair stage — un-materialized, the corpus-sized
    # embed UDF scan re-runs once per consumer (same reason
    # diversify.py checkpoints it)
    emb, seen = _counted_ckpt(emb)
    n = seen["n"]
    if n == 0:
        _free_ckpt(emb)
        return docs
    k = semdedup_k(n)
    cents = kmeans_train(
        emb, k=k, iters=3, vec_col="v", id_col="_id", n=n
    )
    assigned = emb.withColumn(
        "cell", ivf_cell_udf(cents)(F.col("v"))
    ).localCheckpoint()
    _free_ckpt(emb)  # assigned carries (id, v, cell); emb superseded
    pairs = semdedup_cell_pairs(assigned, tau, n, id_type="string")
    labels = connected_components(
        docs.select(id_col), pairs, vertex_col=id_col,
        src="a_id", dst="b_id",
    )
    # connected_components ran eagerly and returned a frame built on
    # its own flat checkpointed labels — the pair pipeline (and with
    # it ``assigned``) has been fully consumed; release its blocks
    # now instead of waiting for GC + ContextCleaner
    _free_ckpt(assigned)
    keep = labels.filter(F.col("id") == F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(keep, id_col, "left_semi")
