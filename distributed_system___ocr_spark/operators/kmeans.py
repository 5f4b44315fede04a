"""Lloyd's k-means for IVF coarse quantizers, with a BOUNDED training
input by default.

The fixed seeded centroids in plans.vectorops keep the SQL oracle
reproducible; a REAL IVF index trains its quantizer on the corpus.
Training a quantizer on the FULL table is the classic 100-TB mistake:
k-means recall saturates at a few hundred samples per centroid, so a
10^12-row scan per Lloyd iteration buys nothing (standard IVF practice
— Jegou et al. 2011 train on bounded samples). The trainer therefore:

1. bounds its input to ``sample_cap`` rows (default
   ``max(50_000, 256*k)``) with a DETERMINISTIC md5-bucket filter —
   no RNG, resume/rerun/partitioning-stable, same trick as
   plans.textops2.sample_stratified_docs;
2. fits on that sample either LOCALLY (the default: the sample is
   model-fit-sized by construction — 50k x 64 doubles = 25 MB — so it
   collects once and Lloyd's runs in numpy with a fixed row order,
   zero Spark jobs per iteration) or DISTRIBUTED (``strategy=
   "distributed"``: assignment via the strict-order numpy kernel
   ivf_cell_udf, update = one decimal-exact partial-agg shuffle per
   iteration, driver traffic = k x dim doubles). Both paths are
   bit-deterministic across reruns and input partitionings.

Everything data-sized — cell assignment over the corpus, the ANN
queries themselves — stays distributed; only the bounded model fit
ever touches the driver.

Iterative + data-dependent, so there is no ANSI-SQL oracle; the
registry entry (ann_ivf_trained_topk) is a rows-only check and pytest
pins the invariants instead: deterministic centroids, monotone
inertia, assignment optimality, recall >= the fixed-centroid IVF, and
sampled-vs-full recall parity (tests/test_kmeans.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import ivf_cell_udf

_SAMPLE_DENOM = 1 << 20


def default_train_cap(k: int) -> int:
    """Standard IVF training budget: a few hundred vectors per
    centroid, floored at 50k so small k still sees a stable sample."""
    return max(50_000, 256 * k)


def bounded_training_input(
    emb: DataFrame, cap: int, n: int | None = None
) -> DataFrame:
    """Deterministic md5-bucket sample of ~cap rows from emb(_id, v).

    Keep a row iff conv(md5(_id)[:8], 16, 10) % 2^20 < ceil(cap/n *
    2^20): stateless per-row filter, no RNG, identical across reruns,
    resumes and partitionings (the sample_stratified_docs discipline).
    The row count ``n`` sizes the rate (one count() job when the
    caller does not know it); n <= cap returns emb unchanged, so
    test-scale fixtures always train on the full table."""
    if n is None:
        n = emb.count()
    if n <= cap:
        return emb
    num = -(-cap * _SAMPLE_DENOM // n)  # ceil — never rounds to empty
    b = (
        F.conv(F.substring(F.md5(F.col("_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _SAMPLE_DENOM
    )
    return emb.filter(b < num)


def _collect_sorted(emb: DataFrame):
    """Sample rows -> (ids, V) in ascending-id order: the fixed row
    order is what makes the local float math bit-deterministic.
    Collected via Arrow (toPandas) — the row-based collect() pickled
    every vector element as a Python object and dominated the train
    wall; values and order are identical."""
    pdf = emb.toPandas()
    if len(pdf) == 0:
        return [], np.empty((0, 0), dtype=np.float64)
    pdf = pdf.sort_values("_id", kind="mergesort")
    ids = pdf["_id"].tolist()
    V = np.stack(
        [np.asarray(v, dtype=np.float64) for v in pdf["v"].to_numpy()]
    )
    return ids, V


def _assign_local(V: np.ndarray, cents: list[list[float]]) -> np.ndarray:
    """Strict-order argmin, same expansion as ivf_cell_udf (0-based).
    Dots via the one-op-per-dim matrix kernel (bit-identical to the
    per-centroid loop it replaces — each element still accumulates in
    strict d order; k x d numpy dispatches were the training wall at
    k ~ sqrt(N)). Driver-side fit: the row blocks fan over a thread
    pool (r07) — bit-identical for any worker count (disjoint output
    slices), and the cluster is idle while the driver trains, so its
    cores are free (_lloyd_local at n=113k k=442: 21 s -> ~2 s)."""
    import os

    from ..functions.vectors import _seq_nearest

    workers = max(1, min(16, (os.cpu_count() or 2) // 2))
    vv = np.zeros(V.shape[0], dtype=np.float64)
    for d in range(V.shape[1]):
        vv = vv + V[:, d] * V[:, d]
    C = np.stack([np.asarray(c, dtype=np.float64) for c in cents])
    sq = np.array([sum(x * x for x in c) for c in cents])
    return _seq_nearest(V, C, sq, vv, workers=workers)


def _lloyd_local(
    V: np.ndarray, k: int, iters: int, init: list[list[float]]
) -> list[list[float]]:
    """Lloyd's on the in-memory sample. Deterministic: V arrives in
    ascending-id order and numpy reductions over a fixed array are
    reproducible; empty cells keep their previous centroid."""
    cents = [list(c) for c in init]
    for _ in range(iters):
        cell = _assign_local(V, cents)
        for c in range(k):
            mask = cell == c
            if mask.any():
                cents[c] = [float(x) for x in V[mask].mean(axis=0)]
    return cents


def _centroid_rows(assigned: DataFrame, dim: int) -> dict[int, list[float]]:
    """cell -> mean vector, decimal-exact (order-independent)."""
    means = (
        assigned.select("cell", F.posexplode("v").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(38,18)")) / F.count("*")
            ).cast("double").alias("m")
        )
        .collect()  # k x dim rows — bounded by the model size, not data
    )
    out: dict[int, list[float]] = {}
    for r in means:
        out.setdefault(r["cell"], [0.0] * dim)[r["pos"]] = r["m"]
    return out


def kmeans_train(
    emb: DataFrame,
    k: int = 8,
    iters: int = 4,
    vec_col: str = "v",
    id_col: str = "vec_id",
    sample_cap: int | None = None,
    strategy: str = "auto",
    n: int | None = None,
) -> list[list[float]]:
    """Train k centroids on emb(id, array<double> v); deterministic:
    init = the k lowest-id vectors in the training input, empty cells
    keep their previous centroid. Returns the centroid list
    (driver-side model, k x dim).

    ``sample_cap`` bounds the training input via the deterministic
    md5-bucket sample (None -> ``default_train_cap(k)``; 0 disables
    sampling). ``strategy``: "local" collects the bounded sample and
    runs numpy Lloyd's (zero Spark jobs per iteration); "distributed"
    keeps every iteration on the cluster (assignment kernel + one
    decimal-exact partial-agg shuffle, driver sees only k x dim
    doubles); "auto" = local when the input is cap-bounded (always
    memory-safe by construction), distributed when sampling was
    explicitly disabled (never collect an unbounded table). ``n``:
    ``emb``'s row count when the caller already knows it (spares the
    sampler's count job).

    Determinism contract: each strategy is SELF-deterministic (same
    input + params -> bit-identical model on rerun), but the two are
    not bit-identical to EACH OTHER — "local" averages in plain numpy
    float64 while "distributed" uses decimal-exact means (the price of
    order-independent shuffled partials). Tests pin per-strategy
    determinism and recall parity, not cross-strategy model equality
    (round-4 advice: this note is the documented behavior, not a
    bug)."""
    if sample_cap is None:
        sample_cap = default_train_cap(k)
    emb = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("v"))
    if sample_cap:
        emb = bounded_training_input(emb, sample_cap, n=n)
    if strategy == "auto":
        strategy = "local" if sample_cap else "distributed"
    if strategy == "local":
        ids, V = _collect_sorted(emb)
        if len(ids) < k:
            raise ValueError(f"need >= {k} vectors to train, got {len(ids)}")
        return _lloyd_local(V, k, iters, [list(v) for v in V[:k].tolist()])
    # distributed path: persist the projected training set across
    # Lloyd iterations — without it every iteration re-scans the
    # source (4 iters = 4 full scans); the input is cap-bounded (or
    # the caller opted into full-table), so caching is memory-safe.
    emb = emb.persist()
    try:
        init = emb.orderBy("_id").limit(k).collect()
        if len(init) < k:
            raise ValueError(f"need >= {k} vectors to train, got {len(init)}")
        dim = len(init[0]["v"])
        cents = [list(r["v"]) for r in init]
        for _ in range(iters):
            assigned = emb.withColumn(
                "cell", ivf_cell_udf(cents)(F.col("v"))
            )
            by_cell = _centroid_rows(assigned, dim)
            # empty cells keep their previous centroid (standard Lloyd)
            cents = [by_cell.get(c + 1, cents[c]) for c in range(k)]
    finally:
        emb.unpersist()
    return cents


def inertia(emb: DataFrame, cents: list[list[float]], vec_col: str = "v") -> float:
    """Sum of squared distance to the assigned centroid (decimal-summed
    for cross-run comparability)."""
    assigned = emb.withColumn("cell", ivf_cell_udf(cents)(F.col(vec_col)))
    dist_cols = [
        F.when(
            F.col("cell") == c + 1,
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(x) for x in cent]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        for c, cent in enumerate(cents)
    ]
    return (
        assigned.select(F.coalesce(*dist_cols).alias("d"))
        .agg(F.sum(F.col("d").cast("decimal(38,18)")).alias("s"))
        .collect()[0]["s"]
    )
