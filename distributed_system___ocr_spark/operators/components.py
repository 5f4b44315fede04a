"""Distributed connected components (iterative min-label propagation).

Turns near-dup candidate PAIRS (MinHash/LSH output) into duplicate
CLUSTERS — the step a dedup pipeline actually keys off ("keep one doc
per component"). The reference has nothing like it; classic public
algorithm (label propagation; see also Kiveris et al. large-star/
small-star for the shuffle-optimal variant, noted below).

Scale shape (round-6 hardening):

- the projected edge frame is localCheckpointed ONCE up front, then
  the symmetrized set built from it — edges typically arrive as an
  expensive pipeline (the LSH band join, the SemDeDup cell kernel),
  the symmetrizing plan reads them 4 times, and every iteration
  issues actions, so an un-materialized edge frame would re-run that
  pipeline per reference and per round;
- iteration state is bounded by PAIR-TOUCHED vertices only: a vertex
  with no edge is its own component by definition, so the (at web
  scale, vastly larger) untouched remainder never enters the loop —
  it joins back in one final left join. The round-5 shape carried
  the FULL vertex frame through every iteration's join + checkpoint,
  i.e. iterations x corpus-sized materializations for a graph whose
  edges touch a few percent of the corpus.

Each iteration is one join + one aggregation, both shuffling on the
vertex id; iterations = graph diameter (near-dup graphs are shallow —
a handful of rounds at web scale).

Memory lifecycle (round-6 fix): per-round localCheckpoint stays — it
truncates lineage, keeping every iteration's plan FLAT (a persist()
variant measured ~6 s/round of pure planning latency as the nested
plan deepened, vs ~1 s/round checkpointed) — but every SUPERSEDED
checkpoint's blocks are now released explicitly (the checkpointed
RDD behind the LogicalRDD node, unpersisted once the next round's
checkpoint is materialized). The round-5 shape never released them:
blocks that outlive the call and accumulate across repeated
invocations in one session (each curation run calls this twice —
MinHash prune + SemDeDup prune). Only the FINAL label frame's blocks
survive the call; they are freed when the caller drops the returned
DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _counted_ckpt(df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
    """Eagerly localCheckpoint ``df`` and observe its row count (``n``)
    plus any named ``aggs`` on the way: the count rides inside the
    checkpoint's own job. A lazy checkpoint followed by ``count()``
    runs one more job, and an eager one followed by ``count()`` re-scans
    the stored blocks. Returns (checkpointed frame, observed values)."""
    seen = Observation()
    ck = df.observe(seen, F.count(F.lit(1)).alias("n"), *aggs)
    return ck.localCheckpoint(), seen.get


def _free_ckpt(df: DataFrame) -> None:
    """Release the storage blocks behind a localCheckpointed frame
    NOW instead of waiting for JVM GC + ContextCleaner. Only call on
    frames that are never read again — a checkpointed RDD has no
    lineage to recompute from. Best-effort: the internal plan-node
    shape (LogicalRDD.rdd) is pinned by a unit test, and a mismatch
    degrades to the old GC-eventually behavior."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """vertices(id) + edges(src, dst) -> (id, component) where
    component = min vertex id reachable. Undirected (edges are
    symmetrized here). Raises if not converged in max_iterations."""
    # self-loops (v, v) ride in the SAME checkpointed edge frame: they
    # make each round's neighborhood min INCLUDE the vertex's own
    # label, so a round is ONE join + ONE aggregation — the agg
    # carries the old label out via min(when(d == s)) (the self-loop
    # row), and the changed count is observed inside the round's
    # checkpoint job. The previous shape paid a second
    # labels-sized join for the least() merge and a THIRD join for the
    # changed count, per round (r07 optimization; result-identical,
    # pinned by the existing equality tests).
    #
    # The symmetrized plan references the edge frame 4 times; exchange
    # reuse does not reach a Python kernel above the edges' last
    # exchange (SemDeDup's pair kernel), so the projected edges are
    # checkpointed first and the edge pipeline runs once per row.
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).localCheckpoint()
    try:
        symm = e.unionByName(
            e.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        sym = (
            symm.unionByName(symm.select(F.col("s"), F.col("s").alias("d")))
            .distinct()
            .localCheckpoint()
        )
    finally:
        _free_ckpt(e)  # sym is materialized; e is never read again

    # only pair-touched vertices iterate (sym is symmetrized, so the
    # s column alone covers both endpoints; self-loops add no vertex).
    # FUSED first round (r07): with identity labels, round 1's
    # join+agg reduces to min(d) over each vertex's neighborhood (the
    # self-loop supplies the vertex's own id), so the init computes it
    # directly from the checkpointed edges — one groupBy instead of a
    # distinct + a full join round. Result-identical; saves one
    # join+agg+checkpoint+count cycle on every call (star graphs — the
    # common near-dup shape — now converge in ONE loop iteration).
    labels = (
        sym.groupBy("s")
        .agg(F.min("d").alias("component"))
        .select(F.col("s").alias("id"), "component")
        .localCheckpoint(eager=False)  # stored by round 1's job
    )

    try:
        converged = False
        for _ in range(max_iterations):
            # the changed-count rides inside the checkpoint's job
            new_labels, seen = _counted_ckpt(
                sym.join(labels, F.col("d") == labels["id"])
                .groupBy("s")
                .agg(
                    F.min("component").alias("component"),
                    F.min(
                        F.when(F.col("d") == F.col("s"), F.col("component"))
                    ).alias("_old"),
                )
                .select(F.col("s").alias("id"), "component", "_old"),
                F.count(
                    F.when(F.col("component") != F.col("_old"), 1)
                ).alias("changed"),
            )
            changed = seen["changed"]
            _free_ckpt(labels)  # superseded — release its blocks now
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in "
                f"{max_iterations} rounds — for adversarially deep "
                "graphs switch to large-star/small-star"
            )
    finally:
        _free_ckpt(sym)  # the final labels frame no longer needs it

    # untouched vertices are their own component; one corpus-sized
    # left join instead of carrying them through every iteration
    return vertices.select(F.col(vertex_col).alias("id")).join(
        labels, "id", "left"
    ).select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
    )
