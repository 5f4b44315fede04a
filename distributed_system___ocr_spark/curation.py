"""Training-data curation pipeline: the corpus-level stage AFTER
extraction.

    docs(url, text, lang)
      --[opt-in URL canonicalization: spelling twins collapse]-->
      --[opt-in quality gate: length bounds + repetition cut]-->
      --[opt-in per-url-host domain cap (C4-style quota)]-->
      --[opt-in cross-doc boilerplate span removal]-->
      --exact dedup (content-hash window, min-url representative)-->
      --near-dup prune (MinHash/LSH pairs -> connected components ->
        min-url representative per cluster)-->
      --[opt-in SemDeDup semantic prune (k~sqrt(N) cells + cosine)]-->
      --[opt-in n-gram decontamination vs an eval corpus]-->
      --[opt-in CCNet-style LM-quality tail drop]-->
      --[opt-in temperature-based language rebalancing]-->
      --[opt-in deterministic train/val/test split stamp]-->
      --chunk (fixed-size char windows, overlap)-->
      --greedy sequence packing (two-phase exact prefix sum over
        per-(lang[, split]) hash buckets; split-pure bins)-->
    out_dir/curated/run_id=<rid>/{survivors,packed}/  + lineage + snapshot

Round-3 verdict item 4: these operators existed only as standalone
registry builders; a real training-data user runs them as ONE
resumable job with lineage — the analogue of the reference manager
chaining its whole fixed dataflow (Manager.java:326-348 -> 250-293)
rather than exposing each hop.

Resume semantics (corpus-level, unlike the per-url extraction resume):
near-dup clustering is a GLOBAL property — one new document can change
a cluster's representative — so curation is deterministic batch over
an input snapshot, and the checkpoint records the input's content
fingerprint. Re-running over an unchanged corpus is a no-op (the
completion barrier, reference O9); a changed corpus re-curates into a
new atomic snapshot. Replaying an already-committed run_id is rejected
(same rule as run_pipeline).

Scale shape: exact dedup is one hash-partitioned window; near-dup is
the banded LSH join (sub-quadratic, measured flat per-doc throughput
at 1M docs — BENCH/BASELINE.md); components iterate join+agg on
cluster-sized data only; chunking is a bounded per-row explode in the
scan stage; packing is an exact two-phase prefix sum — local cumsums
per (lang, hash-bucket) plus broadcast per-bucket offsets
(operators/packing.py), so no single task ever sorts a whole
language. Payload text crosses a shuffle only where content must meet
content (the dedup window and the band join) — never for chunk/pack
or the span-removal rebuild, which run in the scan stage.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.bloom import bloom_semi_reduce, fits_broadcast
from .functions.bucket import split_stamp
from .functions.minhash import BAND_SIZE, N_HASHES, TOKEN_HASH_VERSION
from .functions.tokens import dup_bigram_fraction
from .operators import sampling, textdedup
from .operators.components import (
    _counted_ckpt,
    _free_ckpt,
    connected_components,
)
from .operators.neardup import lsh_candidate_pairs, minhash_bands
from .operators.packing import (
    chunk_text,
    greedy_pack_bins,
    monotone_hash_bucket,
)
from .operators.resume import _atomic_write, _ckpt, _publish
from .operators.resume import load_snapshot as load_curation_snapshot
from .operators.urlcanon import URL_CANON_VERSION, canonicalize_docs
from .operators.diversify import CLUSTER_BALANCE_VERSION
from .operators.lmquality import lm_quality_tail_drop
from .operators.semdedup import SEMDEDUP_EMBED_VERSION
from .operators.urlfilter import (
    URL_FILTER_VERSION,
    filter_blocked_domains,
    normalized_domain,
)
from .writes import write_concurrently

# Version of the curation DATAFLOW itself: bump whenever any stage's
# algorithm changes its output for the same input + config, so a code
# upgrade re-curates instead of falsely no-op-resuming over an output
# directory produced by the old algorithm (the fingerprint-completeness
# rule; round-4 advice: the minhash token-hash swap was exactly such a
# silent upgrade). v2: pack order became hash-bucket-major for the
# two-phase prefix sum. v3: monotone_hash_bucket became exact integer
# shiftright (round-6 advice — boundary keys could float-round into
# the adjacent bucket, shifting pack order). v4: the split stamp's
# bucket gained the "split:" salt (stacked decisions on one unsalted
# bucket correlate — val/test were drawn only from strata whose
# sampling keep-threshold exceeded the train fraction). v5: the
# SemDeDup stage restricts an EXTERNAL embedding table to the docs
# actually reaching the stage (a foreign id pairing with a survivor
# and sorting lower became the cluster label and deleted the
# survivor), changing the survivor set of any committed run that
# passed semdedup_embeddings.
CURATION_DATAFLOW_VERSION = 5


def _committed_run_history(out_dir: str, n: int) -> list[str]:
    """Chronological committed-run order, reconstructed from the
    snapshot log (snapshot-0..n): each snapshot's latest_run in file
    order. The ``runs`` list alone cannot serve — it is kept SORTED,
    which loses commit order for uuid run_ids.

    Missing or unreadable historical snapshot files are SKIPPED
    (round-6 advice): one manually-deleted or partially-copied
    snapshot-i.json must not block retention forever — commit order is
    still recoverable from the surviving sequence, and the current
    snapshot's ``runs`` set bounds what vacuum may keep anyway."""
    hist: list[str] = []
    for i in range(n + 1):
        try:
            with open(
                os.path.join(_ckpt(out_dir), f"snapshot-{i}.json")
            ) as f:
                s = json.load(f)
            lr = s.get("latest_run", s["runs"][-1])
        except (OSError, ValueError, KeyError, IndexError):
            continue
        if lr not in hist:
            hist.append(lr)
    return hist


_INFLIGHT_PREFIX = "INFLIGHT-"
# an in-flight sentinel older than this is crash debris (run_curation
# removes its sentinel on EVERY exit, including exceptions — only a
# hard process kill leaves one), but a LIVE pid always wins over age
_INFLIGHT_STALE_SEC = 6 * 3600


def _inflight_path(out_dir: str, run_id: str) -> str:
    return os.path.join(_ckpt(out_dir), f"{_INFLIGHT_PREFIX}{run_id}")


def _pid_start(pid: int) -> int | None:
    """Kernel start time (clock ticks since boot) of ``pid`` from
    /proc — the recycling-proof identity of a process: a reused pid
    gets a different start time. None where /proc is unavailable
    (non-Linux) or unreadable."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        # field 22, counted after the comm field's closing paren
        # (comm itself may contain spaces/parens)
        return int(stat.rsplit(b")", 1)[1].split()[19])
    except (OSError, ValueError, IndexError):
        return None


@contextlib.contextmanager
def _inflight(out_dir: str, run_id: str):
    """Hold ``run_id``'s in-flight sentinel (pid + kernel start time:
    a recycling-proof liveness identity) for the ``with`` body, so a
    concurrent vacuum or compaction fails loudly instead of sweeping
    the run's staging dirs as debris. Removed on EVERY exit, so only a
    hard process kill leaves one (and those go stale — see
    ``_live_inflight_runs``)."""
    os.makedirs(_ckpt(out_dir), exist_ok=True)
    sentinel = _inflight_path(out_dir, run_id)
    pid, start = os.getpid(), _pid_start(os.getpid())
    with open(sentinel, "w") as f:
        f.write(f"{pid}:{start}" if start is not None else str(pid))
    try:
        yield
    finally:
        try:
            os.remove(sentinel)
        except OSError:
            pass


def _reject_replay(snap: dict | None, run_id: str, error: str) -> None:
    """Raise ``error`` when ``run_id`` is committed in ``snap`` or was
    vacuumed: a vacuumed run's data is gone, but reusing its id would
    make old lineage/export paths ambiguous."""
    if snap and run_id in (
        set(snap["runs"]) | set(snap.get("vacuumed_runs", []))
    ):
        raise ValueError(error)


def _next_snapshot(
    prev: dict | None, run_id: str, fp: dict | None, parent: str | None
) -> dict:
    """The snapshot that commits ``run_id`` over ``prev``, recording
    which run it extended (``parent``; None for a base): the parent
    map drives cumulative reads and vacuum's ancestor-retention
    closure. Vacuumed run_ids carry over into the replay guard."""
    snap = {
        "n": (prev["n"] + 1) if prev else 0,
        "runs": sorted(set(prev["runs"] if prev else ()) | {run_id}),
        "input_fingerprint": fp,
        "latest_run": run_id,
        "run_parents": {
            **(prev.get("run_parents", {}) if prev else {}),
            run_id: parent,
        },
    }
    if prev and prev.get("vacuumed_runs"):
        snap["vacuumed_runs"] = prev["vacuumed_runs"]
    return snap


def _live_inflight_runs(out_dir: str) -> list[str]:
    """Sentinels of curation runs that look alive: pid still running,
    or (pid unreadable/foreign) younger than the staleness bound.
    Stale sentinels are swept so a hard-killed run cannot block
    vacuuming forever."""
    ck = _ckpt(out_dir)
    if not os.path.isdir(ck):
        return []
    live = []
    for name in os.listdir(ck):
        if not name.startswith(_INFLIGHT_PREFIX):
            continue
        path = os.path.join(ck, name)
        start_rec = None
        try:
            with open(path) as f:
                raw = f.read().strip()
            if ":" in raw:
                p, s = raw.split(":", 1)
                pid, start_rec = int(p or 0), int(s)
            else:
                pid = int(raw or 0)
        except (OSError, ValueError):
            pid = 0
        alive = False
        if pid > 0:
            try:
                os.kill(pid, 0)
                alive = True
            except ProcessLookupError:
                alive = False
            except PermissionError:
                alive = True  # exists, owned by someone else
            if alive and start_rec is not None:
                # pid-recycling guard (round-6 advice): a live pid
                # only counts when its kernel start time matches the
                # one recorded at sentinel creation — a hard-killed
                # run whose pid was reused by an unrelated long-lived
                # process must not block vacuum/compact forever
                cur = _pid_start(pid)
                if cur is not None and cur != start_rec:
                    alive = False
        try:
            fresh = (time.time() - os.path.getmtime(path)
                     ) < _INFLIGHT_STALE_SEC
        except OSError:
            fresh = False
        if alive or (pid == 0 and fresh):
            live.append(name[len(_INFLIGHT_PREFIX):])
        elif not alive:
            try:
                os.remove(path)  # dead pid: crash debris, sweep it
            except OSError:
                pass
    return live


def _latest_committed(out_dir: str) -> tuple[dict, str]:
    """The current snapshot and its latest run (the chain head)."""
    snap = load_curation_snapshot(out_dir)
    if not snap:
        raise FileNotFoundError(f"no committed curation under {out_dir}")
    return snap, snap.get("latest_run", snap["runs"][-1])


def _reject_inflight(out_dir: str, risk: str) -> None:
    """Fail loudly while another curation run looks in flight."""
    live = _live_inflight_runs(out_dir)
    if live:
        raise RuntimeError(
            f"curation run(s) {live} appear to be in flight under "
            f"{out_dir}; {risk} — wait for them or remove the stale "
            "INFLIGHT-* sentinel if you are sure"
        )


def vacuum_curation(out_dir: str, keep_last: int = 1) -> dict:
    """Retention maintenance for the curation snapshot layer (the
    curation twin of the extraction pipeline's ``compact``, reference
    O16 cleanup): physically remove all but the most recent
    ``keep_last`` committed runs, plus any uncommitted debris dirs
    left by crashed runs. Returns the new snapshot.

    Guarantees:
    - a LIVE concurrent curation run fails the vacuum loudly (its
      in-flight sentinel is checked) instead of silently losing the
      run's staging data to the debris sweep (round-6 advice; stale
      sentinels from hard-killed runs are swept, not honored);
    - the to-remove path list is computed BEFORE the commit and is
      part of the persisted snapshot, so the on-disk snapshot-N.json
      and the returned/CLI-printed snapshot are identical (round-6
      advice);
    - the snapshot log commits FIRST (atomic), data deletion second —
      a crash mid-vacuum can orphan directories (cleaned by the next
      vacuum) but can never leave a committed run whose data is gone;
    - vacuumed run_ids stay in the replay guard (``vacuumed_runs``):
      reusing one is still rejected, so lineage rows and export paths
      stay unambiguous forever;
    - the input fingerprint carries over, so an unchanged corpus
      still no-op-resumes after a vacuum.
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snap, _ = _latest_committed(out_dir)
    _reject_inflight(out_dir, "vacuuming now would delete their staging data")
    hist = _committed_run_history(out_dir, snap["n"])
    hist = [r for r in hist if r in set(snap["runs"])]
    keep = set(hist[-keep_last:])
    # ancestor closure: an incremental run's cumulative view reads
    # every parent in its chain, so vacuuming a kept run's ancestor
    # would break it — retain the transitive parents too
    keep = {a for r in keep for a in _run_chain(snap, r)}
    rp = snap.get("run_parents", {})
    drop = sorted(set(snap["runs"]) - keep)

    # enumerate removals BEFORE the commit so the persisted snapshot
    # already carries removed_paths (no divergence between disk and
    # the returned object); deletion itself still happens after
    to_remove: list[str] = []
    for sub in ("curated", "lineage"):
        root = os.path.join(out_dir, sub)
        if not os.path.isdir(root):
            continue
        for entry in os.listdir(root):
            if not entry.startswith("run_id="):
                continue
            rid = entry.split("=", 1)[1]
            if rid not in keep:
                to_remove.append(f"{sub}/{entry}")
    to_remove.sort()

    n = snap["n"] + 1
    new_snap = {
        "n": n,
        "runs": sorted(keep),
        "vacuumed_runs": sorted(
            set(snap.get("vacuumed_runs", [])) | set(drop)
        ),
        "input_fingerprint": snap.get("input_fingerprint"),
        "latest_run": snap.get("latest_run", hist[-1]),
        "removed_paths": to_remove,
        # pruned to kept runs (ancestors of kept runs are themselves
        # kept by the closure above)
        "run_parents": {r: p for r, p in rp.items() if r in keep},
    }
    _publish(out_dir, new_snap)

    # data deletion AFTER the commit, exactly the committed list
    for rel in to_remove:
        shutil.rmtree(os.path.join(out_dir, rel), ignore_errors=True)
    return new_snap


# lazy: Column construction needs an active SparkContext (building it
# at import time breaks Spark-less imports of the package)
def _nonblank():
    return F.col("text").isNotNull() & (F.length("text") > 0)


def _fingerprints(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    embeddings: DataFrame | None = None,
    blocked: DataFrame | None = None,
) -> tuple[dict, int, dict]:
    """Every content fingerprint of a run's inputs from ONE aggregation
    over the union of the inputs' per-row hashes; each value is the
    formula its input always had, aggregated over that input's rows
    only. Returns (the docs' fingerprint, the raw docs count, the
    other inputs' fingerprints by name).

    - docs: raw row count (for the lineage 'input' stage), non-blank
      row count, and the decimal sum of xxhash64(url, text, lang) over
      non-blank rows (decimal so a 10^12-row sum cannot overflow under
      ANSI; lang is hashed because it drives packing bins and survivor
      metadata — a re-labelled corpus must re-curate);
    - ``eval_docs`` (decontamination reads only text): count(text) and
      the sum of xxhash64(text) over every row, a null text included;
    - ``embeddings`` (url, v): a changed embedding model changes which
      docs are semantic near-dups. The vector hashes through its
      canonical string form (stable Spark double formatting) —
      xxhash64 over array columns is version-sensitive;
    - ``blocked`` (first column = domain): hashed over the distinct
      NORMALIZED domains (the form the filter matches on), so
      spelling-only edits that cannot change the output don't force a
      re-curate."""
    nb = _nonblank()
    yes = F.lit(True)

    def part(src: int, df: DataFrame, counted, summed, h) -> DataFrame:
        return df.select(
            F.lit(src).alias("src"), counted.alias("c"), summed.alias("s"),
            h.alias("h"),
        )

    parts = [part(0, docs, nb, nb, F.xxhash64("url", "text", "lang"))]
    if eval_docs is not None:
        parts.append(part(
            1, eval_docs, F.col("text").isNotNull(), yes,
            F.xxhash64("text"),
        ))
    if embeddings is not None:
        parts.append(part(
            2, embeddings, yes, yes,
            F.xxhash64(F.col("url"), F.col("v").cast("string")),
        ))
    if blocked is not None:
        dom = normalized_domain(F.col(blocked.columns[0]))
        parts.append(part(
            3, blocked.select(dom.alias("d")).distinct(), yes, yes,
            F.xxhash64("d"),
        ))
    folded = parts[0]
    for p in parts[1:]:
        folded = folded.unionByName(p)
    src = F.col("src")
    row = folded.agg(
        F.count(F.when(src == 0, 1)).alias("raw"),
        *[
            agg
            for k in range(4)
            for agg in (
                F.count(F.when((src == k) & F.col("c"), 1)).alias(f"n{k}"),
                F.sum(
                    F.when((src == k) & F.col("s"), F.col("h"))
                    .cast("decimal(38,0)")
                ).alias(f"h{k}"),
            )
        ],
    ).collect()[0]

    def fp(k: int, n_key: str) -> dict:
        return {n_key: row[f"n{k}"], "content_sum": str(row[f"h{k}"])}

    others = {}
    for k, name, n_key, df in (
        (1, "decon", "n_docs", eval_docs),
        (2, "semdedup", "n_vecs", embeddings),
        (3, "url_blocklist", "n_domains", blocked),
    ):
        if df is not None:
            others[name] = fp(k, n_key)
    return fp(0, "n_docs"), row["raw"], others


def quality_gate(
    docs: DataFrame,
    min_chars: int = 100,
    max_chars: int | None = None,
    dup_bigram_max: float = 0.05,
) -> DataFrame:
    """Scan-stage quality filter over (url, text, ...): length bounds
    plus the Gopher duplicate-bigram repetition cut, whose fraction is
    the vectorized batch kernel ``functions.tokens.dup_bigram_fraction``
    (the ``quality_gate_verdict`` registry query runs it too). Zero
    shuffles at any corpus size."""
    n = F.length("text")
    ok = n >= min_chars
    if max_chars is not None:
        ok = ok & (n <= max_chars)
    return docs.filter(
        ok & (dup_bigram_fraction(F.col("text")) <= dup_bigram_max)
    )


def remove_boilerplate_spans(
    docs: DataFrame, min_docs: int = 3, n: int = 5
) -> DataFrame:
    """Cross-doc repeated-span removal ahead of dedup: every token
    position covered by an n-gram appearing in >= ``min_docs`` docs is
    dropped (``operators.textdedup.remove_common_spans`` keyed on url).
    Whitespace-only docs keep an empty text, which the stage's
    nonblank filter drops. ``docs`` must be url-unique (the extraction
    output's contract), or reassembly would merge token streams."""
    return textdedup.remove_common_spans(
        docs, "url", min_docs, n, carry=("lang",)
    ).select("url", "text", "lang")


def dedup_segments_first(docs: DataFrame, n: int = 8) -> DataFrame:
    """Keep-FIRST global segment dedup of ``n``-token tiles ahead of
    exact dedup (``operators.textdedup.dedup_segments_keep_first``
    keyed on url, so "first" is the min (url, s) occurrence). A doc
    reduced to previously-seen boilerplate empties here and is
    nonblank-filtered by the stage wrapper. Complements span removal:
    that stage drops EVERY occurrence of a >= K-doc n-gram, this one
    keeps the first. ``docs`` must be url-unique."""
    return textdedup.dedup_segments_keep_first(
        docs, "url", n, carry=("lang",)
    ).select("url", "text", "lang")


def decontaminate_against(
    docs: DataFrame, eval_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Drop every doc sharing ANY token n-gram with the eval corpus —
    the GPT-3/Llama decontamination rule. ``eval_docs`` needs a
    ``text`` column. Scale shape: the eval-gram side is a bounded
    benchmark vocabulary at any corpus size (AQE broadcasts it from
    measured size); contaminated urls form a url-level semi-join
    result, and the anti-join back runs on url. Document text stays
    out of the shuffle as long as AQE broadcasts the contaminated-url
    set (the typical case — it is bounded by the eval suite's actual
    overlap); a pathological eval set that contaminates a large
    fraction of the corpus falls back to a url-keyed exchange of the
    doc rows."""
    doc_grams = textdedup.ngram_explode(docs, n, ("url",))
    eval_grams = textdedup.ngram_explode(eval_docs, n).distinct()
    contaminated = doc_grams.join(eval_grams, "g", "left_semi").select(
        "url"
    ).distinct()
    return docs.join(contaminated, "url", "left_anti")


def temperature_sample(docs: DataFrame, alpha: float) -> DataFrame:
    """Temperature-based language rebalancing (XLM-R style) over the
    doc schema: ``operators.sampling.temperature_sample`` with its
    md5 bucket on url."""
    return sampling.temperature_sample(docs, alpha, "url").select(
        "url", "text", "lang"
    )


def _url_host():
    return F.coalesce(F.expr("parse_url(url, 'HOST')"), F.lit(""))


def _longest_first():
    return [F.length("text").desc(), "url"]


def domain_cap_docs(docs: DataFrame, cap: int) -> DataFrame:
    """Per-domain document quota (C4/RefinedWeb anti-spam rule): keep
    at most ``cap`` docs per url host, preferring the longest texts
    with a url tie-break (``operators.sampling.top_k_per_group``, which
    plans as WindowGroupLimit; pinned in tests/test_curation.py)."""
    return sampling.top_k_per_group(
        docs.withColumn("_host", _url_host()), "_host", _longest_first(),
        cap,
    ).drop("_host")


def domain_cap_docs_incremental(
    new_docs: DataFrame, base: DataFrame, cap: int
) -> DataFrame:
    """Incremental form of the per-host quota: committed base
    survivors already consumed part of each host's budget, so new
    docs only fill the REMAINING headroom (longest-texts-win, url
    tie-break — same order as the full form). Exact keep-first
    semantics: a host at or over quota admits nothing. The base
    per-host counts are a hosts-sized aggregate (thin, but unbounded
    cardinality — never statically broadcast; AQE decides)."""
    base_counts = (
        base.withColumn("_host", _url_host())
        .groupBy("_host")
        .agg(F.count("*").alias("_base_n"))
    )
    return sampling.top_k_per_group(
        new_docs.withColumn("_host", _url_host())
        .join(base_counts, "_host", "left"),
        "_host", _longest_first(),
        F.lit(cap) - F.coalesce(F.col("_base_n"), F.lit(0)),
    ).drop("_host", "_base_n")


def lm_quality_survivors(docs: DataFrame, drop_z: float) -> DataFrame:
    """CCNet-style LM-quality tail drop: keep the docs scoring at or
    above mu_lang - drop_z * sigma_lang under the corpus's own unigram
    model (``operators.lmquality.lm_quality_tail_drop`` keyed on url).
    Docs with zero whitespace tokens cannot be scored and drop here
    (they cannot train either)."""
    keep = lm_quality_tail_drop(docs, "url", drop_z).select("url")
    return docs.join(keep, "url", "left_semi")


def cluster_balance_docs(docs: DataFrame, alpha: float) -> DataFrame:
    """Cluster-balanced sampling stage (D4-style diversification):
    temperature-flatten the survivors across k ~ sqrt(N) trained
    embedding cells — the semantic twin of ``temperature_sample``'s
    per-language rule, sharing the versioned feature-hash
    featurization with the SemDeDup stage. Its acceptance bucket is
    "cluster_balance:"-salted so the decision is INDEPENDENT of the
    downstream temperature-sampling and split-stamp buckets (stacked
    rate filters on one bucket compose as min, not product). The
    pipeline twin of the rows-only ``cluster_balanced_sample``
    registry query (operators/diversify.py holds the kernel)."""
    from .operators.diversify import cluster_balanced_keep

    return cluster_balanced_keep(docs, alpha).select(
        "url", "text", "lang"
    )


def stamp_split(
    docs: DataFrame, train_frac: float, val_frac: float
) -> DataFrame:
    """Append the deterministic train/val/test ``split`` column: the
    "split:"-salted md5 bucket of url (``functions.bucket.split_stamp``)."""
    return docs.withColumn(
        "split", split_stamp("url", train_frac, val_frac)
    )


def exact_dedup_survivors(docs: DataFrame) -> DataFrame:
    """Keep one doc per exact text: min url wins
    (``operators.textdedup.exact_dedup``)."""
    return textdedup.exact_dedup(docs, "url").drop("content_hash")


def _checkpointed_bands(docs: DataFrame) -> DataFrame:
    """``docs``' minhash bands, localCheckpointed: the band join reads
    them more than once, and exchange reuse does not cover a side AQE
    broadcasts, so an unmaterialized band frame runs the minhash
    kernel once per reference. Lazy: the first job that reads them
    (the band join's) stores them, so the kernel runs inside the
    near-dup call rather than in a job of its own before it."""
    return minhash_bands(
        docs, id_col="url", text_col="text"
    ).localCheckpoint(eager=False)


def neardup_survivors(docs: DataFrame, bands: DataFrame) -> DataFrame:
    """Drop near-duplicates: LSH candidate pairs -> connected
    components -> keep the min-url representative of each cluster
    (component label IS the min reachable url).

    ``bands``: ``docs``' checkpointed bands (``_checkpointed_bands``),
    owned by the caller — the chain writes the survivors' bands from
    them after this stage."""
    labels = connected_components(
        docs.select("url"), lsh_candidate_pairs(bands),
        vertex_col="url", src="a_id", dst="b_id",
    )
    keep = labels.filter(F.col("id") == F.col("component")).select(
        F.col("id").alias("url")
    )
    return docs.join(keep, "url", "left_semi")


_BANDS_META = "_band_meta.json"


def _band_meta() -> dict:
    """Identity of the persisted band layout: an increment may reuse a
    run's stored bands only if the minhash algorithm that would
    recompute them is unchanged."""
    return {
        "token_hash_version": TOKEN_HASH_VERSION,
        "n_hashes": N_HASHES,
        "band_size": BAND_SIZE,
    }


# the schemas the per-run manifests are written with: reading them
# back with the known schema plans without a footer-inference job
_BANDS_SCHEMA = "id string, band_idx int, band_val bigint"
_HASHES_SCHEMA = "url string, content_hash string"
_PROCESSED_SCHEMA = "url string"


def _survivor_band_writes(
    survivors: DataFrame, run_dir: str, bands: DataFrame
) -> list[tuple]:
    """The ``write_concurrently`` entries that persist the survivors'
    LSH band values AND content hashes beside the survivors — 16+1
    thin rows per doc — so a future increment band-joins /
    hash-anti-joins against them directly instead of re-reading the
    whole committed corpus's text (the difference between O(new) and
    O(corpus) per increment). The caller writes ``_BANDS_META`` once
    they have landed.

    ``bands``: the near-dup stage's checkpointed bands, semi-joined on
    the survivor urls. No stage after near-dup rewrites text (each
    only filters or adds columns), so they are exactly the survivors'
    bands."""
    bands = bands.join(
        survivors.select(F.col("url").alias("id")), "id", "left_semi"
    )
    hashes = survivors.select(
        "url", F.md5(F.col("text").cast("binary")).alias("content_hash")
    )
    return [
        (lambda: bands, os.path.join(run_dir, "bands")),
        (lambda: hashes, os.path.join(run_dir, "hashes")),
    ]


def _run_dir(out_dir: str, run_id: str) -> str:
    return os.path.join(out_dir, "curated", f"run_id={run_id}")


def _read_chain(
    spark: SparkSession,
    out_dir: str,
    chain: list[str],
    artifact: str,
    schema: str | None = None,
    recompute: Callable | None = None,
    reusable: Callable = os.path.isdir,
    each: Callable | None = None,
) -> DataFrame:
    """The union of one per-run artifact (``survivors``, ``packed``,
    ``bands``, ...) over the runs of ``chain``, by column name: a
    column one run lacks reads as NULL, so a split-stamped run unions
    cleanly over an unstamped one.

    - ``schema``: the artifact's known schema — the read then plans
      without a footer-inference job;
    - ``recompute``: the artifact from a run's survivors, for a run
      whose stored artifact is not ``reusable`` (committed before the
      artifact existed, or under another algorithm);
    - ``each(run_id, frame)``: rewrites each run's frame before the
      union."""
    out = None
    for rid in chain:
        run_dir = _run_dir(out_dir, rid)
        path = os.path.join(run_dir, artifact)
        if recompute is not None and not reusable(path):
            df = recompute(
                spark.read.parquet(os.path.join(run_dir, "survivors"))
            )
        else:
            df = (spark.read.schema(schema) if schema else spark.read
                  ).parquet(path)
        if each is not None:
            df = each(rid, df)
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )
    return out


def _chain_packed(
    spark: SparkSession, out_dir: str, chain: list[str], tag: str | None
) -> tuple[DataFrame, list[str]]:
    """The chain's packed chunks, each run's rows tagged with its
    run_id in column ``tag`` (if given), and the runs that were not
    split-stamped."""
    unstamped = []

    def each(rid: str, df: DataFrame) -> DataFrame:
        if "split" not in df.columns:
            unstamped.append(rid)
        return df.withColumn(tag, F.lit(rid)) if tag else df

    return _read_chain(spark, out_dir, chain, "packed", each=each), unstamped


def _bands_reusable(path: str) -> bool:
    """Whether a run's stored bands match the current band layout."""
    try:
        with open(os.path.join(os.path.dirname(path), _BANDS_META)) as f:
            return os.path.isdir(path) and json.load(f) == _band_meta()
    except (OSError, ValueError):
        return False


def _chain_bands(
    spark: SparkSession, out_dir: str, chain: list[str]
) -> DataFrame:
    """Band rows for every committed survivor in the chain: stored
    bands where present AND algorithm-compatible, recomputed from
    survivor text otherwise (runs committed before band persistence,
    or across a minhash version bump)."""
    return _read_chain(
        spark, out_dir, chain, "bands", _BANDS_SCHEMA,
        recompute=lambda s: minhash_bands(
            s.select("url", "text"), id_col="url", text_col="text"
        ),
        reusable=_bands_reusable,
    )


def _chain_url_hashes(
    spark: SparkSession, out_dir: str, chain: list[str]
) -> DataFrame:
    """(url, content_hash) of every committed survivor in the chain:
    stored per-run hash manifests where present, recomputed from
    survivor text otherwise (md5 has no version knob — only presence
    is checked)."""
    return _read_chain(
        spark, out_dir, chain, "hashes", _HASHES_SCHEMA,
        recompute=lambda s: s.select(
            "url", F.md5(F.col("text").cast("binary")).alias("content_hash"),
        ),
    )


def _chain_processed(
    spark: SparkSession, out_dir: str, chain: list[str]
) -> DataFrame:
    """Every url EVALUATED by the chain: the per-run processed
    manifests, and the survivor urls of runs committed before the
    manifest existed (a url those runs dropped would be re-evaluated,
    and dedup-vs-base re-drops it)."""
    return _read_chain(
        spark, out_dir, chain, "processed", _PROCESSED_SCHEMA,
        recompute=lambda s: s.select("url"),
    )


def exact_dedup_survivors_incremental(
    new_docs: DataFrame,
    base: DataFrame,
    base_hashes: DataFrame | None = None,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Keep-first exact dedup for an increment: among the new batch
    the min-url doc per exact text wins (same rule as the full form),
    and any new doc whose text matches a COMMITTED base survivor
    drops — committed survivors are never revoked. One hash window
    over the new batch + one hash anti-join against the base;
    ``base_hashes`` (the per-run stored manifests, `_chain_url_hashes`)
    keeps the anti-join off the base TEXT entirely — without it the
    hashes are recomputed from survivor text (one linear pass).

    ``bloom_prefilter``: summarize the NEW batch's hashes in a bloom
    and prune the corpus-sized base manifest in its scan stage, so
    its non-matching bulk never shuffles into the anti-join (the
    base:batch ratio is unbounded at 10^12 docs — without this every
    increment sort-merge-shuffles the whole manifest). Output is
    IDENTICAL either way: false negatives are impossible, false
    positives fall through to the exact anti-join. Best with a
    materialized ``new_docs`` (the composed chain's stage inputs are
    checkpointed) — the bloom build re-reads it once. No bloom is
    built while the manifest fits the broadcast threshold
    (``bloom_semi_reduce``)."""
    h = F.md5(F.col("text").cast("binary"))
    if base_hashes is None:
        base_hashes = base.select(h.alias("content_hash")).distinct()
    if bloom_prefilter:
        base_hashes = bloom_semi_reduce(
            new_docs.select(h.alias("content_hash")), base_hashes,
            "content_hash",
        )
    return (
        textdedup.exact_dedup(new_docs, "url")
        .join(base_hashes, "content_hash", "left_anti")
        .drop("content_hash")
    )


def neardup_survivors_incremental(
    new_docs: DataFrame,
    base: DataFrame,
    new_bands: DataFrame,
    base_bands: DataFrame | None = None,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Keep-first near-dup pruning for an increment: band-join the
    new batch's signatures against (base ∪ new) bands; a new doc in
    any component touching a committed survivor drops (even when it
    BRIDGES two base clusters a full re-curate would merge — revoking
    committed docs is exactly what incremental mode promises not to
    do), and new-only components keep their min-url representative,
    identical to the full form.

    Scale shape: O(new), not O(corpus) — ``base_bands`` (persisted
    beside each run's survivors, `_survivor_band_writes`) means the
    committed corpus is never re-minhashed, and the pair join keeps
    the NEW batch on one side, so base-base bucket pairs (already
    resolved when those runs committed) are never generated. Without
    ``base_bands`` the base signatures are recomputed from survivor
    text (one linear pass — the pre-persistence fallback). Components
    iterate on pair-touched vertices only, so the untouched bulk of
    the base exits the loop immediately.

    ``bloom_prefilter``: summarize the new batch's (band_idx,
    band_val) keys in a bloom and prune the corpus-sized band
    manifest in its scan stage — non-colliding base bands (the vast
    bulk) never shuffle into the pair join. Output IDENTICAL (no
    false negatives; false positives only add join input). Not done
    while the band manifest fits the broadcast threshold
    (``bloom_semi_reduce``).

    ``new_bands``: the batch's checkpointed bands
    (``_checkpointed_bands``), owned by the caller — the chain writes
    the survivors' bands from them. Checkpointed because the bloom
    build, the pair join's probe side and the union below would each
    re-run the minhash kernel otherwise."""
    if base_bands is None:
        base_bands = minhash_bands(base, id_col="url", text_col="text")
    if bloom_prefilter and not fits_broadcast(base_bands):
        base_bands = bloom_semi_reduce(
            new_bands, base_bands, ("band_idx", "band_val"),
        )
    all_bands = new_bands.unionByName(base_bands)
    # pairs touching at least one NEW doc; canonical (min, max) order
    # so the same pair found from both sides dedupes in the distinct
    a, b = new_bands.alias("a"), all_bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least("a.id", "b.id").alias("a_id"),
            F.greatest("a.id", "b.id").alias("b_id"),
        )
        .distinct()
        # the pairs feed the vertex set, the edges and (through the
        # returned labels) the final join-back; components' edge
        # checkpoint materializes them
        .localCheckpoint(eager=False)
    )
    # vertices: pair-touched ids + the new batch — a committed doc in
    # no candidate pair can't share a component with a new doc, so
    # the label computation is O(pairs + new), not O(corpus)
    vertices = (
        pairs.select(F.col("a_id").alias("url"))
        .unionByName(pairs.select(F.col("b_id").alias("url")))
        .unionByName(new_docs.select("url"))
        .distinct()
    )
    labels = connected_components(
        vertices, pairs, vertex_col="url", src="a_id", dst="b_id",
    )
    # the pairs' checkpoint blocks are NOT freed here: unlike
    # semdedup_survivors (whose vertex set comes straight from docs),
    # this vertex set derives from the pairs, so the returned frame
    # still references them lazily — an early release throws
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on collect. The blocks are
    # pair-sized; the ContextCleaner reclaims them on GC.
    base_ids = base.select(F.col("url").alias("id"))
    # components containing ANY committed survivor: everything new in
    # them is a near-dup of committed work
    base_components = (
        labels.join(base_ids, "id", "left_semi")
        .select("component").distinct()
    )
    keep = (
        labels.join(base_ids, "id", "left_anti")
        .join(base_components, "component", "left_anti")
        .filter(F.col("id") == F.col("component"))
        .select(F.col("id").alias("url"))
    )
    return new_docs.join(keep, "url", "left_semi")


def semdedup_prune(
    docs: DataFrame,
    tau: float,
    embeddings: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup semantic near-dup pruning stage: embed (versioned
    feature-hash default, or an external ``embeddings(url, v)``
    frame), quantize with a corpus-sized trained k-means, pair within
    cells at cosine >= tau, keep the min-url representative per
    connected cluster — the drop-survivors form of the rows-only
    ``semdedup_pairs`` registry query (operators/semdedup.py holds
    the shared scale-hardened kernel)."""
    from .operators.semdedup import semdedup_survivors

    return semdedup_survivors(
        docs, tau, embeddings=embeddings, id_col="url", text_col="text"
    )


def chunk_docs(
    docs: DataFrame,
    chunk_size: int,
    chunk_stride: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed-size character chunks with overlap
    (``operators.packing.chunk_text``, the kernel the oracle-gated
    ``chunk_documents`` query runs). ``extra_cols`` carry per-doc
    metadata (e.g. the train/val/test split) onto every chunk."""
    return chunk_text(
        docs, chunk_size, chunk_stride, ("url", "lang", *extra_cols)
    )


def pack_chunks_greedy(
    chunks: DataFrame,
    pack_target: int,
    part_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Assign chunks to fixed-budget training bins by cumulative length
    in a DETERMINISTIC order per language — the order-by-key form is
    what makes packing reproducible across reruns/resumes.

    v2 order: (hash_bucket(url), url, chunk_idx). The bucket is a
    monotone uniform function of url (operators.packing), which lets
    the bin assignment run as an exact two-phase prefix sum with
    langs x n_buckets -way parallelism instead of ONE task sorting a
    whole language (the round-4 scale-killer: ~half of Common Crawl is
    one language). A url's chunks stay contiguous (the bucket depends
    on url only), and the hash-major order additionally decorrelates
    same-domain pages across bins — a mixing win for training data.
    Order change vs v1 (url-lexicographic) is covered by
    CURATION_DATAFLOW_VERSION.

    ``part_cols`` extends the bin-partition key — e.g. ("lang",
    "split") keeps every training bin split-pure when the split stage
    is enabled; bin_ids stay contiguous per key tuple."""
    bucketed = chunks.withColumn("_bkt", monotone_hash_bucket("url"))
    return greedy_pack_bins(
        bucketed, pack_target, "_bkt", ["url", "chunk_idx"],
        part_col=list(part_cols),
    ).drop("_bkt")


def _on(v) -> bool:
    """Whether a stage's switch kwarg turns it on."""
    return v is not None and v is not False


def _must(ok: Callable, msg: str) -> Callable:
    """A stage check: ``msg`` when the stage is on and ``ok(value)``
    fails."""
    return lambda v, r: _on(v) and not ok(v) and msg


def _semdedup_check(tau, r: dict):
    if tau is None:
        return r["semdedup_embeddings"] is not None and (
            "semdedup_embeddings has no effect without semdedup_tau "
            "(the stage switch)"
        )
    return not 0.0 < tau <= 1.0 and "semdedup_tau must be in (0, 1]"


def _stage_bands(df: DataFrame, r: dict) -> DataFrame:
    """The near-dup stage's checkpointed bands, kept in ``r`` for the
    survivor-band write, which semi-joins them instead of
    re-minhashing the survivors."""
    r["bands"] = _checkpointed_bands(df)
    return r["bands"]


class _Stage(NamedTuple):
    """One curation stage. A build takes (the stage input, the run
    dict ``r``: run_curation's kwargs plus the run's frames) and names
    its kernel inside a lambda, so the kernel is looked up in this
    module's globals when the stage runs — a patched kernel is the
    one that runs.

    - ``key``: its n_after_* result key;
    - ``switch``: the kwarg that turns it on (None: always on);
    - ``full``: its full-run build (None: increment only);
    - ``inc``: its increment build — True reuses ``full``, False marks
      a corpus-global stage, which an increment rejects;
    - ``fp``/``fp_val(value, r)``: its input_fingerprint key and value;
    - ``check(value, r)``: its validation error, or falsy;
    - ``ckpt``: its output is materialized and counted;
    - ``evaluated``: its output is the run's processed manifest (the
      last such stage of the mode wins)."""

    name: str
    key: str | None
    switch: str | None
    full: Callable | None
    inc: Callable | bool
    fp: str | None = None
    fp_val: Callable = lambda v, r: v
    check: Callable | None = None
    ckpt: bool = True
    evaluated: bool = False

    def on(self, r: dict) -> bool:
        return self.switch is None or _on(r[self.switch])

    def build(self, incremental: bool) -> Callable | None:
        """The build this mode runs; None where the mode has no such
        stage."""
        if incremental and self.inc is not True:
            return self.inc or None
        return self.full


# The composed doc-level dataflow, in fixed order: the one place a
# curation stage is defined, and each opt-in kwarg documented. Every
# switch and knob enters the fingerprint, so toggling or
# reconfiguring a stage re-curates rather than falsely
# no-op-resuming. A disabled stage passes its input through (its
# lineage row records n_in == n_out).
_STAGES = (
    # ``canonicalize_urls``: identity first — spelling twins collapse
    # BEFORE any url-keyed decision (resume, dedup tie-breaks, host
    # quotas, packing keys); one hash window, scan-stage string ops
    # otherwise (operators/urlcanon.py). Its version is fingerprinted:
    # a changed canonicalization changes every url-keyed decision
    _Stage(
        "url_canonicalize", None, "canonicalize_urls",
        full=lambda df, r: canonicalize_docs(df), inc=True,
        fp="url_canon", fp_val=lambda v, r: URL_CANON_VERSION,
        evaluated=True,
    ),
    # an increment's already-evaluated urls are not new work. Bloom
    # semi-reduction: the processed manifest is corpus-sized and the
    # batch is small — prune the manifest in its scan stage (no false
    # negatives, so the exact anti-join still drops every processed
    # url; false positives only add join input)
    _Stage(
        "resume_anti_join", "n_after_resume", None, full=None,
        inc=lambda df, r: df.join(bloom_semi_reduce(
            df.select("url"), r["processed"], "url",
            expected=r["n_input"],
        ), "url", "left_anti"),
        evaluated=True,
    ),
    # ``blocked_domains``: C4/RefinedWeb-style URL blocklist as the
    # FIRST cut — provenance-only, it reads no text, so every later
    # stage's input shrinks by the block rate. A doc from a blocked
    # domain (or any subdomain, label-boundary matched) drops; a
    # ``list[str]`` runs as a scan-stage literal filter, a DataFrame
    # blocklist anti-joins at scale and its normalized CONTENT enters
    # the fingerprint (a grown list must re-curate)
    _Stage(
        "url_blocklist", "n_after_url_blocklist", "blocked_domains",
        full=lambda df, r: filter_blocked_domains(df, r["blocked_domains"]),
        inc=True, fp="url_blocklist", fp_val=lambda v, r: [
            URL_FILTER_VERSION,
            ["external", r["fps"]["url_blocklist"]]
            if isinstance(v, DataFrame) else v,
        ],
    ),
    # ``quality_min_chars``: length bounds + Gopher repetition cut
    # ahead of dedup
    _Stage(
        "quality_gate", "n_after_quality_gate", "quality_min_chars",
        full=lambda df, r: quality_gate(
            df, r["quality_min_chars"], r["quality_max_chars"],
            r["quality_dup_bigram_max"],
        ),
        inc=True, fp="quality_gate", fp_val=lambda v, r: [
            v, r["quality_max_chars"], r["quality_dup_bigram_max"],
        ],
    ),
    # ``domain_cap``: C4-style per-url-host quota right after the gate
    # (longest-texts-win, url tie-break); an increment fills only each
    # host's remaining headroom
    _Stage(
        "domain_cap", "n_after_domain_cap", "domain_cap",
        full=lambda df, r: domain_cap_docs(df, r["domain_cap"]),
        inc=lambda df, r: domain_cap_docs_incremental(
            df, r["base"], r["domain_cap"]
        ),
        fp="domain_cap",
        check=_must(lambda v: v >= 1, "domain_cap must be >= 1"),
    ),
    # ``remove_spans_min_docs``: cross-doc boilerplate span removal. It
    # rewrites text BEFORE dedup, so de-boilerplated twins collapse;
    # docs emptied by the removal drop here — they cannot train and
    # would all collide on one content hash
    _Stage(
        "span_removal", "n_after_span_removal", "remove_spans_min_docs",
        full=lambda df, r: remove_boilerplate_spans(
            df, r["remove_spans_min_docs"], r["span_ngram"]
        ).filter(_nonblank()),
        inc=False, fp="span_removal", fp_val=lambda v, r: [v, r["span_ngram"]],
    ),
    # ``segment_dedup_n``: keep-first global segment dedup (C4/CCNet
    # rule) BEFORE exact dedup — later occurrences of any n-token tile
    # drop corpus-wide, the first survives; docs reduced to
    # previously-seen boilerplate empty and drop here
    _Stage(
        "segment_dedup", "n_after_segment_dedup", "segment_dedup_n",
        full=lambda df, r: dedup_segments_first(
            df, r["segment_dedup_n"]
        ).filter(_nonblank()),
        inc=False, fp="segment_dedup",
        check=_must(lambda v: v >= 1, "segment_dedup_n must be >= 1"),
    ),
    # an increment drops a new doc whose text matches a committed
    # survivor's, against the chain's stored hashes
    _Stage(
        "exact_dedup", "n_after_exact_dedup", None,
        full=lambda df, r: exact_dedup_survivors(df),
        inc=lambda df, r: exact_dedup_survivors_incremental(
            df, r["base"], base_hashes=r["base_hashes"],
            bloom_prefilter=True,
        ),
    ),
    # an increment band-joins its batch against the chain's stored bands
    _Stage(
        "neardup_prune", "n_after_neardup", None,
        full=lambda df, r: neardup_survivors(df, bands=_stage_bands(df, r)),
        inc=lambda df, r: neardup_survivors_incremental(
            df, r["base"], _stage_bands(df, r),
            base_bands=r["base_bands"], bloom_prefilter=True,
        ),
    ),
    # ``semdedup_tau``: SemDeDup semantic near-dup pruning of the
    # syntactic (MinHash) survivors — k ~ sqrt(N) trained quantizer +
    # within-cell cosine pairs + min-url representative
    # (operators/semdedup.py). The embedding provider is part of the
    # identity: the versioned feature-hash featurization, or the
    # CONTENT of ``semdedup_embeddings`` (url, v) model vectors
    _Stage(
        "semdedup", "n_after_semdedup", "semdedup_tau",
        full=lambda df, r: semdedup_prune(
            df, r["semdedup_tau"], embeddings=r["semdedup_embeddings"]
        ),
        inc=False, fp="semdedup", fp_val=lambda v, r: [v, (
            ["feature_hash", SEMDEDUP_EMBED_VERSION]
            if r["semdedup_embeddings"] is None
            else ["external", r["fps"]["semdedup"]]
        )],
        check=_semdedup_check,
    ),
    # ``decon_eval``: n-gram decontamination of the dedup survivors
    # against an eval corpus; its CONTENT enters the fingerprint (a new
    # eval suite must re-curate)
    _Stage(
        "decontaminate", "n_after_decon", "decon_eval",
        full=lambda df, r: decontaminate_against(
            df, r["decon_eval"], n=r["decon_ngram"]
        ),
        inc=True, fp="decon",
        fp_val=lambda v, r: [r["decon_ngram"], r["fps"]["decon"]],
    ),
    # ``lm_quality_drop_z``: CCNet-style LM-quality tail drop (keep docs
    # scoring >= mu_lang - z * sigma_lang)
    _Stage(
        "lm_quality", "n_after_lm_quality", "lm_quality_drop_z",
        full=lambda df, r: lm_quality_survivors(df, r["lm_quality_drop_z"]),
        inc=False, fp="lm_quality",
        check=_must(lambda v: v >= 0, "lm_quality_drop_z must be >= 0"),
    ),
    # ``cluster_alpha``: cluster-balanced sampling (D4-style
    # diversification) — temperature-flatten the survivors across
    # k ~ sqrt(N) trained embedding cells toward the uniform per-cell
    # share; cells at or below it keep 100%. The featurization and
    # acceptance-rule versions are part of the identity
    _Stage(
        "cluster_balance", "n_after_cluster_balance", "cluster_alpha",
        full=lambda df, r: cluster_balance_docs(df, r["cluster_alpha"]),
        inc=False, fp="cluster_balance", fp_val=lambda v, r: [
            v, CLUSTER_BALANCE_VERSION, SEMDEDUP_EMBED_VERSION,
        ],
        check=_must(
            lambda v: 0.0 <= v <= 1.0,
            "cluster_alpha must be in [0, 1] (0 = flatten fully to "
            "the uniform cell share, 1 = keep everything)",
        ),
    ),
    # ``sample_alpha``: temperature-based language rebalancing as the
    # final doc-level selection
    _Stage(
        "temperature_sample", None, "sample_alpha",
        full=lambda df, r: temperature_sample(df, r["sample_alpha"]),
        inc=False, fp="sample_alpha",
    ),
    # ``split_fracs`` (train, val): stamp the deterministic
    # growth-stable train/val/test ``split`` on the final survivors
    # (count-preserving, not materialized); chunks and packed bins
    # carry it, and bins are split-pure (pack partitions by
    # (lang, split))
    _Stage(
        "split_stamp", None, "split_fracs",
        full=lambda df, r: stamp_split(df, *r["split_fracs"]),
        inc=True, fp="split", fp_val=lambda v, r: list(v),
        check=_must(
            lambda v: len(v) == 2 and min(v) > 0 and sum(v) < 1,
            "split_fracs must be (train, val) with train > 0, "
            "val > 0 and train + val < 1 (test takes the rest)",
        ),
        ckpt=False,
    ),
)

# the switches of the corpus-global stages, which no increment runs
CORPUS_GLOBAL_SWITCHES = tuple(s.switch for s in _STAGES if s.inc is False)


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    chunk_size: int = 2048,
    chunk_stride: int = 1792,
    pack_target: int = 8192,
    canonicalize_urls: bool = False,
    blocked_domains: list | DataFrame | None = None,
    quality_min_chars: int | None = None,
    quality_max_chars: int | None = None,
    quality_dup_bigram_max: float = 0.05,
    domain_cap: int | None = None,
    remove_spans_min_docs: int | None = None,
    span_ngram: int = 5,
    segment_dedup_n: int | None = None,
    semdedup_tau: float | None = None,
    semdedup_embeddings: DataFrame | None = None,
    decon_eval: DataFrame | None = None,
    decon_ngram: int = 5,
    lm_quality_drop_z: float | None = None,
    cluster_alpha: float | None = None,
    sample_alpha: float | None = None,
    split_fracs: tuple[float, float] | None = None,
    incremental: bool = False,
) -> dict:
    """Run (or no-op-resume) the curation job; returns summary counts
    and paths. ``docs`` must have (url, text, lang) — typically
    ``read_extracted(spark, extraction_out_dir)``.

    ``incremental=True`` (use the ``run_curation_increment`` wrapper)
    treats ``docs`` as a NEW batch appended to the committed corpus:
    already-processed urls resume-drop, dedup runs keep-first against
    the committed survivor chain, and corpus-global stages are
    rejected — see the wrapper's docstring for the full contract.

    The opt-in stages and the kwargs that switch and tune them are
    documented at their rows of ``_STAGES``; each is fingerprinted, so
    toggling or reconfiguring one re-curates.

    Order: the rows of ``_STAGES``, then chunk -> pack."""
    # the stage rows read their kwargs, and the frames set up below,
    # by name from this one dict
    r = dict(locals())
    run_id = run_id or uuid.uuid4().hex[:12]
    prev = load_curation_snapshot(out_dir)
    _reject_replay(
        prev, run_id,
        f"run_id {run_id!r} is already committed in {out_dir}; "
        "rerun with a fresh run_id",
    )
    if chunk_size <= 0 or chunk_stride <= 0 or pack_target <= 0:
        raise ValueError(
            "chunk_size, chunk_stride and pack_target must be positive"
        )
    if chunk_stride > chunk_size:
        raise ValueError(
            "chunk_stride > chunk_size would leave uncovered gaps "
            "between chunks"
        )
    for s in _STAGES:
        err = s.check and s.check(r[s.switch], r)
        if err:
            raise ValueError(err)
    if blocked_domains is not None and not isinstance(
        blocked_domains, DataFrame
    ):
        # an empty list blocks nothing: disable the stage so it
        # doesn't enter the fingerprint (same output either way)
        r["blocked_domains"] = sorted(
            {d.lower().lstrip(".") for d in blocked_domains if d}
        ) or None
    parent_run = None
    if incremental:
        # corpus-global stages compute statistics over the WHOLE
        # corpus (span/tile frequencies, embedding cells, per-lang
        # quality stats, language/cell shares): running them over one
        # batch silently changes their semantics, so they demand a
        # full re-curate instead
        for k in CORPUS_GLOBAL_SWITCHES:
            if _on(r[k]):
                raise ValueError(
                    f"{k} is a corpus-global stage — its "
                    "statistics are properties of the whole corpus, so "
                    "it needs a full re-curate, not an increment"
                )
        if prev is None:
            raise FileNotFoundError(
                f"no committed curation under {out_dir} to increment "
                "— run a full run_curation first"
            )
        # the committed chain's url identity and the batch's must
        # agree: a canonicalized batch over a raw-url base (or the
        # reverse) silently misses every resume/dedup collision
        base_canon = "url_canon" in (prev.get("input_fingerprint") or {})
        if canonicalize_urls != base_canon:
            raise ValueError(
                "canonicalize_urls must match the committed chain "
                f"(base {'did' if base_canon else 'did not'} "
                "canonicalize; this increment "
                f"{'does' if canonicalize_urls else 'does not'}) — "
                "url identity drives resume and keep-first dedup"
            )
        parent_run = prev.get("latest_run", prev["runs"][-1])
        chain = _run_chain(prev, parent_run)
        # stored survivor bands + content hashes (recomputed per run
        # only when absent or algorithm-incompatible): on the happy
        # path the increment never re-reads the committed corpus's
        # TEXT at all — resume/cap touch urls, exact dedup touches
        # stored hashes, near-dup touches stored bands
        r.update(
            base=read_curated(
                spark, out_dir, run_id=parent_run, cumulative=True
            ).select("url", "text", "lang"),
            base_bands=_chain_bands(spark, out_dir, chain),
            base_hashes=_chain_url_hashes(spark, out_dir, chain)
            .select("content_hash").distinct(),
            processed=_chain_processed(spark, out_dir, chain).distinct(),
        )
    # blank rows can't train and would all collide on one content
    # hash; drop them up front, counted in the lineage 'input' stage
    # (raw -> non-blank), mirroring the extraction pipeline's O2
    # filter. The raw count and every input's fingerprint come from
    # ONE aggregation over the raw frame and the other inputs.
    docs = docs.select("url", "text", "lang")
    fp, n_raw, r["fps"] = _fingerprints(
        docs, eval_docs=decon_eval, embeddings=semdedup_embeddings,
        blocked=(
            blocked_domains if isinstance(blocked_domains, DataFrame)
            else None
        ),
    )
    docs = docs.filter(_nonblank())
    # every knob that changes the output is part of the dataflow
    # identity: the same corpus under a different chunk/pack or gate
    # config must re-curate, not falsely no-op-resume — and so are the
    # ALGORITHM versions of the stages (round-4 advice: a token-hash
    # upgrade changes near-dup survivors; without these a code upgrade
    # false no-op-resumes and reports the stale old-algorithm snapshot)
    fp["algo"] = [
        CURATION_DATAFLOW_VERSION, TOKEN_HASH_VERSION, N_HASHES, BAND_SIZE,
    ]
    fp["config"] = [chunk_size, chunk_stride, pack_target]
    for s in _STAGES:
        if s.fp and s.on(r):
            fp[s.fp] = s.fp_val(r[s.switch], r)
    if incremental:
        # mode flag, not the parent id: a resubmission of the SAME
        # batch right after its own commit must compare equal to that
        # commit's fingerprint and no-op (the parent id would change
        # with every commit and defeat the barrier); any OTHER commit
        # in between changes the latest fingerprint and correctly
        # forces a re-evaluation (which then resume-drops everything
        # already processed)
        fp["incremental"] = True
    if prev and prev.get("input_fingerprint") == fp:
        # completion barrier: same corpus already curated — rerunning
        # the whole dataflow would reproduce byte-identical output
        return {
            "run_id": run_id, "snapshot": prev, "skipped_noop": True,
            "survivors_path": None, "packed_path": None,
            "lineage_path": None,
        }

    run_dir = _run_dir(out_dir, run_id)
    survivors_path = os.path.join(run_dir, "survivors")
    packed_path = os.path.join(run_dir, "packed")
    lineage_path = os.path.join(out_dir, "lineage", f"run_id={run_id}")
    r["n_input"] = n_input = fp["n_docs"]

    # this mode's stages with their builds, None where the stage is off
    plan = [
        (s, build if s.on(r) else None)
        for s in _STAGES
        if (build := s.build(incremental)) is not None
    ]
    # the frame whose urls form this run's processed manifest: every
    # url the run EVALUATED, in the identity a later increment's resume
    # compares against — the non-blank input (a thin url-only
    # projection off the scan), the POST-canonicalization urls of a
    # canonicalizing full run, what survived an increment's resume.
    # That frame is kept (not early-released) until the tail writes it.
    processed_src = docs
    evaluated_at = max(
        (i for i, (s, build) in enumerate(plan) if build and s.evaluated),
        default=None,
    )

    with _inflight(out_dir, run_id):
        # per-stage wall seconds (diagnostic only — lineage counts are
        # the contract; this feeds OPTIMIZATION round measurements)
        stage_sec: dict[str, float] = {}
        split_extra = ("split",) if split_fracs is not None else ()
        # every materialized frame releases on ANY exit (round-4
        # advice: an exception between materialize and the early
        # release leaked the blocks for the life of the session);
        # releasing twice is a harmless no-op
        materialized: list[DataFrame] = []
        # per-stage lineage counts: disabled stages pass through
        stages = [("input", n_raw, n_input)]  # raw -> non-blank (O2)
        try:
            cur = docs
            for i, (s, build) in enumerate(plan):
                n = stages[-1][2]
                if build is not None and not s.ckpt:
                    cur = build(cur, r)
                elif build is not None:
                    t0 = time.monotonic()
                    # eagerly localCheckpoint every enabled stage,
                    # counted in the checkpoint's own job: its output
                    # feeds its lineage row, the successor's (often
                    # multi-pass) dataflow and, last, the tail's
                    # writes. Not persist: stages that read their input
                    # twice (segment dedup, semdedup, decon) multiply
                    # the kept logical plan through the chain — with
                    # every stage on it OOM'd an 8g driver. A lost
                    # block fails the run, which re-runs idempotently
                    # under the snapshot barrier.
                    cur, seen = _counted_ckpt(build(cur, r))
                    n = seen["n"]
                    # the predecessor's blocks go once its successor is
                    # materialized, unless the tail still writes it
                    if materialized and materialized[-1] is not processed_src:
                        _free_ckpt(materialized[-1])
                    materialized.append(cur)
                    stage_sec[s.name] = round(time.monotonic() - t0, 3)
                    if i == evaluated_at:
                        processed_src = cur
                stages.append((s.name, stages[-1][2], n))
            survivors, n_survivors = cur, stages[-1][2]
            packed = pack_chunks_greedy(
                chunk_docs(
                    survivors, chunk_size, chunk_stride,
                    extra_cols=split_extra,
                ),
                pack_target,
                part_cols=("lang", *split_extra),
            )
            # when the split stage is on, partition the packed layout
            # by split: a training reader of split=train then PRUNES
            # the val/test files at the directory level
            # (PartitionFilters in the scan) instead of scanning and
            # filtering 100% of the chunk bytes — the read-side win
            # the stamp exists for. Partition only when there are
            # rows: a zero-survivor run (e.g. a fully-resumed
            # increment) partitionBy-writes ONLY _SUCCESS — no schema
            # file — and every later schema-less read of the
            # committed dir (read_packed, cumulative unions) would
            # throw UNABLE_TO_INFER_SCHEMA; the non-partitioned empty
            # write keeps a schema file, and a split filter on it is
            # a no-op over zero rows
            split_part = split_extra if n_survivors > 0 else ()
            # the tail's writes all read checkpointed frames and are
            # independent: survivors, the processed manifest, the
            # survivor bands + hashes (what a future increment joins
            # against instead of this run's text; survivors-sized,
            # thin) and the packed chunks run side by side
            _, _, bands_s, hashes_s, pack_s = write_concurrently([
                (lambda: survivors, survivors_path),
                (
                    lambda: processed_src.select("url"),
                    os.path.join(run_dir, "processed"),
                ),
                *_survivor_band_writes(survivors, run_dir, r["bands"]),
                (lambda: packed, packed_path, *split_part),
            ])
        finally:
            for p in [*materialized, r.get("bands")]:
                if p is not None:
                    _free_ckpt(p)
        _atomic_write(
            os.path.join(run_dir, _BANDS_META), json.dumps(_band_meta())
        )
        stage_sec["_survivor_bands"] = round(max(bands_s, hashes_s), 3)

        t0 = time.monotonic()
        # one aggregate; a struct is never null, so a null lang counts
        # as its own bin key, as in distinct().count(). A distinct
        # count, not a per-key max(bin_id) + 1: a chunk longer than
        # pack_target skips bin ids (greedy_pack_bins floors the
        # running length by the target)
        n_chunks, n_bins = spark.read.schema(packed.schema).parquet(
            packed_path
        ).agg(
            F.count(F.lit(1)),
            F.count_distinct(F.struct("lang", *split_extra, "bin_id")),
        ).first()
        stage_sec["_chunk_pack"] = round(
            pack_s + time.monotonic() - t0, 3
        )

        stage_out = {nm: n_out for nm, _, n_out in stages}
        stages += [
            ("chunk", n_survivors, n_chunks),
            ("pack", n_chunks, n_bins),
        ]
        _local_frame(
            spark,
            [
                (run_id, i, stage, n_in, n_out, n_in - n_out)
                for i, (stage, n_in, n_out) in enumerate(stages)
            ],
            _LINEAGE_SCHEMA,
        ).write.mode("overwrite").parquet(lineage_path)

        snap = _next_snapshot(prev, run_id, fp, parent_run)
        _publish(out_dir, snap)  # atomic commit

    return {
        "run_id": run_id,
        "snapshot": snap,
        "n_raw_input": n_raw,
        "n_input": n_input,
        # None where this mode has no such stage: an increment omits
        # the corpus-global stages, and a full run has no resume stage
        **{s.key: stage_out.get(s.name) for s in _STAGES if s.key},
        "n_survivors": n_survivors,
        "n_chunks": n_chunks,
        "n_bins": n_bins,
        "stage_sec": stage_sec,
        "survivors_path": survivors_path,
        "packed_path": packed_path,
        "lineage_path": lineage_path,
    }


def run_curation_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    **kwargs,
) -> dict:
    """Append a new crawl batch to a committed curation WITHOUT
    re-curating the corpus — the 100-TB operating mode: a monthly
    snapshot lands and only the new documents flow through the chain,
    deduped keep-first against everything already committed.

    Contract:
    - requires a committed base (``run_curation``) in ``out_dir``;
      the increment chains onto the LATEST committed run;
    - already-evaluated urls resume-drop (processed manifests union'd
      over the parent chain), mirroring the extraction pipeline's
      per-url resume;
    - committed survivors are never revoked: a new doc drops if it
      exact- or near-duplicates any committed survivor; the domain
      cap fills only each host's remaining headroom;
    - per-doc stages (``blocked_domains``, quality gate,
      ``decon_eval``, ``split_fracs``, chunk/pack config) behave
      exactly as in a full run; corpus-global stages
      (``remove_spans_min_docs``, ``segment_dedup_n``,
      ``semdedup_tau``, ``lm_quality_drop_z``, ``cluster_alpha``,
      ``sample_alpha``) raise — their statistics are properties of
      the whole corpus and need a full re-curate;
    - the increment commits as its own run (survivors/packed/lineage
      + processed manifest) with a ``run_parents`` pointer; read the
      combined corpus with ``read_curated(..., cumulative=True)``;
      an identical batch resubmitted against the same chain head
      no-op-resumes (completion barrier), and ``vacuum_curation``
      retains every ancestor of a kept run.

    Equivalence: when representative choice cannot differ (base urls
    sort before increment urls), base-then-increment produces the
    same cumulative survivor set as one full curation over the union
    — pinned by tests/test_curation_incremental.py. Where it CAN
    differ (a new doc bridging two committed near-dup clusters, or a
    smaller new url that a full run would have elected representative)
    keep-first preserves the committed side by design."""
    return run_curation(
        spark, new_docs, out_dir, run_id=run_id, incremental=True,
        **kwargs,
    )


def read_packed(
    spark: SparkSession,
    out_dir: str,
    split: str | None = None,
    cumulative: bool = False,
) -> DataFrame:
    """Packed chunks of the latest committed curation snapshot. With
    ``split`` (and a run curated with ``split_fracs``), the filter
    lands on the split-partitioned directory layout, so a training
    reader of split=train never opens val/test files (partition
    pruning, not a post-scan filter).

    ``cumulative=True`` unions the latest run's packed bins with
    every incremental ancestor's — the full training handoff for a
    base + increments chain. A ``run_id`` column disambiguates bins:
    each run numbers its bins from 0 per (lang[, split]), so the bin
    key over a chain is (run_id, lang[, split], bin_id). Requesting a
    ``split`` fails loudly if any chain run was not split-stamped
    (silently dropping a whole run's rows would be worse)."""
    snap, rid = _latest_committed(out_dir)
    out, unstamped = _chain_packed(
        spark, out_dir, _run_chain(snap, rid) if cumulative else [rid],
        "run_id" if cumulative else None,
    )
    if split is not None and unstamped:
        raise ValueError(
            f"run(s) {unstamped} were not split-stamped (run with "
            "split_fracs to enable train/val/test reads)"
        )
    if split is not None:
        out = out.filter(F.col("split") == split)
    return out


def export_packed_jsonl(
    spark: SparkSession, out_dir: str, dest: str,
    cumulative: bool = False,
) -> int:
    """Write the latest packed chunks (or, ``cumulative=True``, the
    whole base + increments chain's) as JSONL — the handoff format
    training loaders consume. One file per bin-partition would be the
    cluster shape; here the write mirrors the parquet layout (files
    per task). Returns the chunk count (from the written data, so the
    number reported is what is actually on disk)."""
    packed = read_packed(spark, out_dir, cumulative=cumulative)
    packed.write.mode("overwrite").json(dest)
    # explicit schema on the read-back: a legitimately-empty packed
    # set writes only _SUCCESS, and schema inference over zero JSON
    # files raises instead of returning 0
    return spark.read.schema(packed.schema).json(dest).count()


def _run_chain(snap: dict, run_id: str) -> list[str]:
    """run_id plus its incremental ancestors, newest first: walk the
    snapshot's ``run_parents`` map (runs committed before incremental
    mode existed have no entry — chain of one)."""
    rp = snap.get("run_parents", {})
    chain: list[str] = []
    cur: str | None = run_id
    while cur is not None and cur not in chain:
        chain.append(cur)
        cur = rp.get(cur)
    return chain


_LINEAGE_SCHEMA = (
    "run_id string, stage_idx int, stage string, n_in long, "
    "n_out long, n_dropped long"
)


def _local_frame(spark: SparkSession, rows: list[tuple], schema: str):
    """A small local frame built through Arrow: a row list would
    start a pool of Python-RDD workers just to serialize it."""
    import pandas as pd

    names = [field.split()[0] for field in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def read_curated(
    spark: SparkSession,
    out_dir: str,
    run_id: str | None = None,
    cumulative: bool = False,
) -> DataFrame:
    """Survivors of the latest committed curation snapshot — or, with
    ``run_id``, time-travel to any COMMITTED earlier run (the snapshot
    log keeps every committed run_id; uncommitted/crashed runs are
    not readable, same rule as the extraction snapshot layer).

    ``cumulative=True`` returns the run's FULL corpus view: its own
    survivors unioned with every incremental ancestor's (the training
    handoff for a base + increments chain). Schemas are aligned by
    name with missing columns as NULL, so a split-stamped increment
    unions cleanly over a splitless base."""
    snap, head = _latest_committed(out_dir)
    if run_id is None:
        run_id = head
    elif run_id not in snap["runs"]:
        raise FileNotFoundError(
            f"run_id {run_id!r} is not committed in {out_dir} "
            f"(committed: {snap['runs']})"
        )
    return _read_chain(
        spark, out_dir, _run_chain(snap, run_id) if cumulative else [run_id],
        "survivors",
    )


def compact_curation(
    spark: SparkSession,
    out_dir: str,
    run_id: str | None = None,
) -> dict:
    """Rewrite the latest incremental chain (base + N increments) as
    ONE committed run, so ``vacuum_curation`` can reclaim the chain —
    the curation twin of a table format's rewrite-data-files
    maintenance, and the missing third leg of the append story:
    increments keep chains O(months) long, cumulative reads union
    O(months) directories, and vacuum must retain every ancestor of
    the head forever. Compaction collapses all of that back to a
    chain of one.

    Physical rewrite only — NO stage recomputation and NO text
    re-tokenization on the happy path: the cumulative survivors,
    packed bins (renumbered into one contiguous bin space per
    partition key, chunk rows byte-identical), the processed-url
    manifest, and the increment-serving band/hash manifests all carry
    over from the chain's stored artifacts. A later increment against
    the compacted run therefore produces the SAME survivor set as it
    would against the uncompacted chain (pinned by
    tests/test_curation_compact.py).

    Contract (mirrors run_curation's snapshot discipline):
    - commits as a new run under the atomic snapshot log;
      ``run_parents[new] = None`` (a compacted run IS a base), and
      ``latest_run`` moves to it; the chain's runs stay committed —
      reclaim them with ``vacuum_curation(keep_last=1)``;
    - the parent chain's ``input_fingerprint`` carries over, so
      resubmitting the head's batch still no-op-resumes;
    - replayed/vacuumed run_ids are rejected; a live concurrent run's
      sentinel fails the compaction loudly; the compaction holds its
      own sentinel so a concurrent vacuum fails loudly;
    - a chain of one is a documented no-op;
    - a MIXED chain (some runs split-stamped, some not) raises:
      merging them would turn read_packed's loud unstamped-run error
      into silently dropping the unstamped rows from split reads.

    Bin renumbering: each run numbers bins 0..n-1 per (lang[, split]);
    the compacted run offsets each run's bins by the cumulative bin
    count of the runs before it (oldest first), so bin membership is
    preserved exactly and bin_ids stay contiguous per key. The offset
    table is runs x languages x splits — metadata-sized, broadcast.
    """
    snap, head = _latest_committed(out_dir)
    _reject_inflight(out_dir, "compacting now would race their commit")
    chain = _run_chain(snap, head)
    # replay guard BEFORE the chain-of-one no-op: an explicitly passed
    # committed/vacuumed run_id is a caller error and must fail loudly
    # even when there is nothing to compact
    run_id = run_id or "compact-" + uuid.uuid4().hex[:12]
    _reject_replay(
        snap, run_id,
        f"run_id {run_id!r} is already committed (or was vacuumed) "
        f"in {out_dir}; compacted runs need a fresh run_id",
    )
    if len(chain) == 1:
        return {"run_id": head, "snapshot": snap, "skipped_noop": True}

    oldest_first = list(reversed(chain))
    allp, unstamped = _chain_packed(spark, out_dir, oldest_first, "_src")
    if unstamped and len(unstamped) < len(oldest_first):
        raise ValueError(
            f"run(s) {unstamped} in the chain were not split-stamped; "
            "compacting a mixed chain would silently drop their rows "
            "from split reads — re-curate with split_fracs instead"
        )
    key = ["lang"] if unstamped else ["lang", "split"]

    run_dir = _run_dir(out_dir, run_id)
    survivors_path = os.path.join(run_dir, "survivors")
    packed_path = os.path.join(run_dir, "packed")
    lineage_path = os.path.join(out_dir, "lineage", f"run_id={run_id}")
    with _inflight(out_dir, run_id):
        # survivors: the cumulative corpus, one directory
        _read_chain(spark, out_dir, oldest_first, "survivors").write.mode(
            "overwrite"
        ).parquet(survivors_path)
        survivors = spark.read.parquet(survivors_path)
        n_survivors = survivors.count()

        # packed: per-run bins shifted into one contiguous space per
        # partition key. Offsets come from each run's max bin_id per
        # key (bins are contiguous from 0 per run), accumulated oldest
        # run first — runs x keys rows, collected driver-side and
        # broadcast back.
        order = {rid: i for i, rid in enumerate(oldest_first)}
        mx = allp.groupBy("_src", *key).agg(
            F.max("bin_id").alias("_mx")
        ).collect()
        next_off: dict[tuple, int] = {}
        off_rows: list[tuple] = []
        for r in sorted(mx, key=lambda r: order[r["_src"]]):
            k = tuple(r[c] for c in key)
            off_rows.append((r["_src"], *k, next_off.get(k, 0)))
            next_off[k] = next_off.get(k, 0) + int(r["_mx"]) + 1
        off_schema = "_src string, " + ", ".join(
            f"{c} string" for c in key
        ) + ", _off long"
        off_df = _local_frame(spark, off_rows, off_schema)
        packed = (
            allp.join(F.broadcast(off_df), ["_src", *key], "left")
            .withColumn(
                "bin_id",
                F.col("bin_id") + F.coalesce(F.col("_off"), F.lit(0)),
            )
            .drop("_src", "_off")
        )
        writer = packed.write.mode("overwrite")
        # same empty-write rule as run_curation: a zero-row
        # partitionBy leaves no schema file
        if not unstamped and n_survivors > 0:
            writer = writer.partitionBy("split")
        writer.parquet(packed_path)
        packed_back = spark.read.schema(packed.schema).parquet(packed_path)
        n_chunks = packed_back.count()
        n_bins = packed_back.select(*key, "bin_id").distinct().count()

        # processed manifest: everything the chain ever evaluated
        _chain_processed(spark, out_dir, chain).distinct().write.mode(
            "overwrite"
        ).parquet(
            os.path.join(run_dir, "processed")
        )

        # increment-serving manifests: stored artifacts where present
        # and algorithm-compatible (no corpus re-minhash), recomputed
        # from survivor text otherwise — _chain_bands' own rule
        _chain_bands(spark, out_dir, chain).write.mode(
            "overwrite"
        ).parquet(os.path.join(run_dir, "bands"))
        _atomic_write(
            os.path.join(run_dir, _BANDS_META), json.dumps(_band_meta())
        )
        _chain_url_hashes(spark, out_dir, chain).write.mode(
            "overwrite"
        ).parquet(os.path.join(run_dir, "hashes"))

        # lineage: one row — compaction drops nothing by construction
        _local_frame(
            spark,
            [(run_id, 0, "compact", n_survivors, n_survivors, 0)],
            _LINEAGE_SCHEMA,
        ).write.mode("overwrite").parquet(lineage_path)

        # a compacted run IS a base: no parent, chain of one — vacuum's
        # ancestor closure then retains nothing extra
        new_snap = _next_snapshot(
            snap, run_id, snap.get("input_fingerprint"), None
        )
        _publish(out_dir, new_snap)

    return {
        "run_id": run_id,
        "snapshot": new_snap,
        "compacted_runs": oldest_first,
        "n_survivors": n_survivors,
        "n_chunks": n_chunks,
        "n_bins": n_bins,
        "survivors_path": survivors_path,
        "packed_path": packed_path,
        "lineage_path": lineage_path,
    }


def dedup_invariant_violations(
    hashes: DataFrame, bands: DataFrame
) -> DataFrame:
    """Pairs of committed survivors that violate the dedup
    invariants, from the THIN manifests alone (no text):

    - ``exact_dup``: two survivors share a content hash — exact dedup
      should have kept one;
    - ``neardup_candidate``: two survivors share an LSH band value —
      the exact candidate criterion the near-dup stage pruned on, so
      a healthy corpus has none (within a run, two surviving
      representatives of different components never share a band;
      across runs, increments drop new docs colliding with committed
      bands).

    Inputs: ``hashes`` (url, content_hash), ``bands``
    (id, band_idx, band_val). Returns (kind, a_id, b_id) with
    a_id < b_id, distinct. Scale shape: one groupBy on the hash
    manifest + the standard band-bucket self-join on 16 thin
    rows/doc — both linear-shuffle over metadata, never text."""
    w = Window.partitionBy("content_hash")
    exact = (
        hashes.withColumn("_a", F.min("url").over(w))
        .filter(F.col("url") != F.col("_a"))
        .select(
            F.lit("exact_dup").alias("kind"),
            F.col("_a").alias("a_id"),
            F.col("url").alias("b_id"),
        )
    )
    b2 = bands.select(
        F.col("id").alias("_bid"),
        "band_idx", "band_val",
    )
    near = (
        bands.join(b2, ["band_idx", "band_val"])
        .filter(F.col("id") < F.col("_bid"))
        .select(
            F.lit("neardup_candidate").alias("kind"),
            F.col("id").alias("a_id"),
            F.col("_bid").alias("b_id"),
        )
        .distinct()
    )
    return exact.distinct().unionByName(near)


def audit_curation_chain(spark: SparkSession, out_dir: str) -> DataFrame:
    """Integrity audit of the latest committed chain's dedup
    invariants WITHOUT re-reading corpus text — the cheap post-hoc
    check a long-lived base + increments deployment runs after each
    append/compact/vacuum cycle (the curation twin of a table
    format's verify-snapshot maintenance).

    Returns the violations frame of `dedup_invariant_violations` over
    the chain's stored hash/band manifests — EMPTY on a healthy
    chain. Non-empty output means either artifact corruption (a
    survivors/manifest file edited or restored out of band) or an
    algorithm drift: `_chain_bands` recomputes version-incompatible
    stored bands with the CURRENT minhash, so survivors committed
    under an older algorithm that collide under today's surface here
    — the signal that the corpus needs a full re-curate even though
    every individual run committed cleanly."""
    snap, head = _latest_committed(out_dir)
    chain = _run_chain(snap, head)
    return dedup_invariant_violations(
        _chain_url_hashes(spark, out_dir, chain),
        _chain_bands(spark, out_dir, chain),
    )
