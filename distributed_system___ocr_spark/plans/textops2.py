"""Training-data curation operators, round 2: deterministic stratified
sampling (mixture weighting), PII redaction / text normalization, and
source skew analytics — each a (Spark builder, DuckDB oracle) pair
over ``documents``.

Cross-engine determinism: the sampling "random" is a hash bucket
(md5 of the doc_id string — identical hex in both engines), never an
RNG; redaction regexes stay in the common Java-regex/RE2 subset; all
shares are decimal-summed before the double division.

Scale notes: hash-bucket sampling is a stateless per-row filter (the
ONLY sane way to sample 10^12 rows — no count pass, no RNG state,
reproducible per doc across reruns and resumes); redaction is per-row
regexp_replace inside codegen; skew stats are one partial-agg shuffle
over (source) + a single-row broadcast-back for the share.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.bucket import salted_bucket
from ..functions.tokens import DUCK_TOKENS, dup_bigram_fraction, tokens
from .queries import _t, register

# hash bucket in [0, mod): same md5-hex arithmetic both engines —
# single-sourced so the two implementations cannot drift apart
def _duck_bucket(mod: int, salt: str = "") -> str:
    """Optional ``salt`` prefixes the hashed key. Stages/queries whose
    rate filters can STACK in one dataflow must salt uniquely: two
    filters on the same bucket compose as min(r1, r2), not r1*r2 (a
    doc surviving a 0.5-rate filter has bucket < 500k by
    construction, so an unsalted downstream 0.7-rate filter keeps all
    of it) — the round-6 cluster-balance review finding."""
    pre = f"'{salt}' || " if salt else ""
    return (
        f"(('0x' || substring(md5({pre}CAST(doc_id AS VARCHAR)), 1, 8))"
        f"::BIGINT % {int(mod)})"
    )


_DUCK_BUCKET100 = _duck_bucket(100)


# --------------------------------------------------------------------------
# deterministic stratified sampling (training-mixture weighting)
# --------------------------------------------------------------------------

_RATES = {"en": 85, "fr": 50, "es": 40}  # percent kept per stratum
_DEFAULT_RATE = 20

_DUCK_RATE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _RATES.items())
    + f" ELSE {_DEFAULT_RATE} END"
)


@register(
    "sample_stratified_docs",
    f"""
    SELECT doc_id, lang,
           CAST({_DUCK_BUCKET100} AS BIGINT) AS bucket
    FROM documents
    WHERE {_DUCK_BUCKET100} < {_DUCK_RATE}
    """,
)
def sample_stratified_docs(spark, sf_dir):
    """Per-language mixture downsampling by hash bucket: keep doc when
    bucket(doc_id) < rate(lang). Stateless per-row filter — no count
    pass, no RNG, reproducible per doc across reruns/resumes, and the
    filter sits in the scan stage at any scale."""
    rate = F.lit(_DEFAULT_RATE)
    for k, v in reversed(_RATES.items()):
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    b = salted_bucket("doc_id", 100)
    return (
        _t(spark, sf_dir, "documents")
        .filter(b < rate)
        .select("doc_id", "lang", b.alias("bucket"))
    )


# --------------------------------------------------------------------------
# PII redaction / text normalization
# --------------------------------------------------------------------------
# The fixture corpus has no organic PII, so the query first injects a
# deterministic email/phone/id per doc (same expression both engines) —
# otherwise this would be a gate that never fires (the round-1
# embedding_near_dup lesson). The redaction expressions themselves are
# the reusable operator surface.

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_DIGITS_RE = "[0-9]{4,}"


@register(
    "redact_pii_text",
    f"""
    WITH injected AS (
      SELECT doc_id,
             substring(text, 1, 80) || ' contact user' ||
             CAST(doc_id AS VARCHAR) || '@mail.example.com ref ' ||
             lpad(CAST(doc_id % 100000 AS VARCHAR), 6, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_DIGITS_RE}', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_DIGITS_RE}')) AS BIGINT)
             AS n_digit_runs
    FROM injected
    """,
)
def redact_pii_text(spark, sf_dir):
    raw = F.concat(
        F.substring("text", 1, 80),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com ref "),
        F.lpad((F.col("doc_id") % 100000).cast("string"), 6, "0"),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"), _DIGITS_RE, "<NUM>"
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), 0))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(_DIGITS_RE), 0))
        .cast("long").alias("n_digit_runs"),
    )


# --------------------------------------------------------------------------
# Gopher-style quality filters (public heuristics: Rae et al. 2021 —
# duplicate-n-gram fraction, stopword fraction, symbol ratio)
# --------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "that")
_DUCK_SW = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"

_DUCK_BIGRAMS = f"""
CASE WHEN len({DUCK_TOKENS}) >= 2 THEN
  list_transform(generate_series(1, len({DUCK_TOKENS}) - 1),
                 i -> {DUCK_TOKENS}[i] || ' ' || {DUCK_TOKENS}[i+1])
ELSE [] END
"""


@register(
    "gopher_quality_filters",
    f"""
    WITH t AS (
      SELECT doc_id, text, {DUCK_TOKENS} AS toks, {_DUCK_BIGRAMS} AS bg
      FROM documents WHERE len({DUCK_TOKENS}) >= 2
    )
    SELECT doc_id,
           round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
             AS dup_bigram_frac,
           round(CAST(len(list_filter(toks,
                            x -> list_contains({_DUCK_SW}, x))) AS DOUBLE)
                 / len(toks), 6) AS stopword_frac,
           round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                      AS DOUBLE) / length(text), 6) AS symbol_ratio,
           (1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) <= 0.025
            AND CAST(len(list_filter(toks,
                            x -> list_contains({_DUCK_SW}, x))) AS DOUBLE)
                / len(toks) >= 0.02) AS passes_gopher
    FROM t
    """,
)
def gopher_quality_filters(spark, sf_dir):
    """Per-row work only: at 10^12 docs this is a scan-stage filter
    with zero shuffles. Rule directions follow Gopher (Rae et
    al. 2021): reject REPETITIVE docs (high duplicate-bigram fraction)
    and reject stopword-POOR docs (stopword presence signals natural
    language — the rule keeps docs with ENOUGH stopwords, not few).
    Cut values are tuned to the synthetic corpus's metric
    distributions (dup-bigram median ~0.026) so BOTH branches of
    passes_gopher occur at every test sf — a filter that never rejects
    is not evidence (the embedding_near_dup lesson).

    Plan shape: the interpreted higher-order expressions (split/filter)
    are STAGED — toks, then the three scalar metrics, each in its own
    projection. CollapseProject will not inline a non-cheap alias
    referenced more than once (SPARK-36718), so every array is
    evaluated once per row inside one codegen stage;
    the round-2 inline form re-evaluated the split+filter ~6x per row
    and was the slowest query on the board (5.4 s -> sub-second)."""
    d = _t(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    # stage 1: tokens, once (the filter below re-derives size(toks)
    # at the scan via predicate pushdown — one cheap extra split in the
    # filter, instead of shipping all rows to a post-project filter)
    s1 = d.select("doc_id", "text", tokens().alias("toks"))
    s1 = s1.filter(F.size("toks") >= 2)
    # stage 2: the three metrics as scalars; toks is a plain attribute
    # here so multiple references cost nothing. The duplicate-bigram
    # fraction is the quality gate's vectorized batch kernel.
    swf = (
        F.size(F.filter("toks", lambda x: F.array_contains(sw, x)))
        .cast("double") / F.size("toks")
    )
    sym = (
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).cast("double")
        / F.length("text")
    )
    s2 = s1.select(
        "doc_id", dup_bigram_fraction(F.col("text")).alias("dup"),
        swf.alias("swf"), sym.alias("sym"),
    )
    # final: rounding + the pass flag over cheap scalar attributes
    return s2.select(
        "doc_id",
        F.round("dup", 6).alias("dup_bigram_frac"),
        F.round("swf", 6).alias("stopword_frac"),
        F.round("sym", 6).alias("symbol_ratio"),
        ((F.col("dup") <= 0.025) & (F.col("swf") >= 0.02))
        .alias("passes_gopher"),
    )


# --------------------------------------------------------------------------
# scale-path MinHash-LSH near-dup candidates (rows-only registry entry)
# --------------------------------------------------------------------------

_CLONE_OFFSET = 10_000_000


@register("dedup_minhash_scale", None)  # sql=None: the vectorized
# pandas string hash (functions/minhash.py) has no DuckDB twin; the
# operator is pinned by tests/test_neardup.py (naive-reference
# equality, determinism, exact-dup recall) per the repo convention for
# non-SQL-expressible ops.
def dedup_minhash_scale(spark, sf_dir):
    """The 10^12-doc execution shape of dedup_minhash_lsh: Arrow-kernel
    signatures (128 hashes, one pass, zero row inflation) + 16-band
    equi-join. Every 20th doc is re-injected as a clone so the pair
    gate provably fires at every sf (a 0-row near-dup gate is not
    evidence)."""
    from ..operators.neardup import minhash_lsh_pairs_scale

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + _CLONE_OFFSET).alias("doc_id"), "text"
    )
    return minhash_lsh_pairs_scale(d.unionByName(clones))


# --------------------------------------------------------------------------
# two-phase salted aggregation (the skew-breaking agg pattern)
# --------------------------------------------------------------------------

_N_SALTS = 8


@register(
    "skew_salted_agg",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def skew_salted_agg(spark, sf_dir):
    """Hot-key aggregation in two phases: phase 1 groups by
    (key, salt) so one hot language spreads over _N_SALTS reducers,
    phase 2 merges the per-salt partials. Identical result to the
    direct groupBy (the oracle), which is the point — the rewrite is
    pure physical-shuffle shaping for when AQE's skew handling isn't
    enough (e.g. a single key holding >50% of 10^12 rows). Salt comes
    from a hash of the row's unique id: deterministic, no RNG."""
    d = _t(spark, sf_dir, "documents")
    salted = d.withColumn(
        "_salt", (F.abs(F.xxhash64("doc_id")) % _N_SALTS)
    )
    partial = salted.groupBy("lang", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum("n_chars").alias("psum"),
        F.max("n_chars").alias("pmax"),
    )
    return partial.groupBy("lang").agg(
        F.sum("pn").alias("n_docs"),
        F.sum("psum").cast("long").alias("total_chars"),
        F.max("pmax").cast("long").alias("max_chars"),
    )


# --------------------------------------------------------------------------
# source skew analytics (heavy-hitter detection over the corpus)
# --------------------------------------------------------------------------

@register(
    "source_skew_stats",
    """
    WITH per_source AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, total_chars,
           round(CAST(n_docs AS DOUBLE)
                 / (sum(n_docs) OVER ()), 6) AS doc_share,
           (CAST(n_docs AS DOUBLE) * count(*) OVER ()
              > 1.5 * sum(n_docs) OVER ()) AS is_heavy
    FROM per_source
    """,
)
def source_skew_stats(spark, sf_dir):
    """Per-source share + heavy-hitter flag (share > 1.5x the uniform
    share): the monitoring input for salting decisions. One partial-agg
    shuffle on source; the OVER () totals are a single-row exchange
    over the already-aggregated frame, not the fact table."""
    from pyspark.sql import Window

    per_source = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    w = Window.partitionBy()
    total = F.sum("n_docs").over(w)
    n_sources = F.count("*").over(w)
    return per_source.select(
        "source", "n_docs", "total_chars",
        F.round(F.col("n_docs").cast("double") / total, 6).alias("doc_share"),
        (F.col("n_docs").cast("double") * n_sources > 1.5 * total)
        .alias("is_heavy"),
    )
