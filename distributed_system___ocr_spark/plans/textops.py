"""Training-data text operators: dedup (exact / n-gram Jaccard /
MinHash-LSH / SimHash), language-ID, quality scoring, token stats,
fingerprinting — each as a (Spark builder, DuckDB oracle) pair over
``documents``.

These go beyond the reference (its only text op is the OCR payload,
Worker.java:145-153) but are first-class for a 100 TB training-data
pipeline. Shared primitives are chosen for cross-engine determinism:
md5 hex is the hash (identical in Spark and DuckDB), tokenization is
split-on-space + drop-empties, and pairwise scores are per-row
arithmetic (no order-sensitive float accumulation).

Scale notes (the local restriction `doc_id < N` bounds only the ORACLE
comparison; the operators themselves are shuffle-based and scale):
- exact dedup: one groupBy on the text hash — partial agg + shuffle on
  a uniform key;
- Jaccard candidates: explode distinct shingles -> equi-join on the
  shingle — this is the inverted-index join; hot shingles are the skew
  risk, handled by AQE skew-join (session.py);
- MinHash-LSH: signature = 8 conditional min-aggs (one shuffle), then
  band equi-join — the classic sub-quadratic near-dup path;
- SimHash: 16 conditional sums per doc (one shuffle), bucket by
  signature.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.tokens import DUCK_TOKENS, SPARK_TOKENS
from .queries import _t, register

# trigram shingles over the token array (guard: <3 tokens -> empty)
_SPARK_TRIGRAMS = f"""
CASE WHEN size({SPARK_TOKENS}) >= 3 THEN
  transform(sequence(1, size({SPARK_TOKENS}) - 2),
            i -> concat(element_at({SPARK_TOKENS}, i), ' ',
                        element_at({SPARK_TOKENS}, i + 1), ' ',
                        element_at({SPARK_TOKENS}, i + 2)))
ELSE array() END
"""
_DUCK_TRIGRAMS = f"""
CASE WHEN len({DUCK_TOKENS}) >= 3 THEN
  list_transform(generate_series(1, len({DUCK_TOKENS}) - 2),
                 i -> {DUCK_TOKENS}[i] || ' ' || {DUCK_TOKENS}[i+1]
                      || ' ' || {DUCK_TOKENS}[i+2])
ELSE [] END
"""

_PAIR_LIMIT = 200  # oracle-side bound for pairwise comparisons


def _staged_trigram_docs(spark, sf_dir):
    """documents (doc_id < _PAIR_LIMIT) -> (doc_id, shingles) with the
    tokenize STAGED in its own projection (r07, the gopher_quality_
    filters SPARK-36718 discipline): the inline `_SPARK_TRIGRAMS`
    macro re-evaluated `split(text)` inside the transform lambda —
    three element_at probes per trigram, each re-running the split, an
    O(n_tokens^2) expression per doc. Staging `t` once and slicing
    makes it one split + three O(n) slices + one zip_with pass.
    Value-identical: same trigram strings, and docs with < 3 tokens
    produced an empty array (dropped by the downstream explode) — here
    they are filtered before the slice for the same effect."""
    toks = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PAIR_LIMIT)
        .select("doc_id", F.expr(SPARK_TOKENS).alias("t"))
    )
    tri = F.expr(
        """
        CASE WHEN size(t) >= 3 THEN
          transform(sequence(1, size(t) - 2),
                    i -> concat(element_at(t, i), ' ',
                                element_at(t, i + 1), ' ',
                                element_at(t, i + 2)))
        ELSE array() END
        """
    )
    return toks.select(
        "doc_id", F.array_distinct(tri).alias("shingles")
    )


# --------------------------------------------------------------------------
# exact dedup by content hash
# --------------------------------------------------------------------------

@register(
    "dedup_exact_text",
    """
    SELECT md5(text) AS text_md5,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_text(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup (inverted-index candidate join)
# --------------------------------------------------------------------------

@register(
    "dedup_trigram_jaccard",
    f"""
    WITH tri AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TRIGRAMS})) AS sh
      FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
      FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6)
             AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.05
    """,
)
def dedup_trigram_jaccard(spark, sf_dir):
    """Inverted-index candidate join. The per-doc shingle count ``n``
    rides ALONG the exploded rows (it is a constant per doc, computed
    before the explode), so no per-doc ``sizes`` table exists at all —
    round 1 broadcast a corpus-sized side here, which is an OOM at any
    real scale; carrying ``n`` removes both the broadcast and the two
    extra joins."""
    docs = _staged_trigram_docs(spark, sf_dir)
    tri = docs.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("sh"),
    )
    a = tri.alias("a")
    b = tri.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(
            F.count("*").alias("n_shared"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return shared.filter(jac >= 0.05).select(
        "a_id", "b_id", F.round(jac, 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding (sub-quadratic near-dup candidates)
# --------------------------------------------------------------------------

_N_HASHES = 8
_BAND_SIZE = 2  # 4 bands x 2 rows


def _spark_minhash_aggs():
    return [
        F.min(
            F.when(
                F.col("seed") == s,
                F.md5(F.concat(F.lit(f"{s}:"), F.col("sh")).cast("binary")),
            )
        ).alias(f"h{s}")
        for s in range(_N_HASHES)
    ]


_DUCK_MINHASH_AGGS = ",\n".join(
    f"min(CASE WHEN seed = {s} THEN md5('{s}:' || sh) END) AS h{s}"
    for s in range(_N_HASHES)
)
_DUCK_BANDS = ", ".join(
    f"{{'band_idx': {b}, 'band_val': h{2*b} || h{2*b+1}}}"
    for b in range(_N_HASHES // _BAND_SIZE)
)


_MINHASH_PAIRS_SQL = f"""
    WITH tri AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TRIGRAMS})) AS sh
      FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    hashed AS (
      SELECT doc_id, sh, unnest(generate_series(0, {_N_HASHES - 1})) AS seed
      FROM tri
    ),
    sigs AS (
      SELECT doc_id, {_DUCK_MINHASH_AGGS}
      FROM hashed GROUP BY doc_id
    ),
    exploded AS (
      SELECT doc_id, unnest([{_DUCK_BANDS}]) AS band FROM sigs
    ),
    bands AS (
      SELECT doc_id, band['band_idx'] AS band_idx,
             band['band_val'] AS band_val
      FROM exploded
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", _MINHASH_PAIRS_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    # inline, NOT staged via _staged_trigram_docs (r07): here the
    # trigram expression is the Generate child, evaluated once per
    # row with interpreted-mode subexpression elimination deduping
    # the inner tokenize — measured 0.44 s exec inline vs 0.61 s
    # staged (the staging's extra projections were pure overhead;
    # dedup_trigram_jaccard stages because ITS old plan duplicated
    # the expression across Filter and Project)
    tri = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PAIR_LIMIT)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.expr(_SPARK_TRIGRAMS))
            ).alias("sh"),
        )
    )
    hashed = tri.withColumn(
        "seed", F.explode(F.array(*[F.lit(s) for s in range(_N_HASHES)]))
    )
    sigs = hashed.groupBy("doc_id").agg(*_spark_minhash_aggs())
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat(
                    F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")
                ).alias("band_val"),
            )
            for b in range(_N_HASHES // _BAND_SIZE)
        ]
    )
    bands = sigs.select(
        "doc_id", F.explode(band_structs).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# SimHash signatures (16-bit, md5-derived word hashes)
# --------------------------------------------------------------------------

_SIMHASH_BITS = 16

_DUCK_SIMHASH_VOTES = ",\n".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(_SIMHASH_BITS)
)
_DUCK_SIMHASH_VAL = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(_SIMHASH_BITS)
)


@register(
    "simhash_buckets",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(list_distinct({DUCK_TOKENS})) AS w
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(w), 1, 4))::INT AS h FROM words
    ),
    votes AS (
      SELECT doc_id, {_DUCK_SIMHASH_VOTES} FROM hashed GROUP BY doc_id
    )
    SELECT CAST({_DUCK_SIMHASH_VAL} AS BIGINT) AS simhash,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM votes GROUP BY 1
    """,
)
def simhash_buckets(spark, sf_dir):
    words = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.expr(SPARK_TOKENS))
            ).alias("w"),
        )
    )
    hashed = words.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 4), 16, 10)
        .cast("int"),
    )
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    simhash = sum(
        [
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(_SIMHASH_BITS)
        ],
        F.lit(0),
    ).cast("long")
    return (
        votes.select("doc_id", simhash.alias("simhash"))
        .groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# language ID (lexicon-hit scoring; deterministic heuristic)
# --------------------------------------------------------------------------

_LEXICONS = {
    "alpha": ["the", "a", "data", "row", "value", "key"],
    "beta": ["spark", "query", "join", "filter", "group", "agg"],
    "gamma": ["batch", "stream", "window", "vector", "merge", "sort"],
}


def _duck_lex(name):
    arr = ", ".join(f"'{w}'" for w in _LEXICONS[name])
    return f"len(list_intersect(list_distinct({DUCK_TOKENS}), [{arr}]))"


@register(
    "lang_id_lexicon",
    f"""
    SELECT doc_id,
           CAST({_duck_lex('alpha')} AS BIGINT) AS score_alpha,
           CAST({_duck_lex('beta')} AS BIGINT) AS score_beta,
           CAST({_duck_lex('gamma')} AS BIGINT) AS score_gamma,
           CASE WHEN {_duck_lex('alpha')} >= {_duck_lex('beta')}
                 AND {_duck_lex('alpha')} >= {_duck_lex('gamma')} THEN 'alpha'
                WHEN {_duck_lex('beta')} >= {_duck_lex('gamma')} THEN 'beta'
                ELSE 'gamma' END AS lang_pred
    FROM documents
    """,
)
def lang_id_lexicon(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.array_distinct(F.expr(SPARK_TOKENS))

    def score(name):
        lex = F.array(*[F.lit(w) for w in _LEXICONS[name]])
        return F.size(F.array_intersect(toks, lex)).cast("long")

    sa, sb, sg = score("alpha"), score("beta"), score("gamma")
    pred = (
        F.when((sa >= sb) & (sa >= sg), "alpha")
        .when(sb >= sg, "beta")
        .otherwise("gamma")
    )
    return d.select(
        "doc_id",
        sa.alias("score_alpha"),
        sb.alias("score_beta"),
        sg.alias("score_gamma"),
        pred.alias("lang_pred"),
    )


# --------------------------------------------------------------------------
# quality scoring + token stats (per-row arithmetic, fully deterministic)
# --------------------------------------------------------------------------

@register(
    "quality_score",
    f"""
    SELECT doc_id,
           CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({DUCK_TOKENS})) AS BIGINT) AS n_distinct,
           round(CAST(len(list_distinct({DUCK_TOKENS})) AS DOUBLE)
                 / len({DUCK_TOKENS}), 6) AS distinct_ratio,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len({DUCK_TOKENS}), 6) AS avg_token_len,
           round(0.5 * (CAST(len(list_distinct({DUCK_TOKENS})) AS DOUBLE)
                        / len({DUCK_TOKENS}))
                 + 0.5 * least(CAST(1.0 AS DOUBLE),
                               CAST(len({DUCK_TOKENS}) AS DOUBLE) / 100.0), 6)
             AS quality
    FROM documents WHERE len({DUCK_TOKENS}) > 0
    """,
)
def quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.expr(SPARK_TOKENS)
    nt = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    dr = nd.cast("double") / nt
    atl = F.length(F.regexp_replace("text", " ", "")).cast("double") / nt
    quality = 0.5 * dr + 0.5 * F.least(F.lit(1.0), nt / F.lit(100.0))
    return d.filter(nt > 0).select(
        "doc_id",
        nt.alias("n_tokens"),
        nd.alias("n_distinct"),
        F.round(dr, 6).alias("distinct_ratio"),
        F.round(atl, 6).alias("avg_token_len"),
        F.round(quality, 6).alias("quality"),
    )


# --------------------------------------------------------------------------
# content fingerprinting
# --------------------------------------------------------------------------

@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(text))) AS fingerprint,
           CAST(('0x' || substring(md5(lower(trim(text))), 1, 4))::INT % 64
                AS BIGINT) AS fp_bucket
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))
    bucket = (
        F.conv(F.substring(fp, 1, 4), 16, 10).cast("long") % 64
    )
    return d.select(
        "doc_id", fp.alias("fingerprint"), bucket.alias("fp_bucket")
    )


# --------------------------------------------------------------------------
# winnowing fingerprints (rolling-hash document fingerprinting)
# --------------------------------------------------------------------------
# Schleimer/Wilkerson/Aiken winnowing (public algorithm): hash every
# k-gram, keep the MINIMUM hash in each sliding window of w consecutive
# k-grams; the selected set is a position-robust fingerprint. One
# window pass per doc = one shuffle on doc_id; fingerprint count per
# doc ~ n/w regardless of doc length distribution.

_WINNOW_W = 4  # window of 4 consecutive trigram hashes


@register(
    "winnowing_fingerprints",
    f"""
    WITH grams AS (
      SELECT doc_id, g['pos'] AS pos,
             ('0x' || substring(md5(g['sh']), 1, 8))::BIGINT AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, len({_DUCK_TRIGRAMS})),
                 i -> {{'pos': i, 'sh': ({_DUCK_TRIGRAMS})[i]}})) AS g
        FROM documents
      )
    ),
    winmin AS (
      SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {_WINNOW_W - 1} PRECEDING
                          AND CURRENT ROW) AS fp
      FROM grams
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM winmin WHERE pos >= {_WINNOW_W}
    )
    SELECT doc_id,
           count(*) AS n_fingerprints,
           CAST(min(fp) AS BIGINT) AS min_fp,
           CAST(max(fp) AS BIGINT) AS max_fp
    FROM fps GROUP BY doc_id
    """,
)
def winnowing_fingerprints(spark, sf_dir):
    """Per-doc Arrow-batched kernel (functions.fingerprint.winnow_stage)
    — winnowing is a pure function of one document, so the plan is a
    narrow map over the scan: no k-gram explode (~n_tokens× rows), no
    per-doc window sort, zero shuffles. The SQL oracle keeps the
    explode+window formulation and pins value-identity."""
    from ..functions.fingerprint import winnow_stage

    return winnow_stage(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


# --------------------------------------------------------------------------
# BPE-ish regex token counting (task list: "token counting (whitespace
# + a BPE-ish regex)") — word/number/punctuation segmentation, the
# pre-tokenization split used by byte-pair encoders
# --------------------------------------------------------------------------

_TOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@register(
    "token_stats_regex",
    f"""
    SELECT doc_id,
           CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{_TOKEN_REGEX}'))
                AS BIGINT) AS n_bpe_tokens,
           round(CAST(length(text) AS DOUBLE)
                 / greatest(len(regexp_extract_all(lower(text),
                                                   '{_TOKEN_REGEX}')), 1), 6)
             AS chars_per_token
    FROM documents
    """,
)
def token_stats_regex(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ws = F.size(F.expr(SPARK_TOKENS)).cast("long")
    bpe = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(_TOKEN_REGEX), 0)
    ).cast("long")
    cpt = F.round(
        F.length("text").cast("double") / F.greatest(bpe, F.lit(1)), 6
    )
    return d.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        cpt.alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# duplicate CLUSTERS: connected components over MinHash candidate pairs
# --------------------------------------------------------------------------

@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
    edges AS (
      SELECT a_id AS s, b_id AS d FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ),
    reach (s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    labels AS (
      SELECT s AS doc_id, least(min(d), s) AS component
      FROM reach GROUP BY s
    )
    SELECT d.doc_id,
           CAST(coalesce(l.component, d.doc_id) AS BIGINT) AS component
    FROM (SELECT doc_id FROM documents WHERE doc_id < {_PAIR_LIMIT}) d
    LEFT JOIN labels l ON l.doc_id = d.doc_id
    """,
)
def dedup_clusters(spark, sf_dir):
    """MinHash candidate pairs -> duplicate clusters (component = min
    doc_id). Singleton docs are their own cluster."""
    from ..operators.components import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)
    vertices = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PAIR_LIMIT)
        .select("doc_id")
    )
    comp = connected_components(
        vertices, pairs, vertex_col="doc_id", src="a_id", dst="b_id"
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


# --------------------------------------------------------------------------
# SimHash near-dup pairs at Hamming distance <= 1: each doc joins on
# its own signature plus all 16 one-bit flips (the classic multi-probe
# trick — Hamming-k neighbors found by equi-join, no pairwise scan)
# --------------------------------------------------------------------------

_DUCK_SIMHASH_PER_DOC = f"""
    WITH words AS (
      SELECT doc_id, unnest(list_distinct({DUCK_TOKENS})) AS w
      FROM documents WHERE doc_id < {_PAIR_LIMIT}
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(w), 1, 4))::INT AS h FROM words
    ),
    votes AS (
      SELECT doc_id, {_DUCK_SIMHASH_VOTES} FROM hashed GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id, CAST({_DUCK_SIMHASH_VAL} AS BIGINT) AS simhash
      FROM votes
    )
"""


@register(
    "dedup_simhash_hamming1",
    _DUCK_SIMHASH_PER_DOC
    + f"""
    , probes AS (
      SELECT doc_id, simhash,
             unnest([simhash] ||
                    [xor(simhash, CAST(1 << b AS BIGINT))
                     for b in range(0, {_SIMHASH_BITS})]) AS probe
      FROM sigs
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM probes a JOIN sigs b
      ON a.probe = b.simhash AND a.doc_id < b.doc_id
    """,
)
def dedup_simhash_hamming1(spark, sf_dir):
    words = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PAIR_LIMIT)
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(SPARK_TOKENS))).alias("w"),
        )
    )
    hashed = words.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 4), 16, 10)
        .cast("int"),
    )
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    simhash = sum(
        [
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(_SIMHASH_BITS)
        ],
        F.lit(0),
    ).cast("long")
    sigs = votes.select("doc_id", simhash.alias("simhash"))
    probes = sigs.select(
        "doc_id",
        F.explode(
            F.concat(
                F.array(F.col("simhash")),
                F.array(
                    *[
                        F.col("simhash").bitwiseXOR(F.lit(1 << b)).cast("long")
                        for b in range(_SIMHASH_BITS)
                    ]
                ),
            )
        ).alias("probe"),
    )
    a = probes.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.probe") == F.col("b.simhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
