"""CCNet-style unigram-LM quality kernels.

Each doc is scored by its average per-token log-probability under the
corpus's own unigram model — the cheap stand-in for CCNet's KenLM
perplexity filter — and z-scored against its language's mean and
standard deviation. The curation chain (keyed on ``url``) and the
registry queries (keyed on ``doc_id``) run these kernels unchanged.

Determinism: sum(double) is order-dependent, so each term's log-prob
is rounded to 9 dp and summed as DECIMAL(20,9) (exact, associative);
only the per-doc average is re-rounded to 6 dp, and the per-language
moments are decimal sums of the rounded score and its square. Spark's
shuffled partial aggregation and DuckDB's sequential scan therefore
agree bit for bit.

Scale shape: ONE token explode staged as (key, term, cnt); the model
(term -> ctf) is a vocabulary-sized aggregate, the corpus total a
no-explode scan-sum, and the per-language moments a window over the
lang partition of the scored rows (never a per-lang single-task ntile
sort, and never a second run of the score pipeline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokens import tokens


def doc_term_counts(d: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, term, cnt) from ONE whitespace-token explode of ``text``;
    the shared staging frame for every unigram-model query."""
    return (
        d.select(key, F.explode(tokens()).alias("term"))
        .groupBy(key, "term")
        .agg(F.count("*").alias("cnt"))
    )


def weighted_decimal_sum(weight_col: str, logp_col: str) -> Column:
    """sum(cnt * logp) in exact decimal arithmetic == summing logp
    once per token instance, order-independent under any shuffle. cnt
    casts to DECIMAL(10,0) so the product stays inside precision 38
    (20+10+1 = 31, scale 9)."""
    return F.sum(
        F.col(weight_col).cast("decimal(10,0)") * F.col(logp_col)
    )


def doc_logprob_scores(d: DataFrame, key: str) -> DataFrame:
    """(key, n_tokens, avg_logprob) for every doc with a token. The
    corpus total is a NO-EXPLODE scan-sum of per-row token counts (sum
    of sizes == count of exploded instances): deriving it from tf would
    make tf a two-consumer subtree, and Catalyst copies, not shares,
    subplans. The term frequency stays a groupBy + join: a term-window
    variant was measured SLOWER (it trades a vocab-sized partial-agg
    shuffle for a full dtf sort)."""
    dtf = doc_term_counts(d, key)
    tf = dtf.groupBy("term").agg(F.sum("cnt").alias("ctf"))
    tot = d.agg(F.sum(F.size(tokens())).alias("n_total"))
    lp = tf.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(F.log(F.col("ctf") / F.col("n_total")), 9)
        .cast("decimal(20,9)").alias("logp"),
    )
    n_tok = F.sum("cnt")
    return (
        dtf.join(lp, "term")
        .groupBy(key)
        .agg(
            n_tok.cast("long").alias("n_tokens"),
            F.round(
                weighted_decimal_sum("cnt", "logp").cast("double") / n_tok, 6
            ).alias("avg_logprob"),
        )
    )


def lm_quality_zscored(docs: DataFrame, key: str) -> DataFrame:
    """(key, lang, avg_logprob, _mu, _sigma) for every doc with at
    least one token; docs with none cannot be scored and drop.

    The key is filtered IS NOT NULL explicitly (a no-op on a key
    column): the score side's inner join on the key INFERS that filter
    into its copy of the token-explode subtree, and carrying it on the
    model side too keeps both (key, term) exchanges canonically equal,
    so AQE runs the explode stage once and reuses it."""
    d = docs.filter(F.col(key).isNotNull())
    score = doc_logprob_scores(d, key)
    s = F.col("avg_logprob")
    wl = Window.partitionBy("lang")
    n = F.count("*").over(wl)
    sum_s = (
        F.sum(F.round(s, 6).cast("decimal(20,6)")).over(wl).cast("double")
    )
    sum_s2 = (
        F.sum(F.round(s * s, 9).cast("decimal(25,9)")).over(wl)
        .cast("double")
    )
    sigma = F.sqrt(
        F.greatest((sum_s2 - sum_s * sum_s / n) / n, F.lit(0.0))
    )
    return (
        d.select(key, "lang")
        .join(score.select(key, "avg_logprob"), key)
        .select(
            key, "lang", "avg_logprob",
            (sum_s / n).alias("_mu"), sigma.alias("_sigma"),
        )
    )


def lm_quality_tail_drop(
    docs: DataFrame, key: str, drop_z: float
) -> DataFrame:
    """(key, lang, avg_logprob) of every doc scoring at or above
    mu_lang - drop_z * sigma_lang: the head and middle of each
    language's quality distribution survive, the tail drops."""
    z = lm_quality_zscored(docs, key)
    return z.filter(
        F.col("avg_logprob") >= F.col("_mu") - drop_z * F.col("_sigma")
    ).select(key, "lang", "avg_logprob")
