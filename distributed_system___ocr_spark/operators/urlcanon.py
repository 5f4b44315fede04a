"""URL canonicalization as a composable Spark stage.

The step before any url-keyed identity decision (resume anti-join,
exact/near dedup tie-breaks, per-host quotas): byte-different
spellings of one resource — case in scheme/host, default ports,
``/./`` and ``/../`` segments, unsorted query parameters, fragments —
must collide BEFORE those decisions or every downstream stage treats
them as distinct documents (reference analogue: the manager keys all
accounting on the raw url string, Manager.java:352-357 — spelling
twins double-count there; here they collapse).

One shared staged implementation serves both surfaces (the round-6
salted-bucket lesson: two hand-rolled copies of one expression WILL
drift): the oracle-gated ``canonicalize_urls`` registry query refactors
onto these helpers, so the DuckDB value-hash gate pins this exact
logic, and ``run_curation(canonicalize_urls=True)`` composes the same
logic as the chain's first stage.

Scale shape: scan-stage string expressions only — zero shuffles, zero
joins, fully codegen'd — except the keep-first collapse of spelling
twins, which is one hash-partitioned window over (canonical url), the
same shuffle shape as exact dedup. Dot-segment resolution is bounded
(two passes — one ``/./`` and one ``/../`` level each; crawl frontiers
iterate to fixpoint outside the engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# bumps force a re-curate through the fingerprint: a changed
# canonicalization changes url identity, hence survivors
# v2: urls without a parseable scheme pass through UNCHANGED — v1
# canonicalized every such url (schemeless, mailto:, bare paths) to
# the literal "://" and the keep-first collapse silently destroyed all
# but one of them (round-6 verdict item 1, reproduced data loss)
URL_CANON_VERSION = 2

# a url participates in canonicalization only when it starts with the
# exact scheme shape with_canonical_parts parses (letters + "://"):
# with_canonical_parts yields "" for every component otherwise, which
# would collide all unparseable urls on the literal "://"
_SCHEME_RE = r"^[A-Za-z]+://"


def with_canonical_parts(
    df: DataFrame, url_col: str, names=("scheme", "hostport", "path", "query")
) -> DataFrame:
    """``df`` plus the raw url's (scheme, host:port, path, query) as
    columns ``names`` — fragment stripped, scheme/host lowercased.

    The fragment strip is its own projection: the four extracts read
    it as a column, and the optimizer does not inline a non-trivial
    expression that more than one consumer reads, so it runs once per
    row instead of once per part."""
    staged = df.select(
        "*", F.regexp_replace(F.col(url_col), "#.*$", "").alias("_uc_nofrag")
    )
    nofrag = F.col("_uc_nofrag")
    scheme, hostport, path, query = names
    return staged.select(
        *df.columns,
        F.lower(F.regexp_extract(nofrag, "^([A-Za-z]+)://", 1)).alias(scheme),
        F.lower(
            F.regexp_extract(nofrag, "^[A-Za-z]+://([^/?]+)", 1)
        ).alias(hostport),
        F.regexp_extract(nofrag, "^[A-Za-z]+://[^/?]*([^?]*)", 1).alias(path),
        F.regexp_extract(nofrag, r"\?(.*)$", 1).alias(query),
    )


def canonical_host(scheme: Column, hostport: Column) -> Column:
    return F.when(
        ((scheme == "https") & hostport.endswith(":443"))
        | ((scheme == "http") & hostport.endswith(":80")),
        F.regexp_replace(hostport, ":[0-9]+$", ""),
    ).otherwise(hostport)


def canonical_path(path: Column) -> Column:
    cpath = path
    for pat in ("/\\./", "/\\./", "/[^/]+/\\.\\./", "/[^/]+/\\.\\./"):
        cpath = F.regexp_replace(cpath, pat, "/")
    return cpath


def canonical_query(query: Column) -> Column:
    return F.when(query == "", F.lit("")).otherwise(
        F.concat(
            F.lit("?"),
            F.array_join(F.array_sort(F.split(query, "&")), "&"),
        )
    )


def canonicalize_docs(docs: DataFrame, url_col: str = "url") -> DataFrame:
    """Rewrite ``url_col`` to its canonical form and collapse spelling
    twins keep-first (min RAW url wins — deterministic, the same
    min-key representative rule as exact/near dedup). Two docs that
    differ only in url spelling become ONE doc here, so the resume
    manifest, dedup windows, domain cap and packing keys downstream
    all see one identity per resource. Output columns == input
    columns (url rewritten); row count can only shrink."""
    cols = docs.columns
    staged = with_canonical_parts(
        docs, url_col, names=("_uc_s", "_uc_hp", "_uc_p", "_uc_q")
    ).select(
        *cols,
        # urls without a parseable scheme keep their RAW identity —
        # identity, not collapse: with_canonical_parts yields "" for every
        # component of such urls, so without this guard schemeless /
        # mailto: / bare-path urls ALL canonicalized to the literal
        # "://" and keep-first silently destroyed every one but one
        # (round-6 verdict item 1; URL_CANON_VERSION 2)
        F.when(
            F.col(url_col).rlike(_SCHEME_RE),
            F.concat(
                F.col("_uc_s"), F.lit("://"),
                canonical_host(F.col("_uc_s"), F.col("_uc_hp")),
                canonical_path(F.col("_uc_p")),
                canonical_query(F.col("_uc_q")),
            ),
        ).otherwise(F.col(url_col)).alias("_uc_url"),
    )
    w = Window.partitionBy("_uc_url").orderBy(url_col)
    return (
        staged.withColumn("_uc_rn", F.row_number().over(w))
        .filter(F.col("_uc_rn") == 1)
        .drop(url_col, "_uc_rn")
        .withColumnRenamed("_uc_url", url_col)
        .select(*cols)
    )
