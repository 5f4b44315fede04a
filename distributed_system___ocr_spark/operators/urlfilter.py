"""URL / domain blocklist filtering (C4- / RefinedWeb-style).

Web-scale curation pipelines drop documents by where they came FROM
before reading a byte of their text: a curated blocklist of hostnames
(adult/spam/SEO-farm domains — RefinedWeb ships ~4.6M of them) plus
any of their subdomains. The reference system has no notion of this
(it OCRs every submitted url, Manager.java:326-348); it belongs to the
LLM-data-pipeline tier the engine adds on top.

Matching rule: a host is blocked iff it EQUALS a blocked domain or
ends with "." + a blocked domain — label-boundary suffix matching, so
blocking "example.com" drops "a.b.example.com" but never
"notexample.com", and blocking "src1.example.com" never drops
"src10.example.com".

Two scale paths, chosen by how the blocklist arrives:

- ``list[str]`` (bounded, in-driver): the domains become a LITERAL
  array and matching is ``arrays_overlap`` against the host's label
  suffixes — a pure scan-stage expression, zero shuffles, zero joins,
  fully codegen'd. Right for config-sized lists (<= ~10k).
- ``DataFrame`` (a real curated blocklist — millions of rows): each
  doc explodes into its <= ~8 host-label suffixes and LEFT ANTI joins
  the blocklist on equality. An equi-join, never a LIKE scan; AQE
  broadcasts the blocklist side when it measures small, and at 4.6M
  rows it shuffle-joins on the suffix key — both correct at 100 TB.
"""

from __future__ import annotations

import string

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# part of the curation resume fingerprint: a changed host-parse or
# match rule changes which docs survive
URL_FILTER_VERSION = 1


def host_of(url: Column) -> Column:
    """Lowercased hostname of a url: scheme and userinfo stripped,
    port stripped, path/query/fragment ignored. Pure string ops —
    stays inside whole-stage codegen at the scan."""
    authority = F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1
    )
    no_user = F.regexp_replace(authority, r"^[^@]*@", "")
    return lower_ascii_first(F.regexp_replace(no_user, r":\d+$", ""))


def lower_ascii_first(s: Column) -> Column:
    """``lower(s)``, with ASCII values lowercased by ``translate``: the
    same output, but a session whose values are all ASCII never pays
    the JVM's one-time ICU case-mapping set-up, which the first
    ``lower()`` of a session runs (about 2 s on a 4-core host).
    Non-ASCII values (one byte per char fails) keep ``lower()``."""
    ascii_only = F.octet_length(s) == F.length(s)
    return F.when(
        ascii_only,
        F.translate(s, string.ascii_uppercase, string.ascii_lowercase),
    ).otherwise(F.lower(s))


def normalized_domain(domain: Column) -> Column:
    """A blocklist domain in the form the filter matches it:
    lowercase, any leading "." stripped."""
    return lower_ascii_first(F.regexp_replace(domain, r"^\.", ""))


def host_suffixes(host: Column) -> Column:
    """All label-boundary suffixes of a host, longest first:
    "a.b.example.com" -> ["a.b.example.com", "b.example.com",
    "example.com", "com"]. Bounded by the label count (~8 for real
    hosts), so the explode in the join path is a small constant
    fan-out, not a blow-up. Built-in higher-order functions only —
    stays JVM-side."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.array_join(F.slice(labels, i + F.lit(1), n - i), "."),
    )


def filter_blocked_domains(
    docs: DataFrame,
    blocked,
    url_col: str = "url",
) -> DataFrame:
    """Drop rows whose url host is a blocked domain or a subdomain of
    one. ``blocked`` is a ``list[str]`` (literal scan-stage path) or a
    single-column DataFrame of domains (anti-join scale path); domains
    are normalized to lowercase with any leading "." stripped."""
    host = host_of(F.col(url_col))
    if isinstance(blocked, DataFrame):
        dom_col = blocked.columns[0]
        dom = blocked.select(
            normalized_domain(F.col(dom_col)).alias("_blocked_domain")
        ).distinct()
        cand = docs.withColumn("_ufcand", F.explode(host_suffixes(host)))
        hit = (
            cand.join(
                dom, cand["_ufcand"] == dom["_blocked_domain"], "inner"
            )
            .select(F.col(url_col).alias("_ufhit"))
            .distinct()
        )
        return docs.join(
            hit, docs[url_col] == hit["_ufhit"], "left_anti"
        )
    doms = sorted({d.lower().lstrip(".") for d in blocked if d})
    if not doms:
        return docs
    lit = F.array(*[F.lit(d) for d in doms])
    # coalesce: a NULL url yields NULL suffixes — unknown is not
    # known-bad, keep it (same behavior as the anti-join path, where
    # explode(NULL) produces no candidate and thus no hit)
    return docs.filter(
        F.coalesce(~F.arrays_overlap(host_suffixes(host), lit), F.lit(True))
    )
