"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Everything here runs in set-up, outside every timed region. A cache
entry is a directory that holds a ``_DONE`` marker once complete; a
directory without it is a crash leftover and is rebuilt.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq


def cached(root: str, name: str, build) -> str:
    """Directory ``root/name``, filled by ``build(path)`` unless a
    complete copy already exists."""
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    open(os.path.join(path, "_DONE"), "w").close()
    return path


_PAGES = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    """``parts`` parquet files of equal row counts: the scan gets one
    split per file, like a crawl segment directory."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def write_pages(path: str, n_old: int, n_new: int, seed: int) -> None:
    """``old``: rows [0, n_old) of the ``corpus`` generator behind
    ``pages_df`` (Zipf hosts, 5% duplicate urls, 5% PDF, 2% corrupt
    payloads); ``new``: its next ``n_new`` rows, the fresh crawl slice.
    Some ``new`` rows re-crawl ``old`` urls, as a real re-crawl does.

    Generated on the driver without Spark, so a cache miss leaves the
    JVM as cold as a cache hit and set-up time does not depend on it."""
    from distributed_system___ocr_spark.corpus import pages_pandas

    for part, n, start, files in (("old", n_old, 0, 4),
                                  ("new", n_new, n_old, 1)):
        pdf = pages_pandas(n, seed=seed, start=start)
        _write_parts(pa.Table.from_pandas(pdf, _PAGES, preserve_index=False),
                     os.path.join(path, part), files)


def write_texts(pages_path: str, path: str) -> None:
    """Pre-extracted ``(url, text, lang)`` twins of ``old`` and ``new``
    pages, the curation input, so the chain never runs the extractor.
    ``extract_payload`` is the extraction stage's per-row function."""
    from distributed_system___ocr_spark.extractor.core import extract_payload

    for part, files in (("old", 4), ("new", 1)):
        t = pq.read_table(os.path.join(pages_path, part),
                          columns=["url", "html", "lang"])
        text = [extract_payload(h).text for h in t.column("html").to_pylist()]
        _write_parts(pa.table({
            "url": t.column("url"),
            "text": pa.array(text, pa.string()),
            "lang": t.column("lang"),
        }), os.path.join(path, part), files)


def write_documents(texts_path: str, path: str) -> None:
    """The registry's ``documents`` table (doc_id, text, lang, source,
    n_chars) over the same pre-extracted corpus the chain curates, so a
    registry twin and its chain stage run one kernel on one corpus.
    Blank texts (corrupt payloads) are left out, as in the testdata the
    registry was written against; ``source`` is the url host."""
    t = pq.read_table(os.path.join(texts_path, "old"))
    rows = [(u, x, lang) for u, x, lang in zip(*(
        t.column(c).to_pylist() for c in ("url", "text", "lang"))) if x.strip()]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(rows)), pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[0].split("/")[2] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }), os.path.join(path, "documents.parquet"))
