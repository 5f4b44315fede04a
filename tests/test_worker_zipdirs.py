"""Python workers must not re-read unchanged zip archives per task:
``importlib.invalidate_caches()``, which PySpark's worker calls before
every task, re-parses each zip on the path on CPython < 3.12 unless
the engine package's ``_zipdirs`` fix is in place."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 re-reads a zip's directory lazily",
)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name in members:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    zi = zipimport.zipimporter(archive)
    zi.invalidate_caches()
    files = zi._files
    zi.invalidate_caches()
    assert zi._files is files
    assert zi.find_spec("a") is not None and zi.find_spec("b") is None

    _write_zip(archive, ["a", "b"])
    zi.invalidate_caches()
    assert zi._files is not files and zi.find_spec("b") is not None

    os.remove(archive)  # cannot stat: the original method empties it
    zi.invalidate_caches()
    assert zi._files == {}

    from distributed_system___ocr_spark._zipdirs import (
        reuse_unchanged_zip_directories,
    )

    patched = zipimport.zipimporter.invalidate_caches
    reuse_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_workers_keep_unchanged_zip_directories(spark):
    """In every worker, a second ``invalidate_caches()`` leaves each
    zipimporter's directory as it was."""
    # nested, so it is pickled by value: workers cannot import this module
    def probe(batches):
        # as unpickling an engine UDF does
        import distributed_system___ocr_spark  # noqa: F401

        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        importlib.invalidate_caches()
        before = [f._files for f in zips]
        importlib.invalidate_caches()
        reread = any(f._files is not b for f, b in zip(zips, before))
        for _ in batches:
            pass
        yield pd.DataFrame({"n_zips": [len(zips)], "reread": [reread]})

    rows = spark.range(0, 4, numPartitions=4).mapInPandas(
        probe, "n_zips int, reread boolean"
    ).collect()
    assert len(rows) == 4
    if any(r.n_zips == 0 for r in rows):
        pytest.skip("a worker imports nothing through zipimport "
                    "(SPARK_HOME puts no zip on its path)")
    assert not any(r.reread for r in rows), rows
