from __future__ import annotations

import pytest

from distributed_system___ocr_spark.corpus import pages_pandas
from distributed_system___ocr_spark.session import get_spark

TESTDATA = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dsocr-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf():
    """500-row deterministic pages corpus as pandas (seed=42)."""
    return pages_pandas(500, seed=42)


@pytest.fixture(scope="session")
def pages(spark, pages_pdf):
    return spark.createDataFrame(pages_pdf).repartition(8)


def jobs_of_call(sc, group, fn):
    """Run ``fn`` under job group ``group``; returns (result, job ids of
    the group, job ids started during the call WITHOUT any group)."""
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    new_ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped
    return out, set(tracker.getJobIdsForGroup(group)), new_ungrouped
