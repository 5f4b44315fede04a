"""Independent parquet writes of one public call, run concurrently.

The extraction run writes its lineage and manifest side by side, and
the curation run writes its survivors, processed-url manifest,
survivor bands, content hashes and packed chunks side by side: each
write is its own Spark job, and on a small cluster one job leaves
cores idle that the next could use.
"""

from __future__ import annotations

import time

from pyspark import InheritableThread
from pyspark.sql import DataFrame


def write_concurrently(writes) -> list[float]:
    """Write each ``(build, path, *partition_cols)`` frame to parquet
    (mode overwrite) on its own thread; returns each write's wall
    seconds, in order.

    Each frame is built on the calling thread, and its thread starts
    right after: an ``InheritableThread`` copies the caller's local
    properties when it starts (job group, job description, the FAIR
    pool ``jobs.submit_jobs`` sets), so the jobs of every write carry
    the caller's labels. Every started thread is joined before this
    returns or raises; the first error raised by a write is re-raised.
    """
    threads: list[InheritableThread] = []
    errors: list[BaseException] = []
    secs = [0.0] * len(writes)

    def write(i: int, df: DataFrame, path: str, parts: list[str]) -> None:
        t0 = time.monotonic()
        try:
            w = df.write.mode("overwrite")
            if parts:
                w = w.partitionBy(*parts)
            w.parquet(path)
        except BaseException as e:  # re-raised on the calling thread
            errors.append(e)
        secs[i] = time.monotonic() - t0

    try:
        for i, (build, path, *parts) in enumerate(writes):
            t = InheritableThread(write, args=(i, build(), path, parts))
            t.start()
            threads.append(t)
    finally:
        for t in threads:
            t.join()
    if errors:
        raise errors[0]
    return secs
