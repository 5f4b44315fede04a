"""SparkSession factory with scale-appropriate defaults.

Replaces the reference's hand-rolled cluster management (EC2 fleet
sizing Manager.java:372-404, rebalance daemon Manager.java:130-141)
with Spark's scheduler + AQE. On a real cluster the same confs apply;
dynamic allocation replaces the 30s rebalance daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "dsocr-extraction",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 1024,
    max_partition_bytes: str = "16m",
    extra: dict | None = None,
) -> SparkSession:
    """Session tuned for the extraction workload.

    - AQE on (runtime coalesce + skew-join splitting), the Spark-native
      replacement for the reference's static ceil(tasks/n) sizing
      (Manager.java:376-377).
    - UTC session timezone (duckdb-oracle comparability).
    - Arrow batches of 1024 rows (~3 MB of payload) amortize IPC
      framing while keeping batches memory-safe (the reference's
      analogue: <=5 messages per poll, Manager.java:146).
    - files.maxPartitionBytes=16m locally: payload extraction costs
      ~ms/KB of input, so a 128 MB split is ~2 min of Python work —
      fine on a 1000-executor cluster (amortizes task overhead),
      far too coarse for a 32-thread local box. Scale this with the
      cluster, not the data.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
    cores = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(cores, 8))
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # FAIR task scheduling so concurrent jobs in one session
        # (jobs.submit_jobs multi-tenant pools) share executors instead
        # of FIFO head-of-line blocking; no effect on single-job runs
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", max_partition_bytes),
        )
        .config("spark.sql.files.openCostInBytes", "512k")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # bound the in-memory status stores: they populate even with
        # the UI server off, and the DEFAULT spark.sql.ui.
        # retainedExecutions=1000 retains each query's full plan
        # strings — for the composed curation chain those are MBs per
        # execution, measured ~0.9 GB of unreclaimable driver heap per
        # run_curation invocation (round-6 OOM in long sessions).
        # Capped, the same loop sawtooths stably around ~2 GB.
        .config("spark.sql.ui.retainedExecutions", "50")
        # bound each execution's plan-DESCRIPTION string too: the SQL
        # listener renders the physical plan to text at execution
        # start, and a deeply composed chain's tree string can reach
        # GBs before any retention cap applies (round-6 OOM in
        # generateTreeString). 8 MB keeps .explain() useful and makes
        # diagnostics memory-bounded regardless of plan depth.
        .config("spark.sql.maxPlanStringLength", str(8 * 1024 * 1024))
        # size the generated-code cache to the curation chain: a
        # run_curation call with every stage compiles ~345 Janino
        # classes and its increment ~185 (600 docs, 4-core host). At
        # Spark's default of 100 entries the increment recompiles
        # classes the full call had just built, and a second chain in
        # the same session recompiles all of them; at 1,000 entries
        # the increment compiled 79 and the second chain none (that
        # call took 9.3 s instead of 11.7 s).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # no Python call-site capture per DataFrame API call: with it
        # on, PySpark walks the stack (and tries `import ipykernel`)
        # for every wrapped call, about half the py4j round trips of a
        # curation call (on perfbench's seed-1 inputs a warm full call
        # went 10.0k -> 5.5k round trips, its increment 5.1k -> 2.9k).
        # The price: an analysis error's message no longer names the
        # Python line that built the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
