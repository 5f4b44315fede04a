"""Per-partition lineage metrics (SURVEY.md O17).

The reference's audit trail is a synchronized append-only debug log
(GeneralUtils.java:50-59) plus per-file done/failed accounting in the
manager's heap maps (README.md:120-126). The Spark-native form is a
small metrics TABLE aggregated from the extraction output's lineage
columns — computed from the written parquet, never by re-running the
extract stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def lineage_from_extracted(extracted: DataFrame, run_id: str) -> DataFrame:
    """extracted (with part_id/elapsed_ms lineage columns) ->
    one metrics row per extraction partition.

    elapsed_ms is cumulative within a partition, so max() = partition
    wall time (see operators.extract._extract_batches).
    """
    return (
        extracted.groupBy("part_id")
        .agg(
            F.count("*").alias("rows_out"),
            F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
            F.sum((F.col("status") == "ok_pdf").cast("long")).alias("n_pdf"),
            F.sum((F.col("status") == "empty").cast("long")).alias("n_empty"),
            F.sum(
                F.col("status").isin("error", "too_large").cast("long")
            ).alias("n_failed"),
            F.max("elapsed_ms").alias("wall_ms"),
            F.sum("n_chars").cast("long").alias("bytes_text"),
        )
        .withColumn("run_id", F.lit(run_id))
        .select(
            "run_id", "part_id", "rows_out", "n_ok", "n_pdf",
            "n_empty", "n_failed", "wall_ms", "bytes_text",
        )
    )
