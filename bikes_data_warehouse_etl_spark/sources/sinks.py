"""Sink layer: partitioned table writes (SURVEY §2.1
S4/S6-S8 generalized to the layouts that matter at 100 TB).

* ``write_partitioned`` — the bikes pipeline's parquet writer:
  hive-style directory partitioning; readers filtering on the
  partition columns scan only matching directories (PartitionFilters
  in the plan, verified by tests). The Spark analog of the reference's
  daily-refresh cycle is facts partitioned by date.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

# Hive-partitioned writes cluster rows by the partition key so each
# task holds whole partitions (tasks x dates small files otherwise — a
# listing-time DoS at 100 TB). maxRecordsPerFile is the in-task
# backstop: even a one-task date splits into bounded parquet files.
_MAX_RECORDS_PER_FILE = 5_000_000


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] | None,
    mode: str = "overwrite",
) -> None:
    w = df.repartition(*partition_cols).write if partition_cols else df.write
    w = w.mode(mode).option("maxRecordsPerFile", _MAX_RECORDS_PER_FILE)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)

