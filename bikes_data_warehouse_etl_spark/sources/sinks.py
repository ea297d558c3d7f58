"""Sink layer: partitioned / bucketed table writes (SURVEY §2.1
S4/S6-S8 generalized to the layouts that matter at 100 TB).

* ``write_partitioned`` — hive-style directory partitioning; readers
  filtering on the partition columns scan only matching directories
  (PartitionFilters in the plan, verified by tests). The Spark analog
  of the reference's daily-refresh cycle is facts partitioned by
  year/date.
* ``write_bucketed`` — catalog table bucketed+sorted by join key: two
  bucketed tables with matching bucket counts join with NO shuffle on
  either side (the co-located join the reference's single-node SQL
  Server gets implicitly).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    partition_cols: Sequence[str] | None = None,
) -> None:
    """Small-files compaction: rewrite a parquet table into
    ``target_files`` files (per partition when ``partition_cols``).

    Streaming/incremental appends accumulate small files; at 100 TB the
    file-listing and per-file open costs dominate scans long before
    data volume does. Run this as the maintenance pass (Delta's
    OPTIMIZE equivalent). Commit is the crash-consistent
    manifest-pointer protocol of ``sources.snapshot`` — the compacted
    copy is written to a fresh snapshot dir and the table symlink is
    atomically retargeted, so readers never observe a missing or
    partial table (fault-injection-tested in
    tests/test_snapshot_swap.py).
    """
    from bikes_data_warehouse_etl_spark.sources import snapshot

    df = spark.read.parquet(path)
    staged = snapshot.next_snapshot_path(path)
    writer = (
        df.repartition(target_files, *partition_cols)
        if partition_cols
        else df.repartition(target_files)
    ).write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(staged)
    snapshot.commit_snapshot(path, staged)


def write_pairs(
    df: DataFrame,
    path: str,
    block_cols: Sequence[str],
    n_buckets: int = 64,
    max_records_per_file: int = 5_000_000,
    mode: str = "overwrite",
) -> None:
    """Bucketed sink for the pair-emitting operators (fuzzy_name_pairs,
    lsh_candidates): at 100 TB their consumer is a partitioned WRITE,
    not a returned DataFrame — pair volume (372M rows at sf10 for the
    fuzzy emitter) makes the collect/return form a driver hazard and
    the write layout the real contract.

    Layout: hive directories on ``bucket = pmod(xxhash64(block key),
    n_buckets)`` — the raw block/band key is high-cardinality (it
    would explode the directory count), the hashed bucket is bounded
    and STABLE, so a downstream cluster-merge job processes one bucket
    directory at a time and a given block always lands in the same
    bucket. Rows are clustered per bucket (one task per bucket dir,
    whole blocks co-located) and sorted within partitions by the block
    key for run-length locality; ``maxRecordsPerFile`` bounds any one
    file even when a bucket is hot. The query forms stay unchanged for
    the oracle gate; this is the scale path for their output.
    """
    import pyspark.sql.functions as F

    bucket = F.pmod(F.xxhash64(*block_cols), F.lit(n_buckets)).cast("int")
    (
        df.withColumn("bucket", bucket)
        .repartition("bucket")
        .sortWithinPartitions("bucket", *block_cols)
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("bucket")
        .parquet(path)
    )
