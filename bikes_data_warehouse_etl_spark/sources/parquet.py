"""Parquet table source for the synthetic star schema.

Reads are declarative ``spark.read.parquet`` scans, so column pruning
and predicate pushdown reach the parquet row groups automatically
(verify with ``df.explain('formatted')`` → ``PushedFilters`` /
``ReadSchema``). Nothing is cached or collected here — callers compose
lazily and Catalyst sees the whole plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to ``TimestampType`` whatever the parquet
    encoding was.

    The testdata generator has shipped ``ts`` two ways across rounds:

    * parquet TIMESTAMP(NANOS) — unreadable natively
      (``PARQUET_TYPE_ILLEGAL``) unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is set, in which case it
      arrives as ``bigint`` epoch-nanos. Normalized with exact integer
      division (epoch-ns ~1.7e18 exceeds double's 53-bit mantissa, so
      ``/ 1000`` via double would be off by ±1 µs — use ``div``).
    * parquet ``timestamp[us]`` with no timezone — Spark infers
      ``TimestampNTZType``. The naive value is a UTC wall-clock time
      (the generator's convention, and what the DuckDB oracle does when
      extracting epochs), so it is rebuilt field by field with an
      explicit ``'UTC'`` zone. A plain cast would resolve the SESSION
      timezone; ``convert_timezone`` to the session zone and back is
      an hour off inside a DST fall-back overlap. The expression reads
      no session state, so concurrent readers never see a flipped
      timezone.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        ts = F.col("ts")
        return df.withColumn(
            "ts",
            F.make_timestamp(
                F.year(ts), F.month(ts), F.dayofmonth(ts), F.hour(ts),
                F.minute(ts), F.extract(F.lit("SECOND"), ts), F.lit("UTC"),
            ),
        )
    return df


def read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """Scan event parquet with ``ts`` in the type Spark reads it as.

    Sets ``spark.sql.legacy.parquet.nanosAsLong`` before the scan, so
    TIMESTAMP(NANOS) files arrive as ``bigint`` epoch-nanos instead of
    failing (harmless for every other encoding): event reads must
    behave identically under ANY SparkSession, not just
    :func:`session.get_spark`. Spark's own reader then decides the
    type: INT96 and UTC-adjusted micros read as ``timestamp``, naive
    micros as ``timestamp_ntz``, plain INT64 as ``bigint``. The batch
    reader and the events stream (which takes its schema from this
    frame) both pass the result through :func:`normalize_event_ts`.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table; ``events.ts`` comes back normalized."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return normalize_event_ts(read_events_raw(spark, path))
    return spark.read.parquet(path)


def widen_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition a scan ONLY when it has fewer input
    splits than the cluster has cores.

    Row-local-heavy plans (per-char md5 fingerprinting, span censuses)
    have no shuffle at all, so their parallelism equals the number of
    file splits. At production scale that is thousands of splits and
    this helper is an audited NO-OP — ``df`` is returned untouched, no
    exchange enters the plan. On a single small parquet file (the
    sf0.1 testdata's ~10 MB documents table → one split) the same plan
    is pinned to one core while 31 idle; shipping the pre-compute rows
    once (~the file's size, orders of magnitude below what the
    compute-then-shuffle alternative moves) buys full-width execution.

    The split count comes from compiling the scan's RDD lineage — no
    job runs. Callers apply this BEFORE the expensive projection, on
    the thinnest column set they need.
    """
    n_splits = df.rdd.getNumPartitions()
    n_cores = spark.sparkContext.defaultParallelism
    if n_splits >= n_cores:
        return df
    return df.repartition(n_cores)
