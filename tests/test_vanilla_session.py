"""Queries must run under ANY SparkSession, not just session.get_spark().

The external correctness harness builds a bare ``SparkSession.builder``
without our nanosAsLong conf; round 1 showed every ``events.parquet``
reader crashing there with ``PARQUET_TYPE_ILLEGAL: INT64
(TIMESTAMP(NANOS))``. We simulate the vanilla session by cloning a new
session off the shared context and *unsetting* the legacy conf —
``read_table`` is responsible for setting it back before the scan.
"""

from __future__ import annotations

from pyspark.sql import types as T

from bikes_data_warehouse_etl_spark.plans import QUERIES

EVENTS_QUERIES = (
    "events_tumbling",
    "events_sessionize",
    "events_json_extract",
    "events_sliding",
    "asof_join_last_signup",
    "pivot_events",
)


def _vanilla(spark):
    s = spark.newSession()
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    return s


def test_events_queries_run_under_vanilla_session(spark, sf_dir):
    s = _vanilla(spark)
    for name in EVENTS_QUERIES:
        df = QUERIES[name].spark(s, sf_dir)
        assert df.count() >= 0, name


def test_events_ts_normalized_to_timestamp(spark, sf_dir):
    from bikes_data_warehouse_etl_spark.sources.parquet import read_table

    s = _vanilla(spark)
    df = read_table(s, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)


def test_nanos_to_micros_is_exact_integer_division(spark):
    # epoch-ns ~1.7e18 exceeds double's 53-bit mantissa; `div` must be exact
    import pyspark.sql.functions as F

    ns = 1_700_000_000_123_456_789
    row = (
        spark.range(1)
        .select(F.timestamp_micros(F.expr(f"cast({ns} as bigint) div 1000")).alias("ts"))
        .select(F.unix_micros("ts").alias("us"))
        .first()
    )
    assert row.us == ns // 1000


def _epoch_us(rows) -> dict[int, int]:
    return {r.event_id: r.us for r in rows}


def test_events_read_on_non_utc_session_matches_utc_from_two_threads(
    spark, sf_dir
):
    """``normalize_event_ts`` reads naive ``events.ts`` as UTC without
    touching the session timezone, so two threads reading through one
    non-UTC session get exactly the UTC session's instants, and the
    session keeps its zone."""
    from concurrent.futures import ThreadPoolExecutor

    import pyspark.sql.functions as F

    from bikes_data_warehouse_etl_spark.sources.parquet import read_table

    def read(s):
        return _epoch_us(
            read_table(s, sf_dir, "events")
            .select("event_id", F.unix_micros("ts").alias("us"))
            .collect()
        )

    want = read(spark)
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    with ThreadPoolExecutor(2) as pool:
        got = list(pool.map(lambda _: read(s), range(4)))
    assert all(g == want for g in got)
    assert s.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_naive_ts_is_utc_across_dst_gap_and_overlap(spark):
    """A naive time inside the Los Angeles spring-forward gap, and both
    UTC instants that fall in its fall-back overlap, keep their UTC
    epoch under a Los Angeles session."""
    import datetime as dt

    import pyspark.sql.functions as F

    from bikes_data_warehouse_etl_spark.sources.parquet import (
        normalize_event_ts,
    )

    naive = [
        "2024-03-10 02:30:00",  # LA local gap
        "2024-11-03 08:30:00",  # 01:30 PDT
        "2024-11-03 09:30:00",  # 01:30 PST
        "1969-12-31 23:59:59.999999",
    ]
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    df = s.createDataFrame(
        [(i, v) for i, v in enumerate(naive)], "event_id long, s string"
    ).select("event_id", F.col("s").cast("timestamp_ntz").alias("ts"))
    got = _epoch_us(
        normalize_event_ts(df)
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    epoch = dt.datetime(1970, 1, 1)
    want = {
        i: (dt.datetime.fromisoformat(v) - epoch) // dt.timedelta(microseconds=1)
        for i, v in enumerate(naive)
    }
    assert got == want
