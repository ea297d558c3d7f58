"""Streaming semantics: watermark drops too-late data in append mode;
duplicate replays dedup within the watermark; FAILFAST CSV ingestion
surfaces malformed rows instead of nulling them."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from bikes_data_warehouse_etl_spark.streaming.pipeline import (
    run_to_memory,
    stream_events,
    streaming_dedup,
    windowed_event_counts,
)


def _write_events(spark, path: str, rows):
    """Write one flat parquet FILE at ``path`` (the file-stream source
    ignores nested directories, so a df.write directory won't be seen).
    ts as long nanos — the stream schema's wire format."""
    import shutil
    import tempfile

    df = spark.createDataFrame(
        [
            (eid, int(ts.timestamp() * 1e9), uid, et, val, "{}")
            for eid, ts, uid, et, val in rows
        ],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    staging = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        f for f in os.listdir(staging) if f.endswith(".parquet")
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shutil.move(os.path.join(staging, part), path)
    shutil.rmtree(staging)


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """Two checkpointed availableNow runs: run 1 advances the watermark
    to 16:00; a 10:30 event arriving in run 2 is behind the watermark —
    its finalized window emits with only the on-time event."""
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")
    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def drain(_: str) -> None:
        # file sink: supports checkpoint recovery across runs (the
        # memory sink does not)
        q = (
            windowed_event_counts(stream_events(spark, src))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: events at 10:00 and 18:00 → watermark persists at 16:00
    _write_events(
        spark,
        f"{src}/part-000.parquet",
        [
            (1, t0, 1, "click", 1.0),
            (2, t0 + dt.timedelta(hours=8), 1, "click", 1.0),
        ],
    )
    drain("late_run1")

    # run 2: a 10:30 event — 5.5h behind the checkpointed watermark
    _write_events(
        spark,
        f"{src}/part-001.parquet",
        [(3, t0 + dt.timedelta(minutes=30), 1, "click", 99.0)],
    )
    drain("late_run2")

    rows = {
        r["window_start"]: r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    w0 = int(t0.timestamp())
    # the 10:00 window finalized with ONLY the on-time event; the late
    # row neither reopened the window nor appeared anywhere
    assert rows.get(w0) == 1


def test_streaming_dedup_drops_replayed_ids(spark, tmp_path):
    src = str(tmp_path / "dup_src")
    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    _write_events(
        spark,
        f"{src}/part-000.parquet",
        [(1, t0, 1, "click", 1.0), (2, t0 + dt.timedelta(minutes=1), 1, "view", 2.0)],
    )
    # replay of id 2 plus a new id 3 in a later file
    _write_events(
        spark,
        f"{src}/part-001.parquet",
        [
            (2, t0 + dt.timedelta(minutes=1), 1, "view", 2.0),
            (3, t0 + dt.timedelta(minutes=2), 1, "click", 3.0),
        ],
    )
    run_to_memory(streaming_dedup(stream_events(spark, src)), "dedup_test", "append")
    ids = sorted(r["event_id"] for r in spark.table("dedup_test").collect())
    assert ids == [1, 2, 3]  # id 2 passed exactly once


def test_failfast_csv_rejects_malformed_rows(spark, tmp_path):
    from bikes_data_warehouse_etl_spark.sources.csv import read_source_csv

    bad = tmp_path / "Address.csv"
    bad.write_text(
        "ADDRESSID,CITY,COUNTRY,REGION,POSTALCODE\n"
        "1000000034,West Nyack,US,AMER,10994\n"
        "not_a_number,Fair Oaks,US,AMER,95628\n"
    )
    df = read_source_csv(spark, str(bad), "Address")
    with pytest.raises(Exception) as exc:
        df.collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)
