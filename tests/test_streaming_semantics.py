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


def test_left_outer_stream_stream_join_finalizes_after_watermark(spark, tmp_path):
    """Left-outer stream-stream interval join: a matched purchase emits
    its pair immediately; a view-less purchase's null row emits only
    after a LATER batch advances the watermark past the purchase time
    (the outer-emission contract — state can't prove 'no match' until
    the watermark does)."""
    from bikes_data_warehouse_etl_spark.streaming.pipeline import (
        stream_stream_view_purchase_join,
    )

    src = str(tmp_path / "loj_src")
    ckpt = str(tmp_path / "loj_ckpt")
    out = str(tmp_path / "loj_out")
    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def drain() -> None:
        q = (
            stream_stream_view_purchase_join(spark, src, how="left_outer")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: user 1 purchase with a matching view 30 min earlier;
    # user 2 purchase with NO view
    _write_events(
        spark,
        f"{src}/part-000.parquet",
        [
            (1, t0 - dt.timedelta(minutes=30), 1, "view", 5.0),
            (2, t0, 1, "purchase", 20.0),
            (3, t0, 2, "purchase", 30.0),
        ],
    )
    drain()
    after_run1 = {
        (r["event_id"], r["v_es"])
        for r in spark.read.parquet(out).collect()
    }
    # inner match emitted; the view-less purchase is still open state
    assert (2, int((t0 - dt.timedelta(minutes=30)).timestamp())) in after_run1
    assert not any(eid == 3 for eid, _ in after_run1)

    # run 2: 18:00 events advance the watermark (2h) to 16:00 — far
    # past 10:00. Two subtleties this test exists to document: (a) the
    # join watermark is min() across BOTH branch watermarks, and each
    # branch only sees its own event_type — a late 'click' advances
    # neither, so the late events must be a view AND a purchase; (b)
    # the watermark COMMITS at batch end, so the unmatched purchase is
    # evicted-and-emitted in the NEXT batch — run 3 supplies it (the
    # same one-batch lag the append-mode window test pins).
    _write_events(
        spark,
        f"{src}/part-001.parquet",
        [
            (9, t0 + dt.timedelta(hours=8), 3, "view", 1.0),
            (10, t0 + dt.timedelta(hours=8, minutes=1), 3, "purchase", 2.0),
        ],
    )
    drain()
    _write_events(
        spark,
        f"{src}/part-002.parquet",
        [
            (11, t0 + dt.timedelta(hours=8, minutes=30), 4, "view", 1.0),
            (12, t0 + dt.timedelta(hours=8, minutes=31), 4, "purchase", 2.0),
        ],
    )
    drain()
    rows = {r["event_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[3]["v_es"] is None and rows[3]["v_cents"] is None
    assert rows[3]["user_id"] == 2
