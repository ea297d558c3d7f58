"""Structured-Streaming throughput bench → STREAM_BENCH.json.

The batch side has BENCH artifacts (and perfbench's ``bikes_refresh``
for the pipeline writes; WRITE_BENCH.json is the historical record of
the retired write bench); this measures the
STREAMING surface the same way — real micro-batched runs over the
sf0.1 events volume, wall-clocked end to end, one JSON line on stdout.

Scenarios (all availableNow-triggered over a drop dir of N_FILES flat
part files, one micro-batch per file via ``maxFilesPerTrigger=1`` —
the per-batch overhead is measured, not hidden behind one giant batch):

* ``tumbling_1h``   — watermarked tumbling-window counts/sums
                      (complete mode → memory sink)
* ``session_30m``   — native session windows per user
                      (complete mode → memory sink)
* ``dedup``         — ``dropDuplicatesWithinWatermark`` on event_id
                      (append mode → memory sink)
* ``scd1_merge``    — ``foreachBatch`` SCD1 upsert of customer batches
                      into a parquet target (the reference's daily
                      merge, expressed as a stream)

Reported per scenario: input rows, wall seconds, rows/sec, micro-batch
count, and peak state rows (from the final progress's stateOperators)
— state size is the number that decides whether a watermark config
survives an unbounded stream.

Scale: throughput here is single-node local[32]; the artifact's value
is (a) the ratio between scenarios (stateful window vs stateless
dedup vs foreachBatch write path) and (b) regression tracking of the
streaming surface round over round.

**Saturation sweep** (``SPARK_GRAFT_STREAM_SAT_DIR=/tmp/sf1``): the
16-file sf0.1 numbers are micro-batch-overhead-bound (~6k rows per
batch; each availableNow batch pays a fixed plan+schedule cost). The
sweep replays the SAME 1M-event input as 64/16/4/1 micro-batches and
records rows/s per batch size — the knee (where throughput stops
scaling with batch size) is the number that says what the per-batch
overhead is and what a production trigger interval must exceed.

Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/bench_stream.py
    SPARK_GRAFT_STREAM_SAT_DIR=/tmp/sf1 python tools/bench_stream.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bikes_data_warehouse_etl_spark.session import get_spark  # noqa: E402
from bikes_data_warehouse_etl_spark.streaming.pipeline import (  # noqa: E402
    run_scd1_stream,
    run_to_memory,
    session_window_counts,
    stream_events,
    streaming_dedup,
    windowed_event_counts,
)

N_FILES = 16


def _flat_part_files(df, dest: str, n_files: int) -> int:
    """Write ``df`` as ``n_files`` flat .parquet files in ``dest``
    (file-stream sources ignore nested dirs, so part files are moved
    to the watched root). Returns the row count."""
    staging = tempfile.mkdtemp()
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    os.makedirs(dest, exist_ok=True)
    i = 0
    for f in sorted(os.listdir(staging)):
        if f.endswith(".parquet"):
            shutil.move(
                os.path.join(staging, f), os.path.join(dest, f"part-{i:03d}.parquet")
            )
            i += 1
    shutil.rmtree(staging, ignore_errors=True)
    return i


def _progress(q) -> dict:
    prog = q.recentProgress
    state_rows = 0
    for p in prog:
        for so in p.get("stateOperators") or []:
            state_rows = max(state_rows, so.get("numRowsTotal", 0))
    return {
        "n_batches": sum(1 for p in prog if p.get("numInputRows", 0) > 0),
        "state_rows": state_rows,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stream-bench")
    work = tempfile.mkdtemp(prefix="stream_bench_")
    events_dir = os.path.join(work, "events")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    n_events = ev.count()
    _flat_part_files(ev, events_dir, N_FILES)

    scenarios: dict[str, dict] = {}

    def record(name: str, rows: int, wall: float, meta: dict) -> None:
        scenarios[name] = {
            "input_rows": rows,
            "wall_s": round(wall, 2),
            "rows_per_sec": int(rows / wall) if wall > 0 else None,
            **meta,
        }
        print(f"{name}: {rows} rows in {wall:.1f}s", file=sys.stderr)

    # 1. watermarked tumbling windows, complete mode
    t0 = time.perf_counter()
    meta = _progress(run_to_memory(
        windowed_event_counts(stream_events(spark, events_dir)),
        "sb_tumbling", "complete",
    ))
    record("tumbling_1h", n_events, time.perf_counter() - t0, meta)

    # 2. native session windows, complete mode
    t0 = time.perf_counter()
    meta = _progress(run_to_memory(
        session_window_counts(stream_events(spark, events_dir)),
        "sb_sessions", "complete",
    ))
    record("session_30m", n_events, time.perf_counter() - t0, meta)

    # 3. streaming dedup, append mode
    t0 = time.perf_counter()
    meta = _progress(run_to_memory(
        streaming_dedup(stream_events(spark, events_dir)), "sb_dedup", "append"
    ))
    record("dedup", n_events, time.perf_counter() - t0, meta)

    # 4. foreachBatch SCD1 merge of customer batches into parquet
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    n_cust = cust.count()
    cust_dir = os.path.join(work, "customer")
    n_batches = _flat_part_files(cust, cust_dir, 8)
    target = os.path.join(work, "scd1_target")
    ckpt = os.path.join(work, "scd1_ckpt")
    t0 = time.perf_counter()
    run_scd1_stream(
        spark, cust_dir, cust.schema, target, ["c_custkey"], ckpt
    )
    wall = time.perf_counter() - t0
    merged_rows = spark.read.parquet(target).count()
    record(
        "scd1_merge",
        n_cust,
        wall,
        {"n_batches": n_batches, "target_rows": merged_rows},
    )
    assert merged_rows == cust.select("c_custkey").distinct().count()

    # saturation sweep: same input, fewer+bigger micro-batches
    saturation = None
    sat_dir = os.environ.get("SPARK_GRAFT_STREAM_SAT_DIR")
    if sat_dir:
        from bikes_data_warehouse_etl_spark.sources.parquet import (
            normalize_event_ts,
        )

        # normalize ts to a real TIMESTAMP, then write it as NTZ
        # (INT64 micros) like the base-scenario drop dirs, so every arm
        # streams the same wire encoding whatever the sf dir carries
        # (nanos-as-long, INT96 or micros)
        import pyspark.sql.functions as F

        sat_ev = normalize_event_ts(
            spark.read.parquet(os.path.join(sat_dir, "events.parquet"))
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        sat_n = sat_ev.count()
        saturation = {"sf_dir": sat_dir, "n_events": sat_n, "arms": {}}
        for nf in (64, 16, 4, 1):
            d = os.path.join(work, f"sat_{nf}")
            _flat_part_files(sat_ev, d, nf)
            t0 = time.perf_counter()
            meta = _progress(run_to_memory(
                streaming_dedup(stream_events(spark, d)), f"sb_sat_{nf}", "append"
            ))
            wall = time.perf_counter() - t0
            saturation["arms"][f"batches_{nf}"] = {
                "rows_per_batch": sat_n // nf,
                "wall_s": round(wall, 2),
                "rows_per_sec": int(sat_n / wall),
                **meta,
            }
            print(
                f"saturation {nf} batches: {int(sat_n / wall)} rows/s",
                file=sys.stderr,
            )
            shutil.rmtree(d, ignore_errors=True)

    shutil.rmtree(work, ignore_errors=True)
    doc = {
        "metric": "stream_bench",
        "unit": "rows_per_sec",
        "sf_dir": sf_dir,
        "n_events": n_events,
        "scenarios": scenarios,
    }
    if saturation is not None:
        doc["saturation"] = saturation
    else:
        prev_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "STREAM_BENCH.json",
        )
        if os.path.exists(prev_path):
            with open(prev_path) as f:
                prev_sat = json.load(f).get("saturation")
            if prev_sat:
                doc["saturation"] = prev_sat
    print(json.dumps(doc))
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "STREAM_BENCH.json",
    )
    with open(out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
