"""Structured Streaming pipelines (SURVEY §2.9 — engine surface beyond
the batch-only reference).

The reference re-runs its batch ETL "time to time"; the streaming
equivalents here share the *same* builder functions as the batch path:

* ``stream_events``        — file-source stream over event parquet
  (schema taken from a batch read of the drop dir, and ``ts``
  normalized by the same helpers as the batch reader in
  sources/parquet.py, so the streaming twins stay value-identical to
  their batch twins)
* ``windowed_event_counts`` — watermarked tumbling-window aggregation,
  the streaming twin of the batch ``events_tumbling`` query
* ``session_window_counts`` — native session windows, the streaming
  twin of the batch ``events_sessionize`` query
* ``streaming_dedup``      — exact event_id dedup within the watermark
* ``run_scd1_stream``      — foreachBatch incremental SCD1 merge: each
  micro-batch upserts into the target (the streaming form of the
  reference's per-run SCD loads)

All tested with ``trigger(availableNow=True)`` so they run to
completion on static directories (``run_to_memory`` drains any of the
stream builders into a memory sink) — the same code attaches to a live
drop-directory/Kafka source unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from bikes_data_warehouse_etl_spark.sources.parquet import (
    normalize_event_ts,
    read_events_raw,
)


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over event parquet files dropped into a dir.

    The stream's schema is the batch schema of the files already in the
    dir (:func:`read_events_raw`, one small schema-inference job), and
    ``ts`` goes through the batch reader's :func:`normalize_event_ts`,
    so the streaming twins stay value-identical to their oracle-checked
    batch twins under every ``ts`` encoding Spark reads. The dir must
    hold at least one file when the stream is built.
    """
    schema = read_events_raw(spark, events_dir).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    return normalize_event_ts(raw)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts/sums with late-data watermark.

    The watermark bounds state: windows older than max(event time) −
    watermark are finalized and evicted — the knob that keeps state
    size flat over an unbounded stream.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows: per-user sessions closed after ``gap``
    of inactivity — the streaming twin of the batch
    ``events_sessionize`` query (lag + running-sum decomposition).
    State per open session merges as late events arrive; the watermark
    finalizes and evicts closed sessions.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").cast("long").alias("start_es"),
            F.unix_timestamp("w.end").cast("long").alias("end_es"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: each event_id passes once; duplicate
    replays within the watermark horizon are dropped and state for ids
    older than the watermark is evicted (bounded memory — the streaming
    face of the batch dedup family)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(
    stream: DataFrame, table: str, output_mode: str
) -> StreamingQuery:
    """Drain ``stream`` over all currently-available files into an
    in-memory sink queryable as ``spark.table(table)``, blocking until
    drained; returns the finished query (its ``recentProgress`` holds
    the per-batch metrics). ``output_mode`` is the sink mode the
    builder supports: ``complete`` for the window aggregations,
    ``append`` for the dedup."""
    q = (
        stream.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _mid_batch_fault(batch_id: int) -> None:
    """Test seam, no-op in production: invoked between the physical
    writes of every foreachBatch commit so the checkpoint-restart
    fault test can kill a batch MID-commit (the same indirection
    pattern as sources/snapshot._fs_*). The restart test proves the
    prose claim below: at-least-once replay + idempotent per-batch
    writes converge to the same table state as an unbroken run
    (tests/test_streaming_restart.py)."""
    return None


def run_scd1_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: StructType,
    target_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    snapshot_min_age: float | None = 60.0,
    vacuum_every_n_batches: int | None = None,
) -> None:
    """Incremental SCD1 via ``foreachBatch``: every micro-batch of
    source rows upserts into the parquet target via the
    crash-consistent snapshot commit (``sources.snapshot``) — the same
    merge the batch pipeline uses. The checkpoint gives at-least-once
    batch delivery; the merge is idempotent per batch (re-merging the
    same rows is a no-op), so the combination is effectively
    exactly-once for the target state.

    Retention for HIGH-FREQUENCY streams: every micro-batch commit is
    a full-table snapshot. Two knobs bound the disk footprint (advisor
    r9: the global 600 s env floor let a seconds-cadence stream
    accumulate ~floor/cadence full copies per table):

    * ``snapshot_min_age`` (default 60 s) — the PER-STREAM GC time
      floor passed to every commit, sized for streaming readers (who
      hold a snapshot for one micro-batch, not the minutes a batch
      scan might). Accumulation is bounded at ~min_age/cadence
      snapshots. ``None`` falls back to the
      ``SPARK_GRAFT_SNAPSHOT_MIN_AGE`` env default (600 s).
    * ``vacuum_every_n_batches`` (default off) — every N batches the
      stream runs ``snapshot.vacuum(keep_last=1,
      older_than=snapshot_min_age)`` under the table's writer lock,
      reclaiming down to live + the floor window even tighter than
      commit-time GC's count retention. Reader grace is preserved:
      the live snapshot and anything younger than the floor always
      survive.

    Each upsert reads, merges, stages and commits under the table's
    writer lock (``snapshot.table_write``), so it always merges into
    the committed state."""
    from bikes_data_warehouse_etl_spark.operators.merge import scd1_merge
    from bikes_data_warehouse_etl_spark.sources import snapshot

    import os

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark_ = batch.sparkSession
        with snapshot.table_write(target_path, min_age=snapshot_min_age) as staged:
            if os.path.isdir(target_path):
                tgt = spark_.read.parquet(target_path)
                merged = scd1_merge(tgt, batch.dropDuplicates(list(keys)), keys)
            else:
                merged = batch.dropDuplicates(list(keys))
            merged.write.mode("overwrite").parquet(staged)
            _mid_batch_fault(batch_id)  # crash point: staged but uncommitted
        if vacuum_every_n_batches and (
            (batch_id + 1) % int(vacuum_every_n_batches) == 0
        ):
            # older_than never None: with the env-floor fallback a bare
            # keep_last=1 vacuum would reclaim snapshots the commit-time
            # floor was protecting for in-flight readers
            grace = (
                snapshot_min_age
                if snapshot_min_age is not None
                else snapshot._min_age()
            )
            snapshot.vacuum(target_path, keep_last=1, older_than=grace)

    q = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

