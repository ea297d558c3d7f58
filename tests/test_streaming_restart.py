"""Checkpoint-restart fault proof for the streaming foreachBatch
surfaces (VERDICT r7 task #5).

The batch commit protocol has kill-at-every-FS-step proof
(test_snapshot_swap.py); these tests give the streaming surface the
analogous guarantee: kill a foreachBatch stream MID-batch (between its
two physical writes, via the ``_mid_batch_fault`` seam), restart from
the same checkpoint, and assert the idempotent-overwrite invariant the
module claims in prose — the restarted run converges to exactly the
state of an unbroken run: no duplicate SCD1 rows.
"""

from __future__ import annotations

import os
import shutil

import pytest

from bikes_data_warehouse_etl_spark.streaming import pipeline as sp


class Crash(RuntimeError):
    pass


def _arm_once(monkeypatch, fail_batch_id: int):
    """Raise inside the foreachBatch commit of ``fail_batch_id``, once."""
    state = {"fired": False}

    def boom(batch_id: int) -> None:
        if batch_id == fail_batch_id and not state["fired"]:
            state["fired"] = True
            raise Crash(f"mid-batch kill in batch {batch_id}")

    monkeypatch.setattr(sp, "_mid_batch_fault", boom)
    return state


def _flatten(src: str, subs: list[str]) -> None:
    """Move nested part files into the watched root with ordered names
    (file streams ignore nested dirs)."""
    i = 0
    for sub in subs:
        for f in sorted(os.listdir(f"{src}/{sub}")):
            if f.endswith(".parquet"):
                os.rename(f"{src}/{sub}/{f}", f"{src}/{i:03d}.parquet")
                i += 1
        shutil.rmtree(f"{src}/{sub}")


def test_scd1_stream_restart_converges(spark, tmp_path, monkeypatch):
    """Kill the SCD1 upsert of batch 1 after its snapshot is staged but
    before the manifest commit, restart from the checkpoint: the batch
    replays onto the last COMMITTED state (the orphan staged dir is
    never read, then GC'd), and the final table equals an unbroken
    run's."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bikes_data_warehouse_etl_spark.sources import snapshot

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("v", StringType(), True),
        ]
    )

    def write_batches(src):
        os.makedirs(src)
        spark.createDataFrame(
            [(1, "a"), (2, "b")], schema
        ).coalesce(1).write.parquet(f"{src}/b0")
        spark.createDataFrame(
            [(2, "b2"), (3, "c")], schema
        ).coalesce(1).write.parquet(f"{src}/b1")
        _flatten(src, ["b0", "b1"])

    # unbroken reference run
    src_ref, tgt_ref = str(tmp_path / "src_ref"), str(tmp_path / "tgt_ref")
    write_batches(src_ref)
    sp.run_scd1_stream(
        spark, src_ref, schema, tgt_ref, ["k"], str(tmp_path / "ckpt_ref")
    )
    want = sorted(map(tuple, spark.read.parquet(tgt_ref).collect()))

    # faulted run
    src, tgt, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    )
    write_batches(src)
    state = _arm_once(monkeypatch, fail_batch_id=1)
    with pytest.raises(Exception, match="mid-batch kill"):
        sp.run_scd1_stream(spark, src, schema, tgt, ["k"], ckpt)
    assert state["fired"]
    # mid-batch state: target still serves batch-0 data (staged
    # snapshot exists but was never committed)
    assert {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()} == {
        1: "a", 2: "b"
    }

    monkeypatch.undo()
    sp.run_scd1_stream(spark, src, schema, tgt, ["k"], ckpt)

    got = sorted(map(tuple, spark.read.parquet(tgt).collect()))
    assert got == want
    ks = [k for k, _v in got]
    assert len(ks) == len(set(ks)) == 3  # no duplicate keys
    # the killed batch's staged snapshot is dead once its writer let go
    # of the table lock: a repair bounds the set to the retention window
    snapshot.repair_table(tgt)
    assert len(snapshot.list_snapshots(tgt)) <= 2
