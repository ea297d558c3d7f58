"""Native session windows (streaming) agree with the batch
sessionization decomposition; SCD1 second-batch flow on Customer."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.plans import QUERIES
from bikes_data_warehouse_etl_spark.streaming.pipeline import (
    run_to_memory,
    session_window_counts,
    stream_events,
)


def test_session_windows_match_batch_sessionize(spark, sf_dir, tmp_path):
    events_dir = str(tmp_path / "events_in")
    os.makedirs(events_dir)
    shutil.copy(f"{sf_dir}/events.parquet", events_dir)
    run_to_memory(
        session_window_counts(stream_events(spark, events_dir)),
        "sw_test",
        "complete",
    )

    stream = {
        (r["user_id"], r["start_es"]): r["n_events"]
        for r in spark.table("sw_test").collect()
    }
    batch = {
        (r["user_id"], r["start_es"]): r["n_events"]
        for r in QUERIES["events_sessionize"].spark(spark, sf_dir).collect()
    }
    # same sessions (user, start) and same event counts per session
    assert stream == batch


def test_customer_scd1_second_batch(spark, tmp_path_factory, bikes_source):
    """A changed customer attribute propagates through the SCD1 merge
    and into the rebuilt dimension — the reference's 'update' branch
    intent (E:74-121) end to end."""
    import csv

    from bikes_data_warehouse_etl_spark.plans.bikes_pipeline import BikesPipeline

    whdir = str(tmp_path_factory.mktemp("bikes_wh_scd1b2"))
    p = BikesPipeline(spark, bikes_source, whdir, "2022-01-15", "2022-01-15 18:00:00")
    p.run()
    first_name_1 = (
        p.read("ods", "customer").filter(F.col("customer_id") == 1).first()["first_name"]
    )

    src2 = str(tmp_path_factory.mktemp("batch2"))
    for f in os.listdir(bikes_source):
        shutil.copy(os.path.join(bikes_source, f), src2)
    rows = list(csv.reader(open(os.path.join(src2, "Customer.csv"))))
    for r in rows[1:]:
        if r[0] == "3":  # customer 3 → new gender value
            r[3] = "Unknown"
    with open(os.path.join(src2, "Customer.csv"), "w", newline="") as fh:
        csv.writer(fh).writerows(rows)

    p2 = BikesPipeline(spark, src2, whdir, "2022-01-16", "2022-01-16 18:00:00")
    p2.run()

    cust = p2.read("ods", "customer")
    assert cust.count() == 70  # upsert, no growth
    assert cust.filter(F.col("customer_id") == 3).first()["gender"] == "Unknown"
    dim = p2.read("dw", "cust_dim")
    assert dim.filter(F.col("Cust_ID") == 3).first()["Cust_Gndr"] == "Unknown"
    # untouched row unchanged
    assert cust.filter(F.col("customer_id") == 1).first()["first_name"] == first_name_1
