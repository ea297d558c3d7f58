"""Edge-case robustness: empty batches, all-new targets, degenerate
dedup inputs."""

from __future__ import annotations

from bikes_data_warehouse_etl_spark.operators.dedup import minhash_mins
from bikes_data_warehouse_etl_spark.operators.merge import scd1_merge, scd2_merge


def test_scd1_with_empty_source_is_noop(spark):
    tgt = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    src = spark.createDataFrame([], "k long, v string")
    out = scd1_merge(tgt, src, ["k"])
    assert sorted(out.collect()) == sorted(tgt.collect())


def test_scd1_into_empty_target(spark):
    tgt = spark.createDataFrame([], "k long, v string")
    src = spark.createDataFrame([(1, "a")], "k long, v string")
    assert scd1_merge(tgt, src, ["k"]).count() == 1


def test_scd2_with_empty_source_is_noop(spark):
    import datetime as dt

    tgt = spark.createDataFrame(
        [("A", 1, 1, dt.datetime(2020, 1, 1), None)],
        "k string, price long, current_flag long, "
        "effective_timestamp timestamp, expire_timestamp timestamp",
    )
    src = spark.createDataFrame([], "k string, price long")
    out = scd2_merge(tgt, src, ["k"], ["price"], run_ts="2022-01-01 00:00:00", high_ts=None)
    assert sorted(out.collect()) == sorted(tgt.collect())


def test_minhash_skips_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "only two"), (2, "three token document here"), (3, "")],
        "doc_id long, text string",
    )
    out = minhash_mins(df, n_hashes=4, shingle_k=3)
    # docs with < k tokens produce no signature rows
    assert [r["id"] for r in out.collect()] == [2]
    sig = out.first()
    assert all(sig[f"mh{j}"] is not None for j in range(4))


def test_anti_join_cdc_with_empty_existing(spark):
    from bikes_data_warehouse_etl_spark.operators.cdc import anti_join_new_rows

    inc = spark.createDataFrame([(1,), (2,)], "k long")
    existing = spark.createDataFrame([], "k long")
    assert anti_join_new_rows(inc, existing, ["k"]).count() == 2
