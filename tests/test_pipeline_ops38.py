"""Behavior tests for plans/pipeline_ops38.py (binary segmentation,
odds ratio).

The DuckDB-oracle gate covers end-to-end equality; these pin the
changepoint locator on a constructed level shift and the 2x2
accounting."""

from __future__ import annotations

import datetime

import pandas as pd

from bikes_data_warehouse_etl_spark.plans import QUERIES


def _run(spark, sf_dir, name: str) -> pd.DataFrame:
    return QUERIES[name].spark(spark, sf_dir).toPandas()


# ---------------------------------------------------------------------------
# Binary segmentation
# ---------------------------------------------------------------------------
def test_binseg_locates_constructed_shift(spark):
    import os, tempfile

    series = [100] * 40 + [180] * 40
    rows = [
        (i + 1, float(v * 1000), datetime.date(2020, 1, 6) + datetime.timedelta(days=i))
        for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_totalprice double, o_orderdate date"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "orders.parquet"))
        out = _run(spark, tmp, "changepoint_binseg").iloc[0]
        # the best split ends the left segment on the last low day
        start = (datetime.date(2020, 1, 6) - datetime.date(1970, 1, 1)).days
        assert out["split_day"] == start + 39
        assert out["n_left"] == 40 and out["n_right"] == 40
        # one order of v*1000 dollars per day -> v kilodollars exactly
        assert out["mean_left_kd"] == 100
        assert out["mean_right_kd"] == 180


def test_binseg_gain_nonnegative_real_data(spark, sf_dir):
    out = _run(spark, sf_dir, "changepoint_binseg").iloc[0]
    assert out["ssb_gain"] >= 0
    assert out["n_left"] >= 8 and out["n_right"] >= 8


# ---------------------------------------------------------------------------
# Odds ratio
# ---------------------------------------------------------------------------
def test_odds_ratio_accounting(spark, sf_dir):
    out = _run(spark, sf_dir, "odds_ratio_promo_return").iloc[0]
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    m = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    promo = m["p_type"].str.startswith("PROMO")
    ret = m["l_returnflag"] == "R"
    a = int((promo & ret).sum())
    b = int((promo & ~ret).sum())
    c = int((~promo & ret).sum())
    d = int((~promo & ~ret).sum())
    assert out["n_promo_returned"] == a
    assert out["n_promo_kept"] == b
    assert out["n_other_returned"] == c
    assert out["n_other_kept"] == d
    assert out["odds_ratio_milli"] == a * d * 1000 // max(b * c, 1)

