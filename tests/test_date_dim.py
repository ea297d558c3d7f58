"""Date dimension: SQL-Server calendar conventions (SURVEY §1.5 / F10/F11/F17)."""

from __future__ import annotations

import datetime as dt

from bikes_data_warehouse_etl_spark.plans.date_dim import (
    build_act_perd_dim,
    build_date_dim,
)


def test_date_dim_known_dates(spark):
    dim = build_date_dim(spark, "2024-01-01", "2024-01-14")
    rows = {r["date"]: r for r in dim.collect()}
    assert len(rows) == 14
    jan1 = rows[dt.date(2024, 1, 1)]  # a Monday
    assert jan1["date_weekday"] == "Monday"
    assert jan1["date_weekdayid"] == 2  # 1=Sunday convention
    assert jan1["date_week"] == 1
    assert jan1["date_quarter"] == 1
    assert jan1["date_monthname"] == "January"
    # weeks advance on Sunday: Sat Jan 6 still week 1, Sun Jan 7 week 2
    assert rows[dt.date(2024, 1, 6)]["date_week"] == 1
    assert rows[dt.date(2024, 1, 7)]["date_week"] == 2
    assert rows[dt.date(2024, 1, 7)]["date_weekdayid"] == 1


def test_act_perd_trailing_week_flags(spark):
    # as-of Wed 2024-06-19 → current week starts Sun 2024-06-16
    dim = build_act_perd_dim(spark, "2024-01-01", "2024-12-31", "2024-06-19")
    rows = {r["date"]: r for r in dim.collect()}
    assert rows[dt.date(2024, 6, 16)]["cw_flag"] == "Y"
    assert rows[dt.date(2024, 6, 22)]["cw_flag"] == "Y"  # Sat of same week
    assert rows[dt.date(2024, 6, 15)]["cw_flag"] == "N"
    assert rows[dt.date(2024, 6, 9)]["pw_flag"] == "Y"
    assert rows[dt.date(2024, 6, 15)]["pw_flag"] == "Y"
    # 4 trailing weeks = Sun 5/19 .. Sat 6/15 (excludes current week)
    assert rows[dt.date(2024, 5, 19)]["w4_flag"] == "Y"
    assert rows[dt.date(2024, 5, 18)]["w4_flag"] == "N"
    assert rows[dt.date(2024, 6, 16)]["w4_flag"] == "N"
    # 13 trailing weeks = Sun 3/17 .. Sat 6/15
    assert rows[dt.date(2024, 3, 17)]["w13_flag"] == "Y"
    assert rows[dt.date(2024, 3, 16)]["w13_flag"] == "N"
    assert rows[dt.date(2024, 6, 19)]["cytd_flag"] == "Y"
    assert rows[dt.date(2024, 1, 1)]["yyyymm_key"] == 202401
    assert rows[dt.date(2024, 10, 1)]["quarter_name"] == "Q4"
