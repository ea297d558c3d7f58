"""Data-quality invariant checks + approx-distinct bounds."""

from __future__ import annotations

import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.operators.quality import (
    check_report,
    duplicate_keys,
    null_violations,
    orphan_rows,
)


def test_duplicate_and_null_checks(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, None), (3, "c")], "k long, v string"
    )
    dups = duplicate_keys(df, ["k"]).collect()
    assert len(dups) == 1 and dups[0]["k"] == 1 and dups[0]["n_rows"] == 2
    nulls = null_violations(df, ["v"]).collect()
    assert len(nulls) == 1 and nulls[0]["k"] == 2


def test_orphan_rows_and_report(spark):
    child = spark.createDataFrame([(1, 10), (2, 20), (3, 99)], "id long, fk long")
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    orphans = orphan_rows(child, parent, ["fk"], ["pk"]).collect()
    assert [r["id"] for r in orphans] == [3]
    report = check_report(
        {
            "dups": duplicate_keys(child, ["id"]),
            "orphans": orphan_rows(child, parent, ["fk"], ["pk"]),
        }
    )
    assert report == {"dups": 0, "orphans": 1}


def test_bikes_ods_invariants(spark, tmp_path_factory, bikes_source):
    """The loaded ODS satisfies the reference's declared PK constraints."""
    from bikes_data_warehouse_etl_spark.plans.bikes_pipeline import BikesPipeline

    whdir = str(tmp_path_factory.mktemp("bikes_wh_dq"))
    p = BikesPipeline(
        spark, bikes_source, whdir, "2022-01-15", "2022-01-15 18:00:00"
    )
    p.load_ods()
    assert duplicate_keys(p.read("ods", "customer"), ["customer_id"]).count() == 0
    assert duplicate_keys(p.read("ods", "salesorder"), ["SalesOrderID"]).count() == 0
    # SCD2 invariant expressed as a DQ check: one current row per key
    current = p.read("ods", "product").filter(F.col("CURRENT_FLAG") == 1)
    assert duplicate_keys(current, ["PRODUCTID"]).count() == 0
    # the source's known orphan items (5 rows → order 500000334,
    # FIXTURES.md §1)
    orphans = orphan_rows(
        p.read("ods", "salesorderitems"),
        p.read("ods", "salesorder"),
        ["SalesOrderID"],
    )
    assert orphans.count() == 5


def test_approx_distinct_within_tolerance(spark, sf_dir):
    from bikes_data_warehouse_etl_spark.plans import QUERIES

    rows = QUERIES["approx_distinct_parts"].spark(spark, sf_dir).collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        # the query's own bounded-error contract must hold, and its
        # exact side must agree with an independently computed exact
        assert r["within_5pct"] is True
        assert r["exact_parts"] == exact[r["flag"]]


def test_observe_dq_piggybacks_on_action(spark, sf_dir):
    """observe() metrics must ride the caller's own action — counters
    arrive without a second pass, and match an explicit recount."""
    from bikes_data_warehouse_etl_spark.operators.quality import observe_dq
    from bikes_data_warehouse_etl_spark.sources.parquet import read_table

    li = read_table(spark, sf_dir, "lineitem")
    observed, obs = observe_dq(
        li, "li_dq", not_null_cols=["l_orderkey", "l_shipdate"],
        value_col="l_quantity",
    )
    # the "already running" action: a downstream aggregate
    n_groups = observed.groupBy("l_returnflag").count().count()
    assert n_groups > 0
    m = obs.get
    assert m["n_rows"] == li.count()
    assert m["n_null_l_orderkey"] == 0
    assert m["min_l_quantity"] >= 0
    assert m["max_l_quantity"] <= 50 + 1e-9


def test_orphan_rows_exempts_null_foreign_keys(spark):
    """MATCH SIMPLE: a NULL FK is 'no reference', not a violation —
    only non-null keys missing from the parent are orphans."""
    from bikes_data_warehouse_etl_spark.operators.quality import orphan_rows

    child = spark.createDataFrame(
        [(1, 10), (2, None), (3, 99)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,)], "pk long")
    got = {r["id"] for r in orphan_rows(child, parent, ["fk"], ["pk"]).collect()}
    assert got == {3}  # null-FK row 2 exempt; row 3 is the real orphan
