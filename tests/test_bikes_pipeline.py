"""End-to-end golden tests on the nine bikes source CSVs of the
``bikes_source`` fixture (SURVEY §5.2): row counts, aggregates,
idempotence, incrementality, SCD2 product changes across runs. The
fixture is the reference's SourceData where present, else the seeded
extract with the reference row counts and quirks (FIXTURES.md §1);
values that depend on individual rows are derived from those CSVs.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import re
import shutil

import pyspark.sql.functions as F
import pytest

from bikes_data_warehouse_etl_spark.plans.bikes_pipeline import BikesPipeline

AS_OF = "2022-01-15"
RUN_TS = "2022-01-15 18:00:00"


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory, bikes_source):
    whdir = str(tmp_path_factory.mktemp("bikes_wh"))
    p = BikesPipeline(spark, bikes_source, whdir, AS_OF, RUN_TS)
    p.run()
    return p


def test_every_table_is_a_committed_snapshot(wh):
    """Day 1 commits all 17 tables, the two incremental facts included,
    through the snapshot protocol: each table path is a symlink to the
    snapshot its ``__CURRENT`` manifest names."""
    from bikes_data_warehouse_etl_spark.sources import snapshot

    tables = {
        "ods": ["customer", "address", "businesspartner", "productcategory",
                "productdetail", "store", "salesorder", "salesorderitems",
                "product", "datetab"],
        "dw": ["prdct_sm_fct", "ordr_sm_fct", "ordr_dtl_fct", "cust_dim",
               "str_dim", "prdct_dim", "act_perd_dim"],
    }
    for layer, names in tables.items():
        for t in names:
            path = wh._path(layer, t)
            assert os.path.islink(path), f"{layer}/{t} is not a snapshot symlink"
            assert os.path.isfile(path + "__CURRENT"), f"{layer}/{t} has no manifest"
            assert os.readlink(path) == snapshot.read_manifest(path)


def test_ods_row_counts(wh):
    # customer: 71 raw rows, one duplicate id visible only after
    # projection (customer_id 10) → 70 (§1.5.8)
    assert wh.read("ods", "customer").count() == 70
    assert wh.read("ods", "address").count() == 52
    assert wh.read("ods", "businesspartner").count() == 38
    assert wh.read("ods", "productcategory").count() == 9
    assert wh.read("ods", "product").count() == 42
    assert wh.read("ods", "productdetail").count() == 42
    assert wh.read("ods", "store").count() == 20
    assert wh.read("ods", "salesorder").count() == 334
    assert wh.read("ods", "salesorderitems").count() == 1935


def test_customer_cleaning_golden(wh, bikes_source):
    rows = {r["customer_id"]: r for r in wh.read("ods", "customer").collect()}
    with open(os.path.join(bikes_source, "Customer.csv"), encoding="utf-8-sig") as fh:
        raw = list(csv.DictReader(fh))
    # junk chars stripped (ref README.md:7) exactly as ref ETLScript:27-28
    junk = [
        (int(r["customer_id"]), col, r[col])
        for r in raw
        for col in ("first_name", "last_name")
        if re.search(r"\W", r[col])
    ]
    assert junk, "source has no junk-character names (FIXTURES.md §1)"
    for cid, col, name in junk:
        assert rows[cid][col] == re.sub(r"\W+", "", name), (cid, col, name)
    # day-first parse: 12-10-1953 = Oct 12 (§1.5.2 divergence)
    ambiguous = [int(r["customer_id"]) for r in raw if r["DOB"] == "12-10-1953"]
    assert ambiguous, "source has no 12-10-1953 DOB (FIXTURES.md §1)"
    for cid in ambiguous:
        assert rows[cid]["DOB"] == dt.date(1953, 10, 12)
        # age at 2022-01-15: born 1953-10-12 → 68, bucket 60-69 (right-closed)
        assert rows[cid]["Age"] == 68
        assert rows[cid]["Agerange"] == "60-69"


def test_product_scd2_initial_state(wh):
    prod = wh.read("ods", "product")
    assert prod.filter(F.col("CURRENT_FLAG") == 1).count() == 42
    # surrogate PIDs are dense 1..42 over PRODUCTID order
    pids = sorted(r["PID"] for r in prod.collect())
    assert pids == list(range(1, 43))
    assert prod.filter(F.col("expire_timestamp").isNotNull()).count() == 0


def test_dw_fact_counts_and_orphan_drop(wh, spark, bikes_source):
    import duckdb

    con = duckdb.connect()
    # oracle straight off the CSVs: inner join drops the 5 orphan items
    expected = con.execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT oi.PRODUCTID, o.Date FROM
            read_csv_auto('{bikes_source}/SalesOrderItems.csv') oi
            JOIN read_csv_auto('{bikes_source}/SalesOrder.csv', types={{'Date':'VARCHAR'}}) o
            USING (SalesOrderID)
          GROUP BY oi.PRODUCTID, o.Date)
        """
    ).fetchone()[0]
    fct = wh.read("dw", "prdct_sm_fct")
    assert fct.count() == expected

    total_amt = fct.agg(F.sum("Sale_Amt")).first()[0]
    oracle_amt = con.execute(
        f"""
        SELECT SUM(GROSSAMOUNT) FROM read_csv_auto('{bikes_source}/SalesOrderItems.csv') oi
        WHERE EXISTS (SELECT 1 FROM read_csv_auto('{bikes_source}/SalesOrder.csv',
                      types={{'Date':'VARCHAR'}}) o
                      WHERE o.SalesOrderID = oi.SalesOrderID)
        """
    ).fetchone()[0]
    assert total_amt == oracle_amt

    assert wh.read("dw", "ordr_sm_fct").count() == 334
    # order-detail grain: distinct (order, product) pairs of non-orphans
    assert wh.read("dw", "cust_dim").count() == 70
    assert wh.read("dw", "str_dim").count() == 20
    assert wh.read("dw", "prdct_dim").count() == 42


def test_fact_reads_prune_partitions(wh):
    """Facts are hive-partitioned on Act_Perd_Dt (SURVEY §4): the
    warehouse directory must hold per-date partition dirs, and a
    date-filtered read must carry the predicate as a PartitionFilter
    (pruned before file listing) — the property that makes a one-day
    query on a 100 TB fact table read one day's files."""
    fact_dir = wh._path("dw", "ordr_sm_fct")
    part_dirs = [d for d in os.listdir(fact_dir) if d.startswith("Act_Perd_Dt=")]
    assert len(part_dirs) > 1

    df = wh.read("dw", "ordr_sm_fct")
    one_day = dt.date(2021, 5, 2)
    q = df.filter(F.col("Act_Perd_Dt") == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "Act_Perd_Dt" in pf
    # the partition column never reaches the data-filter path
    if "PushedFilters:" in plan:
        pushed = plan.split("PushedFilters:")[1].splitlines()[0]
        assert "Act_Perd_Dt" not in pushed
    # and the partitioned round-trip preserves the rows
    assert q.count() == df.where(F.col("Act_Perd_Dt") == one_day).count()


def test_ordr_sm_fct_conditional_splits(wh, bikes_source):
    import duckdb

    f = wh.read("dw", "ordr_sm_fct")
    tot = f.agg(
        F.sum("On_Ordr_Cnt").alias("on"),
        F.sum("Off_Ordr_Cnt").alias("off"),
        F.sum("Ordr_Amt").alias("amt"),
        F.sum("On_Ordr_Amt").alias("on_amt"),
        F.sum("Off_Ordr_Amt").alias("off_amt"),
    ).first()
    # oracle straight off the fixture's SalesOrder.csv; on the
    # reference it is 187 Online / 147 Offline (SURVEY §1.4)
    on, off = duckdb.connect().execute(
        f"""
        SELECT COUNT(*) FILTER (WHERE Ordertype = 'Online'),
               COUNT(*) FILTER (WHERE Ordertype = 'Offline')
        FROM read_csv_auto('{bikes_source}/SalesOrder.csv')
        """
    ).fetchone()
    assert tot["on"] == on and tot["off"] == off
    assert tot["amt"] == tot["on_amt"] + tot["off_amt"]


def test_act_perd_dim_flags(wh):
    dim = wh.read("dw", "act_perd_dim")
    # as-of 2022-01-15 (Sat): current week starts Sun 2022-01-09;
    # reference CW flag is open-ended Date > week start
    rows = {r["Act_Perd_Dt"]: r for r in dim.collect()}
    assert rows[dt.date(2022, 1, 10)]["Act_Perd_CW"] == "Y"
    assert rows[dt.date(2022, 1, 9)]["Act_Perd_CW"] == "N"  # strict >
    assert rows[dt.date(2022, 1, 3)]["Act_Perd_PW"] == "Y"
    assert rows[dt.date(2021, 6, 1)]["Act_Perd_CYTD"] == "N"
    assert rows[dt.date(2021, 6, 1)]["Act_Perd_PYTD"] == "Y"
    assert rows[dt.date(2022, 1, 1)]["Act_Perd_Yr_Mo_Nbr"] == 202201


def test_pipeline_idempotent_and_incremental(spark, wh, bikes_source):
    """Second run with identical inputs: ODS unchanged, incremental
    facts gain zero rows, SCD2 creates no new versions (E:74-75 intent)."""
    before = {
        t: wh.read(*t.split("/")).count()
        for t in ["ods/customer", "ods/product", "dw/ordr_sm_fct", "dw/ordr_dtl_fct"]
    }
    p2 = BikesPipeline(wh.spark, bikes_source, wh.warehouse_dir, AS_OF, "2022-01-16 18:00:00")
    p2.run()
    after = {
        t: wh.read(*t.split("/")).count()
        for t in ["ods/customer", "ods/product", "dw/ordr_sm_fct", "dw/ordr_dtl_fct"]
    }
    assert before == after


def test_scd2_price_change_second_batch(spark, tmp_path_factory, bikes_source):
    """A modified Product.csv batch: changed PRICE → expire + new
    version; everything else untouched."""
    whdir = str(tmp_path_factory.mktemp("bikes_wh_scd2"))
    p = BikesPipeline(spark, bikes_source, whdir, AS_OF, RUN_TS)
    p.run()

    # batch 2: bump the price of RO-1001, keep everything else
    src2 = str(tmp_path_factory.mktemp("batch2"))
    for f in os.listdir(bikes_source):
        shutil.copy(os.path.join(bikes_source, f), src2)
    rows = list(csv.reader(open(os.path.join(src2, "Product.csv"))))
    for r in rows[1:]:
        if r[0] == "RO-1001":
            r[3] = str(int(r[3]) + 100)
    with open(os.path.join(src2, "Product.csv"), "w", newline="") as fh:
        csv.writer(fh).writerows(rows)

    p2 = BikesPipeline(spark, src2, whdir, AS_OF, "2022-02-01 09:00:00")
    p2.load_ods()
    prod = p2.read("ods", "product")
    assert prod.count() == 43  # one new version row
    ro = prod.filter(F.col("PRODUCTID") == "RO-1001").collect()
    assert len(ro) == 2
    cur = [r for r in ro if r["CURRENT_FLAG"] == 1][0]
    old = [r for r in ro if r["CURRENT_FLAG"] == 0][0]
    assert cur["PRICE"] == old["PRICE"] + 100
    assert str(old["expire_timestamp"]) == "2022-02-01 09:00:00"
    assert cur["PID"] == 43  # surrogate continues past max
    # single-current invariant across all keys
    assert prod.filter(F.col("CURRENT_FLAG") == 1).count() == 42

    # Prdct_Dim flattens only current versions
    p2.refresh_dw()
    dim = p2.read("dw", "prdct_dim")
    assert dim.count() == 42
    assert dim.filter(F.col("Prdct_ID") == "RO-1001").first()["Prdct_Cst"] == cur["PRICE"]


def test_partitioned_facts_are_clustered_one_file_per_date(wh):
    """The partitioned-write path must repartition on the partition
    key first: without it every write task opens a file per date
    (tasks x dates small files — a listing-time DoS at 100 TB). With
    clustering, each Act_Perd_Dt directory holds exactly the files of
    the task(s) that own that date — at test scale, one part file per
    date (plus the odd AQE-coalesced second), never ~n_tasks files."""
    fact_dir = wh._path("dw", "ordr_dtl_fct")
    part_dirs = [
        d for d in os.listdir(fact_dir) if d.startswith("Act_Perd_Dt=")
    ]
    assert part_dirs, "fact must be hive-partitioned on Act_Perd_Dt"
    worst = 0
    for d in part_dirs:
        n = len(
            [
                f
                for f in os.listdir(os.path.join(fact_dir, d))
                if f.endswith(".parquet")
            ]
        )
        worst = max(worst, n)
    assert worst <= 2, (
        f"partition dirs hold up to {worst} part files — the "
        "repartition-before-partitionBy clustering regressed"
    )
