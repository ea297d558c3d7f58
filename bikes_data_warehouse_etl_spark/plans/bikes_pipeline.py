"""End-to-end bikes warehouse pipeline (reference parity, SURVEY §3).

Orchestrates the two reference entry points as one engine:

* ``load_ods()``   — ETLScript_withSCDimplementation.py: CSV extracts →
  cleaned ODS tables with SCD1 (8 tables) / SCD2 (Product) merge
  against the previous state.
* ``refresh_dw()`` — BikesDWSQl.sql: the 7 fact/dim builders, full
  refresh or anti-join-incremental per table.

Storage is plain parquet under ``warehouse_dir/{ods,dw}/<table>``.
Every write of all 17 tables — full refreshes, SCD merges and the two
facts' anti-join appends — goes through one crash-consistent
manifest-pointer commit (``sources/snapshot.table_write``): the new
state is written to a fresh immutable snapshot dir (an append starts
as hard links to the live snapshot's files), and the table path — a
symlink — is atomically retargeted, so a crash at ANY step leaves a
complete readable snapshot (fault-injection-tested in
tests/test_snapshot_swap.py). On a cluster/object store you would swap
this for a Delta/Iceberg writer and keep every plan unchanged.

Determinism: a single ``run_ts``/``as_of_date`` pair threads through
every builder (the reference calls ``getdate()`` in 7+ places —
SURVEY §1.5.3/§7.4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from bikes_data_warehouse_etl_spark.operators.merge import scd1_merge, scd2_merge
from bikes_data_warehouse_etl_spark.plans import bikes_dw, bikes_ods
from bikes_data_warehouse_etl_spark.plans.date_dim import build_date_dim
from bikes_data_warehouse_etl_spark.sources import snapshot
from bikes_data_warehouse_etl_spark.sources.csv import read_source_csv
from bikes_data_warehouse_etl_spark.sources.sinks import write_partitioned

# (csv file stem, ods table name, cleaning fn, scd1 business key)
SCD1_TABLES = [
    ("Customer", "customer", bikes_ods.clean_customer, ["customer_id"]),
    ("Address", "address", bikes_ods.clean_address, ["ADDRESSID"]),
    ("BusinessPartner", "businesspartner", bikes_ods.clean_business_partner, ["PARTNERID"]),
    ("ProductCategory", "productcategory", bikes_ods.clean_product_category, ["PRODCATEGORYID"]),
    ("ProductDetail", "productdetail", bikes_ods.clean_product_detail, ["PRODUCTID"]),
    ("Store", "store", bikes_ods.clean_store, ["StoreID"]),
    ("SalesOrder", "salesorder", bikes_ods.clean_sales_order, ["SalesOrderID"]),
    ("SalesOrderItems", "salesorderitems", bikes_ods.clean_sales_order_items, ["SalesOrderItemsID"]),
]


class BikesPipeline:
    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        warehouse_dir: str,
        as_of_date: str,
        run_ts: str,
    ) -> None:
        self.spark = spark
        self.source_dir = source_dir
        self.warehouse_dir = warehouse_dir
        self.as_of_date = as_of_date
        self.run_ts = run_ts

    # ---------------- storage helpers ----------------
    def _path(self, layer: str, table: str) -> str:
        return os.path.join(self.warehouse_dir, layer, table)

    def _exists(self, layer: str, table: str) -> bool:
        return os.path.isdir(self._path(layer, table))

    def read(self, layer: str, table: str) -> DataFrame:
        """The table's committed state. Repairs first: after a crash
        between a commit's manifest write and its symlink flip, the
        symlink still names the previous snapshot, and an append or
        merge computed from it would apply the committed day twice."""
        path = self._path(layer, table)
        snapshot.repair_table(path)
        return self.spark.read.parquet(path)

    def _replace_dir(
        self,
        df: DataFrame,
        path: str,
        partition_cols: list[str] | None = None,
    ) -> None:
        """Write a fresh snapshot dir, then commit it crash-safely
        (manifest + atomic symlink flip, ``sources/snapshot.py``).

        Required whenever the new state is derived from a scan of the
        old state (merges): Spark cannot overwrite a path it is
        reading — and readers must never observe a missing or partial
        table. Local-FS stand-in for a transactional table format.
        """
        with snapshot.table_write(path) as staged:
            write_partitioned(df, staged, partition_cols)

    def _write(
        self,
        df: DataFrame,
        layer: str,
        table: str,
        mode: str,
        partition_cols: list[str] | None = None,
    ) -> None:
        path = self._path(layer, table)
        if mode == "append":
            # the incremental facts: the staged snapshot starts as hard
            # links to the live one's files and Spark appends the new
            # rows beside them, so an append commits through the same
            # manifest flip as a full refresh and never writes in place
            with snapshot.table_write(path, append=True) as staged:
                write_partitioned(df, staged, partition_cols, "append")
        else:
            # overwrite goes through the snapshot commit too: Spark's
            # native overwrite deletes the live path before writing,
            # which would expose concurrent readers to a missing table
            # for the whole write duration.
            self._replace_dir(df, path, partition_cols)

    # ---------------- ODS load (entry point 1) ----------------
    def load_ods(self) -> None:
        """Clean + SCD-merge all nine source tables into the ODS."""
        # 8 SCD1 tables (ref tables at E:19..:720, Customer..SalesOrderItems)
        for csv_name, table, fn, keys in SCD1_TABLES:
            raw = read_source_csv(
                self.spark, os.path.join(self.source_dir, f"{csv_name}.csv"), csv_name
            )
            src = fn(raw, self.as_of_date) if table == "customer" else fn(raw)
            if self._exists("ods", table):
                merged = scd1_merge(self.read("ods", table), src, keys)
                self._replace_dir(merged, self._path("ods", table))
            else:
                self._write(src, "ods", table, "overwrite")

        # Product: SCD2 (ref E:630-717)
        raw = read_source_csv(
            self.spark, os.path.join(self.source_dir, "Product.csv"), "Product"
        )
        src = raw.dropDuplicates()
        if self._exists("ods", "product"):
            merged = scd2_merge(
                self.read("ods", "product"),
                src,
                keys=["PRODUCTID"],
                compare_cols=["PRODCATEGORYID", "PARTNERID", "PRICE"],
                run_ts=self.run_ts,
                high_ts=None,
                current_col="CURRENT_FLAG",
                surrogate="PID",
            )
            self._replace_dir(merged, self._path("ods", "product"))
        else:
            self._write(
                bikes_ods.product_scd2_initial(src, self.run_ts),
                "ods",
                "product",
                "overwrite",
            )

        # DATETAB date spine (ref Createtables_BIKES.sql:5-28):
        # [as_of - 5y, as_of + 1y]
        import datetime as dt

        as_of = dt.date.fromisoformat(self.as_of_date)
        spine = build_date_dim(
            self.spark,
            as_of - dt.timedelta(days=366 * 5),
            as_of + dt.timedelta(days=365),
        )
        self._write(spine, "ods", "datetab", "overwrite")

    # ---------------- DW refresh (entry point 3) ----------------
    # Facts are hive-partitioned on the activity date (SURVEY §4: the
    # scale design for a daily-refresh warehouse). A day's incremental
    # append touches only that day's directory, and any reader
    # filtering on Act_Perd_Dt prunes partitions BEFORE file listing
    # (PartitionFilters in the scan — pinned by
    # test_fact_reads_prune_partitions). At 100 TB you would nest
    # year/date; at test scale one level keeps directory counts sane.
    FACT_PARTITION_COLS = ["Act_Perd_Dt"]

    def refresh_dw(self) -> None:
        """The seven warehouse statements in reference order."""
        orders = self.read("ods", "salesorder")
        items = self.read("ods", "salesorderitems")

        # 1. Prdct_Sm_Fct — full refresh
        self._write(
            bikes_dw.build_prdct_sm_fct(items, orders, self.run_ts),
            "dw", "prdct_sm_fct", "overwrite",
            partition_cols=self.FACT_PARTITION_COLS,
        )

        # 2. Ordr_Sm_Fct — incremental (appends only new order ids)
        existing = self.read("dw", "ordr_sm_fct") if self._exists("dw", "ordr_sm_fct") else None
        self._write(
            bikes_dw.build_ordr_sm_fct(orders, existing, self.run_ts),
            "dw", "ordr_sm_fct", "append",
            partition_cols=self.FACT_PARTITION_COLS,
        )

        # 3. Ordr_Dtl_Fct — incremental, composite key
        existing = self.read("dw", "ordr_dtl_fct") if self._exists("dw", "ordr_dtl_fct") else None
        self._write(
            bikes_dw.build_ordr_dtl_fct(items, orders, existing, self.run_ts),
            "dw", "ordr_dtl_fct", "append",
            partition_cols=self.FACT_PARTITION_COLS,
        )

        # 4-7. dimensions — full refresh
        self._write(
            bikes_dw.build_cust_dim(self.read("ods", "customer"), self.run_ts),
            "dw", "cust_dim", "overwrite",
        )
        self._write(
            bikes_dw.build_str_dim(
                self.read("ods", "store"), self.read("ods", "address"), self.run_ts
            ),
            "dw", "str_dim", "overwrite",
        )
        self._write(
            bikes_dw.build_prdct_dim(
                self.read("ods", "product"),
                self.read("ods", "productcategory"),
                self.read("ods", "productdetail"),
                self.read("ods", "businesspartner"),
                self.read("ods", "address"),
                self.run_ts,
            ),
            "dw", "prdct_dim", "overwrite",
        )
        self._write(
            bikes_dw.build_act_perd_dim(
                self.read("ods", "datetab"), self.as_of_date, self.run_ts
            ),
            "dw", "act_perd_dim", "overwrite",
        )

    def run(self) -> None:
        self.load_ods()
        self.refresh_dw()
