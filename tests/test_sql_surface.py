"""The SQL twins of every DW builder produce identical results to the
DataFrame implementations (migration guarantee for reference users)."""

from __future__ import annotations

import pytest

from bikes_data_warehouse_etl_spark.plans import bikes_dw
from bikes_data_warehouse_etl_spark.plans.bikes_pipeline import BikesPipeline
from bikes_data_warehouse_etl_spark.sql_surface import (
    dw_sql,
    register_ods_views,
    run_dw_sql,
)

AS_OF = "2022-01-15"
RUN_TS = "2022-01-15 18:00:00"


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory, bikes_source):
    whdir = str(tmp_path_factory.mktemp("bikes_wh_sql"))
    p = BikesPipeline(spark, bikes_source, whdir, AS_OF, RUN_TS)
    p.run()
    register_ods_views(p)
    return p


def _df_builder(wh, name):
    if name == "prdct_sm_fct":
        return bikes_dw.build_prdct_sm_fct(
            wh.read("ods", "salesorderitems"), wh.read("ods", "salesorder"), RUN_TS
        )
    if name == "ordr_sm_fct":
        return bikes_dw.build_ordr_sm_fct(wh.read("ods", "salesorder"), None, RUN_TS)
    if name == "ordr_dtl_fct":
        return bikes_dw.build_ordr_dtl_fct(
            wh.read("ods", "salesorderitems"), wh.read("ods", "salesorder"), None, RUN_TS
        )
    if name == "cust_dim":
        return bikes_dw.build_cust_dim(wh.read("ods", "customer"), RUN_TS)
    if name == "str_dim":
        return bikes_dw.build_str_dim(
            wh.read("ods", "store"), wh.read("ods", "address"), RUN_TS
        )
    if name == "prdct_dim":
        return bikes_dw.build_prdct_dim(
            wh.read("ods", "product"),
            wh.read("ods", "productcategory"),
            wh.read("ods", "productdetail"),
            wh.read("ods", "businesspartner"),
            wh.read("ods", "address"),
            RUN_TS,
        )
    if name == "act_perd_dim":
        return bikes_dw.build_act_perd_dim(wh.read("ods", "datetab"), AS_OF, RUN_TS)
    raise KeyError(name)


@pytest.mark.parametrize("name", sorted(dw_sql(RUN_TS, AS_OF)))
def test_sql_twin_equals_dataframe_builder(spark, wh, name):
    sql_df = run_dw_sql(spark, name, RUN_TS, AS_OF)
    api_df = _df_builder(wh, name)
    assert sql_df.columns == api_df.columns
    sql_rows = sorted(map(tuple, sql_df.collect()))
    api_rows = sorted(map(tuple, api_df.collect()))
    assert sql_rows == api_rows
