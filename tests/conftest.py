from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# the reference's nine SourceData CSVs, where a checkout of it is present
REFERENCE_SOURCE = "/root/reference/SourceData"

# Tests commit snapshots seconds apart and assert count-retention GC
# outcomes; the production time floor (SPARK_GRAFT_SNAPSHOT_MIN_AGE,
# default 600 s) would keep everything and mask those assertions. Zero
# it here; the time-floor tests opt back in via monkeypatch.setenv.
os.environ.setdefault("SPARK_GRAFT_SNAPSHOT_MIN_AGE", "0")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # fewer local threads + shuffle partitions → faster test startup;
    # semantics are identical to the scale configuration
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    from bikes_data_warehouse_etl_spark.session import get_spark

    s = get_spark(
        "tests",
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("spark_wh"))
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def bikes_source(tmp_path_factory) -> str:
    """Directory of the nine bikes source CSVs (FIXTURES.md section 1).

    The reference's own SourceData where it exists; otherwise the seeded
    day-1 extract of ``perfbench.bikes_source``, which has the reference
    row counts and its load-bearing quirks."""
    if os.path.isdir(REFERENCE_SOURCE):
        return REFERENCE_SOURCE
    from perfbench.bikes_source import BikesSource, write_extract

    out = str(tmp_path_factory.mktemp("bikes_source"))
    write_extract(BikesSource(1, replicas=1).day1_rows(), out)
    return out
