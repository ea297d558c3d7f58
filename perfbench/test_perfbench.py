"""Tests of the benchmark itself, on its smoke scale.

    python3 -m pytest perfbench/ -q

The generator tests need no Spark; the end-to-end test runs every
workload of BENCHMARK.json once in ``--smoke`` mode, with and without
tracing, and checks the result line against the metric lists there.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import bikes_source, star_source  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_bikes_source_matches_reference_shape():
    src = bikes_source.BikesSource(seed=3, replicas=1)
    rows = src.day1_rows()
    counts = {t: len(r) for t, r in rows.items()}
    assert counts == {
        "Customer": 71, "Address": 52, "BusinessPartner": 38,
        "ProductCategory": 9, "Product": 42, "ProductDetail": 42,
        "Store": 20, "SalesOrder": 334, "SalesOrderItems": 1935,
    }
    tens = [r for r in rows["Customer"] if r[0] == 10]
    assert len(tens) == 2 and tens[0][:5] == tens[1][:5] and tens[0] != tens[1]
    orphans = [r for r in rows["SalesOrderItems"]
               if r[2] == bikes_source.ORPHAN_ORDER]
    assert len(orphans) == 5
    assert bikes_source.ORPHAN_ORDER not in {r[0] for r in rows["SalesOrder"]}


def test_bikes_source_edges_boms_and_day2(tmp_path):
    src = bikes_source.BikesSource(seed=3, replicas=2)
    d1, d2 = src.day1_rows(), src.day2_rows()
    bikes_source.write_extract(d1, str(tmp_path))
    for t in bikes_source.TABLES:
        head = (tmp_path / f"{t}.csv").read_bytes()[:3]
        assert (head == b"\xef\xbb\xbf") == (t in bikes_source.BOM_TABLES)
    dobs = {r[4] for r in d1["Customer"]}
    for years in (18, 30, 40, 50, 60, 70, 120):
        assert f"15-01-{2022 - years}" in dobs  # birthday on the as-of date
    assert len(d1["SalesOrder"]) == 2 * 334
    new = len(d2["SalesOrder"]) - len(d1["SalesOrder"])
    assert new == 2 * 334 // 100
    # 10 renamed customers, 9 repriced products (x2 rows), 1% fact changes
    assert bikes_source.ods_changes(d1, d2) > 10 + 2 * 9 + new
    # the same extract a day later still updates every customer whose age
    # moves with the as-of date, at least one per age-bucket edge
    assert bikes_source.ods_changes(d1, d1) >= 7
    assert src.day1_rows() == d1  # generation is a pure function of the seed
    assert bikes_source.BikesSource(3, 2).day2_rows() == d2


def test_star_source_is_seeded():
    a = star_source.build_tables(5, 0.001)
    b = star_source.build_tables(5, 0.001)
    c = star_source.build_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in star_source.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500


def test_star_source_shape_follows_the_test_data(tmp_path):
    """At sf 0.01 the repository's test data has a complete co-order
    graph over its 100 suppliers (every pair shares at least 4 orders,
    the graph queries' edge rule), 25 near-duplicate documents among 500
    distinct ones, and 10 embedding labels."""
    import duckdb

    t = star_source.build_tables(5, 0.01)
    lineitem, documents = t["lineitem"], t["documents"]  # noqa: F841
    (edges,) = duckdb.sql("""
        SELECT COUNT(*) FROM (
          SELECT a.l_suppkey, b.l_suppkey FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
          GROUP BY ALL HAVING COUNT(DISTINCT a.l_orderkey) >= 4)
    """).fetchone()
    assert edges == 100 * 99 // 2
    texts = documents["text"].to_pylist()
    assert len(set(texts)) == 500
    assert sum(" dup" in x for x in texts) == 25
    assert len(set(t["embeddings"]["label"].to_pylist())) == 10

    star_source.write_event_files(t["events"], str(tmp_path / "ev"), 4)
    files = sorted((tmp_path / "ev").iterdir())
    assert [f.name for f in files] == [f"part-00{k}.parquet" for k in range(4)]
    mtimes = [f.stat().st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_reports_every_metric(workload, trace):
    r = _run(workload, trace)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in r["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in r["metrics"].values())
