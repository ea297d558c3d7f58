"""Behavior tests for plans/pipeline_ops35.py (conformal band, link
prediction, Theil–Sen).

The DuckDB-oracle gate covers end-to-end equality; these pin conformal
coverage semantics, non-adjacency of predicted links, and Theil–Sen's
robustness to an outlier OLS would chase."""

from __future__ import annotations

import datetime

import pandas as pd

from bikes_data_warehouse_etl_spark.plans import QUERIES


def _run(spark, sf_dir, name: str) -> pd.DataFrame:
    return QUERIES[name].spark(spark, sf_dir).toPandas()


def _write_orders(spark, tmp, series, start=datetime.date(2020, 1, 1)):
    import os

    rows = [
        (i + 1, float(v * 1000), start + datetime.timedelta(days=i))
        for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_totalprice double, o_orderdate date"
    )
    df.write.parquet(os.path.join(tmp, "orders.parquet"))


# ---------------------------------------------------------------------------
# Conformal band
# ---------------------------------------------------------------------------
def test_conformal_counts_and_coverage_range(spark, sf_dir):
    out = _run(spark, sf_dir, "conformal_forecast_band").iloc[0]
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    days = set(
        (pd.to_datetime(orders["o_orderdate"]).dt.normalize()
         - pd.Timestamp("1970-01-01")).dt.days
    )
    n_scored = sum(1 for d in days if d - 7 in days)
    assert out["n_calib"] + out["n_test"] == n_scored
    assert out["n_calib"] == (n_scored * 7) // 10
    assert 0 <= out["coverage_bp"] <= 10000
    assert out["q95_resid_kc"] >= 0


def test_conformal_stationary_series_covers(spark):
    """On an i.i.d.-residual series, held-out coverage of the q95 band
    lands near 95%."""
    import tempfile

    rng = [17, 23, 19, 29, 21, 25, 18, 27]  # deterministic pseudo-noise
    series = [100 + rng[i % 8] for i in range(400)]
    with tempfile.TemporaryDirectory() as tmp:
        _write_orders(spark, tmp, series)
        out = _run(spark, tmp, "conformal_forecast_band").iloc[0]
        # period-8 noise scored by a lag-7 forecast cycles through all
        # residual values in both eras -> coverage >= 80% easily
        assert out["coverage_bp"] >= 8000


# ---------------------------------------------------------------------------
# Link prediction
# ---------------------------------------------------------------------------
def test_link_predictions_are_nonedges_with_verified_counts(spark):
    """Python re-derivation of the DEGREE-CAPPED wedge census: each
    center contributes wedges only among its 64 hash-rank-first kept
    neighbors (`capped_adjacency`), so cn(p, q) counts centers whose
    kept set holds BOTH endpoints."""
    from bikes_data_warehouse_etl_spark.plans.pipeline_ops16 import (
        _HASH_MOD,
        _HASH_MULT,
        _WEDGE_DEG_CAP,
        co_order_edges,
    )

    sf = "/root/testdata/sf0.1"
    out = _run(spark, sf, "link_prediction_cn")
    e = co_order_edges(spark, sf).toPandas()
    edges = set(zip(e["a"], e["b"]))
    import collections

    nbrs = collections.defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    kept = {
        v: set(
            sorted(us, key=lambda u: ((u * _HASH_MULT) % _HASH_MOD, u))[
                :_WEDGE_DEG_CAP
            ]
        )
        for v, us in nbrs.items()
    }
    cn = collections.Counter()
    for v, us in kept.items():
        for p in us:
            for q in us:
                if p < q:
                    cn[(p, q)] += 1
    assert len(out) > 0
    for _, r in out.iterrows():
        pair = (r["id_a"], r["id_b"])
        assert pair not in edges  # predicted links are non-edges
        assert r["id_a"] < r["id_b"]
        assert r["common_neighbors"] == cn[pair]


# ---------------------------------------------------------------------------
# Theil–Sen
# ---------------------------------------------------------------------------
def test_theil_sen_ignores_outlier_ols_chases(spark):
    import tempfile

    base = [100 + i for i in range(60)]  # slope exactly +1 kc/day
    spiked = list(base)
    spiked[30] = 100000  # one wild day
    with tempfile.TemporaryDirectory() as tmp:
        _write_orders(spark, tmp, spiked)
        out = _run(spark, tmp, "theil_sen_trend").iloc[0]
        assert out["n_days"] == 60
        assert out["n_pairs"] == 60 * 59 // 2
        # units: value v -> v*1000 dollars -> v*100 kc, so the base
        # trend is exactly 100 kc/day = 100000 milli; all 1711
        # non-spike pairs share that exact slope, so the median
        # ignores the spike completely (OLS would shift by ~the spike
        # mass over n)
        assert out["theil_sen_milli_kc_per_day"] == 100000
