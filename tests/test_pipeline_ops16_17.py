"""Behavior + plan-shape tests for plans/pipeline_ops16.py and
pipeline_ops17.py (TPC-H adaptation shapes, triangle census, anomaly
flags, Benford, length gate, dim profile; Pareto frontier, growth
accounting, attribution, YoY, MAD).

The DuckDB-oracle gate (test_queries_oracle.py) covers end-to-end
equality; these tests pin the EDGE SEMANTICS the oracle data may not
exercise (dominance ties, even/odd medians) and the scale-critical
plan shapes the docstrings promise."""

from __future__ import annotations

import pandas as pd

from bikes_data_warehouse_etl_spark.plans import QUERIES


def _run(spark, sf_dir, name: str) -> pd.DataFrame:
    return QUERIES[name].spark(spark, sf_dir).toPandas()


def _plan(spark, sf_dir, name: str) -> str:
    return (
        QUERIES[name]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


# ---------------------------------------------------------------------------
# Pareto frontier: dominance semantics on ties
# ---------------------------------------------------------------------------
def _frontier(spark, points):
    """Run the pareto window formulation on hand-built points."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    pts = spark.createDataFrame(points, "supplier string, x long, y long")
    w_gt = Window.orderBy(F.col("x").desc()).rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_ge = Window.orderBy(F.col("x").desc()).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = (
        pts.select(
            "supplier",
            "x",
            "y",
            F.max("y").over(w_gt).alias("gt"),
            F.max("y").over(w_ge).alias("ge"),
        )
        .filter(
            (F.coalesce(F.col("gt"), F.lit(-(2**63))) < F.col("y"))
            & (F.col("ge") <= F.col("y"))
        )
        .select("supplier")
        .toPandas()
    )
    return set(out["supplier"])


def test_pareto_tie_semantics(spark):
    # b dominated by a (same x, higher y); c undominated (lower x, higher y);
    # d dominated on both axes strictly; e duplicate point of a -> both kept
    # (neither dominates the other: no strict inequality)
    pts = [
        ("a", 10, 5),
        ("b", 10, 3),
        ("c", 7, 8),
        ("d", 6, 2),
        ("e", 10, 5),
    ]
    assert _frontier(spark, pts) == {"a", "c", "e"}


def test_pareto_single_and_monotone(spark):
    assert _frontier(spark, [("solo", 1, 1)]) == {"solo"}
    # strictly anti-monotone chain: everyone on the frontier
    chain = [(f"s{i}", i, 10 - i) for i in range(5)]
    assert _frontier(spark, chain) == {f"s{i}" for i in range(5)}


def test_pareto_suppliers_no_self_join(spark, sf_dir):
    """The dominance test must stay a window, never an O(n^2) join."""
    plan = _plan(spark, sf_dir, "pareto_suppliers")
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") == 0


# ---------------------------------------------------------------------------
# MAD: lower-median parity handling
# ---------------------------------------------------------------------------
def test_mad_matches_python(spark, sf_dir):
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    # dollar-granularity contract (histogram bounded by price domain)
    import numpy as np

    dollars = pd.Series(np.floor(orders["o_totalprice"]).astype("int64"))

    def lower_median(s):
        s = s.sort_values().reset_index(drop=True)
        n = len(s)
        # smallest value with 2*cum >= n + n%2  (rank ceil((n+parity)/2))
        return int(s.iloc[(n + n % 2 + 1) // 2 - 1])

    med = lower_median(dollars)
    dev = (dollars - med).abs()
    mad = lower_median(dev)
    out = _run(spark, sf_dir, "mad_price_outliers").iloc[0]
    assert out["med_dollars"] == med
    assert out["mad_dollars"] == mad
    assert out["n_orders"] == len(dollars)
    assert out["n_outliers"] == int((dev > 3 * mad).sum())


# ---------------------------------------------------------------------------
# Attribution: window partitioning reuse (docstring promise)
# ---------------------------------------------------------------------------
def test_linear_attribution_single_user_exchange(spark, sf_dir):
    """The (user_id, next_p) touch-count window must reuse the
    user_id exchange of the forward-min window: HashPartitioning on a
    SUBSET of the clustering keys satisfies ClusteredDistribution, so
    no hashpartitioning(user_id, next_p) exchange may appear."""
    plan = _plan(spark, sf_dir, "linear_attribution")
    assert "next_p" not in _exchanges(plan)


def _exchanges(plan: str) -> str:
    return "\n".join(
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )


# ---------------------------------------------------------------------------
# Triangle census: hand-built graph with a known count
# ---------------------------------------------------------------------------
def test_new_vs_returning_invariants(spark, sf_dir):
    out = _run(spark, sf_dir, "new_vs_returning_users")
    assert (out["n_active"] == out["n_new"] + out["n_returning"]).all()
    # total n_new across all days == number of distinct users
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    assert out["n_new"].sum() == ev["user_id"].nunique()
    # first day of the corpus has zero returning users
    first = out.sort_values("day").iloc[0]
    assert first["n_returning"] == 0


def test_daily_anomaly_flag_math(spark, sf_dir):
    out = _run(spark, sf_dir, "daily_anomaly_flags").sort_values("day")
    # the z-test contract runs on kilodollar-floored values (overflow
    # headroom to ~$1e11/day; see the query docstring)
    dk = (out["dollars"].to_numpy() // 1000).astype(object)
    flags = out["anomaly"].to_numpy()
    n = len(dk)
    for i in range(n):
        lo = max(0, i - 28)
        prev = dk[lo:i]
        k = len(prev)
        if k < 8:
            assert flags[i] == 0
            continue
        s = int(prev.sum())
        ssq = int((prev ** 2).sum())
        dev = k * int(dk[i]) - s
        expected = 1 if dev * dev > 9 * (k * ssq - s * s) else 0
        assert flags[i] == expected, f"day index {i}"


def test_benford_shares_sum(spark, sf_dir):
    out = _run(spark, sf_dir, "benford_price_audit")
    assert set(out["digit"]) == set(range(1, 10))
    # integer-division shares: within 9 bp of 10000 from floor rounding
    assert 10000 - 9 <= out["share_bp"].sum() <= 10000
    assert (out["delta_bp"] == out["share_bp"] - out["benford_bp"]).all()


def test_length_gate_band(spark, sf_dir):
    out = _run(spark, sf_dir, "length_outlier_gate")
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    for _, row in out.iterrows():
        n = int((docs["lang"] == row["lang"]).sum())
        assert row["n_docs"] == n
        assert row["n_kept"] + row["n_cut_short"] + row["n_cut_long"] == n
        # the gate keeps ~90% — but RANK ties drop whole tie-groups, so
        # the bound only stabilizes once a language has real volume
        if n >= 100:
            assert row["n_kept"] >= 0.88 * n
        else:
            assert row["n_kept"] >= 1


def test_pair_packing_guard_raises_on_domain_overflow(spark):
    """functions/packing.py: a key outside [0, 2^31) must FAIL the
    query loudly (assert_true) instead of silently merging distinct
    pairs — the ADVICE r6 domain-growth trap."""
    import pytest

    from bikes_data_warehouse_etl_spark.functions import packing

    ok = spark.createDataFrame(
        [([1, 5, 9],)], "arr array<long>"
    ).select(packing.explode_packed_pairs("arr"))
    got = sorted(r["ab"] for r in ok.collect())
    assert got == [(1 << 32) + 5, (1 << 32) + 9, (5 << 32) + 9]

    bad = spark.createDataFrame(
        [([1, 1 << 31],)], "arr array<long>"
    ).select(packing.explode_packed_pairs("arr"))
    with pytest.raises(Exception) as ei:
        bad.collect()
    assert "pair packing" in str(ei.value)
