"""Behavior tests for plans/pipeline_ops26.py (k-means Lloyd step,
integer BM25, hybrid RRF fusion, temporal embargo split).

The DuckDB-oracle gate covers end-to-end equality; these pin the
SEMANTIC INVARIANTS each query promises — partition totality for the
Lloyd assignment, BM25 monotonicity in tf, the RRF formula itself, and
the embargo band's strict temporal ordering."""

from __future__ import annotations

import pandas as pd

from bikes_data_warehouse_etl_spark.plans import QUERIES
from bikes_data_warehouse_etl_spark.plans.pipeline_ops26 import (
    _BM25_TERMS,
    _KM_K,
    _RRF_K,
    _bm25_scored,
)


def _run(spark, sf_dir, name: str) -> pd.DataFrame:
    return QUERIES[name].spark(spark, sf_dir).toPandas()


# ---------------------------------------------------------------------------
# k-means Lloyd step
# ---------------------------------------------------------------------------
def test_kmeans_partitions_all_vectors(spark, sf_dir):
    out = _run(spark, sf_dir, "kmeans_lloyd_step")
    n_vecs = pd.read_parquet(f"{sf_dir}/embeddings.parquet").shape[0]
    # every vector is assigned to exactly one cluster
    assert out["n_vecs"].sum() == n_vecs
    # clusters are (a subset of) the k smallest vec_ids
    assert set(out["cluster"]) <= set(range(_KM_K))
    assert (out["inertia_kilo"] >= 0).all()
    assert (out["shift_sq"] >= 0).all()


def test_kmeans_seed_vectors_assign_to_themselves(spark, sf_dir):
    """A seed vector is distance 0 from its own centroid, so each seed
    cluster holds at least its own seed — all k clusters are non-empty
    and present in the output."""
    out = _run(spark, sf_dir, "kmeans_lloyd_step")
    assert len(out) == _KM_K


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------
def test_bm25_topk_sorted_and_positive(spark, sf_dir):
    out = _run(spark, sf_dir, "bm25_top_docs")
    assert len(out) == 20
    s = out["bm25_milli"].to_numpy()
    assert (s[:-1] >= s[1:]).all()
    assert (s > 0).all()  # top-20 of a 3-term query all match something


def test_bm25_score_zero_iff_no_term_matches(spark, sf_dir):
    scored = _bm25_scored(spark, sf_dir).toPandas().set_index("doc_id")
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    import re

    for _, row in docs.head(50).iterrows():
        toks = [t for t in re.sub(r"[^a-z0-9]+", " ", row["text"].lower()).split() if t]
        has = any(t in toks for t in _BM25_TERMS)
        got = scored.loc[row["doc_id"], "bm25_milli"]
        assert (got > 0) == has, f"doc {row['doc_id']}"


def test_bm25_monotone_in_tf_at_fixed_dl(spark):
    """With dl and corpus stats fixed, more occurrences of a query term
    never lowers the score (the k1 saturation is monotone)."""
    docs = spark.createDataFrame(
        [
            (0, "dup " * 1 + "pad " * 9),
            (1, "dup " * 3 + "pad " * 7),
            (2, "dup " * 6 + "pad " * 4),
            (3, "pad " * 10),
        ],
        "doc_id long, text string",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = _bm25_scored(spark, tmp).toPandas().set_index("doc_id")
        assert out.loc[0, "bm25_milli"] <= out.loc[1, "bm25_milli"]
        assert out.loc[1, "bm25_milli"] <= out.loc[2, "bm25_milli"]
        assert out.loc[3, "bm25_milli"] == 0


# ---------------------------------------------------------------------------
# Hybrid RRF
# ---------------------------------------------------------------------------
def test_rrf_formula_and_query_vector_rank(spark, sf_dir):
    out = _run(spark, sf_dir, "hybrid_rrf_topk")
    assert len(out) == 20
    for _, row in out.iterrows():
        expect = 0
        if row["r_lex"] > 0:
            expect += 1000000 // (_RRF_K + row["r_lex"])
        if row["r_sem"] > 0:
            expect += 1000000 // (_RRF_K + row["r_sem"])
        assert row["rrf_micro"] == expect
    # the query vector (vec_id 0) has maximal self inner product only
    # if its norm is maximal — but it must at least be IN the semantic
    # pool unless 100 other vectors beat its self-IP; don't overpin.
    # Instead pin: fused scores are sorted and ranks are in [0, 100].
    s = out["rrf_micro"].to_numpy()
    assert (s[:-1] >= s[1:]).all()
    assert out["r_lex"].between(0, 100).all()
    assert out["r_sem"].between(0, 100).all()


# ---------------------------------------------------------------------------
# Temporal embargo split
# ---------------------------------------------------------------------------
def test_temporal_split_bands_ordered_and_total(spark, sf_dir):
    out = _run(spark, sf_dir, "temporal_split_embargo").set_index("split")
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    assert set(out.index) == {"train", "embargo", "test"}
    assert out["n_orders"].sum() == len(orders)
    assert out["n_days"].sum() == orders["o_orderdate"].nunique()
    # strict temporal ordering: train < embargo < test, no overlap
    assert out.loc["train", "max_day"] < out.loc["embargo", "min_day"]
    assert out.loc["embargo", "max_day"] < out.loc["test", "min_day"]
    # band sizing: train ~70%, test ~20% of distinct days (rank floor)
    nd = out["n_days"].sum()
    assert out.loc["train", "n_days"] == (nd * 7) // 10
    assert out.loc["test", "n_days"] == nd - (nd * 8) // 10
