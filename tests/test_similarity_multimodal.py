"""Unit tests: similarity search + multimodal plumbing."""

from __future__ import annotations

from bikes_data_warehouse_etl_spark.operators.multimodal import (
    decode_media,
    documents_as_media,
    frame_sample,
)
from bikes_data_warehouse_etl_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_exact(spark):
    df = _vecs(
        spark,
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),   # closest to query
            (3, [0.0, 1.0, 0.0]),   # orthogonal
            (4, [-1.0, 0.0, 0.0]),  # opposite
        ],
    )
    out = brute_force_topk(df, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    assert out[0]["cos_sim"] == 1.0


def test_lsh_topk_prunes_to_bucket(spark):
    df = _vecs(
        spark,
        [
            (1, [0.5, 0.5, -0.5]),
            (2, [0.6, 0.4, -0.1]),  # same sign pattern as query
            (3, [-0.5, 0.5, 0.5]),  # different bucket
        ],
    )
    out = lsh_topk(df, [0.7, 0.3, -0.2], k=5, n_bits=3).collect()
    ids = {r["vec_id"] for r in out}
    assert ids == {1, 2}  # vec 3 pruned by bucket mismatch


def test_multimodal_decode_contract(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = documents_as_media(docs)
    decoded = decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_bytes"] > 0
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert 1 <= r["channels"] <= 3
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-6  # normalized histogram
    # determinism: same payload → same decode
    again = {r["media_id"]: r for r in decode_media(media).collect()}
    for r in rows:
        assert again[r["media_id"]]["width"] == r["width"]


def test_frame_sample_shapes(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    frames = frame_sample(documents_as_media(docs), n_frames=4)
    rows = frames.collect()
    assert len(rows) == 20  # 5 docs × 4 frames
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_doc.values())
