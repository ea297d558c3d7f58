"""Unit tests: text functions + dedup family semantics."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.functions.text import (
    fingerprint,
    lang_id_guess,
    token_count,
    word_shingles,
)
from bikes_data_warehouse_etl_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    minhash_candidates,
    ngram_jaccard_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b"), (3, "")])
    out = {r["doc_id"]: r["s"] for r in df.select("doc_id", word_shingles("text", 3).alias("s")).collect()}
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []  # fewer tokens than k
    assert out[3] == []


def test_token_count_and_fingerprint_order_insensitive(spark):
    df = _docs(spark, [(1, "Hello, world! hello"), (2, "world hello HELLO"), (3, "")])
    tc = {r["doc_id"]: r["n"] for r in df.select("doc_id", token_count("text").alias("n")).collect()}
    assert tc == {1: 3, 2: 3, 3: 0}
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", fingerprint("text").alias("fp")).collect()}
    # same token set in different order → identical fingerprint
    assert fps[1] == fps[2]


def test_lang_id_guess(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the dog of the house"),
            (2, "el perro y la casa de que"),
            (3, "der hund und die katze ist ein"),
            (4, "总结 一下"),
            (5, "zzz qqq xxx"),
        ],
    )
    out = {r["doc_id"]: r["g"] for r in df.select("doc_id", lang_id_guess("text").alias("g")).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "zh", 5: "und"}


def test_exact_and_fingerprint_dedup(spark):
    df = _docs(
        spark,
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "gamma beta alpha"), (4, "delta")],
    )
    exact = exact_dedup(df)
    assert exact.count() == 3  # 1&2 collapse
    assert exact.filter(F.col("dup_cnt") == 2).first()["keep_doc_id"] == 1
    fp = fingerprint_dedup(df)
    # reordering also collapses under the fingerprint
    assert fp.count() == 2
    assert {r["dup_cnt"] for r in fp.collect()} == {3, 1}


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark shuffles and partitions here"
    df = _docs(spark, [(1, base), (2, near), (3, far)])
    cands = minhash_candidates(df, n_hashes=8, bands=4)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # verification stage: true jaccard confirms, in basis points
    verified = ngram_jaccard_pairs(df, threshold=0.2, candidates=cands)
    rows = verified.collect()
    assert len(rows) == 1 and rows[0]["id_a"] == 1 and rows[0]["id_b"] == 2
    assert rows[0]["jaccard_bp"] > 5000  # > 0.5 similar


def test_fast_hash_self_consistency(spark):
    """The xxhash64 production path must (a) produce identical
    exact-Jaccard pair outputs — counts are invariant under any
    injective per-shingle hash — and (b) recover the same verified
    near-dup pair through LSH candidates."""
    from bikes_data_warehouse_etl_spark.functions.text import hash64_fast

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark shuffles and partitions here"
    df = _docs(spark, [(1, base), (2, near), (3, far)])

    slow = {tuple(r) for r in ngram_jaccard_pairs(df, threshold=0.2).collect()}
    fast = {
        tuple(r)
        for r in ngram_jaccard_pairs(df, threshold=0.2, hash_fn=hash64_fast).collect()
    }
    assert slow == fast and len(slow) == 1

    cands = minhash_candidates(df, n_hashes=8, bands=4, hash_fn=hash64_fast)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairs


def test_lsh_dropped_bucket_accounting(spark):
    """A degenerate boilerplate bucket (many identical docs) must be
    dropped by the skew cap AND show up in the drop accounting."""
    from bikes_data_warehouse_etl_spark.operators.dedup import lsh_dropped_buckets

    boiler = [(i, "terms of service apply to all users of this site") for i in range(20)]
    distinct = [(100, "a unique document about gradient descent methods maybe")]
    df = _docs(spark, boiler + distinct)

    cands = minhash_candidates(df, n_hashes=8, bands=4, max_bucket=5)
    # every boilerplate pair lives in over-cap buckets → no candidates
    assert cands.count() == 0
    stats = lsh_dropped_buckets(df, n_hashes=8, bands=4, max_bucket=5).first()
    # identical docs share all 4 band buckets, each of size 20 > 5
    assert stats["n_buckets_dropped"] == 4
    assert stats["n_docs_affected"] == 20

    # with the cap above the bucket size nothing is dropped
    none = lsh_dropped_buckets(df, n_hashes=8, bands=4, max_bucket=50).first()
    assert none["n_buckets_dropped"] == 0 and none["n_docs_affected"] == 0


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_lsh_candidates_fast_recall_precondition(spark, sf):
    """The `lsh_candidates_fast` oracle equality (Spark verified-pair
    set == exhaustive exact-Jaccard>=0.8 set) rests on TWO data-
    dependent preconditions: (a) banding misses no >=0.8 pair at this
    sf, and (b) the max_bucket=50 skew cap drops NO bucket — a dropped
    boilerplate bucket can lose even J=1 pairs. (a) is checked by the
    oracle gate itself; this pins (b) with the query's exact LSH
    parameters, so a testdata regeneration that grows a boilerplate
    cluster past the cap fails HERE with a diagnosis instead of as an
    opaque hash mismatch in the driver gate."""
    from bikes_data_warehouse_etl_spark.functions.text import hash64_fast
    from bikes_data_warehouse_etl_spark.operators.dedup import lsh_dropped_buckets
    from bikes_data_warehouse_etl_spark.plans.extensions import lsh_fast_params
    from bikes_data_warehouse_etl_spark.sources.parquet import read_table

    docs = read_table(spark, sf, "documents")
    n_hashes, bands = lsh_fast_params(docs.count())
    stats = lsh_dropped_buckets(
        docs, n_hashes=n_hashes, bands=bands, max_bucket=50, hash_fn=hash64_fast
    ).first()
    assert stats["n_buckets_dropped"] == 0, (
        f"{stats['n_buckets_dropped']} over-cap LSH buckets at {sf} "
        f"({stats['n_docs_affected']} docs): lsh_candidates_fast recall "
        "is no longer exhaustive — raise max_bucket or re-derive the oracle"
    )


def test_lsh_fast_params_scale_knob():
    """Banding widens with corpus size: narrow at the gated sfs (5k
    docs at sf0.1 — unchanged plans/bench), wide at sf1+ (50k+), where
    the round-5 residual showed 8x4's miss probability materializing."""
    from bikes_data_warehouse_etl_spark.plans.extensions import lsh_fast_params

    assert lsh_fast_params(5_000) == (8, 4)
    assert lsh_fast_params(20_000) == (8, 4)
    assert lsh_fast_params(50_000) == (16, 8)
    assert lsh_fast_params(500_000) == (16, 8)


def test_exact_dedup_shuffle_key_is_hash_not_text(spark):
    """The aggregate key must be the 8-byte content hash — full bodies
    must not ride the exchange."""
    df = _docs(spark, [(1, "alpha beta"), (2, "alpha beta")])
    plan = exact_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "content_hash" in plan
    # the exchange partitions on the hash, not the raw text column
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and all("content_hash" in ln for ln in ex)


def test_banded_buckets_rejects_indivisible_bands(spark):
    """Flooring rows_per_band would silently drop trailing minhashes
    and change recall — a configuration error that must raise."""
    df = _docs(spark, [(1, "alpha beta gamma delta")])
    with pytest.raises(ValueError, match="divisible"):
        minhash_candidates(df, n_hashes=10, bands=4).collect()
