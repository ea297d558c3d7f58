"""Property-based tests (hypothesis): invariants the example-based
suite can't sweep. Each property evaluates a BATCH of generated
examples through one Spark action (per-example round-trips would make
a 50-example property cost 50 jobs).

Properties over pure engine functions:
* age_at is birthday-exact against a plain-Python date computation;
* age_bucket edges are right-closed and total on [18, 120];
* minhash signatures are ORDER-INSENSITIVE (a permuted token multiset
  yields the identical signature — the property that makes minhash a
  set sketch) and identical docs collide on every component;
* normalize/tokens never produce empty-string tokens and are
  idempotent under re-normalization.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bikes_data_warehouse_etl_spark.functions.cleaning import age_at, age_bucket
from bikes_data_warehouse_etl_spark.functions.text import normalize_text, tokens
from bikes_data_warehouse_etl_spark.operators.dedup import minhash_mins

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_dates = st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2100, 12, 28))


@given(pairs=st.lists(st.tuples(_dates, _dates), min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_age_at_matches_python(spark, pairs):
    rows = [(d, a) for d, a in pairs if d <= a]
    if not rows:
        return
    df = spark.createDataFrame(rows, "dob date, as_of date")
    got = [
        r["age"]
        for r in df.select(age_at("dob", "as_of").alias("age")).collect()
    ]
    want = [
        a.year - d.year - ((a.month, a.day) < (d.month, d.day))
        for d, a in rows
    ]
    assert got == want


@given(ages=st.lists(st.integers(min_value=-5, max_value=130), min_size=1, max_size=50))
@settings(**_SETTINGS)
def test_age_bucket_right_closed_total(spark, ages):
    df = spark.createDataFrame([(a,) for a in ages], "age long")
    got = {
        r["age"]: r["b"]
        for r in df.select("age", age_bucket("age").alias("b")).collect()
    }
    edges = [(18, 30, "18-29"), (31, 40, "30-39"), (41, 50, "40-49"),
             (51, 60, "50-59"), (61, 70, "60-69"), (71, 120, "70+")]
    for a in ages:
        if a < 18 or a > 120:
            assert got[a] is None
        else:
            expect = next(lbl for lo, hi, lbl in edges if lo <= a <= hi)
            assert got[a] == expect, f"age {a}"


_words = st.lists(
    st.text(alphabet="abcdefg h", min_size=1, max_size=6), min_size=3, max_size=30
)


@given(words=_words, seed=st.integers(min_value=0, max_value=2**31))
@settings(**_SETTINGS)
def test_minhash_order_insensitive(spark, words, seed):
    import random

    text = " ".join(words)
    shuffled = words[:]
    random.Random(seed).shuffle(shuffled)
    df = spark.createDataFrame(
        [(0, text), (1, " ".join(shuffled))], "doc_id long, text string"
    )
    sig = {
        r["id"]: r[1:] for r in minhash_mins(df, shingle_k=1).collect()
    }
    # 1-word shingles = token SET; permutation must not move any min
    assert sig.get(0) == sig.get(1)


@given(texts=st.lists(st.text(max_size=40), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_tokens_nonempty_and_normalize_idempotent(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    out = df.select(
        tokens("t").alias("toks"),
        normalize_text("t").alias("n1"),
        normalize_text(normalize_text("t")).alias("n2"),
    ).collect()
    for r in out:
        assert r["n1"] == r["n2"]  # idempotent
        for tok in r["toks"]:
            # split of an empty normalized string yields [""]; callers
            # filter it — but no MIXED empty tokens may ever appear
            if tok == "":
                assert r["toks"] == [""]
