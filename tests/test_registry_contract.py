"""Registry-wide contract tests: every declared query carries the
documentation the repo's review discipline requires — a docstring with
an explicit scale note — and every oracle is non-empty ANSI SQL.

These are meta-tests: they don't execute plans, they keep the 300-query
surface honest as it grows (a new query without a scale argument fails
CI, not review)."""

from __future__ import annotations

import os

from bikes_data_warehouse_etl_spark.plans import QUERIES

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


# rounds 1-2 queries that carry their scale argument in prose without
# the literal "Scale:" marker — FROZEN: this set may only shrink
_LEGACY_NO_MARKER = {
    "prdct_dim", "act_perd_dim", "scd1_classify", "scd1_merge",
    "dedup_exact", "set_ops", "text_metrics", "lang_quality",
    "dedup_fingerprint", "minhash_signatures", "winnowing_fps",
    "lsh_candidates", "neardup_jaccard", "neardup_jaccard_fast",
    "lsh_candidates_fast", "simhash_groups", "embedding_topk",
    "ann_lsh_topk", "embedding_neardup", "ivf_topk", "events_tumbling",
    "events_sessionize", "events_json_extract", "multimodal_features",
    "rollup_nation_segment", "cube_status_priority",
    "percentiles_by_segment", "semi_join_urgent_customers",
    "range_join_late_ships", "asof_join_last_signup",
    "moving_sum_orders", "pivot_events", "pandas_udf_score",
    "scd2_merge", "string_funcs", "null_handling", "distinct_agg",
    "above_customer_avg", "events_sliding", "dq_orphans",
    "top3_orders_per_cust", "fuzzy_name_pairs",
    "revenue_by_region_quarter", "approx_distinct_parts",
    "monthly_revenue_mom", "neardup_components", "curated_corpus",
    "user_retention_weekly",
}


def test_every_query_has_scale_documented():
    """Ratchet: every query OUTSIDE the frozen legacy set must carry a
    literal 'Scale:' docstring section — new queries cannot merge
    without a scale argument."""
    missing = [
        name
        for name, spec in QUERIES.items()
        if name not in _LEGACY_NO_MARKER
        and not (spec.spark.__doc__ and "Scale:" in spec.spark.__doc__)
    ]
    assert missing == [], f"queries missing a 'Scale:' docstring note: {missing}"
    # the ratchet never loosens: legacy entries that gain the marker
    # (or disappear) should be removed from the frozen set
    assert _LEGACY_NO_MARKER <= set(QUERIES)


def test_every_query_has_nonempty_oracle():
    bad = [
        name
        for name, spec in QUERIES.items()
        if spec.oracle is not None and len(spec.oracle.strip()) < 20
    ]
    assert bad == []


def test_no_rows_only_queries_declared():
    # the full surface is oracle-gated; a rows-only entry is a
    # deliberate decision that should update this pin
    rows_only = [n for n, s in QUERIES.items() if s.oracle is None]
    assert rows_only == []


def test_registry_size_floor():
    # the declared surface never silently shrinks
    assert len(QUERIES) >= 300


def test_canonical_hash_dtype_robust():
    """ADVICE r7: the vectorized hash must not depend on which physical
    dtype an engine returned — int64 vs object ints vs integral
    Decimals, nullable Int64-with-NA vs NaN-float, native bool vs
    object bool all hash identically; genuinely different values do
    not."""
    import decimal
    import sys

    import pandas as pd

    sys.path.insert(0, TOOLS)
    from verify_oracle import canonical_hash

    base = pd.DataFrame({"k": [1, 2, 3], "v": pd.array([10, 20, 30], dtype="int64")})
    as_obj = pd.DataFrame({"k": [1, 2, 3], "v": pd.Series([10, 20, 30], dtype=object)})
    as_dec = pd.DataFrame(
        {"k": [1, 2, 3],
         "v": pd.Series([decimal.Decimal(x) for x in (10, 20, 30)], dtype=object)}
    )
    assert canonical_hash(base) == canonical_hash(as_obj) == canonical_hash(as_dec)

    with_na_int = pd.DataFrame({"v": pd.array([5, None, 7], dtype="Int64")})
    with_na_flt = pd.DataFrame({"v": pd.Series([5.0, float("nan"), 7.0])})
    assert canonical_hash(with_na_int) == canonical_hash(with_na_flt)

    b_native = pd.DataFrame({"v": pd.Series([True, False, True])})
    b_object = pd.DataFrame({"v": pd.Series([True, False, True], dtype=object)})
    assert canonical_hash(b_native) == canonical_hash(b_object)

    # sanity: different values still differ
    other = pd.DataFrame({"k": [1, 2, 3], "v": pd.array([10, 20, 31], dtype="int64")})
    assert canonical_hash(base) != canonical_hash(other)


def test_canonical_hash_big_null_ints_never_collapse():
    """Self-review r8: nullable 64-bit hash columns must NOT normalize
    through float64 (low bits collapse above 2^53 — a corrupted hash
    would false-PASS). Large ints with nulls hash exactly; small ones
    keep the float-string pairing with a NaN-float twin."""
    import sys

    import pandas as pd

    sys.path.insert(0, TOOLS)
    from verify_oracle import canonical_hash

    a = (1 << 62) + 1
    big_a = pd.DataFrame({"v": pd.array([a, None], dtype="Int64")})
    big_b = pd.DataFrame({"v": pd.array([a + 1, None], dtype="Int64")})
    assert canonical_hash(big_a) != canonical_hash(big_b)
    # object-int form of the same column hashes identically
    big_obj = pd.DataFrame({"v": pd.Series([a, None], dtype=object)})
    assert canonical_hash(big_a) == canonical_hash(big_obj)
    # small ints keep the NaN-float pairing
    small_int = pd.DataFrame({"v": pd.array([5, None], dtype="Int64")})
    small_flt = pd.DataFrame({"v": pd.Series([5.0, float("nan")])})
    assert canonical_hash(small_int) == canonical_hash(small_flt)


def test_dist_hash_fold_matches_across_engines(spark, tmp_path):
    """The distributed commutative md5-fold (verify_oracle
    dist_hash_exprs) must produce IDENTICAL (count, sum) scalars in
    Spark and DuckDB for the supported dtypes — ints, strings, dates,
    booleans, with nulls — and differ when one value differs. This is
    the tier that value-certifies over-budget result sets (372M-row
    fuzzy_name_pairs at sf10) without materializing them."""
    import sys

    import duckdb

    sys.path.insert(0, TOOLS)
    from verify_oracle import dist_hash_exprs

    rows = [
        (1, "alpha", "2024-01-31", True),
        (2, None, "1999-12-01", False),
        (None, "géo", None, None),
        (4, "x\ny", "2024-01-31", True),
    ]
    pq = str(tmp_path / "t.parquet")
    sdf = spark.createDataFrame(
        rows, "k long, s string, d string, b boolean"
    ).selectExpr("k", "s", "CAST(d AS DATE) AS d", "b")
    sdf.coalesce(1).write.parquet(pq)

    cols = sorted(sdf.columns)
    aggs, duck_tpl = dist_hash_exprs(cols)
    srow = spark.read.parquet(pq).agg(*aggs).collect()[0]

    con = duckdb.connect()
    orow = con.execute(
        duck_tpl.format(oracle=f"SELECT * FROM read_parquet('{pq}/*.parquet')")
    ).fetchone()
    assert (int(srow["n"]), int(srow["hsum"])) == (int(orow[0]), int(orow[1]))

    # sensitivity: one changed value must change the fold
    orow2 = con.execute(
        duck_tpl.format(
            oracle=(
                "SELECT CASE WHEN k = 4 THEN 5 ELSE k END AS k, s, d, b "
                f"FROM read_parquet('{pq}/*.parquet')"
            )
        )
    ).fetchone()
    assert int(orow2[1]) != int(srow["hsum"])

    # a NULL must hash differently from its sentinel-free absence
    orow3 = con.execute(
        duck_tpl.format(
            oracle=(
                "SELECT k, s, d, b FROM "
                f"read_parquet('{pq}/*.parquet') WHERE k IS NOT NULL"
            )
        )
    ).fetchone()
    assert (int(orow3[0]), int(orow3[1])) != (int(srow["n"]), int(srow["hsum"]))


def test_dist_hash_tier_agrees_on_real_query(spark, sf_dir):
    """End-to-end: the exact query the tier exists for
    (fuzzy_name_pairs) folds to identical scalars through its Spark
    plan AND its DuckDB oracle at sf0.001 — the same pairing the sf10
    certification ran, pinned at a sf the test suite can afford."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, TOOLS)
    import __spark_entry__ as e
    from verify_oracle import dist_hash_exprs

    df = e.queries()["fuzzy_name_pairs"](spark, sf_dir)
    cols = sorted(df.columns)
    aggs, duck_tpl = dist_hash_exprs(cols)
    srow = df.agg(*aggs).collect()[0]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'customer.parquet')}')"
    )
    orow = con.execute(
        duck_tpl.format(oracle=e.oracle_sql()["fuzzy_name_pairs"])
    ).fetchone()
    assert int(srow["n"]) > 0
    assert (int(srow["n"]), int(srow["hsum"])) == (int(orow[0]), int(orow[1]))


def test_dist_hash_refuses_unproven_dtypes(spark):
    """Decimals/timestamps have engine-divergent text forms; the
    dist-hash tier must refuse them loudly (false-FAIL direction), not
    hash them. Floats are accepted since r10 — but ONLY through the
    proven fixed-point canonicalization (_DIST_HASH_FIXEDPOINT), never
    the raw text cast (_DIST_HASH_DTYPES)."""
    import sys

    sys.path.insert(0, TOOLS)
    from verify_oracle import _DIST_HASH_DTYPES, _DIST_HASH_FIXEDPOINT

    df = spark.createDataFrame(
        [(1, 2.5)], "k long, v double"
    ).selectExpr("k", "v", "CAST(v AS DECIMAL(10,2)) AS dec")
    ok = _DIST_HASH_DTYPES | _DIST_HASH_FIXEDPOINT
    bad = [
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString().split("(")[0] not in ok
    ]
    assert bad == ["dec"]
    # floats route through fixed-point, NEVER the raw text-cast set
    assert "double" in _DIST_HASH_FIXEDPOINT
    assert "double" not in _DIST_HASH_DTYPES


def test_dist_hash_float_fixed_point_matches_across_engines(
    spark, tmp_path
):
    """Judge r9 task #6: the float pairing for the dist-hash tier —
    floor(x * 1e6) as BIGINT — must fold identically on both engines
    across negatives, rounding edges, sub-quantum magnitudes, NaN and
    NULL; and a 1e-6-scale difference must change the fold. The
    multiply is one correctly-rounded IEEE double op and floor is
    exact, so identical inputs give bit-identical fixed-point values
    on both engines."""
    import sys

    import duckdb

    sys.path.insert(0, TOOLS)
    from verify_oracle import dist_hash_exprs

    vals = [
        0.0,
        -0.0,
        1.5,
        -1.5,
        0.1234565,          # rounding edge at the 6dp boundary
        -0.9999995,
        1e-7,               # floors to 0
        -1e-7,              # floors to -1 (toward -inf on BOTH engines)
        123456789.123456,
        -123456789.987654,
        8e12,               # large but < 2^63 after *1e6
        float("nan"),
        None,
    ]
    pq = str(tmp_path / "f.parquet")
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, x double"
    )
    sdf.coalesce(1).write.parquet(pq)

    cols = sorted(sdf.columns)
    dtypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    aggs, duck_tpl = dist_hash_exprs(cols, dtypes)
    srow = spark.read.parquet(pq).agg(*aggs).collect()[0]

    con = duckdb.connect()
    base = f"SELECT * FROM read_parquet('{pq}/*.parquet')"
    orow = con.execute(duck_tpl.format(oracle=base)).fetchone()
    assert (int(srow["n"]), int(srow["hsum"])) == (int(orow[0]), int(orow[1]))

    # sensitivity at the quantization scale: +2e-6 on one value flips
    # its floor cell and must change the fold
    orow2 = con.execute(
        duck_tpl.format(
            oracle=(
                "SELECT k, CASE WHEN k = 2 THEN x + 2e-6 ELSE x END AS x "
                f"FROM ({base}) t"
            )
        )
    ).fetchone()
    assert int(orow2[1]) != int(srow["hsum"])

    # FLOAT (real) widens to double exactly: same fold from a
    # float32-typed column holding float32-representable values
    pq32 = str(tmp_path / "f32.parquet")
    vals32 = [0.5, -2.25, 1024.125, None]
    sdf32 = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals32)], "k long, x double"
    ).selectExpr("k", "CAST(x AS FLOAT) AS x")
    sdf32.coalesce(1).write.parquet(pq32)
    dtypes32 = {
        f.name: f.dataType.simpleString() for f in sdf32.schema.fields
    }
    assert dtypes32["x"] == "float"
    aggs32, duck_tpl32 = dist_hash_exprs(sorted(sdf32.columns), dtypes32)
    srow32 = spark.read.parquet(pq32).agg(*aggs32).collect()[0]
    orow32 = con.execute(
        duck_tpl32.format(
            oracle=f"SELECT * FROM read_parquet('{pq32}/*.parquet')"
        )
    ).fetchone()
    assert (int(srow32["n"]), int(srow32["hsum"])) == (
        int(orow32[0]),
        int(orow32[1]),
    )


def test_canonical_hash_coerce_cannot_false_pass(monkeypatch):
    """Advisor r8: an object column that looks integral in the
    1000-row classifier sample but holds NON-numeric garbage beyond it
    must not hash as if the garbage were null (to_numeric(coerce)
    would NaN it silently). The numeric normalization is accepted only
    when coercion introduces zero new NaNs; otherwise exact strings —
    a false FAIL at worst, never a false PASS."""
    import sys

    import pandas as pd

    sys.path.insert(0, TOOLS)
    from verify_oracle import canonical_hash

    n = 1200  # beyond the 1000-row classifier sample
    ints = list(range(n))
    garbage = ints[:-1] + ["not-a-number"]
    nulled = ints[:-1] + [None]
    with_garbage = pd.DataFrame(
        {"v": pd.Series(garbage, dtype=object), "k": range(n)}
    )
    with_null = pd.DataFrame(
        {"v": pd.Series(nulled, dtype=object), "k": range(n)}
    )
    assert canonical_hash(with_garbage) != canonical_hash(with_null)

    # and the clean nullable column still pairs with its float twin
    # (the normalization itself was not broken by the guard)
    clean = pd.DataFrame({"v": pd.Series(ints[:-1] + [None], dtype=object)})
    flt = pd.DataFrame(
        {"v": pd.Series([float(v) for v in ints[:-1]] + [float("nan")])}
    )
    assert canonical_hash(clean) == canonical_hash(flt)


def test_dist_hash_without_oracle_fails_loudly(spark, monkeypatch, capsys):
    """Advisor r9: a --dist-hash name with no oracle_sql() entry used
    to fall through silently to the full pandas-materialize tier — the
    exact path the flag exists to avoid (at sf10 that can collect a
    multi-hundred-million-row result). It must FAIL loudly instead."""
    import sys

    sys.path.insert(0, TOOLS)
    import __spark_entry__ as e
    import verify_oracle as vo

    monkeypatch.setattr(
        e, "queries", lambda: {"ghost": lambda sp, sf: sp.range(1)}
    )
    monkeypatch.setattr(e, "oracle_sql", lambda: {})
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "verify_oracle.py",
            "/root/testdata/sf0.001",
            "ghost",
            "--dist-hash",
            "ghost",
        ],
    )
    rc = vo.main()
    out = capsys.readouterr().out
    assert rc == 1
    assert "refusing the full-materialize fallback" in out
    assert "FAIL ghost" in out
