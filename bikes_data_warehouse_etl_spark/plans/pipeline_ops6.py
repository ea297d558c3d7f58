"""Training-data pipeline operators, round 2 batch 6: snapshot diff
CDC, asymmetric containment dedup, dedup-impact reporting, per-source
quota capping, histogram-exact percentile-rank normalization, a
cogrouped-pandas as-of join (proved against DuckDB's native ASOF
JOIN), Z-order locality layout, and integer-exact embedding norms.

Standing contract: integer cross-engine arithmetic (cents / bp / ppm /
milli), identical column aliases on both sides, bounded key spaces
before any joined or windowed step, and scale notes inline per query.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.functions.text import hash64
from bikes_data_warehouse_etl_spark.operators.dedup import ngram_jaccard_pairs
from bikes_data_warehouse_etl_spark.plans.extensions import (
    _SQL_NEARDUP_CTES,
    _SQL_TOKENS,
    _sql_hash64,
)
from bikes_data_warehouse_etl_spark.plans.synthetic import _q, _t


# ---------------------------------------------------------------------------
# Snapshot-diff CDC: full insert/update/delete classification
# ---------------------------------------------------------------------------
# Two deterministic snapshots derived from orders: keys ≡ 1 (mod 31)
# are absent from the OLD snapshot (so they surface as inserts), keys
# ≡ 0 (mod 31) are absent from the NEW one (deletes), and keys ≡ 2
# (mod 31) get a 5.00 price bump in NEW (updates).
_SQL_CDC_FULL_DIFF = """
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders),
    old AS (SELECT k, cents FROM base WHERE k % 31 <> 1),
    new AS (
        SELECT k,
               CASE WHEN k % 31 = 2 THEN cents + 500 ELSE cents END AS cents
        FROM base WHERE k % 31 <> 0)
    SELECT COALESCE(o.k, n.k) AS o_orderkey,
           CASE WHEN o.k IS NULL THEN 'I'
                WHEN n.k IS NULL THEN 'D'
                ELSE 'U' END AS op,
           o.cents AS old_cents,
           n.cents AS new_cents
    FROM old o FULL OUTER JOIN new n ON o.k = n.k
    WHERE o.k IS NULL OR n.k IS NULL OR o.cents <> n.cents
    """


@_q("cdc_full_diff", _SQL_CDC_FULL_DIFF)
def q_cdc_full_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full snapshot diff: classify every key as Insert / Update /
    Delete by FULL OUTER joining the previous and current snapshots —
    the completion of the anti-join CDC operator (operators/cdc.py
    catches inserts only; ref BikesDWSQl.sql:60-67 has no delete
    detection at all). The emitted (key, op, before, after) rows are
    exactly a merge/changefeed payload.

    Scale: one sort-merge shuffle on the join key; neither side is
    broadcast (both are fact-sized). Unchanged keys — the overwhelming
    majority in a daily diff — are filtered before any further
    processing, so downstream merge work is proportional to the churn,
    not the table. At 100 TB, snapshots written bucketed by the key
    (``DataFrameWriter.bucketBy`` into a catalog table) make this a
    zero-exchange zipper join.
    """
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    old = base.filter(F.col("k") % 31 != 1)
    new = base.filter(F.col("k") % 31 != 0).select(
        "k",
        F.when(F.col("k") % 31 == 2, F.col("cents") + 500)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    o = old.select(F.col("k").alias("ok"), F.col("cents").alias("old_cents"))
    n = new.select(F.col("k").alias("nk"), F.col("cents").alias("new_cents"))
    diff = o.join(n, o["ok"] == n["nk"], "full_outer")
    return diff.select(
        F.coalesce("ok", "nk").alias("o_orderkey"),
        F.when(F.col("ok").isNull(), "I")
        .when(F.col("nk").isNull(), "D")
        .otherwise("U")
        .alias("op"),
        "old_cents",
        "new_cents",
    ).where(
        F.col("ok").isNull()
        | F.col("nk").isNull()
        | (F.col("old_cents") != F.col("new_cents"))
    )


# ---------------------------------------------------------------------------
# Asymmetric containment: sub-document duplication (RefinedWeb-style)
# ---------------------------------------------------------------------------
_SQL_CONTAINMENT = f"""
    {_SQL_NEARDUP_CTES}
    SELECT id_a, id_b, common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(common * 10000 // sa.n_sh AS BIGINT) AS contain_a_bp,
           CAST(common * 10000 // sb.n_sh AS BIGINT) AS contain_b_bp
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE GREATEST(common * 10000 // sa.n_sh,
                   common * 10000 // sb.n_sh) >= 4000
    """


@_q("containment_pairs", _SQL_CONTAINMENT)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B|/|A| per direction — catches
    a short document embedded inside a longer one, which symmetric
    Jaccard misses (a 100-shingle doc fully inside a 10k-shingle doc
    has Jaccard ≈ 0.01 but containment 1.0). The sub-document dedup
    pass RefinedWeb/CCNet run after exact+near dedup.

    Scale: reuses the Jaccard machinery — self-join on the 8-byte
    shingle hash bounds work to pairs sharing ≥ 1 shingle; the
    containment division is row-local integer math on the pair table.
    Same ReusedExchange single-explode plan as `neardup_jaccard`.
    """
    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.0
    )
    contain_a = F.expr("common * 10000 div n_a").cast("long")
    contain_b = F.expr("common * 10000 div n_b").cast("long")
    return (
        pairs.select(
            "id_a",
            "id_b",
            "common",
            "n_a",
            "n_b",
            contain_a.alias("contain_a_bp"),
            contain_b.alias("contain_b_bp"),
        )
        .where(
            F.greatest(F.col("contain_a_bp"), F.col("contain_b_bp")) >= 4000
        )
    )


# ---------------------------------------------------------------------------
# Dedup impact report: cluster-size histogram with byte savings
# ---------------------------------------------------------------------------
_SQL_FP = _sql_hash64(
    "array_to_string(list_sort(list_distinct(" + _SQL_TOKENS + ")), ' ')"
)

_SQL_DEDUP_SAVINGS = f"""
    WITH fps AS (
        SELECT doc_id, n_chars, {_SQL_FP} AS fp FROM documents),
    cl AS (
        SELECT fp,
               CAST(COUNT(*) AS BIGINT) AS sz,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(arg_min(n_chars, doc_id) AS BIGINT) AS kept_chars
        FROM fps GROUP BY fp)
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_dup_docs,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(chars - kept_chars) AS BIGINT) AS dup_chars
    FROM cl GROUP BY sz
    """


@_q("dedup_savings", _SQL_DEDUP_SAVINGS)
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: histogram of fingerprint-cluster sizes with
    document and byte savings under a keep-lowest-doc_id policy — the
    "how much smaller does the corpus get" estimate run BEFORE
    committing a 100 TB dedup job (if dup_chars is 0.1% the job isn't
    worth the shuffle; if it's 40% it is).

    Scale: two shuffles, both narrow — (64-bit fp, int, long) then
    (long size) — with map-side combine on each; document text never
    moves (the fingerprint is computed in the scan projection). Output
    cardinality is the number of distinct cluster sizes (≪ rows).
    `arg_min`/`min_by` pins the kept representative deterministically.
    """
    d = _t(spark, sf_dir, "documents")
    fps = d.select(
        "doc_id",
        "n_chars",
        hash64(
            F.concat_ws(
                " ",
                F.sort_array(
                    F.array_distinct(
                        F.split(
                            F.trim(
                                F.regexp_replace(
                                    F.lower("text"), r"[^a-z0-9]+", " "
                                )
                            ),
                            r"\s+",
                        )
                    )
                ),
            )
        ).alias("fp"),
    )
    cl = fps.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.min_by("n_chars", "doc_id").cast("long").alias("kept_chars"),
    )
    return cl.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("long").alias("n_dup_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.sum(F.col("chars") - F.col("kept_chars"))
        .cast("long")
        .alias("dup_chars"),
    )


# ---------------------------------------------------------------------------
# Per-source quota cap: deterministic hash-ranked downsampling
# ---------------------------------------------------------------------------
_QUOTA_K = 15

_SQL_SOURCE_QUOTA = f"""
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {_sql_hash64("CAST(doc_id AS VARCHAR)")}, doc_id
               ) AS rk
        FROM documents)
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_QUOTA_K}
    """


@_q("source_quota_cap", _SQL_SOURCE_QUOTA)
def q_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping: keep at most K documents per source,
    chosen by a deterministic content-independent hash rank — the
    anti-domination pass that stops one crawl domain from swamping the
    training mix (C4 per-domain caps). Hash-ordering (not doc_id order)
    makes the kept set invariant to ingestion order and reproducible
    across engines and reruns.

    Scale: one shuffle on source for the rank window. Sources are
    few and large, so this window is the skew-sensitive shape — at
    100 TB, replace exact rank with a per-source hash threshold
    (keep iff hash < K/n_source quantile, computable from a count
    aggregate) to make the cap fully row-local; the exact-K variant
    here is the small/medium-cardinality tool and the oracle anchor.
    """
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        hash64(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select(
            "doc_id", "source", F.row_number().over(w).cast("long").alias("rk")
        )
        .where(F.col("rk") <= _QUOTA_K)
    )


# ---------------------------------------------------------------------------
# Percentile-rank normalization from the value histogram (no rank window
# over raw rows)
# ---------------------------------------------------------------------------
_SQL_PR_CHARS = """
    WITH h AS (
        SELECT lang, n_chars, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang, n_chars),
    r AS (
        SELECT lang, n_chars,
               SUM(n) OVER (PARTITION BY lang ORDER BY n_chars
                            ROWS UNBOUNDED PRECEDING) - n AS smaller,
               SUM(n) OVER (PARTITION BY lang) AS tot
        FROM h)
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(CASE WHEN r.tot > 1
                     THEN r.smaller * 10000 // (r.tot - 1)
                     ELSE 0 END AS BIGINT) AS pr_bp
    FROM documents d
    JOIN r ON d.lang = r.lang AND d.n_chars = r.n_chars
    """


@_q("percentile_rank_chars", _SQL_PR_CHARS)
def q_percentile_rank_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-rank of each document's length within its language, in
    integer basis points — the quantile normalization that makes a
    length-based quality gate comparable across languages (raw char
    counts are incomparable between zh and en). Exactly equals
    floor(percent_rank() * 10000) because RANK-1 = #strictly-smaller.

    Scale: the anti-pattern would be a rank window over every raw row
    (per-lang partitions are corpus-sized). Instead the rank is
    derived from the (lang, n_chars) histogram — the running-sum
    window runs over the bounded value domain — and broadcast-joined
    back to the rows. Same shape as `winsorized_price_stats` /
    `token_len_decile_gate`: raw data is scanned, aggregated map-side,
    and touched once more by an equi-join; no row-level sort anywhere.
    """
    d = _t(spark, sf_dir, "documents")
    h = d.groupBy("lang", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cum = Window.partitionBy("lang").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("lang")
    r = h.select(
        "lang",
        "n_chars",
        (F.sum("n").over(cum) - F.col("n")).alias("smaller"),
        F.sum("n").over(tot).alias("tot"),
    )
    return d.select("doc_id", "lang", "n_chars").join(
        F.broadcast(r), ["lang", "n_chars"]
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(
            F.col("tot") > 1,
            F.expr("smaller * 10000 div (tot - 1)"),
        )
        .otherwise(0)
        .cast("long")
        .alias("pr_bp"),
    )


# ---------------------------------------------------------------------------
# Cogrouped-pandas as-of join, proved against DuckDB's native ASOF JOIN
# ---------------------------------------------------------------------------
_SQL_ASOF_COGROUP = """
    WITH v AS (
        SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
               MAX(CAST(ROUND(value * 100, 0) AS BIGINT)) AS view_cents
        FROM events WHERE event_type = 'view' GROUP BY user_id, 2),
    p AS (
        SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
        FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.es,
           v.es AS last_view_es, v.view_cents AS last_view_cents
    FROM p ASOF LEFT JOIN v
        ON p.user_id = v.user_id AND p.es >= v.es
    """


def _merge_asof_bucket(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Bucket-level merge_asof: ``left``/``right`` hold MANY users (one
    hash bucket); ``merge_asof(by='user_id')`` does the per-user as-of
    matching inside one Arrow batch, so the per-group Python/Arrow
    round-trip cost is paid per *bucket*, not per user."""
    out_cols = ["event_id", "user_id", "es", "last_view_es", "last_view_cents"]
    if len(left) == 0:
        return pd.DataFrame({c: pd.Series(dtype="Int64") for c in out_cols})
    if len(right) == 0:
        out = left.copy()
        out["last_view_es"] = pd.Series(pd.NA, index=out.index, dtype="Int64")
        out["last_view_cents"] = pd.Series(
            pd.NA, index=out.index, dtype="Int64"
        )
        return out[out_cols]
    # right arrives with v_-prefixed names: both cogroup sides descend
    # from the same events scan, and identically-named attributes would
    # share Catalyst exprIds — the self-join dedup then prunes the
    # right-side duplicates out of the Arrow batch entirely (observed:
    # right frame arrives with only [view_cents, b]). Distinct names
    # keep distinct exprIds and the batch intact.
    r = right.rename(columns={"v_user_id": "user_id", "v_es": "es"})
    r = r.sort_values("es")[["user_id", "es", "view_cents"]]
    r = r.assign(last_view_es=r["es"], last_view_cents=r["view_cents"])
    out = pd.merge_asof(
        left.sort_values("es"),
        r[["user_id", "es", "last_view_es", "last_view_cents"]],
        on="es",
        by="user_id",
        direction="backward",
    )
    out["last_view_es"] = out["last_view_es"].astype("Int64")
    out["last_view_cents"] = out["last_view_cents"].astype("Int64")
    return out[out_cols]


@_q("asof_cogroup", _SQL_ASOF_COGROUP)
def q_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via ``cogroup(...).applyInPandas`` — each purchase
    matched to the user's most recent view at-or-before it, executed
    as a pandas ``merge_asof(by='user_id')`` and hash-proved against
    DuckDB's *native* ASOF JOIN. This is the sanctioned extension
    point for as-of semantics Spark builtins can't express (e.g.
    nearest-by-tolerance, multi-column as-of): `asof_join_last_signup`
    shows the pure-window form; this shows the cogrouped Arrow form —
    the two strategies bracket the design space.

    Scale: both sides shuffle once — but on a BUCKETED key,
    ``xxhash64(user_id) % 64``, NOT raw user_id. Cogrouping on
    the raw key makes one pandas group per user: at sf0.1 that is ~10k
    few-row groups, each paying a fixed Arrow/Python round-trip (the
    r03 profile: 11 s where the builtin-window twin took 0.5 s).
    Bucketing collapses this to 64 groups of ~160 users each;
    ``merge_asof(by=...)`` does the per-user matching vectorized inside
    the batch (measured 11.0 s → 1.3 s warm at sf0.1). At 100 TB, raise
    the bucket count to ~2-4× total cores (it only needs to exceed the
    executor count for parallelism and keep one bucket's events in
    memory); per-bucket state stays bounded at events/n_buckets, and a
    hot user skews a bucket by at most that user's own events.
    The view side is pre-aggregated per (user, second) BEFORE the
    cogroup — JVM-side map-combined — so ties are resolved
    deterministically (MAX) and the pandas stage sees a minimal frame.
    """
    n_buckets = 64
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("event_type").alias("etype"),
        F.unix_timestamp("ts").cast("long").alias("es"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    p = ev.filter(F.col("etype") == "purchase").select(
        "event_id", "user_id", "es"
    )
    v = (
        ev.filter(F.col("etype") == "view")
        .groupBy("user_id", "es")
        .agg(F.max("cents").alias("view_cents"))
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("es").alias("v_es"),
            "view_cents",
        )
    )
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
    v_bucket = F.pmod(F.xxhash64("v_user_id"), F.lit(n_buckets))
    return (
        p.withColumn("b", bucket)
        .groupBy("b")
        .cogroup(v.withColumn("b", v_bucket).groupBy("b"))
        .applyInPandas(
            _merge_asof_bucket,
            schema=(
                "event_id long, user_id long, es long, "
                "last_view_es long, last_view_cents long"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Z-order locality: interleaved-bit layout key for two-column pruning
# ---------------------------------------------------------------------------
def _z16(p: str, s: str, div: str) -> str:
    """16-bit Morton interleave of two 8-bit values as pure integer
    arithmetic (portable: `div` is Spark's integer division, `//`
    DuckDB's; both floor on non-negatives)."""
    terms = []
    for i in range(8):
        terms.append(f"(({p} {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({s} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_SQL_ZORDER = f"""
    WITH z AS (
        SELECT l_partkey % 256 AS p8, l_suppkey % 256 AS s8,
               {_z16('(l_partkey % 256)', '(l_suppkey % 256)', '//')} AS zval
        FROM lineitem)
    SELECT CAST(zval // 1024 AS BIGINT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(p8) AS BIGINT) AS p_min, CAST(MAX(p8) AS BIGINT) AS p_max,
           CAST(MIN(s8) AS BIGINT) AS s_min, CAST(MAX(s8) AS BIGINT) AS s_max
    FROM z GROUP BY zval // 1024
    """


@_q("zorder_locality", _SQL_ZORDER)
def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (partkey, suppkey) low bytes,
    summarized per 1024-wide z-bucket: each bucket pins BOTH dimensions
    into a ≤32-value range (p_max-p_min ≤ 31, s_max-s_min ≤ 31 — the
    locality guarantee, visible directly in the output). Sorting a
    write by zval (``df.sortWithinPartitions(zval)`` before the
    parquet write) gives every parquet row-group
    tight min/max stats on *both* columns, so scans filtered on either
    key prune row groups — the multi-dimensional clustering trick
    single-column sorts can't do.

    Scale: the interleave is row-local integer arithmetic (codegen, no
    UDF); the summary is one map-side-combined shuffle over ≤64 bucket
    keys. As a layout stage it adds zero extra shuffles to a write
    that already repartitions.
    """
    li = _t(spark, sf_dir, "lineitem")
    z = li.select(
        (F.col("l_partkey") % 256).alias("p8"),
        (F.col("l_suppkey") % 256).alias("s8"),
        F.expr(
            _z16("(l_partkey % 256)", "(l_suppkey % 256)", "div")
        ).alias("zval"),
    )
    return z.groupBy(
        F.expr("zval div 1024").cast("long").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("p8").cast("long").alias("p_min"),
        F.max("p8").cast("long").alias("p_max"),
        F.min("s8").cast("long").alias("s_min"),
        F.max("s8").cast("long").alias("s_max"),
    )


# ---------------------------------------------------------------------------
# Embedding norm statistics: integer-exact row-local vector reduction
# ---------------------------------------------------------------------------
_SQL_MILLI = "CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)"

_SQL_NORM_STATS = f"""
    WITH n2 AS (
        SELECT label,
               CAST(list_sum(list_transform(embedding,
                    x -> {_SQL_MILLI} * {_SQL_MILLI})) AS BIGINT) AS norm2
        FROM embeddings)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(norm2) AS BIGINT) AS min_norm2,
           CAST(MAX(norm2) AS BIGINT) AS max_norm2,
           CAST(SUM(norm2) AS BIGINT) AS sum_norm2,
           CAST(FLOOR(CAST(SUM(norm2) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS avg_norm2
    FROM n2 GROUP BY label
    """


@_q("embedding_norm_stats", _SQL_NORM_STATS)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label squared-norm statistics over embeddings, with each
    component fixed to integer milli-units before squaring so the
    per-vector reduction is exact and order-independent (milli² sums
    stay ≪ 2⁵³). The norm-distribution check that catches unnormalized
    or degenerate vectors before an ANN index build (IVF assumes
    near-unit norms; a label whose max_norm2 is 100× its min is a red
    flag).

    Scale: the vector fold is a row-local JVM higher-order
    ``aggregate`` (no explode — contrast `label_centroids`, which
    explodes because it needs per-dimension outputs); the only shuffle
    carries (label, long) with map-side combine. Output is |labels|
    rows.
    """
    e = _t(spark, sf_dir, "embeddings")
    milli = lambda x: F.floor(x.cast("double") * 1000).cast("long")  # noqa: E731
    n2 = e.select(
        "label",
        F.aggregate(
            "embedding",
            F.lit(0).cast("long"),
            lambda acc, x: acc + milli(x) * milli(x),
        ).alias("norm2"),
    )
    return n2.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("norm2").cast("long").alias("min_norm2"),
        F.max("norm2").cast("long").alias("max_norm2"),
        F.sum("norm2").cast("long").alias("sum_norm2"),
        F.floor(F.sum("norm2").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("avg_norm2"),
    )
