"""Coverage query surface, batch 3: scalar-function suite, null
handling, distinct aggregation, correlated predicates, sliding
windows, data-quality checks, and approximate aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.operators.quality import orphan_rows
from bikes_data_warehouse_etl_spark.plans.synthetic import _q, _t


@_q(
    "string_funcs",
    """
    SELECT c_custkey AS cust_id,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           replace(c_name, '#', '-') AS name_dashed,
           CAST(length(c_name) AS BIGINT) AS name_len,
           CAST(strpos(c_name, '0') AS BIGINT) AS first_zero,
           concat(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_nation
    FROM customer
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function suite (F1-class coverage): case, substring,
    padding, replace, length, position, concat — all codegen'd."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("cust_id"),
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.length("c_name").cast("long").alias("name_len"),
        F.instr(F.col("c_name"), "0").cast("long").alias("first_zero"),
        F.concat_ws(":", "c_mktsegment", F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
    )


@_q(
    "null_handling",
    """
    SELECT o_orderkey AS ordr_id,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_display,
           CASE WHEN o_totalprice > 200000 THEN ROUND(o_totalprice, 2) END AS big_price,
           COALESCE(CASE WHEN o_totalprice > 200000 THEN ROUND(o_totalprice, 2) END, 0.0) AS big_price_or_zero,
           CAST(o_totalprice IS NULL AS BOOLEAN) AS price_missing
    FROM orders
    """,
)
def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-logic suite: NULLIF/COALESCE/CASE-produced NULLs and IS NULL
    predicates (P6-class coverage)."""
    o = _t(spark, sf_dir, "orders")
    big = F.when(F.col("o_totalprice") > 200000, F.round("o_totalprice", 2))
    return o.select(
        F.col("o_orderkey").alias("ordr_id"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_display"),
        big.alias("big_price"),
        F.coalesce(big, F.lit(0.0)).alias("big_price_or_zero"),
        F.col("o_totalprice").isNull().alias("price_missing"),
    )


@_q(
    "distinct_agg",
    """
    SELECT c_mktsegment AS segment,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(COUNT(*) AS BIGINT) AS n_cust
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase aggregate under
    the hood; at extreme cardinality switch to approx_count_distinct)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count_distinct("c_nationkey").cast("long").alias("n_nations"),
        F.count(F.lit(1)).alias("n_cust"),
    )


@_q(
    "above_customer_avg",
    """
    WITH w AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(FLOOR(CAST(ROUND(ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey), 2) * 100, 0) AS BIGINT)
                  / COUNT(*) OVER (PARTITION BY o_custkey)) AS BIGINT) AS avg_cents
      FROM orders
    )
    SELECT o_orderkey AS ordr_id, o_custkey AS cust_id,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS price_cents, avg_cents
    FROM w
    WHERE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) > avg_cents
    """,
)
def q_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated predicate — orders above their customer's average —
    decorrelated into a window (one shuffle; the subquery formulation
    would rescan per group). Mean in integer cents for determinism."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_cents = F.floor(
        F.round(F.round(F.sum("o_totalprice").over(w), 2) * 100, 0).cast("long")
        / F.count(F.lit(1)).over(w)
    ).cast("long")
    price_cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        o.select(
            F.col("o_orderkey").alias("ordr_id"),
            F.col("o_custkey").alias("cust_id"),
            price_cents.alias("price_cents"),
            avg_cents.alias("avg_cents"),
        )
        .filter(F.col("price_cents") > F.col("avg_cents"))
    )


@_q(
    "events_sliding",
    """
    WITH starts AS (
      SELECT event_id, event_type, value, ts,
             unnest([CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT) - 3600,
                     CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT)]) AS window_start
      FROM events
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM starts
    GROUP BY window_start, event_type
    """,
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): every event lands in two
    windows — F.window handles the fan-out natively; the oracle mirrors
    it with an explicit two-start unnest."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
        .select(
            F.unix_timestamp("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


@_q(
    "dq_orphans",
    """
    SELECT 'lineitem->orders' AS relation, CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL
    UNION ALL
    SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_partkey IS NULL AND l.l_partkey IS NOT NULL
    UNION ALL
    SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL
    """,
)
def q_dq_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema — the
    reference keeps FK integrity 'by convention'; this engine makes the
    convention checkable (anti-join per relation, key-pruned scans)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    c = _t(spark, sf_dir, "customer")

    def count_row(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("relation"), F.count(F.lit(1)).alias("n_orphans")
        )

    return (
        count_row("lineitem->orders", orphan_rows(li, o, ["l_orderkey"], ["o_orderkey"]))
        .unionByName(
            count_row("lineitem->part", orphan_rows(li, p, ["l_partkey"], ["p_partkey"]))
        )
        .unionByName(
            count_row(
                "orders->customer", orphan_rows(o, c, ["o_custkey"], ["c_custkey"])
            )
        )
    )


@_q(
    "top3_orders_per_cust",
    """
    SELECT cust_id, ordr_id, price_cents, rnk FROM (
      SELECT o_custkey AS cust_id, o_orderkey AS ordr_id,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def q_top3_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window + filter: Spark pushes the
    rnk<=3 limit into the window sort (WindowGroupLimit), so each
    partition keeps a 3-row heap instead of fully sorting — the
    grouped-top-k shape that scales."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            F.col("o_custkey").alias("cust_id"),
            F.col("o_orderkey").alias("ordr_id"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


# Adaptive block-key width for the fuzzy-matching family: the smallest
# digit count d (clamped to [2, 7]) with 10^d >= ceil(N_cust / 6000), so
# per-nation blocks stay ~constant-size as the table grows. Integer-exact
# in both engines (digit-length of ceil-div, no float log10 whose last
# ulp could flip a boundary): d = 2 through N = 600k — bit-identical to
# the historical substr(15, 2) block at every driver sf — and d = 3 at
# sf10's 1.5M customers, cutting the quadratic in-block compare 10x.
_SQL_BLOCK_W = (
    "(SELECT LEAST(7, GREATEST(2, LENGTH(CAST((COUNT(*) + 5999) // 6000"
    " - 1 AS VARCHAR)))) FROM customer)"
)

# Composable pairs fragment (no WITH, so callers can embed it in their
# own CTE chains, incl. WITH RECURSIVE in fuzzy_entity_clusters).
SQL_FUZZY_PAIRS = f"""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM (SELECT c_custkey, c_name, c_nationkey,
                 substr(c_name, 17 - {_SQL_BLOCK_W}, {_SQL_BLOCK_W}) AS blk
          FROM customer) a
    JOIN (SELECT c_custkey, c_name, c_nationkey,
                 substr(c_name, 17 - {_SQL_BLOCK_W}, {_SQL_BLOCK_W}) AS blk
          FROM customer) b
      ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 3
    """


def fuzzy_blocked_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer names with the adaptive composite block key attached:
    ``(c_custkey, c_name, c_nationkey, blk)`` where ``blk`` is the
    last-``d``-before-position-17 name digits and ``d`` is computed
    in-plan from COUNT(*) (1-row broadcast cross join — the repo's
    bounded-crossJoin pattern; no driver collect)."""
    c = _t(spark, sf_dir, "customer")
    bw = c.agg(
        F.expr(
            "least(7, greatest(2, length(cast((count(*) + 5999) div 6000"
            " - 1 as string))))"
        )
        .cast("int")
        .alias("d")
    )
    return c.crossJoin(F.broadcast(bw)).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.expr("substring(c_name, 17 - d, d)").alias("blk"),
    )


@_q("fuzzy_name_pairs", SQL_FUZZY_PAIRS)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: Levenshtein ≤3 name pairs over a
    *composite* blocking key (nation, mid-digits of the name).

    Blocking on nation alone caps parallelism at 25 tasks forever and
    lets block size — hence candidate pairs, quadratically — grow with
    the data. Adding a discriminating name-substring multiplies the
    block count (names are fixed-format ``Customer#%09d``, so a prefix
    or length band is degenerate; the mid-digits vary). Standard
    entity-resolution trade: blocking is a recall heuristic — pairs
    whose mid-digits differ (e.g. ids crossing a block boundary) are
    not candidates; the oracle mirrors the same blocking so the
    contract is exact.

    Scale: the block-key width is ADAPTIVE (``fuzzy_blocked_names``) —
    d grows with log10 of the customer count so per-block size, and
    hence the quadratic in-block Levenshtein bill, stays ~constant: the
    sf10 sweep measured the fixed 2-char block at 342 s (1.5M names →
    ~900M comparisons); d=3 cuts that 10×, and the rule keeps holding
    at 100 TB (d=5 at 6B rows). d is integer-exact digit-length
    arithmetic, not float log10, so a boundary ulp can never flip the
    blocking between engines.

    The in-block compare uses the BANDED Levenshtein
    (``levenshtein(a, b, 3)``): with a fixed threshold k the DP needs
    only the 2k+1 diagonal band — O(k·n) per pair instead of O(n²) —
    and returns -1 past the threshold (early exit on the first band
    row that exceeds it). Exact for every emitted distance, so the
    full-DP oracle hash-matches. On these 18-char names the measured
    effect is a wash (same-JVM ABBA at sf10, PERF.md round 5
    session 3: 95 s unbounded vs 100 s banded mean — within this
    host's noise); the
    banded form is kept because its advantage is O(n/k) and grows
    with string length, which is the regime that matters at 100 TB
    (real entity names, not fixed-width synthetics)."""
    names = fuzzy_blocked_names(spark, sf_dir)
    a = names.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nk"),
        "blk",
    )
    b = names.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nk"),
        "blk",
    )
    return (
        a.join(b, ["nk", "blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "edit_dist",
            F.levenshtein("name_a", "name_b", 3).cast("long"),
        )
        .filter(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", "edit_dist")
    )


_SQL_FUZZY_STATS = f"""
    WITH blocked AS (
        SELECT c_custkey, c_name, c_nationkey AS nk,
               substr(c_name, 17 - {_SQL_BLOCK_W}, {_SQL_BLOCK_W}) AS blk
        FROM customer),
    sizes AS (
        SELECT nk, blk, CAST(COUNT(*) AS BIGINT) AS n_names
        FROM blocked GROUP BY nk, blk),
    dist AS (
        SELECT a.nk, a.blk,
               levenshtein(a.c_name, b.c_name) AS ed
        FROM blocked a JOIN blocked b
          ON a.nk = b.nk AND a.blk = b.blk AND a.c_custkey < b.c_custkey),
    agg AS (
        SELECT nk, blk,
               CAST(COUNT(*) AS BIGINT) AS n_cand_pairs,
               CAST(SUM(CASE WHEN ed <= 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_matched,
               CAST(SUM(CASE WHEN ed = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_d0,
               CAST(SUM(CASE WHEN ed = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
               CAST(SUM(CASE WHEN ed = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
               CAST(SUM(CASE WHEN ed = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3
        FROM dist GROUP BY nk, blk)
    SELECT CAST(s.nk AS BIGINT) AS nk, s.blk, s.n_names,
           COALESCE(a.n_cand_pairs, 0) AS n_cand_pairs,
           COALESCE(a.n_matched, 0) AS n_matched,
           COALESCE(a.n_d0, 0) AS n_d0, COALESCE(a.n_d1, 0) AS n_d1,
           COALESCE(a.n_d2, 0) AS n_d2, COALESCE(a.n_d3, 0) AS n_d3
    FROM sizes s LEFT JOIN agg a ON s.nk = a.nk AND s.blk = a.blk
    """


@_q("fuzzy_match_stats", _SQL_FUZZY_STATS)
def q_fuzzy_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate reporting twin of `fuzzy_name_pairs`: per (nation,
    block) candidate-pair counts and an edit-distance histogram
    (d0..d3) instead of the pair list itself.

    Scale: at sf10 every one of the ~372M in-block candidate pairs
    genuinely passes lev ≤ 3, so the pair-emitting form's 79 s is OUTPUT volume,
    not plan waste — and at 100 TB a 372M-row-per-sf10-shard edge list
    is only wanted by pipelines that consume edges (entity clustering).
    Monitoring and match-quality dashboards want THIS query: identical
    blocking, but the scoring rides the `fuzzy_entity_clusters` numpy
    path — whole blocks ship by 128-way hash into `applyInPandas`
    (`_fuzzy_stats_bucket`, pipeline_ops8), equal-length pairs settle
    on a sharpened hamming gate (hamming ≤ 2 ⇒ lev == hamming exactly;
    only hamming ≥ 3 runs the DP), and the remainder run the
    across-pairs-vectorized clamped DP whose final row IS the exact
    distance — ~300 elementwise vector ops per length group instead of
    C(block, 2) per-join-row ``levenshtein`` calls. The previous
    self-join form materialized all ~372M sf10 candidate pairs as join
    rows before a codegen'd banded levenshtein: same distances, but
    51.7 s vs ~13 s (same-JVM warm) — the join-row machinery, not the
    DP, was the bill. Candidate-pair totals are C(n, 2) from the block
    count alone; singleton blocks emit zero-pair rows so coverage gaps
    stay visible. Output is block-count-sized (~40k rows at sf10,
    constant per block at any scale); the full-DP oracle hash-matches.
    """
    from bikes_data_warehouse_etl_spark.plans.pipeline_ops8 import (
        _fuzzy_stats_bucket,
    )

    names = fuzzy_blocked_names(spark, sf_dir).select(
        F.pmod(F.xxhash64("c_nationkey", "blk"), F.lit(128)).alias("bkt"),
        F.col("c_nationkey").alias("nk"),
        "blk",
        "c_name",
    )
    return names.groupBy("bkt").applyInPandas(
        _fuzzy_stats_bucket,
        schema=(
            "nk long, blk string, n_names long, n_cand_pairs long, "
            "n_matched long, n_d0 long, n_d1 long, n_d2 long, n_d3 long"
        ),
    )


@_q(
    "revenue_by_region_quarter",
    """
    SELECT r_name AS region,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS net_rev_cents
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, year(o_orderdate), quarter(o_orderdate)
    """,
)
def q_revenue_by_region_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic star-schema reporting rollup: fact ⋈ 4 dimensions →
    region×quarter revenue, in the shape that survives 100 TB:

    1. lineitem pre-aggregates per ``l_orderkey`` FIRST — map-side
       partial combine shrinks ~4 line items/order to one row before
       anything joins, and makes every later count a plain COUNT(*)
       (the naive 5-way-join-then-COUNT-DISTINCT plan needs an expand
       or a second shuffle for the distinct).
    2. join orders on the already-shuffled orderkey, then customer on
       custkey. customer is NOT hint-broadcast: it scales with the
       fact side (~1.5B rows at 100 TB-class SF) — AQE picks the
       strategy at runtime; nation/region are genuinely bounded dims,
       hint them.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    net_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(net_cents).alias("order_rev_cents")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            # one row per order after the pre-agg → plain COUNT
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("order_rev_cents").alias("net_rev_cents"),
        )
    )


@_q(
    "approx_distinct_parts",
    """
    SELECT l_returnflag AS flag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           true AS within_5pct
    FROM lineitem
    GROUP BY 1
    """,
)
def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (HyperLogLog++): the constant-memory path
    for count-distinct at 100 TB. Sketch bits differ per engine, so the
    cross-engine contract is a *bounded-error* formulation: emit the
    exact count plus a boolean asserting the HLL estimate (rsd=0.02,
    measured ≤1.1% error at sf0.001-0.1) landed within 5% — the oracle
    emits the same exact count and literal ``true``. The estimate stays
    fully exercised; a drifting HLL flips the boolean and fails the
    hash."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("_approx"),
            F.count_distinct("l_partkey").cast("long").alias("exact_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "flag",
            "exact_parts",
            "n_rows",
            (
                F.abs(F.col("_approx") - F.col("exact_parts")) * 100
                <= F.col("exact_parts") * 5
            ).alias("within_5pct"),
        )
    )