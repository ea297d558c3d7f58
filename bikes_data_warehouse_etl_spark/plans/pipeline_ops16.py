"""Round-4 batch 16: the remaining TPC-H ad-hoc report shapes adapted
to this star schema (Q9 profit, Q16 supplier census, Q20 dominant
suppliers), a co-order graph triangle census, integer-exact trailing
z-score anomaly flags, a Benford first-digit DQ audit, a per-language
percentile length gate, and per-dimension embedding profiling.

Standing contract (synthetic.py module docstring): integer cross-engine
arithmetic wherever a comparison or share is computed (cents / dollars /
bp / ppm), identical column aliases both sides, bounded key spaces
before any joined or windowed step, scale notes inline per query.

TPC-H adaptations: the driver's schema has no ``partsupp``,
``l_shipmode``, or ``l_commitdate``, so Q9/Q16/Q20 are re-expressed
against what exists — supply cost becomes a deterministic 80%-of-retail
stand-in, "customer complaints" becomes a negative-balance supplier
denylist, and part-supplier relationships derive from shipped lineitems.
The JOIN/AGG/decorrelation *shapes* (the part the engine executes) are
the TPC-H ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.functions import packing
from bikes_data_warehouse_etl_spark.plans.synthetic import _q, _t


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-type profit by nation x year
# ---------------------------------------------------------------------------
_SQL_PROFIT_NATION_YEAR = """
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
           CAST(SUM(
               CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                   AS BIGINT)
               - CAST(FLOOR(l_quantity) AS BIGINT)
                 * (CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) * 4 // 5)
           ) AS BIGINT) AS profit_cents
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%r%'
    GROUP BY 1, 2
    """


@_q("profit_by_nation_year", _SQL_PROFIT_NATION_YEAR)
def q_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit measure): revenue minus
    supply cost for a name-filtered part subset, rolled up by supplier
    nation and ship year. Supply cost is the deterministic stand-in
    ``80% of retail, in integer cents`` (no partsupp table here), so
    profit is integer-exact cross-engine: per-row cents are fixed
    BEFORE the sum and the 4/5 scaling is integer division.

    Scale: the fact scans once; part (name-filtered), supplier, and
    nation all broadcast (dims are orders of magnitude under the
    10 MB-per-executor bar even at sf1k), so the ONLY shuffle is the
    final (nation, yr) rollup — ~25x7 groups, map-side combined to
    nothing. Catalyst pushes the p_name filter into the part scan
    before the broadcast. This is the plan Q9 wants at 100 TB: star
    joins as broadcasts, one exchange for a tiny group domain.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%r%")).select(
        "p_partkey",
        (F.round(F.col("p_retailprice") * 100, 0).cast("long") * 4)
        .cast("long")
        .alias("retail4"),
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    row_profit = (
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("long")
        - F.floor(F.col("l_quantity")).cast("long")
        * F.expr("retail4 div 5").cast("long")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("yr"),
        )
        .agg(F.sum(row_profit).cast("long").alias("profit_cents"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: supplier census per part attribute, with a denylist
# ---------------------------------------------------------------------------
_SQL_SUPPLIER_PART_CENSUS = """
    WITH pairs AS (
        SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
    ok_pairs AS (
        SELECT pk, sk FROM pairs
        WHERE sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
    SELECT p_brand AS brand, CAST(p_size AS BIGINT) AS size,
           CAST(COUNT(DISTINCT sk) AS BIGINT) AS supplier_cnt
    FROM ok_pairs JOIN part ON pk = p_partkey
    WHERE p_brand <> 'Brand#5' AND p_size <= 20
    GROUP BY 1, 2
    """


@_q("supplier_part_census", _SQL_SUPPLIER_PART_CENSUS)
def q_supplier_part_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers can ship each (brand, size) bucket, excluding a supplier
    denylist — the NOT IN subquery becomes an explicit LEFT ANTI join
    (Catalyst plans NOT IN as null-aware anti; the explicit anti is the
    same physical shape without the null-semantics trap, and the
    denylist predicate has no NULLs by schema). Part-supplier
    relationships derive from shipped lineitems (no partsupp table).

    Scale: the distinct pair projection is the big step — it shuffles
    (pk, sk) longs only, never wide rows, and map-side partial distinct
    collapses the ~18x duplication before the exchange. The denylist
    (handful of rows) broadcasts for the anti join; part broadcasts for
    the attribute join; the final census groups a (brand, size) domain
    of a few hundred keys. COUNT(DISTINCT sk) re-shuffles the already-
    distinct pairs by group key — bounded by |part|x|supp-per-part|.
    """
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    denylist = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("sk"))
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#5") & (F.col("p_size") <= 20))
        .select("p_partkey", "p_brand", "p_size")
    )
    return (
        pairs.join(denylist, "sk", "left_anti")
        .join(part, F.col("pk") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_size").cast("long").alias("size"),
        )
        .agg(F.count_distinct("sk").cast("long").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: suppliers dominating a part's shipped volume
# ---------------------------------------------------------------------------
_SQL_DOMINANT_SUPPLIERS = """
    WITH ps AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2),
    tot AS (
        SELECT pk, CAST(SUM(qty) AS BIGINT) AS part_qty,
               CAST(COUNT(*) AS BIGINT) AS n_sup
        FROM ps GROUP BY 1),
    dom AS (
        SELECT ps.sk, ps.pk, ps.qty * 10000 // tot.part_qty AS share_bp
        FROM ps JOIN tot ON ps.pk = tot.pk
        WHERE 2 * ps.qty * tot.n_sup > 3 * tot.part_qty
          AND tot.part_qty >= 100)
    SELECT s_name AS supplier, CAST(COUNT(*) AS BIGINT) AS n_dominant_parts,
           CAST(MAX(share_bp) AS BIGINT) AS max_share_bp
    FROM dom JOIN supplier ON sk = s_suppkey
    GROUP BY 1
    """


@_q("dominant_suppliers", _SQL_DOMINANT_SUPPLIERS)
def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers shipping
    MORE THAN 1.5x THE AVERAGE per-supplier volume of a part (on parts
    with meaningful volume) — Q20's correlated "excess availability
    relative to the part's total" subquery decorrelated into
    aggregate-then-join, with the concentration test kept in integers
    (2*qty*n_sup > 3*total ⟺ qty > 1.5 * total/n_sup, share in basis
    points by integer division). An absolute >50% gate would be the
    literal Q20 constant but never fires when every part ships through
    dozens of suppliers; the relative form asks the same business
    question (who should get the promotion contract) at any fan-out.

    Scale: both aggregates key on (pk[, sk]) longs and the second
    groups the OUTPUT of the first, so AQE coalesces the already-small
    exchange; the ps-to-tot join co-partitions on pk (same key as the
    producing aggregates — no extra shuffle beyond the agg's own), and
    the dominance filter cuts the join output to near-nothing before
    the supplier broadcast join. No row ever carries more than 3 longs.
    """
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("pk"),
            F.col("l_suppkey").alias("sk"),
            F.floor(F.col("l_quantity")).cast("long").alias("q"),
        )
        .groupBy("pk", "sk")
        .agg(F.sum("q").cast("long").alias("qty"))
    )
    tot = ps.groupBy("pk").agg(
        F.sum("qty").cast("long").alias("part_qty"),
        F.count(F.lit(1)).cast("long").alias("n_sup"),
    )
    dom = (
        ps.join(tot, "pk")
        .filter(
            (2 * F.col("qty") * F.col("n_sup") > 3 * F.col("part_qty"))
            & (F.col("part_qty") >= 100)
        )
        .select("sk", F.expr("qty * 10000 div part_qty").alias("share_bp"))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        dom.join(supp, F.col("sk") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("supplier"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dominant_parts"),
            F.max("share_bp").cast("long").alias("max_share_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Graph: co-order supplier edges (SHARED by triangle_census here and
# degree_distribution in pipeline_ops19 — one definition, one threshold)
# ---------------------------------------------------------------------------
_MIN_COORDERS = 4


def sql_coorder_edge_ctes(min_coorders: int = _MIN_COORDERS) -> str:
    """Oracle CTE text for the co-order supplier edge set ``e(a, b)``
    (ID-oriented a < b, >= min_coorders distinct shared orders). The
    oracle deliberately spells the naive fact self-join; the Spark
    twin (`co_order_edges`) uses the basket pattern, and every hash
    match across the graph-query family proves them equal."""
    # MATERIALIZED: consumers reference e several times (kcore peels,
    # triangle closure); DuckDB 1.0 inlines plain CTEs per reference,
    # which re-runs the fact self-join each time — at sf1 the kcore
    # oracle went from minutes to an unbounded grind without this.
    return f"""pair_rows AS MATERIALIZED (
        SELECT a.l_suppkey AS a, b.l_suppkey AS b, a.l_orderkey AS ok
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    e AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT a, b, COUNT(DISTINCT ok) AS n_ord
            FROM pair_rows GROUP BY a, b)
        WHERE n_ord >= {min_coorders})"""


def co_order_edges(
    spark: SparkSession, sf_dir: str, min_coorders: int = _MIN_COORDERS
) -> DataFrame:
    """Canonical a<b co-order supplier edge list e(a, b), the Spark twin
    of `sql_coorder_edge_ctes`: basket-pattern edge build
    — one collect_set shuffle on the order key, unordered pairs
    generated ROW-LOCALLY from each bounded basket, and because the
    basket is a SET, a plain COUNT per pair IS the distinct co-order
    count (no count-distinct Expand). Returns ``e(a, b)``; callers
    decide whether to localCheckpoint (triangle_census does — its edge
    set feeds five consumers).

    The pair-count shuffle — the widest exchange of the whole graph
    family (≈ Σ_orders C(suppliers/order, 2) rows, ~90 M at sf10) —
    carries ONE packed long per pair, not two: suppkeys are 32-bit in
    this schema (TPC-H keys; the generator's ≤100-replica guard in
    tools/make_sf1.py bounds offsets < 2²⁴), so ``a·2³² + b`` is
    injective and the aggregate hashes/compares a single 8-byte key.
    The inner filter-then-transform also allocates pairs once (the
    earlier struct form built C(k,2)·2 structs per basket and shipped
    16-byte keys). Unpacking is two codegen'd bit ops after the
    aggregate has already shrunk the stream ~30×. The packing is
    Spark-internal: the oracle CTE keeps the naive readable self-join
    and the hash gate proves the two equal."""
    sets = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.collect_set("l_suppkey").alias("sks"))
        .where(F.size("sks") >= 2)
    )
    pairs = sets.select(packing.explode_packed_pairs("sks"))
    return (
        pairs.groupBy("ab")
        .agg(F.count(F.lit(1)).alias("n_ord"))
        .filter(F.col("n_ord") >= min_coorders)
        .select(
            packing.unpack_hi("ab").alias("a"),
            packing.unpack_lo("ab").alias("b"),
        )
    )


# Per-center neighbor cap for the wedge-census family
# (link_prediction_cn, adamic_adar_topk). The wedge self-join on the
# center vertex costs Sigma_v deg(v)^2; on the co-order graph (dense:
# median degree 218 at sf0.1, near-complete at sf0.01) that is 48.5M
# wedge rows at sf0.1 and grows super-linearly. Capping each center to
# its CAP hash-rank-first neighbors bounds the join at |V| * CAP^2 / 2
# rows -- linear in nodes, constant per node -- which is the standard
# hub mitigation for link prediction (hubs carry the least signal:
# Adamic-Adar already down-weights them toward zero). The kept subset
# is chosen by a DETERMINISTIC integer hash so Spark and the DuckDB
# oracle keep the identical neighbors and the hash gate still proves
# the capped formulation exactly.
_WEDGE_DEG_CAP = 64
_HASH_MULT = 2654435761  # Knuth multiplicative constant
_HASH_MOD = 1000003


def sql_capped_adj_ctes(cap: int = _WEDGE_DEG_CAP) -> str:
    """Oracle CTE text extending ``e`` (from `sql_coorder_edge_ctes`)
    with the symmetric adjacency ``adj0(v, u)``, TRUE degrees
    ``deg(v, d)`` (computed before the cap, so degree-derived weights
    stay exact), and the degree-capped adjacency ``adj(v, u)`` keeping
    per center the ``cap`` neighbors ranking first by
    ``(u * 2654435761) % 1000003`` (ties by u) -- pure integer
    arithmetic, identical in both engines."""
    return f"""adj0 AS (
        SELECT a AS v, b AS u FROM e UNION ALL SELECT b AS v, a AS u FROM e),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj0 GROUP BY 1),
    adj AS (
        SELECT v, u FROM (
            SELECT v, u, ROW_NUMBER() OVER (
                PARTITION BY v
                ORDER BY (u * {_HASH_MULT}) % {_HASH_MOD}, u) AS hrk
            FROM adj0)
        WHERE hrk <= {cap})"""


def symmetric_adjacency(e: DataFrame) -> DataFrame:
    """``e(a, b)`` -> both-direction adjacency ``adj0(v, u)``."""
    return e.select(F.col("a").alias("v"), F.col("b").alias("u")).unionAll(
        e.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )


def capped_adjacency(adj0: DataFrame, cap: int = _WEDGE_DEG_CAP) -> DataFrame:
    """Spark twin of the ``adj`` CTE in `sql_capped_adj_ctes`: keep per
    center v the ``cap`` neighbors ranking first by the deterministic
    Knuth hash. One window shuffle on v (the same key the wedge join
    needs next, so the exchange is reused), then the self-join is
    bounded at cap^2 rows per center regardless of hub degree."""
    w = Window.partitionBy("v").orderBy(
        (F.col("u").cast("long") * F.lit(_HASH_MULT)) % F.lit(_HASH_MOD),
        "u",
    )
    return (
        adj0.withColumn("hrk", F.row_number().over(w))
        .where(F.col("hrk") <= F.lit(cap))
        .drop("hrk")
    )


# ---------------------------------------------------------------------------
# Graph: co-order supplier triangle census + clustering coefficient
# ---------------------------------------------------------------------------
_SQL_TRIANGLE_CENSUS = f"""
    WITH {sql_coorder_edge_ctes()},
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY v),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
          ON e3.a = e1.a AND e3.b = e2.b),
    wed AS (
        SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           wed.n_nodes, tri.n_triangles, wed.n_wedges,
           CAST(3 * tri.n_triangles * 1000000 // wed.n_wedges AS BIGINT)
               AS closure_ppm
    FROM tri, wed
    """


@_q("triangle_census", _SQL_TRIANGLE_CENSUS)
def q_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-order graph: suppliers are
    linked when they co-appear in >= 4 distinct orders (thresholding
    thins boilerplate co-occurrence into a meaningful backbone), and
    the report is edges / nodes / triangles / wedges plus the global
    clustering coefficient in ppm (3*triangles/wedges) — the standard
    "is this graph community-structured or random" diagnostic, same
    family as `pagerank_suppliers` and `neardup_components`.

    Scale: triangles are counted by the EDGE-ITERATOR over a
    DEGREE-ORIENTED adjacency — every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, out-neighbor lists
    are collected per source (outdeg bounded O(sqrt |E|), the classic
    orientation bound), and each oriented edge (u, v) contributes
    |N+(u) ∩ N+(v)| via `array_intersect` — a hash-set probe INSIDE a
    codegen'd expression. Each triangle {x→y, x→z, y→z} is counted
    exactly once, at edge (x, y) (z sits in both out-lists; at (x, z)
    y ∉ N+(z), at (y, z) x ∉ N+(y)). The previous formulation
    materialized every wedge as a JOIN ROW and closed it with a semi
    join — sum_u C(outdeg(u), 2) rows through a shuffle, which on this
    quasi-regular graph (sf10: |V| 100k, degree ≈ 218) is ~600M rows
    and was 78% of a 352 s sf10 wall; the intersect form moves that
    work into JVM expression evaluation over |E| rows carrying
    adjacency arrays (total payload 2|E| longs), sf10 352 s → ~90 s.
    The adjacency is EDGE-scale payload, so it is NOT hint-broadcast
    (the wedge-census bug class from round 4) — both attach joins
    shuffle on the vertex key and AQE re-plans from runtime sizes.
    The edge builder never self-joins the fact table: one collect_set
    shuffle on the order key, unordered pairs generated ROW-LOCALLY
    from each bounded basket (the `pagerank_suppliers` pattern —
    fan-out ≤ C(suppliers/order, 2)), and because the basket is a SET,
    a plain COUNT per pair IS the distinct co-order count (no
    count-distinct Expand). `e` feeds the census count, degrees, and
    the orientation build — one lazy localCheckpoint instead of
    re-running the build per consumer. The census scalars join as
    1-row broadcasts.
    """
    e = co_order_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    att = e.join(
        deg.select(F.col("v").alias("a"), F.col("d").alias("da")),
        "a",
    ).join(
        deg.select(F.col("v").alias("b"), F.col("d").alias("db")),
        "b",
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = att.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=False)
    adj = o.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    # r11: every oriented edge (u, v) appears exactly once in adj[u]'s
    # neighbor list, so exploding the adjacency REPLACES the old
    # o ⋈ adj join on u — one exchange fewer (o no longer re-shuffles
    # by u). o stays lazily checkpointed: the two adj legs below both
    # root at it, and without the truncation the full attach subtree
    # inlines into each leg. Same-JVM ABBA: 1.46-3.4 s → 1.35-1.8 s
    # per construction+noop; n_triangles bit-identical.
    tri = (
        adj.select("u", F.explode("nbrs").alias("v"), F.col("nbrs"))
        .join(
            adj.select(
                F.col("u").alias("v"), F.col("nbrs").alias("nbrs_v")
            ),
            "v",
        )
        .select(F.size(F.array_intersect("nbrs", "nbrs_v")).alias("c"))
        .agg(F.sum("c").cast("long").alias("n_triangles"))
    )
    wed = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        edges.join(F.broadcast(wed))
        .join(F.broadcast(tri))
        .select(
            "n_edges",
            "n_nodes",
            "n_triangles",
            "n_wedges",
            F.expr("3 * n_triangles * 1000000 div n_wedges")
            .cast("long")
            .alias("closure_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Monitoring: trailing z-score anomaly flags, integer-exact
# ---------------------------------------------------------------------------
_SQL_DAILY_ANOMALY = """
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                   AS BIGINT) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS dollars
        FROM orders GROUP BY 1),
    w AS (
        SELECT day, dollars, dollars // 1000 AS dk,
               CAST(COUNT(*) OVER tw AS BIGINT) AS n_prev,
               CAST(SUM(dollars // 1000) OVER tw AS BIGINT) AS s,
               CAST(SUM((dollars // 1000) * (dollars // 1000)) OVER tw
                   AS BIGINT) AS ssq
        FROM daily
        WINDOW tw AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
    SELECT day, dollars,
           CAST(CASE WHEN n_prev >= 8 AND
                     (n_prev * dk - s) * (n_prev * dk - s)
                     > 9 * (n_prev * ssq - s * s)
                THEN 1 ELSE 0 END AS BIGINT) AS anomaly
    FROM w
    """


@_q("daily_anomaly_flags", _SQL_DAILY_ANOMALY)
def q_daily_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly detection on the daily revenue series:
    each day is flagged when it sits more than 3 population standard
    deviations from the trailing-28-day mean (min 8 prior days). The
    z-test is INTEGER-exact cross-engine: z^2 > 9 is algebraically
    (n*x - s)^2 > 9*(n*ssq - s^2) over bigint KILOdollars, so no float
    mean/stddev ever exists to disagree in the last ulp — the
    monitoring twin of `winsorized_price_stats`'s robust-stats idea.
    The test runs on kilodollar-floored values by contract (the z-test
    is scale-invariant up to the rounding granularity, and at
    million-dollar daily volumes a sub-$1000 wiggle is never the
    anomaly): dollar-granularity squares overflow int64 once daily
    revenue passes ~$10^8 x 28 days — the sf1 run hit exactly that —
    while kilodollar squares are safe to ~$10^11/day.

    Scale: the rollup reduces the fact table to |days| rows; the
    trailing window then runs over ~2.5k rows. As written the window is
    one global ordering (fine at any sf since input is |days|); the
    100 TB form partitions the same frame by (segment, region, metric)
    exactly as `rolling_7d_revenue` documents.
    """
    daily = (
        _t(spark, sf_dir, "orders")
        .select(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day"),
            F.floor(F.col("o_totalprice")).cast("long").alias("d"),
        )
        .groupBy("day")
        .agg(F.sum("d").cast("long").alias("dollars"))
    )
    tw = Window.orderBy("day").rowsBetween(-28, -1)
    dk = F.expr("dollars div 1000")
    w = daily.select(
        "day",
        "dollars",
        dk.alias("dk"),
        F.count(F.lit(1)).over(tw).cast("long").alias("n_prev"),
        F.sum(dk).over(tw).cast("long").alias("s"),
        F.sum(dk * dk).over(tw).cast("long").alias("ssq"),
    )
    dev = F.col("n_prev") * F.col("dk") - F.col("s")
    var_n2 = F.col("n_prev") * F.col("ssq") - F.col("s") * F.col("s")
    return w.select(
        "day",
        "dollars",
        F.when((F.col("n_prev") >= 8) & (dev * dev > 9 * var_n2), 1)
        .otherwise(0)
        .cast("long")
        .alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# DQ: Benford first-digit audit on order totals
# ---------------------------------------------------------------------------
# round(log10(1 + 1/d) * 10000) precomputed as literals so neither
# engine's log implementation is on the comparison path.
_BENFORD_BP = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792, 6: 669, 7: 580,
               8: 512, 9: 458}

_SQL_BENFORD = """
    WITH d AS (
        SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                   AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1),
    per AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
    tot AS (SELECT SUM(n) AS t FROM per),
    exp AS (
        SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969),
            (5, 792), (6, 669), (7, 580), (8, 512), (9, 458))
            AS v(digit, benford_bp))
    SELECT per.digit, per.n,
           CAST(per.n * 10000 // (SELECT t FROM tot) AS BIGINT) AS share_bp,
           CAST(exp.benford_bp AS BIGINT) AS benford_bp,
           CAST(per.n * 10000 // (SELECT t FROM tot) - exp.benford_bp
               AS BIGINT) AS delta_bp
    FROM per JOIN exp ON per.digit = exp.digit
    """


@_q("benford_price_audit", _SQL_BENFORD)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed share
    of each leading digit vs the Benford expectation, in basis points.
    Fabricated or truncated monetary data shows up as large |delta_bp|
    on digits 1/2 — a one-glance fraud/ingest-corruption screen. The
    Benford expectations are PRECOMPUTED integer literals so neither
    engine's log10 is on the comparison path; the first digit comes
    from the integer dollar string, not float log arithmetic.

    Scale: map-side substring + 9-key aggregate — the exchange carries
    nine rows regardless of input size; the scalar total and the 9-row
    expectation table broadcast. Runs as a side-output of any scan.
    """
    d = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("digit")
        )
    )
    per = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = per.agg(F.sum("n").alias("t"))
    exp = spark.createDataFrame(
        [(k, v) for k, v in _BENFORD_BP.items()], "digit long, benford_bp long"
    )
    return (
        per.join(F.broadcast(tot))
        .join(F.broadcast(exp), "digit")
        .select(
            "digit",
            "n",
            F.expr("n * 10000 div t").cast("long").alias("share_bp"),
            F.col("benford_bp").cast("long").alias("benford_bp"),
            (F.expr("n * 10000 div t") - F.col("benford_bp"))
            .cast("long")
            .alias("delta_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Curation: per-language percentile length gate (exact, integer rank test)
# ---------------------------------------------------------------------------
_SQL_LENGTH_GATE = """
    WITH r AS (
        SELECT lang, n_chars,
               CAST(RANK() OVER (PARTITION BY lang ORDER BY n_chars)
                   AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        FROM documents),
    c AS (
        SELECT lang, n_chars,
               CASE WHEN 20 * (rnk - 1) < (n - 1) THEN 'short'
                    WHEN 20 * (rnk - 1) > 19 * (n - 1) THEN 'long'
                    ELSE 'kept' END AS fate
        FROM r)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN fate = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN fate = 'short' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cut_short,
           CAST(SUM(CASE WHEN fate = 'long' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cut_long,
           CAST(SUM(CASE WHEN fate = 'kept' THEN n_chars ELSE 0 END)
               AS BIGINT) AS kept_chars
    FROM c GROUP BY lang
    """


@_q("length_outlier_gate", _SQL_LENGTH_GATE)
def q_length_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile length gate: documents outside the
    [p5, p95] length band OF THEIR OWN LANGUAGE are cut (truncation
    stubs below, concatenation junk above) — gating on a global band
    instead would systematically delete whole languages whose length
    distribution differs (CJK chars-per-token). The percentile test is
    integer-exact: percent_rank >= 0.05 is exactly 20*(rank-1) >= n-1,
    so no float percentile or interpolation is compared cross-engine,
    and ties share a rank (identical RANK semantics both engines).

    Scale: one shuffle partitions by lang for the rank window — skew-
    prone (en dwarfs others), so at 100 TB the same gate runs on a
    PER-LANG HISTOGRAM of n_chars (bounded bins, `value_histogram`
    pattern) with band edges read off cumulative counts instead of a
    full sort; the exact-rank form here doubles as that plan's oracle.
    The final rollup groups five langs.
    """
    w = Window.partitionBy("lang").orderBy("n_chars")
    wn = Window.partitionBy("lang")
    r = _t(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.rank().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    fate = (
        F.when(20 * (F.col("rnk") - 1) < F.col("n") - 1, "short")
        .when(20 * (F.col("rnk") - 1) > 19 * (F.col("n") - 1), "long")
        .otherwise("kept")
    )
    c = r.select("lang", "n_chars", fate.alias("fate"))
    kept = (F.col("fate") == "kept").cast("long")
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum((F.col("fate") == "short").cast("long")).cast("long").alias(
            "n_cut_short"
        ),
        F.sum((F.col("fate") == "long").cast("long")).cast("long").alias(
            "n_cut_long"
        ),
        F.sum(F.col("n_chars") * kept).cast("long").alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# Embeddings: per-dimension distribution profile
# ---------------------------------------------------------------------------
_SQL_EMB_DIM_PROFILE = """
    WITH z AS (
        SELECT unnest(embedding) AS val,
               unnest(generate_series(1, len(embedding))) AS dim
        FROM embeddings)
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vals,
           ROUND(AVG(CAST(val AS DOUBLE)), 2) + 0.0 AS mean_r,
           ROUND(MIN(CAST(val AS DOUBLE)), 2) + 0.0 AS min_r,
           ROUND(MAX(CAST(val AS DOUBLE)), 2) + 0.0 AS max_r
    FROM z GROUP BY 1
    """


@_q("embedding_dim_profile", _SQL_EMB_DIM_PROFILE)
def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile: mean / min / max for each of
    the 64 vector dimensions — the pre-flight for feature scaling
    (a dimension with 10x the variance of the rest dominates L2
    distance and should be whitened before `ivf_topk` /
    `embedding_topk`) and for detecting dead dimensions (constant
    output = wasted model capacity). Complements `embedding_norm_stats`
    (per-VECTOR norms) with the per-DIMENSION view. Spark's 0-based
    posexplode is shifted to match the oracle's 1-based zipped-unnest
    position; min/max are order-free so round(2) is exact, and the
    64-way mean is rounded under the module float discipline. The
    ``+ 0.0`` on both sides folds IEEE negative zero (round of a tiny
    negative mean) into +0.0 so the hash can't split on the sign bit.

    Scale: posexplode multiplies rows by dim-count but each exploded
    row is (long, double) — the aggregate keys on 64 dims, so the
    exchange after map-side combine is 64 rows per task. At 100 TB
    this is the canonical narrow-explode/tiny-domain shape; no
    alternative plan beats it.
    """
    vals = _t(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("pos", "val")
    )
    return (
        vals.select(
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.col("val").cast("double").alias("v"),
        )
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vals"),
            (F.round(F.avg("v"), 2) + 0.0).alias("mean_r"),
            (F.round(F.min("v"), 2) + 0.0).alias("min_r"),
            (F.round(F.max("v"), 2) + 0.0).alias("max_r"),
        )
    )
