"""Round-4 batch 14: time-interval event joins, training-chunk
generation, rolling range-window revenue, and a fixed-iteration
PageRank — four operator families the engine hadn't expressed yet:
the interval-join pair machinery (equi key plus a time-range
residual), the token-window chunker every context-length-bounded training pipeline
runs, RANGE-frame windows (vs the ROWS frames used elsewhere), and
iterative graph algebra with an unrolled differential oracle.

Standing contract: integer cross-engine arithmetic (cents / ppm),
identical column aliases on both sides, bounded key spaces before any
joined or windowed step, and scale notes inline per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.functions.text import hash64, tokens
from bikes_data_warehouse_etl_spark.plans.extensions import (
    _SQL_TOKENS,
    _sql_hash64,
)
from bikes_data_warehouse_etl_spark.plans.synthetic import _q, _t


# ---------------------------------------------------------------------------
# Interval join: each purchase with the views of the same user in the
# trailing hour — the batch form of a stream-stream interval join
# ---------------------------------------------------------------------------
_SQL_INTERVAL_JOIN = """
    WITH p AS (
        SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
        FROM events WHERE event_type = 'purchase'),
    v AS (
        SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, p.es,
           CAST(COUNT(v.es) AS BIGINT) AS n_views_1h,
           CAST(COALESCE(SUM(v.cents), 0) AS BIGINT) AS view_cents_1h
    FROM p LEFT JOIN v
      ON p.user_id = v.user_id
     AND v.es > p.es - 3600 AND v.es <= p.es
    GROUP BY p.event_id, p.user_id, p.es
    """


@_q("interval_join_purchases", _SQL_INTERVAL_JOIN)
def q_interval_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window interval join: every purchase LEFT-joined to the
    same user's views with ``view.es ∈ (purchase.es − 3600, purchase.es]``,
    aggregated to a per-purchase view count + cents sum (zero-filled
    for view-less purchases). This is the batch twin of the
    stream-stream interval join in ``streaming/pipeline.py`` — the
    same predicate is what a watermarked streaming join runs with
    bounded state.

    Scale: the join is EQUI on user_id with the time range as a
    residual predicate — one shuffle of each side on a long key; never
    a cross product (per-user fan-out is that user's views in an hour,
    the same bound that sizes streaming state). Both branches carry
    v_-prefixed aliases because they descend from the same events scan
    (shared exprIds otherwise trip self-join dedup). At 100 TB,
    pre-bucket events by user_id and the shuffle disappears; AQE
    handles hot users via skew-join split.
    """
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("es"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.unix_timestamp("ts").cast("long").alias("v_es"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v_cents"),
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_es") > F.col("es") - 3600)
        & (F.col("v_es") <= F.col("es")),
        "left",
    )
    return joined.groupBy("event_id", "user_id", "es").agg(
        F.count("v_es").cast("long").alias("n_views_1h"),
        F.coalesce(F.sum("v_cents"), F.lit(0)).cast("long").alias(
            "view_cents_1h"
        ),
    )


# ---------------------------------------------------------------------------
# Context-window chunking: 64-token windows, stride 48 (16-token overlap)
# ---------------------------------------------------------------------------
_CHUNK, _STRIDE = 64, 48

_SQL_DOC_CHUNKS = f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    e AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, (len(toks) - 1) // {_STRIDE})) AS i
        FROM t)
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(len(toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_CHUNK}]) AS BIGINT)
               AS n_tokens,
           {_sql_hash64(
               f"array_to_string(toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_CHUNK}], ' ')"
           )} AS chunk_hash
    FROM e
    """


@_q("doc_chunks_overlap", _SQL_DOC_CHUNKS)
def q_doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context-window chunker — the OVERLAPPING-stride
    completion of `doc_chunks` (pipeline_ops2: disjoint 16-token
    windows): each document split into
    64-token windows starting every 48 tokens (16-token overlap so no
    training example starts cold mid-sentence), emitting (doc_id,
    chunk_idx, n_tokens, chunk_hash) — the document→sample expansion
    every context-length-bounded LLM pipeline runs before packing
    (`sequence_packing` consumes exactly this shape). The tail window
    is short, never dropped; the content hash is the portable md5-64
    so chunk identity survives re-sharding.

    Scale: 100% row-local — tokenize, one Generate (explode of the
    ~n/48 window starts), slice+hash per window; ZERO shuffles, so
    the operator is embarrassingly parallel at any data size. The
    token array is materialized once below the Generate (top-level
    projection), not re-tokenized per window — the same
    CollapseProject O(n²) hazard `word_shingles_from_tokens`
    documents. Fan-out is bounded by doc length/stride, so output
    partition sizes stay proportional to input splits.
    """
    t = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    e = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(f"sequence(0, (size(toks)-1) div {_STRIDE})")
        ).alias("chunk_idx"),
    ).withColumn("ch", F.expr(f"slice(toks, chunk_idx*{_STRIDE} + 1, {_CHUNK})"))
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("ch").cast("long").alias("n_tokens"),
        hash64(F.array_join("ch", " ")).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day revenue per market segment: RANGE-frame window
# ---------------------------------------------------------------------------
_SQL_ROLLING_7D = """
    WITH d AS (
        SELECT c_mktsegment AS seg,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                   AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS day_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2)
    SELECT seg, day, day_cents,
           CAST(SUM(day_cents) OVER (
               PARTITION BY seg ORDER BY day
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS rev_7d_cents
    FROM d
    """


@_q("rolling_7d_revenue", _SQL_ROLLING_7D)
def q_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day revenue per market segment — a RANGE-frame window
    (``RANGE BETWEEN 6 PRECEDING``), which unlike the ROWS frames used
    elsewhere in the suite sums by VALUE distance, so calendar gaps
    (days with no orders) shorten the window honestly instead of
    silently reaching further back in time.

    Scale: the window runs over the pre-aggregated (segment × day)
    domain — bounded at ~5 segments × the date range, thousands of
    rows regardless of fact size — after one map-side-combined
    aggregate of orders. The integer epoch-day sort key makes the
    RANGE frame integer-exact and engine-portable. The customer join
    broadcasts (dimension side); the orders scan reads 3 of 6 columns.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    d = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("seg", "day")
        .agg(F.sum("cents").cast("long").alias("day_cents"))
    )
    w = (
        Window.partitionBy("seg")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    return d.select(
        "seg",
        "day",
        "day_cents",
        F.sum("day_cents").over(w).cast("long").alias("rev_7d_cents"),
    )


# ---------------------------------------------------------------------------
# PageRank (2 unrolled iterations) on the supplier co-order graph
# ---------------------------------------------------------------------------
_SQL_PAGERANK = """
    WITH so AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
    e AS (
        SELECT a.sk AS src, b.sk AS dst
        FROM so a JOIN so b ON a.ok = b.ok AND a.sk <> b.sk
        GROUP BY a.sk, b.sk
        HAVING COUNT(*) >= 2),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
    r1 AS (
        SELECT e.dst AS node,
               150000 + (850 * SUM(1000000 // deg.d)) // 1000 AS r
        FROM e JOIN deg ON e.src = deg.src
        GROUP BY e.dst),
    r2 AS (
        SELECT e.dst AS node,
               150000 + (850 * SUM(r1.r // deg.d)) // 1000 AS r
        FROM e
        JOIN deg ON e.src = deg.src
        JOIN r1 ON r1.node = e.src
        GROUP BY e.dst)
    SELECT CAST(node AS BIGINT) AS s_suppkey, CAST(r AS BIGINT) AS rank_ppm
    FROM r2
    """


@_q("pagerank_suppliers", _SQL_PAGERANK)
def q_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, two iterations, integer-ppm ranks) over
    the supplier co-order graph: suppliers are linked when they appear
    on the same order at least twice. Every arithmetic step is integer
    (per-edge ``rank div degree``, then the 850/1000 damping in
    integer ppm), so iteration results are bitwise engine-portable —
    the DuckDB oracle unrolls the same two iterations and the hash
    match proves the join-aggregate algebra, not just the final sort.

    Scale: per iteration the plan is (edges ⋈ ranks on src) →
    re-aggregate on dst — a shuffle bounded by EDGE count, the same
    shape GraphX/Pregel lowers to. The co-order graph is symmetric by
    construction, so the support-≥2 filter keeps the in-node and
    out-node sets equal and no rank mass leaks to dangling nodes. The
    edge builder never self-joins: one collect_set shuffle on the
    order key, CANONICAL a<b pairs generated row-locally from each
    bounded basket (fan-out ≤ C(suppliers/order, 2)), one (a, b)
    count shuffle — half the bytes of a both-directions build — then
    the ≥2-support filter bounds the edge set before it is mirrored
    into the directed form the rank iterations consume. Production runs loop this plan with the
    localCheckpoint-every-5 lineage truncation proven in
    ``operators/dedup.py neardup_components``; two unrolled rounds
    keep the differential oracle exact.
    """
    # canonical a<b edge build (`co_order_edges` — one collect_set
    # shuffle, row-local basket pairs): the graph is symmetric, so the
    # directed count for (a,b) equals the undirected co-order count and
    # the ≥2-support filter commutes with mirroring. Counting CANONICAL
    # pairs and mirroring AFTER the filter halves the dominant
    # pair-count shuffle vs the old both-directions build (the pair key
    # domain is near-unique at scale, so map-side combine can't save
    # it); the mirror lands on the already support-filtered edge set,
    # which is orders of magnitude smaller. sf10: 143 s (old
    # both-directions build, full-sweep conditions) → 39 s isolated,
    # 9-13 s warm-cache (same-JVM ABBA, PERF.md round 5 session 3), same hash.
    from bikes_data_warehouse_etl_spark.plans.pipeline_ops16 import (
        co_order_edges,
    )

    und = co_order_edges(spark, sf_dir, min_coorders=2)
    e = (
        und.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        # the edge set feeds FOUR consumers (deg, ed, and both rank
        # rounds through ed); without materialization Spark re-runs the
        # edge build per consumer. A LAZY localCheckpoint runs it
        # exactly once at the first action — legitimate because the
        # support-filtered edge set is the graph itself, the same
        # thing any Pregel runtime materializes between supersteps.
        # eager=False matters: plan construction (explain, plan-shape
        # tests, bench building the frame per pass) must not launch
        # jobs or accrue blocks; blocks are MEMORY_AND_DISK and freed
        # by the ContextCleaner when the frame goes out of scope.
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ed = e.join(deg, "src")
    r1 = ed.groupBy(F.col("dst").alias("node")).agg(
        (
            F.lit(150000)
            + F.expr("850 * sum(1000000 div d) div 1000")
        ).alias("r")
    )
    r2 = (
        ed.join(r1.withColumnRenamed("node", "src"), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(
            (
                F.lit(150000)
                + F.expr("850 * sum(r div d) div 1000")
            ).alias("r")
        )
    )
    return r2.select(
        F.col("node").cast("long").alias("s_suppkey"),
        F.col("r").cast("long").alias("rank_ppm"),
    )


# ---------------------------------------------------------------------------
# BPE merge candidates: corpus-wide adjacent character-pair counts
# ---------------------------------------------------------------------------
_SQL_BPE = f"""
    WITH tok AS (
        SELECT t FROM (SELECT unnest({_SQL_TOKENS}) AS t FROM documents)
        WHERE len(t) >= 2),
    pairs AS (
        SELECT unnest(list_transform(
            generate_series(1, len(t) - 1), i -> t[i:i+1])) AS pair
        FROM tok)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """


@_q("bpe_merge_candidates", _SQL_BPE)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent character pairs by corpus frequency — the
    highest-count pair is exactly the next merge a BPE tokenizer
    trainer would apply, so this query IS one iteration of
    byte-pair-encoding vocabulary learning (corpus-scale, the step
    trainers re-run tens of thousands of times; each later iteration
    is this same plan over re-segmented tokens).

    Scale: the explode fans out by token LENGTH (bounded, ~6 chars
    avg), but the aggregation key domain is tiny — at most charset²
    pairs (~1.3k for [a-z0-9]) — so the count shuffle moves a few KB
    per partition after map-side combine regardless of corpus size,
    and the top-50 is a TakeOrderedAndProject heap over ≤ charset²
    rows, never a global sort. Deterministic total order: count desc,
    then pair asc for ties.
    """
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(tokens(F.col("text"))).alias("t")
    ).filter(F.length("t") >= 2)
    pairs = tok.select(
        F.explode(
            F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(50)
    )
