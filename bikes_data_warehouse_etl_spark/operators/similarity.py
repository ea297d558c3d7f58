"""Similarity search over embedding columns (array<float>).

Three strategies:

* ``brute_force_topk`` — exact cosine top-k against a query vector.
  The per-row cosine is a codegen'd array expression; top-k collapses
  to TakeOrderedAndProject (per-partition heap + k-row driver merge),
  so the full similarity column is never materialized or shuffled.
  This is the correctness baseline and is already the right plan for
  one-off queries at any scale (one scan, no shuffle).

* ``lsh_topk`` — sign-LSH bucketed approximate search: probe only the
  query's bucket (plus optional Hamming-1 neighbor buckets). At 100 TB
  with the table *written bucketed/partitioned by the LSH bucket*,
  partition pruning turns a full scan into a handful of buckets; recall
  is traded via n_bits/probes.

* ``knn_basket_bucketed`` — all-pairs cosine restricted to shared
  buckets: each bucket's vectors are collected once and paired
  row-locally, which bounds the quadratic blowup to within-bucket
  pairs without a self-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.functions.vectors import (
    cosine_lit,
    dot,
    norm,
    norm_value,
    sign_lsh_bucket,
)


def _query_lit(query_vec: Sequence[float]):
    return F.array(*[F.lit(float(v)) for v in query_vec])


def brute_force_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Exact cosine top-k; deterministic tie-break on id.

    The per-row cosine against the literal query uses ``cosine_lit``
    (bit-identical; the query side's norm fold collapses to a
    driver-computed double — functions/vectors.py r11)."""
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_lit(F.col(vec_col), query_vec), round_dp).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lsh_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_bits: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Approximate top-k: search only the query's sign-LSH bucket.

    The bucket predicate is a plain equality on a derived column — if
    the table is stored partitioned/bucketed by it, this prunes to one
    partition before any vector math runs.
    """
    qbucket = sum(1 << i for i, v in enumerate(query_vec[:n_bits]) if v > 0)
    return (
        df.withColumn("bucket", sign_lsh_bucket(F.col(vec_col), n_bits))
        .filter(F.col("bucket") == F.lit(qbucket))
        .select(
            F.col(id_col),
            F.round(cosine_lit(F.col(vec_col), query_vec), round_dp).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF list assignment: each vector labeled with the id of its
    nearest centroid (max cosine, ties → lowest centroid id).

    ``centroids`` is a small driver-side list (id, vector) — broadcast
    implicitly as literals. Assignment is a per-row argmax over
    ``len(centroids)`` codegen'd cosine expressions: one scan, no
    shuffle. At 100 TB, write the table ``partitionBy('centroid_id')``
    once and every probe becomes partition pruning.
    """
    # sort by centroid id FIRST: array_position's first-max tie-break
    # is list-ORDER, so an unsorted list would resolve ties to whichever
    # id happened to come first — disagreeing with both the docstring
    # and ivf_topk's driver-side (-cos, cid) ranking, which would then
    # probe a different list than the tied vectors were assigned to
    centroids = sorted(centroids)
    # temp names not already in df (case-insensitively, like Spark's
    # resolver): withColumn would overwrite, then drop, a caller column
    taken = {c.lower() for c in df.columns}
    nrm_name, sims_name = "__nrm__", "__sims__"
    while nrm_name in taken or sims_name in taken:
        nrm_name, sims_name = f"_{nrm_name}", f"_{sims_name}"
    # redundant-fold elimination (vectors.py r11, ABBA-measured): the
    # row vector's norm is computed ONCE per row in its own projection
    # (the alias is non-cheap and referenced len(centroids) times, so
    # CollapseProject keeps it single-evaluation) and each centroid's
    # norm is a driver-computed double — the inline-cosine form paid
    # 2·len(centroids) interpreted norm folds per row. The sims array
    # is hoisted the same way: ``array_position(sims, array_max(sims))``
    # references it twice, which would otherwise duplicate all
    # len(centroids) dot folds per row.
    nrm = F.col(nrm_name)
    sims = F.array(
        *[
            F.when(
                (nrm > 0) & (F.lit(norm_value(vec)) > 0),
                dot(F.col(vec_col), _query_lit(vec))
                / (nrm * F.lit(norm_value(vec))),
            )
            for _, vec in centroids
        ]
    )
    s = F.col(sims_name)
    # argmax with lowest-index tie-break: array_position finds the first max
    best_idx = F.array_position(s, F.array_max(s)).cast("int")
    cid = F.element_at(
        F.array(*[F.lit(cid) for cid, _ in centroids]), best_idx
    )
    return (
        df.withColumn(nrm_name, norm(F.col(vec_col)))
        .withColumn(sims_name, sims)
        .withColumn("centroid_id", cid)
        .drop(nrm_name, sims_name)
    )


def ivf_centroids_from_seed_rows(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the first ``n_centroids``
    vectors by id serve as centroids (a k-means init without the
    iterations — swap in trained centroids at will; the assign/probe
    machinery is identical)."""
    rows = (
        df.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    )
    return [(int(r[id_col]), list(r[vec_col])) for r in rows]


def ivf_topk(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """IVF search: rank centroids against the query driver-side, scan
    only the ``n_probe`` nearest inverted lists, exact-rank inside.

    With ``n_probe == len(centroids)`` this degrades gracefully to
    exact brute force (tested); smaller n_probe trades recall for a
    1/len(centroids)-scale scan.
    """

    def cos(a: Sequence[float], b: Sequence[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return d / (na * nb) if na > 0 and nb > 0 else 0.0

    ranked = sorted(centroids, key=lambda c: (-cos(c[1], query_vec), c[0]))
    probe_ids = [cid for cid, _ in ranked[:n_probe]]

    assigned = ivf_assign(df, centroids, vec_col)
    candidates = assigned.filter(F.col("centroid_id").isin(probe_ids))
    return brute_force_topk(candidates, query_vec, k, vec_col, id_col, round_dp)


def knn_basket_bucketed(
    df: DataFrame,
    n_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cos_bp: int = 0,
    round_dp: int = 6,
) -> DataFrame:
    """Within-bucket all-pairs cosine (id_a < id_b) as ``cos_bp``, the
    cosine in integer basis points; pairs below ``min_cos_bp`` drop.

    A bucket self-join would duplicate every vector once per pair it
    appears in (bucket size ~b ⇒ each vector crosses the join operator
    b times: ~30 GB of duplicated arrays at sf10). Here each bucket's
    vectors are collected ONCE into a sorted basket (one shuffle of |rows|
    structs) and all C(b, 2) pairs are generated and scored ROW-LOCALLY
    inside a single codegen'd higher-order expression — the
    `co_order_edges` basket pattern applied to vectors.

    Float-exactness is preserved by construction, not luck: the
    per-pair cosine is the left-to-right double `dot` fold over the
    product of `norm` folds, and per-vector norms are computed once
    per vector BEFORE collecting, so the division sees the operands
    the DuckDB mirror computes and the oracle keeps hash-matching. `array_sort` on (id, …)
    structs makes in-basket order ascending by id, so emitted pairs are
    canonically id_a < id_b.

    Skew note: a pathological hot bucket serializes its C(b, 2) work
    on one core; the quadratic WORK is inherent to the query's
    semantics either way, this form just stops paying quadratic BYTES.
    At extreme scale, split hot buckets by a salt on min_cos-safe
    sub-keys or cap bucket size like `minhash_candidates.max_bucket`.
    """
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    ).withColumn("nrm", norm(F.col("v")))
    baskets = (
        b.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("id", "v", "nrm"))).alias("m"))
        .where(F.size("m") >= 2)
    )
    m = F.col("m")
    pair_arr = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + F.lit(2), F.size(m)),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.when(
                        (x["nrm"] > 0) & (y["nrm"] > 0),
                        dot(x["v"], y["v"]) / (x["nrm"] * y["nrm"]),
                    ).alias("cos"),
                ),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            F.floor(F.round(F.col("p.cos"), round_dp) * 10000)
            .cast("long")
            .alias("cos_bp"),
        )
        .filter(F.col("cos_bp") >= min_cos_bp)
    )
