"""Partitioned sinks (static and dynamic pruning) and IVF recall
behavior."""

from __future__ import annotations

import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.operators.similarity import (
    brute_force_topk,
    ivf_centroids_from_seed_rows,
    ivf_topk,
)
from bikes_data_warehouse_etl_spark.sources.sinks import write_partitioned


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_part")
    write_partitioned(orders, path, ["o_year"])

    back = spark.read.parquet(path).filter(F.col("o_year") == 1997)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_year" in plan or "o_year" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    expected = orders.filter(F.col("o_year") == 1997).count()
    assert back.count() == expected


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = ivf_centroids_from_seed_rows(emb, 16)
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    candidates = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in brute_force_topk(candidates, qv, k=10).collect()]
    full_probe = [
        r["vec_id"]
        for r in ivf_topk(candidates, centroids, qv, k=10, n_probe=16).collect()
    ]
    assert full_probe == exact
    # partial probe returns k rows drawn only from probed lists
    partial = ivf_topk(candidates, centroids, qv, k=10, n_probe=4).collect()
    assert len(partial) == 10
    recall = len({r["vec_id"] for r in partial} & set(exact)) / 10
    assert recall >= 0.2  # conservative bound for random 64-d vectors


def test_ivf_assign_keeps_caller_temp_named_column(spark, sf_dir):
    """A caller column named like ivf_assign's temp columns comes back
    unchanged, and the assignment equals the one without it."""
    from bikes_data_warehouse_etl_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    centroids = ivf_centroids_from_seed_rows(emb, 8)
    tagged = emb.withColumn("__nrm__", F.lit("caller"))
    out = ivf_assign(tagged, centroids)
    assert out.columns == tagged.columns + ["centroid_id"]
    got = {
        r["vec_id"]: (r["__nrm__"], r["centroid_id"])
        for r in out.select("vec_id", "__nrm__", "centroid_id").collect()
    }
    want = {
        r["vec_id"]: ("caller", r["centroid_id"])
        for r in ivf_assign(emb, centroids).select("vec_id", "centroid_id").collect()
    }
    assert got == want


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: a selective DIM-side filter must
    prune FACT partitions at runtime (the dim filter is only known
    after planning, so the scan carries a dynamicpruning subquery in
    its PartitionFilters instead of reading all partitions). At 100 TB
    this is the difference between scanning one year and scanning the
    table whenever the partition key arrives via a join."""
    import pyspark.sql.functions as F
    from bikes_data_warehouse_etl_spark.sources.parquet import read_table
    from bikes_data_warehouse_etl_spark.sources.sinks import write_partitioned

    li = read_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    path = str(tmp_path / "li_by_year")
    write_partitioned(li, path, ["ship_year"])
    fact = spark.read.parquet(path)

    dim = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.year("o_orderdate").alias("ship_year"))
        .distinct()
    )
    q = fact.join(dim, "ship_year").agg(
        F.sum("l_quantity").alias("total_qty")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the pruned query still computes the right answer
    years = {r.ship_year for r in dim.collect()}
    expected = (
        li.filter(F.col("ship_year").isin(years))
        .agg(F.sum("l_quantity"))
        .first()[0]
    )
    assert abs(q.first()["total_qty"] - expected) < 1e-6

