"""K-means semantics (no SQL oracle — iterative): determinism across
runs, assignment integrity, and that iterating actually improves the
clustering (inertia no worse than the init assignment).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.similarity import K, kmeans_clusters


def test_kmeans_deterministic_and_complete(spark, sf_dir):
    a = kmeans_clusters(spark, sf_dir)
    b = kmeans_clusters(spark, sf_dir)
    rows_a = {(r.vec_id, r.cluster_id, r.sq_dist) for r in a.collect()}
    rows_b = {(r.vec_id, r.cluster_id, r.sq_dist) for r in b.collect()}
    assert rows_a == rows_b  # bit-identical across runs
    n_docs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows_a) == n_docs  # every vector assigned exactly once
    clusters = {c for _, c, _ in rows_a}
    assert clusters <= set(range(K)) and len(clusters) > 1


def test_kmeans_improves_on_init(spark, sf_dir):
    final = kmeans_clusters(spark, sf_dir)
    final_inertia = final.agg(F.sum("sq_dist")).collect()[0][0]
    # Init-only assignment (centroids = first K embeddings, 0 iterations)
    from ucl_data_pipeline_spark.functions import vector as VX
    from ucl_data_pipeline_spark.plans.similarity import _sq_dist
    from ucl_data_pipeline_spark.sources.io import read_table
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding")
    )
    init = (
        e.orderBy("vec_id").limit(K)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cluster_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    scored = e.crossJoin(F.broadcast(init)).select(
        "vec_id", _sq_dist("embedding", "centroid").alias("sq_dist")
    )
    init_inertia = (
        scored.groupBy("vec_id").agg(F.min("sq_dist").alias("d"))
        .agg(F.sum("d")).collect()[0][0]
    )
    assert final_inertia <= init_inertia


def test_kmeans_assign_partitions_corpus(spark, sf_dir):
    # The oracle-checked Lloyd step: every point lands in exactly one
    # cluster, cluster ids are the K fixed centers, and the per-cluster
    # counts are constant across dimensions (the agg is keyed by
    # (cluster, dim) over one assignment).
    from ucl_data_pipeline_spark.plans.similarity import kmeans_assign
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = kmeans_assign(spark, sf_dir).collect()
    n_vecs = read_table(spark, sf_dir, "embeddings").count()
    dims = {r.pos for r in rows}
    clusters = {r.cluster_id for r in rows}
    assert clusters <= set(range(K))
    # counts per cluster identical for every dimension
    by_cluster: dict[int, set] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.n_points)
    assert all(len(counts) == 1 for counts in by_cluster.values())
    assert sum(next(iter(c)) for c in by_cluster.values()) == n_vecs
    assert len(dims) * len(clusters) == len(rows)
