"""Integer-quantized k-means (functions/clustering.py): partition
invariance (the reproducibility claim), seed determinism, and
assignment sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.functions.clustering import (
    kmeans_cluster_profile,
    kmeans_fit_predict,
)
from tests.conftest import SF_DIR


def test_kmeans_partition_invariant(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = {
        tuple(r)
        for r in kmeans_cluster_profile(emb, "vec_id", "embedding", k=4, iters=2).collect()
    }
    b = {
        tuple(r)
        for r in kmeans_cluster_profile(
            emb.repartition(13), "vec_id", "embedding", k=4, iters=2
        ).collect()
    }
    assert a == b
    assert sum(n for _, n, _ in a) == emb.count()


def test_kmeans_every_vector_assigned_once(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    fit = kmeans_fit_predict(emb, "vec_id", "embedding", k=4, iters=2)
    rows = fit.collect()
    assert len(rows) == emb.count()
    assert len({r.vec_id for r in rows}) == len(rows)
    assert all(0 <= r.cluster_id < 4 and r.sq_dist >= 0 for r in rows)


def test_kmeans_more_iters_never_worse_objective(spark):
    """Lloyd monotonicity survives the quantization: total within-
    cluster sq distance after 3 passes <= after 1 pass."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def obj(iters):
        prof = kmeans_cluster_profile(emb, "vec_id", "embedding", k=4, iters=iters)
        return prof.agg(F.sum("sum_sq_dist")).collect()[0][0]

    assert obj(3) <= obj(1)


def test_triangle_count_known_graphs(spark):
    from mapreducewordoccurences_spark.operators.graph import triangle_count

    def count(edges):
        df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        return triangle_count(df).collect()[0]

    # K3: one triangle
    r = count([(1, 2), (2, 3), (1, 3)])
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (3, 3, 1)
    # K4: 4 triangles (every 3-subset)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert count(k4)["n_triangles"] == 4
    # star (hub + 5 leaves): plenty of wedges, zero triangles
    star = [(0, i) for i in range(1, 6)]
    r = count(star)
    assert r["n_triangles"] == 0 and r["n_edges"] == 5
    # duplicate + reversed edges must not inflate anything
    messy = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 3)]
    r = count(messy)
    assert (r["n_edges"], r["n_triangles"]) == (3, 1)
    # two disjoint triangles sharing no nodes
    two = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    assert count(two)["n_triangles"] == 2
