"""Embedding-cosine near-duplicate detection.

Semantic near-dups: pairs whose embedding cosine ≥ threshold.
``embedding_near_dup_pairs`` scores every pair (O(n²) — the verifier
tier, run on bounded slices); ``semantic_dedup_profile`` bounds the
candidates by k-means cells (SemDeDup) and ``semantic_dedup_recall``
measures what that bound misses against the exact tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.functions.similarity import dot


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs (a < b) with cosine(vec_a, vec_b) ≥ threshold →
    (id_a, id_b, cos_sim).

    Norms are computed ONCE per vector (n folds), not per pair
    (2·pairs folds) — the r9 sf1 sweep measured the per-pair form at
    29.5 s for the exact tier's 500k-pair slice because each
    ``aggregate(zip_with(...))`` fold is interpreted, not codegen'd,
    and cosine_similarity evaluates three of them per pair. The
    hoisted per-pair expression dot/(norm_a·norm_b) is the exact same
    arithmetic (identical floats — sqrt(dot(v,v)) per row is the same
    value wherever computed), so oracle hash-matches are unaffected;
    measured 5.3× faster on the sf1 slice (29.5 → 5.6 s). Same
    convention as semantic_dedup_profile below.

    The threshold test is ``coalesce(cos_sim >= t, false)``: it keeps
    the same pairs, but it is not null-intolerant, so the optimizer
    infers no ``isnotnull`` on the norms and does not push a second
    norm fold, inlined, into the scan filter."""
    from mapreducewordoccurences_spark.functions.similarity import l2_norm

    withn = df.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("__n")
    )
    a = withn.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = withn.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    cand = a.join(b, on=F.col("id_a") < F.col("id_b"), how="inner")
    return cand.select(
        "id_a",
        "id_b",
        (dot("__va", "__vb") / (F.col("__na") * F.col("__nb"))).alias(
            "cos_sim"
        ),
    ).where(F.coalesce(F.col("cos_sim") >= threshold, F.lit(False)))


def semantic_dedup_profile(
    df: DataFrame,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int = 150,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cells
    bound the semantic near-dup candidates, so cosine is never scored
    across the full n² pair space — only within a cell. The greedy
    SemDeDup drop rule: a vector is dropped iff some SMALLER-id vector
    in the SAME cell has cosine ≥ threshold with it (one deterministic
    representative survives per near-dup neighborhood, no iterative
    closure needed).

    Returns (cluster_id, n_members, n_dropped, n_kept).

    100 TB shape: the trainer (functions/similarity.py
    kmeans_fit_predict) broadcasts the k·dim centroid table and never
    shuffles the vectors; the pair join shuffles each vector once on
    cluster_id, and candidate volume is
    Σ_c |c|² — bounded because k defaults to ``derive_semdedup_k``
    (k = max(8, n // target_cell_size) — ∝ n, the production rule;
    the paper's runs use ~25k-100k cells). Within-cell scoring is
    embarrassingly parallel
    and stays JVM-side (zip_with/aggregate dot products)."""
    from mapreducewordoccurences_spark.functions.similarity import (
        dot,
        kmeans_fit_predict,
        l2_norm,
    )

    if k is None:
        # production sizing rule: cells ∝ corpus size, so Σ|c|² stays
        # linear in n (one count — a driver scalar — per invocation)
        k = derive_semdedup_k(df.count(), target_cell_size)
    assign = kmeans_fit_predict(df, id_col, vec_col, k=k, iters=iters).select(
        id_col, "cluster_id"
    )
    # norms computed ONCE per member (n folds), not per pair (2·pairs
    # folds); the per-pair expression dot/(norm_a·norm_b) is the exact
    # same arithmetic as cosine_similarity, just with the sqrt hoisted;
    # the coalesce in the threshold test keeps the optimizer from
    # pushing an inferred isnotnull(norm), fold inlined, into the scan
    members = df.select(
        id_col, vec_col, l2_norm(vec_col).alias("__norm")
    ).join(assign, id_col)
    a = members.select(
        "cluster_id",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__norm").alias("__na"),
    )
    b = members.select(
        "cluster_id",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    dropped = (
        a.join(b, "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.coalesce(
                dot("__va", "__vb") / (F.col("__na") * F.col("__nb")) >= threshold,
                F.lit(False),
            )
        )
        .select("cluster_id", F.col("id_b").alias("__dropped_id"))
        .distinct()
    )
    mem_counts = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    drop_counts = dropped.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_dropped")
    )
    return mem_counts.join(drop_counts, "cluster_id", "left").select(
        "cluster_id",
        "n_members",
        F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        (F.col("n_members") - F.coalesce(F.col("n_dropped"), F.lit(0)))
        .cast("long")
        .alias("n_kept"),
    )


def derive_semdedup_k(n: int, target_cell_size: int = 150) -> int:
    """SemDeDup cell count derived from corpus size: k = max(8,
    n // target_cell_size), so candidate volume Σ_c |c|² stays
    ~n·target_cell_size (linear in n) instead of n²/k for a constant
    k. The paper's production runs use ~25k-100k cells on billions of
    embeddings — the same ∝ n rule."""
    if n < 0:
        raise ValueError(f"n must be >= 0, got {n}")
    if target_cell_size < 1:
        raise ValueError(
            f"target_cell_size must be >= 1, got {target_cell_size}"
        )
    return max(8, n // target_cell_size)


def semantic_dedup_recall(
    df: DataFrame,
    threshold: float = 0.95,
    iters: int = 2,
    target_cell_size: int = 150,
    min_recall: float = 0.15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measure what SemDeDup's cell restriction costs: the share of
    EXACT cosine-≥-threshold pairs whose endpoints land in the SAME
    k-means cell (within-cell recall). Pairs straddling a cell
    boundary are structurally invisible to ``semantic_dedup_profile``
    — the paper accepts this miss; this operator measures it instead
    of assuming it.

    Returns ONE row (n_vectors, k_cells, n_exact_pairs,
    n_within_cell_pairs, recall_ok) with k derived via
    ``derive_semdedup_k`` (k ∝ n, so the measurement exercises the
    production sizing rule, not a test constant).

    Scale note: the exact denominator here is the O(n²) verifier tier
    — this is an AUDIT you run on a sampled slice (embeddings tables
    here are ≤ a few thousand rows), not on the full corpus; the
    measured recall then transfers to the production run at the same
    k/n ratio because cell occupancy, not corpus size, drives the
    boundary-miss rate."""
    from mapreducewordoccurences_spark.functions.similarity import (
        kmeans_fit_predict,
    )

    n = df.count()
    k = derive_semdedup_k(n, target_cell_size)
    assign = kmeans_fit_predict(df, id_col, vec_col, k=k, iters=iters).select(
        id_col, "cluster_id"
    )
    exact = embedding_near_dup_pairs(
        df, threshold=threshold, id_col=id_col, vec_col=vec_col
    ).select("id_a", "id_b")
    labeled = exact.join(
        assign.select(
            F.col(id_col).alias("id_a"), F.col("cluster_id").alias("__ca")
        ),
        "id_a",
    ).join(
        assign.select(
            F.col(id_col).alias("id_b"), F.col("cluster_id").alias("__cb")
        ),
        "id_b",
    )
    return labeled.agg(
        F.lit(n).cast("bigint").alias("n_vectors"),
        F.lit(k).cast("bigint").alias("k_cells"),
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.count(F.when(F.col("__ca") == F.col("__cb"), 1)).alias(
            "n_within_cell_pairs"
        ),
        (
            (F.count(F.lit(1)) == 0)
            | (
                F.count(F.when(F.col("__ca") == F.col("__cb"), 1))
                / F.count(F.lit(1))
                >= min_recall
            )
        ).alias("recall_ok"),
    )
