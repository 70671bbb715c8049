"""Edit-distance (Levenshtein) verification tier for near-dup
candidate pairs.

Jaccard-style set similarity (dedup/verify.py) is order-insensitive:
two documents that permute the same shingle bag score 1.0. Pipelines
that need ORDER-sensitive near-dup confirmation (plagiarism-style
paraphrase detection, template-with-substitutions dedup) re-score the
candidate pairs with character edit distance instead. This module is
that tier, kept entirely JVM-side: ``F.levenshtein`` is a built-in
Catalyst expression (no Python in the pair loop), and DuckDB ships the
identical textbook definition as ``levenshtein()`` — so the tier is
exactly oracle-checkable cross-engine.

Scale contract (100 TB): edit distance is O(P²) per pair, so it must
NEVER see the all-pairs space — callers feed it a sketch-bounded
candidate set (LSH bands, rarity prefixes, exact-verified Jaccard
pairs), and ``prefix_len`` caps the per-pair cost at a constant
(default 400 chars → ≤160k DP cells per pair) independent of document
length. The enrichment joins are id-equi-joins on the candidate ids;
AQE broadcasts the candidate side when it is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edit_distance_pairs(
    docs: DataFrame,
    cand: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 400,
) -> DataFrame:
    """Score candidate pairs ``(doc_a, doc_b)`` with Levenshtein
    distance over lowercased ``prefix_len``-char prefixes.

    Returns (doc_a, doc_b, edit_dist, edit_ratio) where
    ``edit_ratio = edit_dist / greatest(len_a, len_b)`` is one
    int/int divide (deterministic IEEE, the repo-wide ratio rule) of
    the PREFIX lengths.

    The lowercase + prefix normalization is applied identically on
    both sides, so the measure is symmetric; prefixes bound the DP
    cost, and for documents shorter than ``prefix_len`` the measure
    is the full-text edit distance.
    """
    prefix = F.substring(F.lower(F.col(text_col)), 1, prefix_len)
    texts = docs.select(F.col(id_col).alias("_ed_id"), prefix.alias("_ed_txt"))
    return (
        cand.select("doc_a", "doc_b")
        .join(
            texts.select(
                F.col("_ed_id").alias("doc_a"), F.col("_ed_txt").alias("_txt_a")
            ),
            "doc_a",
        )
        .join(
            texts.select(
                F.col("_ed_id").alias("doc_b"), F.col("_ed_txt").alias("_txt_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("_txt_a", "_txt_b").alias("edit_dist"),
            F.greatest(F.length("_txt_a"), F.length("_txt_b")).alias("_len"),
        )
        .select(
            "doc_a",
            "doc_b",
            "edit_dist",
            (F.col("edit_dist") / F.col("_len")).alias("edit_ratio"),
        )
    )
