"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

Standard practice for LLM training corpora (GPT-3 appendix C, PaLM,
Llama): any training document containing an n-gram that also appears
in a benchmark document is contaminated and must be dropped or
audited. The reference engine has no such operator (SURVEY.md §2d);
this module is part of the training-pipeline extension alongside
dedup/ngram.py, whose shingling it reuses.

Scale shape: the benchmark side is small by construction (eval suites
are MBs, the corpus is TBs), so its distinct shingle set is
**broadcast** — the 100 TB training side is never shuffled for the
join. Shingles fold to 64-bit xxhash64 before broadcast (8 bytes per
entry, same collision argument as ngram.py: P ≈ n²/2⁶⁴). One
aggregation shuffle keyed by doc_id produces the per-document overlap
counts; everything upstream is map-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.ngram import shingles_df


def benchmark_shingle_set(
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct xxhash64-folded shingles of the benchmark corpus —
    one long column, suitable for broadcast."""
    return (
        shingles_df(bench_df, id_col, text_col, n)
        .select(F.xxhash64("shingle").alias("__shingle"))
        .distinct()
    )


def ngram_overlap(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per contaminated training doc: (id, n_shingles, n_shared,
    overlap_ratio). Docs sharing zero shingles are omitted (the result
    is sparse — at corpus scale almost every doc is clean).

    n_shared counts DISTINCT shingles of the doc that appear anywhere
    in the benchmark set; overlap_ratio = n_shared / n_shingles.
    """
    bench = benchmark_shingle_set(bench_df, id_col, text_col, n).withColumn(
        "__hit", F.lit(1)
    )
    train = shingles_df(train_df, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("__shingle")
    )
    # ONE pass: broadcast LEFT join marks each shingle row hit/miss
    # map-side, then a single doc_id aggregation yields both the set
    # size and the shared count — the corpus is scanned once and
    # shuffled once (partial counts only).
    marked = train.join(F.broadcast(bench), on="__shingle", how="left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_shared"),
        )
        .where(F.col("n_shared") > 0)
        .select(
            F.col(id_col),
            "n_shingles",
            "n_shared",
            (F.col("n_shared") / F.col("n_shingles")).alias("overlap_ratio"),
        )
    )
