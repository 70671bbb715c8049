"""Exact deduplication: hash-groupBy on a normalized content
fingerprint.

At 100 TB this is the cheapest dedup tier: one shuffle keyed by a
128-bit md5 (uniform — no skew by construction), grouping state is one
(hash, min_id, count) row per distinct document. Always run this tier
before the near-dup tiers to shrink their input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.functions.text import doc_fingerprint


def exact_dup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per distinct content: (fingerprint, keep_id, dup_cnt).

    keep_id = min id (deterministic canonical representative);
    dup_cnt = group size (1 ⇒ unique).
    """
    return (
        df.select(
            doc_fingerprint(text_col).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def incremental_new_unique(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest dedup: (id, fingerprint) of new-batch rows
    that are first-in-batch AND absent from the existing corpus.

    The shape every growing corpus needs — dedup the daily crawl
    against years of history without re-deduping the history. Within
    the batch, min-id wins (same rule as exact_dup_groups); across,
    an anti-join on the 128-bit fingerprint drops anything seen
    before.

    Scale: the corpus side is the big one, so this is a shuffle hash
    join keyed by the uniform md5 — linear, skew-free. In production
    keep the corpus fingerprints as a table bucketed by fingerprint
    (``df.write.bucketBy``): the nightly anti-join then
    shuffles only the new batch.
    """
    new_fp = new_df.select(
        doc_fingerprint(text_col).alias("fingerprint"),
        F.col(id_col),
    )
    batch_keep = new_fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    corpus_fp = corpus_df.select(
        doc_fingerprint(text_col).alias("fingerprint")
    ).distinct()
    return batch_keep.join(corpus_fp, on="fingerprint", how="left_anti").select(
        F.col(id_col), "fingerprint"
    )


def drop_exact_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Return df minus non-canonical duplicates (keeps min-id per
    content group). Implemented as a semi-join against the keeper set,
    so the full rows never shuffle — only (fingerprint, id) pairs do."""
    keepers = exact_dup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")
