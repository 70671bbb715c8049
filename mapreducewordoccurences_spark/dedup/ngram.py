"""N-gram (shingle) Jaccard near-duplicate detection via an inverted
index self-join.

Exact Jaccard over word n-gram shingle sets:
  J(A,B) = |A∩B| / (|A|+|B|-|A∩B|)

Plan shape: docs → distinct shingles (explode) → self-join on shingle
(the inverted index: only docs sharing ≥1 shingle ever meet) → count
shared shingles per pair → join per-doc set sizes → filter ≥ threshold.

Scale notes: the pair blow-up concentrates in high-document-frequency
shingles (a shingle shared by d docs contributes d² pairs), so
``max_shingle_df`` drops those posting lists — standard practice, and
near-dup pairs almost always share *rare* shingles too. For corpus-wide
dedup beyond ~10⁷ docs prefer MinHash-LSH (minhash.py), which bounds
candidate generation by banding instead of posting-list length; this
exact operator is the verifier/oracle tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.core.checkpointing import bounded_persist
from mapreducewordoccurences_spark.dedup.pairs import collision_pairs, jaccard_pairs
from mapreducewordoccurences_spark.functions.text import tokens


def shingle_array(toks_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles ('w1 w2 w3' strings) from an
    ALREADY-MATERIALIZED token-array column.

    Takes a column reference (not the tokenize expression) on purpose:
    expressions referenced inside a ``transform`` lambda are re-inlined
    per element_at — passing ``tokens(text)`` directly re-ran the
    regexp ~3×n_shingles times per document (measured 5× slowdown).
    Callers must project the token array into a named column first
    (see shingles_df).

    Docs with fewer than n tokens yield an empty array (guard needed:
    Spark's sequence(1, 0) would count DOWN, not produce empty).
    """
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exploded inverted-index rows: (id, shingle), distinct per doc.

    Map-only (no shuffle): tokenize → project token array → explode
    shingles, all inside one scan stage.
    """
    toks = df.select(F.col(id_col), tokens(text_col, lowercase=True).alias("__toks"))
    return toks.select(
        F.col(id_col), F.explode(shingle_array("__toks", n)).alias("shingle")
    )


def _shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared candidate machinery for the set-similarity scorers:
    (doc_a, doc_b, __inter, __na, __nb) for every doc pair sharing at
    least one shingle — intersection size plus both set sizes, the
    shape dedup/pairs.py ``set_overlap`` returns for verified
    candidates. The Jaccard scorer (``jaccard_pairs``) is a pure
    projection over this.

    The multiply-consumed intermediate (the capped posting-list table,
    or the uncapped shingle table read by both self-join sides +
    sizes) is persisted — Spark does not dedupe repeated subtrees —
    through ``bounded_persist``, which releases it once later persists
    push it past the session's cache bound.

    Shingles are folded to 64-bit xxhash64 BEFORE the self-join: the
    shuffle then carries 8-byte longs instead of ~n-word strings
    (~3× smaller exchange, cheaper key compares). A hash collision
    would merge two shingles and nudge one intersection count; at
    P ≈ n_distinct²/2⁶⁴ that is ~1e-7 even for 10⁶ distinct shingles —
    far below any dedup threshold's sensitivity.
    """
    sh = shingles_df(df, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("shingle")
    )
    if max_shingle_df is not None:
        # posting-list formulation: ONE groupBy(shingle) builds the
        # inverted index, the df cap is a free filter on list size
        # (no separate hot-list aggregation, no anti-join), and
        # candidate pairs are generated MAP-SIDE by exploding a<b
        # combinations within each capped list — bounded at cap²/2 per
        # shingle. Each (id, shingle) row is distinct by construction,
        # so list entries are unique.
        posting = (
            sh.groupBy("shingle")
            .agg(F.collect_list(id_col).alias("__ids"))
            .where(F.size("__ids") <= max_shingle_df)
            .select("__ids")
        )
        # two consumers (sizes + pairs); one cache, list-sized rows
        posting = bounded_persist(posting)
        sizes = (
            posting.select(F.explode("__ids").alias(id_col))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        inter = (
            posting.select(F.explode("__ids").alias("doc_a"), "__ids")
            .select(
                "doc_a",
                F.explode(
                    F.filter("__ids", lambda b_: b_ > F.col("doc_a"))
                ).alias("doc_b"),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
    else:
        sh = bounded_persist(sh)
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))

        # one row per shared shingle, counted — not deduplicated
        inter = (
            collision_pairs(sh, id_col, ["shingle"], distinct=False)
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("__n").alias("__nb"))
    return inter.join(na, "doc_a").join(nb, "doc_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All doc pairs (a < b) with shingle-Jaccard ≥ threshold.

    Returns (doc_a, doc_b, jaccard). jaccard is an int/int divide —
    bit-deterministic across engines.
    """
    counts = _shingle_pair_counts(df, id_col, text_col, n, max_shingle_df)
    return jaccard_pairs(counts, threshold)
