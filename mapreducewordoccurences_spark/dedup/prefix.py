"""Prefix-filtering set-similarity join (SSJoin/PPJoin family,
Chaudhuri et al. ICDE'06; Xiao et al. WWW'08) — EXACT Jaccard pairs
at corpus scale without the full inverted index.

The exact posting-list tier (dedup/ngram.py) indexes EVERY shingle,
so candidate volume is Σ df² over all shingles — the df cap bounds it
by dropping hot shingles entirely (approximate under the cap). Prefix
filtering keeps the result EXACT while indexing only a fraction:

    order every doc's shingle set by GLOBAL rarity (ascending df,
    shingle as tiebreak — one total order shared by all docs);
    for Jaccard ≥ t, two sets of sizes |A|,|B| must overlap in at
    least ceil(t/(1+t)·(|A|+|B|)) elements, so if each doc indexes
    only its first  p = |d| − ceil(t·|d|) + 1  ordered shingles (its
    "prefix"), any qualifying pair MUST collide on ≥1 indexed
    shingle. Everything outside the prefix is never indexed.

At t=0.8 the prefix is ~20% of each doc's shingles — and because the
global order puts RARE shingles first, the indexed posting lists are
the short ones: candidate volume collapses versus the full index
while recall stays provably 1.0. Candidates are then verified with
the exact Jaccard on xxhash64-folded shingle arrays (same fold as
the other tiers), so the output is identical to the uncapped
posting-list join — the two formulations share one SQL oracle.

Cost model at 100 TB: one groupBy(shingle) for global df, one
per-doc sort (inside groupBy collect), one equi-join on prefix
shingles (short lists ⇒ bounded fan-out), and candidate-bounded
verification. The candidate join and the verifier are the shared
pair core (dedup/pairs.py ``collision_pairs``, ``set_overlap``,
``jaccard_pairs``). No knob to mis-tune: unlike max_shingle_df, exactness
does not depend on a cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.core.checkpointing import bounded_persist
from mapreducewordoccurences_spark.dedup.ngram import shingles_df
from mapreducewordoccurences_spark.dedup.pairs import (
    collision_pairs,
    jaccard_pairs,
    set_overlap,
)


def _rarity_ordered(
    df: DataFrame, id_col: str, text_col: str, n: int, threshold: float
) -> DataFrame:
    """(id, __sz, __set, __prefix): each doc's shingle count, its
    xxhash64-folded shingle set (the verification set: 8-byte
    compares, same fold as the other tiers) and its prefix — the first
    p = sz − ceil(t·sz) + 1 shingles under one global rarity order.
    Persisted: the prefix index and both verifier sides read it."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = shingles_df(df, id_col, text_col, n)
    gdf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # the global order is the (df, shingle) PAIR itself — no global
    # row_number window (that would be a single-partition sort of the
    # whole vocabulary, the exact scale-killer this tier avoids);
    # array_sort on the struct array orders field-lexicographically,
    # which is the same total order on every doc
    ordered = (
        sh.join(gdf, "shingle")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__df", "shingle"))
            ).alias("__ord")
        )
        .select(id_col, "__ord", F.size("__ord").alias("__sz"))
    )
    p = (
        F.col("__sz")
        - F.ceil(F.col("__sz") * F.lit(float(threshold))).cast("int")
        + F.lit(1)
    )
    return bounded_persist(
        ordered.select(
            id_col,
            "__sz",
            F.transform("__ord", lambda s: F.xxhash64(s["shingle"])).alias(
                "__set"
            ),
            F.transform(
                F.slice("__ord", 1, p), lambda s: s["shingle"]
            ).alias("__prefix"),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All doc pairs (a < b) with shingle-Jaccard ≥ threshold —
    bit-identical output to ``ngram_jaccard_pairs`` with no df cap,
    via prefix filtering. Returns (doc_a, doc_b, jaccard)."""
    docs = _rarity_ordered(df, id_col, text_col, n, threshold)
    pre = docs.select(F.col(id_col), F.explode("__prefix").alias("__tok"))
    cand = collision_pairs(pre, id_col, ["__tok"])
    return jaccard_pairs(set_overlap(cand, docs, id_col, "__set"), threshold)


def prefix_filter_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """All doc pairs (a < b) with set containment
    C(A,B) = |A∩B| / min(|A|,|B|) ≥ threshold, exact (no df cap),
    via ASYMMETRIC prefix filtering. Returns
    (doc_a, doc_b, containment, n_shingles_a, n_shingles_b).

    Why asymmetric: for containment the required overlap
    α = ⌈t·min(|A|,|B|)⌉ scales with the SMALLER set only, so the
    larger set has no useful own-size prefix bound. Instead the
    SMALLER side probes its rarity-ordered prefix of length
    |A| − ⌈t·|A|⌉ + 1 against a FULL token index of the other side:
    if |A∩B| ≥ ⌈t·|A|⌉ then A has at most |A| − ⌈t·|A|⌉ elements
    outside B, so at least one of its |A| − ⌈t·|A|⌉ + 1 prefix
    elements lies in B — exactness holds with only one side pruned.

    Cost: candidate volume is Σ_token df(token) × prefix_df(token),
    not Σ df². Hot tokens (huge df) almost never appear in a
    rarity-ordered prefix (prefix_df ≈ 0); rare tokens have small df
    — so the product stays bounded where the full posting-list join
    explodes. Pairs of equal size are found from either side and
    deduped.
    """
    docs = _rarity_ordered(df, id_col, text_col, n, threshold)
    # probe side: smaller doc's prefix tokens (folded); index side:
    # ALL tokens (folded full set) — exactness needs the full index
    probe = docs.select(
        F.col(id_col).alias("__pid"),
        F.col("__sz").alias("__psz"),
        F.explode(
            F.transform("__prefix", lambda s: F.xxhash64(s))
        ).alias("__tok"),
    )
    index = docs.select(
        F.col(id_col).alias("__iid"),
        F.col("__sz").alias("__isz"),
        F.explode("__set").alias("__tok"),
    )
    cand = (
        probe.join(index, "__tok")
        .where(
            (F.col("__psz") < F.col("__isz"))
            | (
                (F.col("__psz") == F.col("__isz"))
                & (F.col("__pid") < F.col("__iid"))
            )
        )
        .select(
            F.least("__pid", "__iid").alias("doc_a"),
            F.greatest("__pid", "__iid").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    counts = set_overlap(cand, docs, id_col, "__set")
    return counts.select(
        "doc_a",
        "doc_b",
        (F.col("__inter") / F.least("__na", "__nb")).alias("containment"),
        F.col("__na").alias("n_shingles_a"),
        F.col("__nb").alias("n_shingles_b"),
    ).where(F.col("containment") >= threshold)
