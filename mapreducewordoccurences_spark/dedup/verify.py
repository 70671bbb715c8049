"""Exact re-scoring of sketch-generated candidate pairs.

The verifier for the sketch tiers that generate candidates without
an exact score (MinHash-LSH banding in the catalog's LSH rows and in
dedup/cascade.py's ``minhash_lsh`` tier): candidate generation is
probabilistic and hash-seeded — not portable SQL — but the VERIFIED
output is the exact shingle-Jaccard pair set, which is
deterministic, engine-portable, and oracle-checkable. Running the
exact scorer only over candidates is what makes exact semantics
affordable at 100 TB: the O(n²) comparison space is cut to the
sketch's candidate volume, and the expensive per-pair set
intersection touches candidate pairs only. The scorer itself is the
shared pair core (dedup/pairs.py ``set_overlap`` + ``jaccard_pairs``),
the same one the prefix-filter tier verifies with.

The verifier is one path and persists nothing. The per-doc
shingle-set build is a map-only pass over the whole corpus; AQE
broadcasts the (much smaller) candidate side of the two enrichment
joins, so the gram table is consumed map-side with no corpus-sized
shuffle. Semi-joining the corpus to the candidate ids first (and
caching the pruned table) does not pay here: SCALE.md §Round-7b
measured it 0.9 s slower at sf0.1 and a wash at sf1. Shingles fold
to xxhash64 LONGs so the per-pair ``array_intersect`` compares 8-byte
primitives rather than ~20-byte strings (measured 2.5× on the whole
tier; 64-bit collisions across a ~100-element doc vocabulary are
~1e-17-improbable and shared with the posting-list tier's own
folding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.ngram import shingle_array
from mapreducewordoccurences_spark.dedup.pairs import jaccard_pairs, set_overlap
from mapreducewordoccurences_spark.functions.text import tokens


def exact_verify_pairs(
    docs: DataFrame,
    cand: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Score candidate pairs with EXACT distinct-shingle Jaccard and
    keep those ≥ ``threshold``.

    ``cand`` must have columns (doc_a, doc_b); returns
    (doc_a, doc_b, jaccard) where jaccard is an int/int divide —
    bit-deterministic across engines (same arithmetic as
    ngram_jaccard_pairs, so a complete candidate set reproduces that
    tier's output exactly).

    Nothing is persisted: the gram table is corpus-sized, so it is
    recomputed for each of the two enrichment joins rather than held
    (caching it was measured a wash at sf0.1).
    """
    grams = docs.select(
        F.col(id_col).alias("__vid"),
        tokens(text_col, lowercase=True).alias("__t"),
    ).select(
        "__vid",
        F.transform(shingle_array("__t", n), lambda s: F.xxhash64(s)).alias(
            "__sh"
        ),
    )
    return jaccard_pairs(set_overlap(cand, grams, "__vid", "__sh"), threshold)
