"""End-to-end dedup cascade with a swappable near-dup tier.

The pipeline a training-data run actually ships, as one reusable
operator:

    exact fingerprint dedup              (cheap; kills byte-dups)
      → near-dup tier ON SURVIVORS ONLY  (the expensive tier never
                                          sees what the cheap one cut)
      → connected components             (resolve transitive chains)
      → min-id survivorship
      → per-source keep/drop audit

Two near-dup tiers, IDENTICAL downstream plumbing and output schema:

- ``near_tier="jaccard_prefix"`` (the default): exact shingle-Jaccard
  via the prefix-filtering SSJoin (dedup/prefix.py). Bit-identical
  pair set to the uncapped posting-list join (recall 1.0 by the
  prefix theorem), but candidate volume is bounded by the rarest
  ~20% of each doc's shingles instead of Σ df² over the whole
  vocabulary — the exact tier that survives a df-skewed corpus (the
  sf1 scaling probe showed the uncapped posting-list tier growing
  15.7× per 10× data; this tier removes that quadratic-in-df term
  while keeping the same oracle).
- ``near_tier="minhash_lsh"``: MinHash-LSH banding generates the
  candidates (dedup/minhash.py — ids-only band shuffle), then exact
  shingle-Jaccard is computed ON THE CANDIDATE PAIRS ONLY and
  filtered at the same threshold. This is the corpus-scale tier: the
  quadratic step is replaced by banding, and verification cost is
  |candidates| × per-pair array intersection, not |survivors|².
  Because candidates are VERIFIED against the exact score, the edge
  set equals {exact pairs} ∩ {LSH candidates} — identical to the
  jaccard_prefix tier whenever LSH recall is 1.0 (testdata: planted dups
  have J≈1, where the 16-band × 4-row S-curve misses with
  probability (1-J⁴)¹⁶ < 3e-4 even at J=0.8).

Both tiers are the shared pair core (dedup/pairs.py): a key-collision
candidate join (prefix tokens or MinHash bands) verified by one exact
set scorer.

Scale notes: the tagged table persists once for its three consumers
(survivor semi-join, status join, final agg); components run via
iterative min-label with lineage truncation (dedup/clusters.py); the
only full-corpus shuffles are the fingerprint groupBy and the chosen
tier's candidate generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.core.checkpointing import bounded_persist
from mapreducewordoccurences_spark.dedup.clusters import connected_components
from mapreducewordoccurences_spark.dedup.exact import doc_fingerprint
from mapreducewordoccurences_spark.dedup.minhash import minhash_lsh_pairs
from mapreducewordoccurences_spark.dedup.prefix import (
    prefix_filter_jaccard_pairs,
)
from mapreducewordoccurences_spark.dedup.verify import exact_verify_pairs


def _verified_lsh_pairs(
    survivors: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    num_perm: int,
    bands: int,
    candidate_est_threshold: float,
) -> DataFrame:
    """LSH candidates, re-scored with EXACT shingle Jaccard and
    filtered at ``threshold``. Candidates are generated at a low
    estimated-Jaccard cut (default 0.5 ≈ the band S-curve midpoint)
    so recall stays ~1; precision is restored by the exact
    verification (dedup/verify.py — the shared verifier tier; the
    scale/broadcast rationale lives in its module docstring), which
    touches candidate pairs only."""
    cand = minhash_lsh_pairs(
        survivors,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_perm=num_perm,
        bands=bands,
        threshold=candidate_est_threshold,
    ).select("doc_a", "doc_b")
    return exact_verify_pairs(
        survivors, cand, id_col=id_col, text_col=text_col, n=n,
        threshold=threshold,
    )


def dedup_cascade(
    docs: DataFrame,
    near_tier: str = "jaccard_prefix",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    candidate_est_threshold: float = 0.5,
) -> DataFrame:
    """Per-source keep/drop audit of the full cascade: (source,
    n_docs, n_dropped_exact, n_dropped_near, n_kept). Swap
    ``near_tier`` between "jaccard_prefix" and "minhash_lsh"; schema and
    keep-set semantics are identical (see module docstring)."""
    if near_tier not in ("jaccard_prefix", "minhash_lsh"):
        raise ValueError(f"unknown near_tier: {near_tier!r}")

    fp = docs.select(
        id_col, source_col, doc_fingerprint(text_col).alias("f")
    )
    keep = fp.groupBy("f").agg(F.min(id_col).alias("keep_id"))
    tagged = bounded_persist(
        fp.join(keep, "f").select(
            id_col,
            source_col,
            (F.col(id_col) != F.col("keep_id")).alias("drop_exact"),
        )
    )
    survivors = docs.join(
        tagged.where(~F.col("drop_exact")).select(id_col), id_col, "left_semi"
    )
    if near_tier == "jaccard_prefix":
        pairs = prefix_filter_jaccard_pairs(
            survivors,
            id_col=id_col,
            text_col=text_col,
            n=n,
            threshold=threshold,
        )
    else:
        pairs = _verified_lsh_pairs(
            survivors,
            id_col,
            text_col,
            n,
            threshold,
            num_perm,
            bands,
            candidate_est_threshold,
        )
    cc = connected_components(pairs)
    status = tagged.join(
        cc.select(
            F.col("node").alias(id_col),
            (F.col("node") != F.col("component")).alias("__near"),
        ),
        id_col,
        "left",
    ).select(
        id_col,
        source_col,
        "drop_exact",
        F.coalesce(F.col("__near"), F.lit(False)).alias("drop_near"),
    )
    return status.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("drop_exact"), 1)).alias("n_dropped_exact"),
        F.count(F.when(~F.col("drop_exact") & F.col("drop_near"), 1)).alias(
            "n_dropped_near"
        ),
        F.count(F.when(~F.col("drop_exact") & ~F.col("drop_near"), 1)).alias(
            "n_kept"
        ),
    )
