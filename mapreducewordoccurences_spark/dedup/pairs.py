"""The near-duplicate pair core: one candidate generator, one Hamming
ball and one exact set scorer behind the text and media pair tiers.

Every near-dup tier here is one operator, the set-similarity join
(Vernica et al. SIGMOD'10; "MapReduce Algorithms for Big Data
Analysis", VLDB'12): generate candidates by a KEY COLLISION, then
verify exactly.

- ``collision_pairs`` turns a keyed table ``(id, key…)`` into
  ``doc_a < doc_b`` pairs of ids that share a key. Its keys are the
  MinHash bands (dedup/minhash.py), the pigeonhole blocks of a
  Hamming ball (below), the rarity-ordered prefix tokens
  (dedup/prefix.py), the shingles of the uncapped posting-list join
  (dedup/ngram.py) and the perceptual hashes of the media rows.
  The equi-join shuffles the key plus the id (and any carried
  column), never a payload, and only colliding rows ever meet.
- ``hamming_ball_pairs`` is the pigeonhole block join (Manku et al.
  WWW'07) over any 64-bit fingerprint: SimHash (60 or 63 bits) and
  dHash (64 bits, signed).
- ``set_overlap`` + ``jaccard_pairs`` are the exact scorer: candidates
  enriched with both hashed shingle sets give
  ``(doc_a, doc_b, __inter, __na, __nb)``, the shape the posting-list
  tier (dedup/ngram.py) counts directly, and Jaccard is one projection
  over it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def collision_pairs(
    keyed: DataFrame,
    id_col: str,
    keys: list[str],
    carry: tuple[str, ...] = (),
    other: DataFrame | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Pairs of ids whose rows share every column of ``keys``:
    ``(key…, doc_a, carry_a…, doc_b, carry_b…)``, one row per
    colliding key unless ``distinct``.

    A self-join (``other`` None) keeps ``doc_a < doc_b``; a join of
    ``keyed`` (the a side) against ``other`` (the b side, same column
    names) keeps ``doc_a != doc_b``. Each ``carry`` column rides along
    as ``<col>_a`` / ``<col>_b``. ``distinct`` drops duplicate pairs —
    needed only where one id emits more than one key (bands, blocks,
    prefix tokens); a one-key-per-id table passes False and shuffles
    nothing extra."""

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"doc_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            *keys,
        )

    a = side(keyed, "a")
    b = side(keyed if other is None else other, "b")
    if other is None:
        keep = F.col("doc_a") < F.col("doc_b")
    else:
        keep = F.col("doc_a") != F.col("doc_b")
    pairs = a.join(b, on=keys, how="inner").where(keep)
    return pairs.dropDuplicates(["doc_a", "doc_b"]) if distinct else pairs


def hamming_ball_pairs(
    fps: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int,
    bits: int,
) -> DataFrame:
    """(doc_a < doc_b, hamming) pairs within Hamming distance
    ``max_distance`` of ``bits``-bit fingerprints (``bits`` ≤ 64;
    at 64 the values are signed BIGINTs).

    Pigeonhole: k = max_distance+1 blocks of ~bits/k bits; any
    qualifying pair agrees on ≥1 whole block, so the blocks are the
    keys of one collision join and recall of the ball is 1.0 BY
    CONSTRUCTION at any scale; bit_count(xor) verifies exactly.

    Block width bits/(d+1) sets the join's selectivity: d=3 over 63
    bits → 15-bit blocks (32k values, scale-safe); d=16 → 3-bit blocks
    whose equi-join degenerates to near-quadratic on large corpora
    (observed 579 s at sf1 before that config was retired). Keep
    d ≤ 8 on big data.

    ``fps`` feeds both join sides; callers persist it (the per-bit
    vote or the payload decode would otherwise run twice)."""
    k = max_distance + 1
    bounds = [(bits * i) // k for i in range(k + 1)]

    def block(col: Column, i: int) -> Column:
        lo, hi = bounds[i], bounds[i + 1]
        width = hi - lo
        if width == 64:
            return col
        return F.shiftright(col, lo).bitwiseAND(F.lit((1 << width) - 1))

    blocked = fps.select(
        F.col(id_col),
        F.col(hash_col).alias("__fp"),
        F.posexplode(
            F.array(*[block(F.col(hash_col), i) for i in range(k)])
        ).alias("block_idx", "block_val"),
    )
    dist = F.bit_count(F.col("__fp_a").bitwiseXOR(F.col("__fp_b")))
    return (
        collision_pairs(blocked, id_col, ["block_idx", "block_val"], ("__fp",))
        .select("doc_a", "doc_b", dist.alias("hamming"))
        .where(F.col("hamming") <= max_distance)
    )


def set_overlap(
    cand: DataFrame, sets: DataFrame, id_col: str, set_col: str
) -> DataFrame:
    """Exact overlap of candidate pairs: ``cand`` (doc_a, doc_b)
    enriched from ``sets`` (id, hashed set) on each side →
    (doc_a, doc_b, __inter, __na, __nb).

    Sets are xxhash64-folded shingles, so the per-pair
    ``array_intersect`` compares 8-byte primitives; the enrichment
    touches candidate pairs only. A filter on the sizes alone (the
    Jaccard length filter) is pushed below the intersection by the
    optimizer, so size-mismatched pairs never pay for it.

    The sizes are taken here, after the joins, not from a size column
    of ``sets``: a null-intolerant filter on such a column makes the
    optimizer infer ``isnotnull(size(set))`` and push it, with the
    whole set expression inlined, into the corpus scan — an unpruned
    verifier then shingled every document three times (measured +0.5 s
    on ``dedup_minhash_lsh_pairs`` at sf0.01)."""

    def side(s: str) -> DataFrame:
        return sets.select(
            F.col(id_col).alias(f"doc_{s}"), F.col(set_col).alias(f"__set_{s}")
        )

    return (
        cand.select("doc_a", "doc_b")
        .join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__set_a", "__set_b")).alias("__inter"),
            F.size("__set_a").alias("__na"),
            F.size("__set_b").alias("__nb"),
        )
    )


def jaccard_pairs(counts: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard ≥ threshold) from the overlap shape
    (doc_a, doc_b, __inter, __na, __nb). jaccard is an int/int divide —
    bit-deterministic across engines.

    Length filter (exactness-preserving prune): J ≤ min/max, so J ≥ t
    requires min(|A|,|B|) ≥ t·max(|A|,|B|); it rejects size-mismatched
    pairs before the intersection where one is computed."""
    jac = F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))
    return (
        counts.where(
            F.least("__na", "__nb")
            >= F.greatest("__na", "__nb") * F.lit(float(threshold))
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
