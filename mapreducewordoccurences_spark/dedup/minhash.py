"""MinHash + LSH banding near-duplicate detection — the 100 TB-scale
dedup tier (the shape used by web-scale corpus dedup à la
GPT-3/Gopher/RefinedWeb pipelines).

Pipeline: shingle → 64-bit base hash → ``num_perm`` independent
rehashes h_i(x) = xxhash64(x, i·seed-mix) → per-doc signature
(array of per-hash minima) → split signature into ``bands`` bands of
``rows_per_band`` → docs sharing any band-hash become candidates →
exact signature agreement estimates Jaccard.

Why rehashing, not affine "permutations": the classic
h_i(x) = (a_i·x + b_i) mod p is only a permutation-like shuffle if
the products wrap mod p many times. With BIGINT-safe parameters
(a < 2³¹ over a 30-bit folded domain) a_i·x + b_i < 2p — each map is
order-PRESERVING with a single cut point, so every "permutation"
ranks the shingle set in the same underlying order and the num_perm
minima are massively correlated. The agreement rate then estimates a
gap-weighted overlap with per-pair variance that doesn't shrink with
num_perm — measured at sf1: pairs with exact J=0.95 showed agreement
≈0.37 and were missed by all 32 bands. A fresh xxhash64 of
(base_hash, i) per permutation is a genuinely independent family:
agreement is Binomial(num_perm, J)/num_perm, the S-curve math holds,
and the hot loop stays primitive-BIGINT whole-stage-codegen.

Why this scales where ngram.py's inverted index doesn't: candidate
generation is bounded by band-bucket collisions (tunable via the
S-curve: P(candidate) = 1-(1-J^rows)^bands), independent of shingle
document frequency. Everything is built-in array/agg expressions —
one explode per (doc, shingle), one groupBy per doc, one explode per
(doc, band), one self-join on (band, band_hash).

Candidate generation is the shared collision self-join
(dedup/pairs.py ``collision_pairs``) over ``minhash_band_index``'s
band table; the incremental new×index probe is the same join with
the index as its other side.

Base hash is ``xxhash64`` — JVM-native (no string materialization, no
base conversion), deterministic across runs/partitionings/AQE replans,
which is the determinism a rows-only operator needs. (An earlier
md5-hex→bigint variant bought cross-SQL-engine portability nobody
consumes and cost ~25% of end-to-end runtime.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.core.checkpointing import bounded_persist
from mapreducewordoccurences_spark.dedup.ngram import shingles_df
from mapreducewordoccurences_spark.dedup.pairs import collision_pairs


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, signature: array<bigint> of length num_perm).

    One shuffle (groupBy id); the num_perm minima fold into a single
    partial-aggregated pass, so shuffle rows = docs, not shingles.
    The base hash of a shingle is xxhash64 (signed; one codegen'd pass
    over the bytes).
    """
    sh = shingles_df(df, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64(F.col("shingle")).alias("__h")
    )
    # Each "permutation" is an independent 64-bit rehash of the base
    # hash: xxhash64(__h, mix_i) where mix_i folds (seed, i) into one
    # literal. Hashing an (int64, int64) pair is one codegen'd call —
    # no mod-p arithmetic, no order-preserving-map bias (see module
    # docstring for why the affine family was statistically broken).
    #
    # The num_perm min-aggregates are composed as ONE SQL string
    # (array of aggregates) instead of num_perm Column objects: each
    # F.xxhash64/F.min/F.alias call is a py4j round-trip, and at 128
    # perms the loop cost ~1.2 s of driver time PER QUERY BUILD
    # (measured r13) before Spark saw the plan. A bare integer SQL
    # literal types exactly like F.lit(int) — IntegerType when it
    # fits int32, LongType above — so the analyzed plan (and thus
    # every hash value) is bit-identical to the former loop; the
    # parity test pins one signature against the Column-API build.
    sig_sql = "array(" + ", ".join(
        f"min(xxhash64(__h, {seed * 1_000_003 + i}))" for i in range(num_perm)
    ) + ")"
    return sh.groupBy(id_col).agg(F.expr(sig_sql).alias("signature"))


def _est_jaccard(
    cand: DataFrame,
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    id_col: str,
    num_perm: int,
    threshold: float,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard ≥ threshold): candidate pairs scored
    by signature agreement — the share of the num_perm minima equal on
    both sides, an unbiased Jaccard estimate. Signatures re-join here,
    after candidate dedup, so the band shuffle carries ids only."""
    cand = cand.join(
        sigs_a.select(F.col(id_col).alias("doc_a"), F.col("signature").alias("__sig_a")),
        "doc_a",
    ).join(
        sigs_b.select(F.col(id_col).alias("doc_b"), F.col("signature").alias("__sig_b")),
        "doc_b",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_perm))
    )
    return cand.select("doc_a", "doc_b", est.alias("est_jaccard")).where(
        F.col("est_jaccard") >= threshold
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs via LSH banding, scored by estimated Jaccard
    (signature agreement rate), filtered at ``threshold``.

    Returns (doc_a, doc_b, est_jaccard). With num_perm=64, bands=16
    (4 rows/band) the S-curve midpoint sits near J≈0.5 — catches
    J≥0.7 pairs with >99% probability.

    ``minhash_band_index`` plus the collision self-join on
    (band, band_hash). The join shuffles ids only — carrying the
    num_perm-long signature through the banding explode would multiply
    the exchange by bands × (8·num_perm) bytes per doc (~60× at the
    defaults); signatures re-join from the persisted table after
    candidate dedup, when the row set is already collision-pruned.
    """
    sigs, banded = minhash_band_index(df, id_col, text_col, n, num_perm, bands, seed)
    cand = collision_pairs(banded, id_col, ["band", "band_hash"])
    return _est_jaccard(cand, sigs, sigs, id_col, num_perm, threshold)


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """The persistent LSH INDEX of a corpus: (signatures, band_table).

    ``signatures`` is (id, signature array<long>); ``band_table`` is
    (id, band, band_hash) — the two tables a production pipeline
    writes out ONCE (partitioned by band at scale) so that every
    future batch dedups against the corpus without re-shingling or
    re-hashing a single old document. ``minhash_lsh_pairs`` is this
    index plus the collision self-join, so estimates are directly
    comparable given the same seed.

    The signature table is persisted before the band table is derived
    from it — the in-session analog of "written out once". Without it,
    consuming both returned tables recomputes the whole
    shingle→hash→min pipeline twice (band_table shares signatures'
    lineage), which is exactly the rescan the index exists to avoid.
    Measured (interleaved A/B on local[32], incremental-dedup shape):
    wash at sf0.1, ~5% faster at sf1 (6.50 vs 6.85 s) — and the win
    grows with corpus size since the avoided recompute is a full
    corpus scan+shingle+128-slot-min pass.

    The persist goes through ``core/checkpointing.bounded_persist``:
    it outlives this call (the returned tables are lazy) and is
    released when later persists push it past the session's cache
    bound, so callers need not unpersist it."""
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands
    sigs = bounded_persist(minhash_signatures(df, id_col, text_col, n, num_perm, seed))
    band_table = sigs.select(
        F.col(id_col),
        F.posexplode(
            # xxhash64 hashes the bigint slice directly — no string
            # round-trip; a 64-bit bucket id keeps false band
            # collisions ~0 (and any are filtered by est_jaccard).
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "band_hash"),
    )
    return sigs, band_table


def minhash_lsh_incremental_pairs(
    new_df: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Incremental LSH dedup: candidate pairs between a NEW batch and
    an already-indexed corpus (``minhash_band_index`` output), scored
    by signature-agreement Jaccard estimate.

    Returns (new_id, index_id, est_jaccard). The 100 TB contract:
    per batch, only the NEW documents are shingled/hashed (batch-sized
    work); the corpus contributes its stored band table to one
    equi-join on (band, band_hash) — the collision join with the index
    as its other side. Corpus-side cost is a join against an index
    that dynamic partition pruning / bucketing keeps cheap, NOT a
    rescan. new×new dedup within the batch is ``minhash_lsh_pairs`` on
    the batch alone; this function covers the new×corpus frontier."""
    new_sigs, new_bands = minhash_band_index(
        new_df, id_col, text_col, n, num_perm, bands, seed
    )
    cand = collision_pairs(
        new_bands, id_col, ["band", "band_hash"], other=index_bands
    )
    return _est_jaccard(cand, new_sigs, index_sigs, id_col, num_perm, threshold).select(
        F.col("doc_a").alias("new_id"),
        F.col("doc_b").alias("index_id"),
        "est_jaccard",
    )
