"""Bloom-filter membership pre-filter, built entirely from JVM-side
bit arithmetic (no UDFs, no driver-side sketch objects).

The 100 TB shape this serves: incremental-ingest dedup where the
corpus-fingerprint side is petabyte-scale and the nightly batch is
small. The plain anti-join (dedup/exact.py incremental_new_unique)
must shuffle/probe the corpus key set every night. A Bloom bitmap of
the corpus keys is tiny (1.2 GB per 10^9 keys at 1% FPR) and cheap to
maintain incrementally (bit_or is commutative/associative — nightly
deltas just OR in), so the batch can be split map-side into
  - definitely-new rows (bloom says no → no corpus contact at all;
    Bloom filters have NO false negatives), and
  - possible-dup rows (~dup_rate + FPR of the batch) that alone pay
    the exact anti-join.
The final result is bit-identical to the exact anti-join — the filter
is a shuffle-reducer, not an approximation of the answer.

Representation: the filter is a DataFrame (word: long, bits: long) —
64 filter bits per row, only non-zero words materialized. It behaves
like any other table: persistable, broadcastable, incrementally
maintainable with a union + re-aggregate.

Hashing: k positions per key via xxhash64(key, salt_i) mod m. Spark's
xxhash64 is a fixed public algorithm (XXH64), so the filter is
reproducible across jobs — a filter built last night answers tonight's
probes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bloom_params(n_keys: int, fpr: float = 0.01) -> tuple[int, int]:
    """Textbook sizing: m = -n ln p / (ln 2)^2 bits, k = (m/n) ln 2
    hashes, both rounded up; m is rounded to a multiple of 64 so the
    bitmap packs exactly into longs."""
    if not 0 < fpr < 1:
        raise ValueError(f"fpr must be in (0,1), got {fpr}")
    n = max(1, n_keys)
    m = math.ceil(-n * math.log(fpr) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _positions(key: Column, num_bits: int, num_hashes: int) -> Column:
    """Array of the key's ``num_hashes`` bit positions in [0, num_bits)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def bloom_bitmap(
    df: DataFrame,
    key_col: str,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Aggregate ``df[key_col]`` into a Bloom bitmap DataFrame
    (word: long, bits: long), ≤ num_bits/64 rows.

    One pass over the keys, one shuffle keyed by word index (at most
    num_bits/64 distinct groups — bounded, uniform, skew-free), partial
    bit_or map-side. Incremental maintenance: bloom_bitmap(new_keys)
    unioned with the stored bitmap and re-aggregated by word.
    """
    if num_bits % 64 != 0:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    pos = F.explode(_positions(F.col(key_col), num_bits, num_hashes)).alias("pos")
    return (
        df.select(pos)
        .select(
            F.shiftright("pos", 6).alias("word"),
            # shift amount is per-row, so the SQL form (column-valued
            # shiftleft) rather than the Python API (int-only shifts)
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def with_bloom_contains(
    df: DataFrame,
    key_col: str,
    bitmap: DataFrame,
    num_bits: int,
    num_hashes: int,
    out_col: str = "bloom_maybe",
) -> DataFrame:
    """Add boolean ``out_col``: True iff all k filter bits for
    ``df[key_col]`` are set in ``bitmap`` (i.e. the key is possibly in
    the filtered set; False ⇒ definitely absent).

    Plan shape: posexplode the k positions (k rows per input row),
    broadcast-join the bitmap on word index, then group back by the
    original row. The bitmap side is at most num_bits/64 rows — for a
    10^9-key / 1% filter that's ~19 M longs ≈ 300 MB, inside Spark's
    broadcast comfort zone; the big side never shuffles (the group-back
    re-uses the probe's own key, one hash aggregation).
    """
    probe_cols = df.columns
    exploded = df.select(
        *probe_cols,
        F.posexplode(_positions(F.col(key_col), num_bits, num_hashes)).alias(
            "__h", "__pos"
        ),
    ).select(
        *probe_cols,
        F.shiftright("__pos", 6).alias("word"),
        F.pmod("__pos", F.lit(64)).cast("int").alias("__bit"),
    )
    joined = exploded.join(F.broadcast(bitmap), on="word", how="left")
    hit = F.col("bits").isNotNull() & (F.getbit(F.col("bits"), F.col("__bit")) == 1)
    return (
        joined.select(*probe_cols, hit.alias("__hit"))
        .groupBy(*probe_cols)
        .agg(F.bool_and("__hit").alias(out_col))
    )


def bloom_incremental_new_unique(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpr: float = 0.01,
) -> DataFrame:
    """Bloom-accelerated incremental dedup. Output is IDENTICAL to
    dedup/exact.py incremental_new_unique (id, fingerprint of
    first-in-batch, never-seen rows) — the Bloom tier only decides
    which batch rows must touch the corpus:

      batch row --bloom no--> definitely new (zero corpus contact)
      batch row --bloom maybe--> exact anti-join (the only corpus probe)

    No false negatives ⇒ nothing is wrongly dropped; false positives
    only cost a redundant probe, and the exact anti-join removes them
    from the output. At a 1% FPR the corpus-probing slice shrinks to
    (true-dup rate + 1%) of the batch.

    The bitmap is sized from a count of the corpus's distinct
    fingerprints (one job while the DataFrame is built).
    """
    from mapreducewordoccurences_spark.functions.text import doc_fingerprint

    corpus_fp = corpus_df.select(
        doc_fingerprint(text_col).alias("fingerprint")
    ).distinct()
    num_bits, num_hashes = bloom_params(max(64, corpus_fp.count()), fpr)
    bitmap = bloom_bitmap(corpus_fp, "fingerprint", num_bits, num_hashes)

    batch_keep = (
        new_df.select(
            doc_fingerprint(text_col).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    flagged = with_bloom_contains(
        batch_keep, "fingerprint", bitmap, num_bits, num_hashes
    )
    definite_new = flagged.where(~F.col("bloom_maybe")).select(id_col, "fingerprint")
    candidates = flagged.where(F.col("bloom_maybe")).select(id_col, "fingerprint")
    verified_new = candidates.join(corpus_fp, on="fingerprint", how="left_anti").select(
        id_col, "fingerprint"
    )
    return definite_new.unionByName(verified_new)
