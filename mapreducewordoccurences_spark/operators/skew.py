"""Skew-mitigation operators.

AQE's skew-join splitting (on by default, session.py) handles most
runtime skew; these operators cover the two shapes AQE can't fix:

- ``salted_agg``: a grouped aggregation where a handful of hot keys
  (stop-word-class tokens, null-ish user ids) overwhelm single
  reducers. Two-stage: aggregate on (key, salt) — hot keys fan out
  over ``n_salts`` reducers — then re-aggregate on key. Only valid
  for algebraic aggregates (sum/count/min/max), which re-combine.
- ``salted_join``: a join where the LEFT side is heavily skewed on
  the join key and the right side is small-ish but above broadcast
  threshold: left gets a random salt, right is replicated across all
  salt values, join key becomes (key, salt). Shuffle of the hot key
  spreads n_salts-ways at the cost of replicating the right side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.core.checkpointing import bounded_persist


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs`` maps output column → (input column, fn) with fn in
    {sum, count, min, max}. Example:
        salted_agg(tok, ["word"], {"count": ("word", "count")})
    Stage 1 groups on keys + a uniform random salt (hot keys spread
    across n_salts partial groups); stage 2 combines partials. Cost:
    one extra (tiny — groups×salts rows) shuffle; win: no reducer
    sees more than ~1/n_salts of a hot key's rows.
    """
    supported = {"sum", "count", "min", "max"}
    for out, (col, fn) in aggs.items():
        if fn not in supported:
            raise ValueError(f"{fn} is not algebraic-recombinable; use {supported}")

    salted = df.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    stage1 = salted.groupBy(*keys, "__salt").agg(
        *[
            (F.count(col) if fn == "count" else getattr(F, fn)(col)).alias(f"__p_{out}")
            for out, (col, fn) in aggs.items()
        ]
    )
    recombine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    return stage1.groupBy(*keys).agg(
        *[
            recombine[fn](f"__p_{out}").alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    n_salts: int = 16,
) -> DataFrame:
    """Skewed-left inner equi-join: salt left, replicate right n_salts
    ways.

    Right-side replication makes this a (|right| × n_salts) shuffle —
    use when right is too big to broadcast but small enough to
    replicate; for mutual skew, split hot keys out and union.
    """
    keys = [on] if isinstance(on, str) else list(on)
    l_salted = left.withColumn("__salt", (F.rand(seed=7) * n_salts).cast("int"))
    r_replicated = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = l_salted.join(r_replicated, on=[*keys, "__salt"], how="inner")
    return out.drop("__salt")


def key_skew_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """Skew diagnostic for a prospective shuffle key: per-key row
    counts for the ``top_n`` hottest keys plus each key's share of
    total rows and its ratio to the mean key load. ratio_to_mean ≈
    the slowdown factor the hottest reducer imposes on the stage —
    the number that decides between a plain groupBy, salting, or AQE
    skew-join before a job runs at 100 TB.

    The per-key aggregation (map-side combine) is persisted and read
    twice: once through a distributed TakeOrderedAndProject for the
    top-N, once through a single-row totals aggregate that broadcasts
    onto those N rows. No stage ever holds the full key set in one
    task — a global window here would funnel every distinct key
    through one reducer, exactly the skew this function diagnoses.
    """
    per = bounded_persist(df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows")))
    totals = per.agg(
        F.sum("n_rows").cast("double").alias("__total"),
        F.count(F.lit(1)).cast("double").alias("__n_keys"),
    )
    top = per.orderBy(F.col("n_rows").desc(), *key_cols).limit(top_n)
    return top.join(F.broadcast(totals), how="cross").select(
        *key_cols,
        "n_rows",
        (F.col("n_rows") / F.col("__total")).alias("row_share"),
        (F.col("n_rows") / (F.col("__total") / F.col("__n_keys"))).alias(
            "ratio_to_mean"
        ),
    )


def heavy_hitters(
    df: DataFrame,
    key_cols: Sequence[str],
    min_share: float,
    count_col: str = "cnt",
) -> DataFrame:
    """EXACT heavy hitters (keys with ≥ ``min_share`` of all rows) via
    the two-phase candidate-generation / exact-recount pattern.

    Why not a plain groupBy+HAVING: at 100 TB the key cardinality can
    be billions (URLs, user ids) — a full groupBy shuffles state for
    EVERY distinct key to compute an answer that keeps almost none of
    them. Here the full key set never shuffles:

    Phase 1 (map-only): each input partition runs a bounded
    Space-Saving summary (capacity c = ceil(2/min_share) entries —
    constant memory regardless of partition cardinality) over its own
    rows and emits its surviving candidate keys. Guarantees: a key
    with global share ≥ s has local share ≥ s in at least one
    partition (weighted pigeonhole); Space-Saving counters never
    under-count, its min counter is ≤ n_p/c, and an absent key's true
    local count is ≤ that min — so with c ≥ 2/s every key of local
    share ≥ s > 1/c is still in the summary at partition end. The
    candidate set is therefore a provable superset of the true heavy
    hitters; only it (tiny) ever shuffles.

    Phase 2 (exact verify): semi-join the input against the
    broadcast candidate set, exact-count just those keys, and keep
    those meeting the global threshold — false candidates from phase 1
    are discarded, making the output exactly equal to the full
    groupBy+HAVING answer. The threshold row count comes from a
    single-row total broadcast onto the counts (no driver round-trip).
    """
    if not 0 < min_share < 1:
        raise ValueError(f"min_share must be in (0,1), got {min_share}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    capacity = int(2.0 / min_share) + 1
    key_struct = df.select(*keys)
    key_schema = key_struct.schema

    def ss_partition(batches):
        import pandas as pd

        counters: dict[tuple, int] = {}
        for pdf in batches:
            for tup, n in pdf.groupby(keys, dropna=False, sort=False).size().items():
                if not isinstance(tup, tuple):
                    tup = (tup,)
                if tup in counters:
                    counters[tup] += int(n)
                elif len(counters) < capacity:
                    counters[tup] = int(n)
                else:
                    # Space-Saving eviction: the new key inherits the
                    # min counter (over-estimate, never under-estimate)
                    evict = min(counters, key=counters.get)
                    floor = counters.pop(evict)
                    counters[tup] = floor + int(n)
        if counters:
            yield pd.DataFrame(list(counters.keys()), columns=keys)

    candidates = df.select(*keys).mapInPandas(ss_partition, schema=key_schema).distinct()
    totals = df.agg(F.count(F.lit(1)).alias("__total"))
    exact = (
        df.join(F.broadcast(candidates), on=keys, how="left_semi")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(count_col))
    )
    return (
        exact.join(F.broadcast(totals), how="cross")
        .where(F.col(count_col) >= F.ceil(F.col("__total") * F.lit(float(min_share))))
        .drop("__total")
    )


def skew_safe_confs(advisory_partition_bytes: int = 64 * 1024 * 1024) -> dict[str, str]:
    """Session confs that make AQE's skew-join splitting actually fire,
    encoding what the planted-skew probe measured (tools/skew_probe.py,
    SKEW_r09.json) instead of leaving it in an artifact:

    - ``skewedPartitionThresholdInBytes`` is pinned to 4x the advisory
      partition size, NOT left at its absolute 256MB default. The
      probe's 80%-hot key produced a ~240MB compressed hot partition —
      "not skewed" under the default, ZERO AQE effect, a silent
      straggler. The threshold is meaningful only relative to the
      partition size you are coalescing toward; 4x preserves the
      default's own 256MB/64MB ratio at any advisory size.
    - ``skewedPartitionFactor`` stays at the 5.0 default (a partition
      must also be 5x the median); listed explicitly so a cluster-side
      override is visible in diffs rather than ambient.

    Two probe findings CANNOT be encoded as confs and live here as the
    operational contract instead:

    1. Do not persist/cache a dimension aligned to the join key: the
       cache carries its hashpartitioning, the join side then has no
       ShuffleQueryStage, and OptimizeSkewedJoin (which must split and
       duplicate shuffle stages) silently never fires. The probe's
       first run measured zero AQE effect for exactly this reason.
    2. Algebraic aggregations never need salting — partial->final
       HashAggregate bounds any reducer at one row per (key, map
       task); ``salted_agg`` is for shapes without map-side combine.

    Usage: ``get_spark(extra_conf=skew_safe_confs())`` for a
    skew-heavy job, or merge into an existing session via
    ``spark.conf.set``. Plan-tested: tests/test_plans.py asserts
    ``SortMergeJoin(skew=true)`` fires on the probe's planted shape
    under these confs.
    """
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            advisory_partition_bytes
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            4 * advisory_partition_bytes
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5.0",
    }
