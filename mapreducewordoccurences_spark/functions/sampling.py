"""Deterministic sampling / splitting / shuffling for training-data
pipelines.

A 100 TB corpus can't be split with ``rand()``: re-runs must assign
every document to the same split (reproducibility, incremental
rebuilds, leakage audits). Everything here keys on **md5 of the id**
— engine-portable (md5 is identical in Spark, DuckDB, Python, unlike
Spark's internal murmur ``hash()``), uniform, and salt-able so
different pipelines draw independent assignments.

All expressions are JVM built-ins: splits/shuffles run at scan speed,
stratified sampling costs one window shuffle on the stratum key.

The reference has no sampling surface (SURVEY.md §2d); this module is
part of the engine's training-pipeline extension alongside dedup/ and
functions/text.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.core.checkpointing import bounded_persist
from mapreducewordoccurences_spark.functions.text import _c

# bucket space: first 4 md5 hex chars → [0, 65536). Wide enough that
# per-split rounding error is < 0.002%, small enough to stay in an int.
_BUCKETS = 65536


def hash_bucket(col: Column | str, salt: str = "") -> Column:
    """Deterministic bucket in [0, 65536): first 4 hex chars of
    md5(salt || id). Portable — DuckDB mirror is
    ``CAST(concat('0x', substr(md5(salt || CAST(id AS VARCHAR)), 1, 4)) AS INT)``."""
    key = F.concat(F.lit(salt), _c(col).cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("int")


def split_thresholds(weights: Sequence[tuple[str, float]]) -> list[tuple[str, int]]:
    """Cumulative integer thresholds over the bucket space, e.g.
    [(train, .9), (val, .05), (test, .05)] → [(train, 58982),
    (val, 62259), (test, 65536)]. Integer edges make the Spark and
    oracle predicates textually identical."""
    total = sum(w for _, w in weights)
    out, cum = [], 0.0
    for name, w in weights:
        cum += w / total
        out.append((name, min(_BUCKETS, int(cum * _BUCKETS))))
    return out


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: Sequence[tuple[str, float]] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic split label. Pure projection —
    no shuffle, no state; the same row lands in the same split on every
    engine and every run."""
    bucket = hash_bucket(id_col, salt)
    expr = None
    for name, edge in split_thresholds(list(weights)):
        expr = (
            F.when(bucket < edge, F.lit(name))
            if expr is None
            else expr.when(bucket < edge, F.lit(name))
        )
    return df.withColumn(split_col, expr.otherwise(F.lit(weights[-1][0])))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fraction: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep ceil(fraction × stratum size) rows per stratum —
    deterministic (md5 order, id tiebreak), never empties a non-empty
    stratum, preserves stratum proportions exactly.

    One shuffle on the stratum key; the rank filter becomes a
    WindowGroupLimit-style running filter, not a full sort of the
    corpus."""
    w = Window.partitionBy(strata_col).orderBy(
        deterministic_shuffle_key(id_col), _c(id_col)
    )
    wn = Window.partitionBy(strata_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .where(F.col("__rn") <= F.ceil(F.lit(fraction) * F.col("__n")))
        .drop("__rn", "__n")
    )


def source_mix_weights(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Data-mixing rebalance table: per source, its document/token
    counts, its share of corpus tokens, and the sampling weight that
    would equalize token share across sources (weight > 1 ⇒ upsample,
    < 1 ⇒ downsample). The small output joins back onto the corpus to
    drive weighted sampling — the standard mixture-control step before
    training (The Pile, Llama data recipes).

    Plan: one aggregation shuffle keyed by source (token counts
    combine map-side), then a GLOBAL window over the per-source rows
    computes the totals — the corpus is scanned once. The
    unpartitioned window is safe here: its input is one row per
    source (dozens), not corpus rows. (The prettier crossJoin against
    a total-aggregate branch is a trap: Catalyst does not reuse the
    shared agg subtree and re-scans the corpus for the total.)"""
    from mapreducewordoccurences_spark.functions.text import token_count

    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col)).alias("n_tokens"),
    )
    w = Window.partitionBy()
    t = F.sum("n_tokens").over(w)
    ns = F.count(F.lit(1)).over(w)
    return per.select(
        F.col(source_col),
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / t).alias("token_share"),
        ((t / ns) / F.col("n_tokens")).alias("mix_weight"),
    )


def deterministic_shuffle_key(col: Column | str, salt: str = "") -> Column:
    """Sort key for reproducible corpus shuffling (training-shard
    order): md5 of the id. Unique ids ⇒ a total order; write shards
    with ``df.orderBy(key).write...`` or ``repartitionByRange``."""
    return F.md5(F.concat(F.lit(salt), _c(col).cast("string")))


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group curriculum cut: keep the highest-priority documents
    of each group until the group's cumulative token count reaches
    ``budget_tokens`` (inclusive: the doc that lands exactly on the
    budget stays; the first doc that would exceed it is dropped).
    This is the token-budget step of a data recipe — "at most B
    tokens per source, best documents first".

    Priority is (n_tokens DESC, id ASC): longest docs first, id as
    the deterministic tiebreak. Output adds
    ``n_tokens`` (per-doc) and ``cum_tokens`` (running total in
    priority order).

    Plan: one window shuffle keyed by group. Groups are few (data
    sources), so each group's rows land on ONE reducer — fine up to
    ~10⁸ docs/group. Past that, replace the exact prefix-sum with a
    two-phase cutoff: aggregate a per-group histogram of the priority
    key (doubles as the skew diagnostic), pick the key threshold whose
    prefix mass ≈ budget, and map-side filter — the window then runs
    only on the boundary key's docs to settle ties exactly.
    """
    from mapreducewordoccurences_spark.functions.text import token_count

    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    with_tok = df.withColumn("n_tokens", token_count(text_col))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("n_tokens").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        with_tok.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= budget_tokens)
    )


def pps_systematic_sample(
    df: DataFrame,
    weight_col: str,
    n_target: int,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted (probability-proportional-to-size) systematic sample:
    ~``n_target`` rows per group, selection probability ∝ integer
    ``weight_col``, fully deterministic and engine-portable.

    Method: order each group by the md5 shuffle key (a reproducible
    'random' order), take the running weight sum W_i, and select every
    row whose weight interval (W_{i-1}, W_i] crosses a multiple of
    step = ceil(total_w / n_target) — the classic systematic PPS rule.
    Every quantity is an integer (exact cumsum, integer division), so
    unlike exponential-key (A-RES) weighted reservoirs there is no
    transcendental whose last-ulp could differ across engines.

    Rows with weight >= step are always selected, but once — the
    multiplicity a textbook PPS-with-replacement would assign collapses
    to a single pick, so dominant rows shrink the realized sample
    below n_target (by design: a sample can't contain a row twice).

    Plan: one window shuffle keyed by group + a broadcast of per-group
    totals. Same single-reducer-per-group bound (and the same two-phase
    escape hatch) as token_budget_sample above.
    """
    order_key = deterministic_shuffle_key(_c(id_col), salt="pps")
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_key, _c(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = df.withColumn("__cw", F.sum(_c(weight_col)).over(w))
    totals = df.groupBy(group_col).agg(
        F.sum(_c(weight_col)).alias("__tw")
    )
    joined = cum.join(F.broadcast(totals), on=group_col)
    step = F.expr(f"(__tw + {n_target} - 1) div {n_target}")
    picked = F.expr("__cw div __step") > F.expr("(__cw - __w) div __step")
    return (
        joined.withColumn("__step", step)
        .withColumn("__w", _c(weight_col))
        .where(picked)
        .drop("__cw", "__tw", "__step", "__w")
    )


def dsir_log_weights(
    docs: DataFrame,
    target_cond: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 10_000,
    lam: float = 1.0,
    portable: bool = False,
    fp_grain: float = 1e6,
) -> DataFrame:
    """DSIR importance weights: per-document log-likelihood ratio of a
    hashed-n-gram target model vs the raw-corpus model (Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023). The standard recipe for skewing a web-scale crawl
    toward a high-quality target distribution before pretraining:
    resample raw docs with probability ∝ exp(logw).

    Features are word unigrams + bigrams hashed into ``buckets``
    buckets; both bag-of-buckets models use add-``lam`` smoothing over
    the bucket space. ``target_cond`` marks the rows that define the
    target distribution (they are also part of the raw pool, as in the
    paper's continued-pretraining setting). Output:
    (id, dsir_logw, n_grams); docs whose text yields zero tokens have
    no feature rows and are absent — at selection time absent means
    "no evidence", which resampling treats as weight exp(0) ≈ median.

    Portability protocol (shared with the drift family — see
    vocab_shift_js_divergence): the per-BUCKET log-ratio is truncated
    toward zero at ``fp_grain`` into a BIGINT once, on the ≤``buckets``-
    row ratio table; per-doc weights are then order-free exact integer
    sums of those fixed-point values, so the result is deterministic
    across runs/partitionings and bit-portable across engines (a
    one-ulp ln() difference cannot move a 1e-6-grain truncation except
    on a boundary the smoothed count ratios do not sit on).
    ``portable=True`` additionally swaps the gram hash from xxhash64
    to the low 60 bits of md5 — reproducible in any SQL engine — at
    the usual md5 string-round-trip cost (see dedup/simhash.py).

    Scale design: two groupBy-count passes over the hashed gram
    stream (map-side combinable; the gram stream is a pure projection
    — raw text never shuffles), a ≤``buckets``-row ratio table
    broadcast into the scoring join, and one groupBy(id) integer sum.
    The featurized stream is consumed three times (raw counts, target
    counts, scoring) and is persisted; at 100 TB, write it out once
    instead — it is the paper's "featurized corpus" artifact, ~2
    BIGINTs per gram, and every later target re-weighting reuses it
    without touching text.
    """
    toks = docs.select(
        _c(id_col).alias("__id"),
        target_cond.alias("__is_target"),
        F.expr(
            f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
        ).alias("__t"),
    )
    bigrams = F.expr(
        "CASE WHEN size(__t) >= 2 THEN "
        "transform(sequence(1, size(__t) - 1), i -> concat(__t[i-1], ' ', __t[i])) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    grams = toks.select(
        "__id", "__is_target", F.explode(F.concat(F.col("__t"), bigrams)).alias("__g")
    )
    if portable:
        h = F.conv(F.substring(F.md5(F.col("__g")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("__g"))
    feats = bounded_persist(
        grams.select("__id", "__is_target", F.pmod(h, F.lit(buckets)).alias("__b"))
    )
    raw_counts = feats.groupBy("__b").agg(F.count(F.lit(1)).alias("__cr"))
    tgt_counts = (
        feats.where("__is_target").groupBy("__b").agg(F.count(F.lit(1)).alias("__ct"))
    )
    tot_r = raw_counts.agg(F.sum("__cr").alias("__r"))
    tot_t = tgt_counts.agg(F.sum("__ct").alias("__t_tot"))
    lr = F.log(
        (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(lam))
        / (F.col("__t_tot") + F.lit(lam * buckets))
    ) - F.log((F.col("__cr") + F.lit(lam)) / (F.col("__r") + F.lit(lam * buckets)))
    # cast("bigint") truncates toward zero ≡ SQL trunc(); negatives OK
    ratio = (
        raw_counts.join(tgt_counts, "__b", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select("__b", (lr * F.lit(fp_grain)).cast("bigint").alias("__lr_fp"))
    )
    return (
        feats.join(F.broadcast(ratio), "__b")
        .groupBy("__id")
        .agg(
            (F.sum("__lr_fp") / F.lit(fp_grain)).alias("dsir_logw"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(F.col("__id").alias(id_col), "dsir_logw", "n_grams")
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Contribution capping: keep at most ``cap`` rows per key,
    chosen by deterministic hash order (md5 of the id, id tiebreak) —
    the per-author/per-domain bounding step training pipelines apply
    so no single source dominates the mixture (and the
    contribution-bounding primitive of DP-style pipelines; C4 capped
    per-URL, Llama recipes cap per-domain).

    Same rank-filter shape as stratified_sample: one shuffle on the
    key; Catalyst turns the rank filter into WindowGroupLimit, so each
    map task forwards at most ``cap`` rows per key before the shuffle
    — heavy keys never concentrate on one reducer beyond cap rows.
    Hash order (not "first N in storage order") keeps the kept set
    stable under repartitioning and incremental appends."""
    w = Window.partitionBy(key_col).orderBy(
        deterministic_shuffle_key(id_col), _c(id_col)
    )
    return (
        df.withColumn("__cap_rn", F.row_number().over(w))
        .where(F.col("__cap_rn") <= cap)
        .drop("__cap_rn")
    )
