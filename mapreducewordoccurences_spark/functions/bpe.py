"""Distributed BPE (byte-pair-encoding) vocabulary learning — the
tokenizer-training op of an LLM data pipeline, learned from the
corpus itself (Sennrich et al. 2016).

Key scale property: after ONE corpus-scale pass (the word-frequency
aggregation), every merge round runs on the VOCABULARY table
(distinct words × their symbol arrays, weighted by frequency) —
corpus size only matters once, vocabulary size drives the loop. This
is exactly how production BPE trainers work (they train on word
counts, not raw text).

Per round:
1. adjacent symbol pairs, exploded from each word's symbol array and
   weighted by word frequency → grouped count (vocab-bounded shuffle);
2. argmax pair with a deterministic (count DESC, pair ASC) tiebreak —
   a one-row driver collect (scalars-only driver state, same
   discipline as operators/selection.py);
3. the merge applied to every word via a built-in ``aggregate`` fold
   (greedy left-to-right, non-overlapping — standard BPE semantics);
   NO Python touches row data, the fold is whole-stage codegen;
4. ``localCheckpoint`` truncates lineage so the plan doesn't grow by
   one fold per round (the connected-components discipline).

Determinism: integer pair counts, total-order tiebreaks, and a
deterministic fold ⇒ the merge list is identical across runs,
partitionings, and engines implementing the same rule (verified
against a pure-Python reference in tests/test_bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.functions.text import tokens


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The one corpus-scale pass: (word, freq) with words split into
    character symbol arrays ready for merging."""
    return (
        df.select(F.explode(tokens(text_col, lowercase=True)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            # split keeps a trailing "" (limit=-1 semantics); the
            # (?=.) lookahead only splits where a character follows
            F.split(F.col("word"), "(?!^)(?=.)").alias("symbols"),
        )
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts over the vocab table."""
    pairs = vocab.select(
        "freq",
        F.explode(
            F.when(
                F.size("symbols") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("symbols") - 1),
                    lambda i: F.struct(
                        F.element_at("symbols", i).alias("left"),
                        F.element_at("symbols", i + 1).alias("right"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
        ).alias("p"),
    )
    return pairs.groupBy("p.left", "p.right").agg(F.sum("freq").alias("pair_count"))


def _apply_merge(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Replace every non-overlapping left-to-right (left, right)
    adjacency with the merged symbol, entirely in built-in
    expressions: a fold with (accumulated array, pending symbol)
    struct state."""
    a, b = F.lit(left), F.lit(right)
    init = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("pending"),
    )

    def step(state, s):
        acc, pending = state["acc"], state["pending"]
        return (
            F.when(
                pending.isNull(),
                F.struct(acc.alias("acc"), s.alias("pending")),
            )
            .when(
                (pending == a) & (s == b),
                F.struct(
                    F.concat(acc, F.array(F.concat(a, b))).alias("acc"),
                    F.lit(None).cast("string").alias("pending"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc, F.array(pending)).alias("acc"),
                    s.alias("pending"),
                )
            )
        )

    def finish(state):
        return F.when(
            state["pending"].isNull(), state["acc"]
        ).otherwise(F.concat(state["acc"], F.array(state["pending"])))

    return vocab.select(
        "word",
        "freq",
        F.aggregate("symbols", init, step, finish).alias("symbols"),
    )


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
    min_pair_count: int = 2,
    checkpoint_dir: str | None = None,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges; returns [(left, right,
    pair_count)] in merge order. Stops early when no pair reaches
    ``min_pair_count``.

    Per-round lineage truncation defaults to ``localCheckpoint``
    (executor-local); pass ``checkpoint_dir`` on durable storage for
    reliable checkpoints that survive executor loss — the vocab table
    persisted each round is vocabulary-sized, so the extra I/O is
    negligible next to the corpus pass (core/checkpointing.py)."""
    from mapreducewordoccurences_spark.core.checkpointing import make_truncate

    truncate = make_truncate(df, checkpoint_dir)
    vocab = truncate(word_freq_table(df, text_col))
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.col("pair_count").desc(), "left", "right")
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < min_pair_count:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], top[0]["pair_count"]
        merges.append((left, right, int(cnt)))
        vocab = truncate(_apply_merge(vocab, left, right))
    return merges


def bpe_merge_table(
    spark: SparkSession,
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
) -> DataFrame:
    """The learned merge list as a DataFrame (merge_rank, left, right,
    merged, pair_count) — the artifact a tokenizer ships."""
    merges = learn_bpe_merges(df, text_col, num_merges)
    rows = [
        (i + 1, l, r, l + r, c) for i, (l, r, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "merge_rank int, left string, right string, merged string, pair_count long"
    )
