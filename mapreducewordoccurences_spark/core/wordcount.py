"""Reference-parity wordcount core.

Semantics pinned by the reference's single-threaded run (ground truth,
SURVEY.md §2b; the reference's multithread boundary bugs §2c are
deliberately NOT replicated):

- A word is a maximal run of ``[A-Za-z0-9]`` (reference ``isWordChar``,
  src/main.c:187-189). Underscore, hyphen, apostrophe, and all
  non-ASCII characters are separators. NOT ``\\w`` (underscore!), NOT
  Unicode classes.
- Case-sensitive, no normalization (verified: Hello/hello/HELLO are 3
  distinct keys).
- Counts widened from the reference's uint32 (src/chash.h:19) to int64
  (documented divergence; strictly more capable).
- Output ordering: ascending bytewise on word (reference qsort+strcmp,
  src/main.c:49-51,168). Spark's UTF8String binary comparison matches
  exactly on the ASCII-only alphabet the tokenizer admits.

Spark-first design (vs the reference's manual pipeline):
- The reference's byte-range partitioner + word-boundary protocol
  (src/main.c:120-153,202-215) is subsumed by Spark's input-split
  planning and TextInputFormat line-boundary handling — tokenization
  happens within complete lines, no custom code.
- The reference's fused map+combine into a shared locked hashmap
  (src/chash.c:100-153) is subsumed by Catalyst's partial→final
  HashAggregate: map-side combine happens automatically inside the
  scan stage, the only shuffle moves (word, partial_count) pairs.
  Skewed tokens (stop-word-like) are absorbed by partial aggregation.
- The reference's single-threaded sort of the distinct set after its
  workers join (src/main.c:164-168) maps to one ordered output
  partition (``count_words(sort=True)``).
- Everything stays in whole-stage codegen: split/explode/filter/agg
  are JVM built-ins; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The exact character class of the reference's isWordChar (C-locale
# isalnum, src/main.c:187-189). Keep in sync with its negation below.
WORD_REGEX = "[A-Za-z0-9]+"
SEPARATOR_REGEX = "[^A-Za-z0-9]+"


def tokenize(df: DataFrame, text_col: str = "text", word_col: str = "word") -> DataFrame:
    """Explode text rows into one row per word occurrence.

    Equivalent of the reference's per-thread FSM scan
    (src/main.c:217-266) expressed declaratively; Catalyst fuses
    extract+explode into one codegen'd pass over the input.

    Uses ``regexp_extract_all`` (positive match of WORD_REGEX) rather
    than ``split`` on the separator class: identical results (proven
    against the reference binary's output), and faster, because split
    materializes empty-string array slots that a post-filter must then
    drop, while extract_all emits matches directly.
    """
    col = F.col(text_col)
    return df.select(
        F.explode(F.regexp_extract_all(col, F.lit(WORD_REGEX), 0)).alias(word_col)
    )


def count_words(df: DataFrame, text_col: str = "text", sort: bool = True) -> DataFrame:
    """The reference's one query: word-occurrence counts.

    Returns DataFrame[word: string, count: bigint]. Partial aggregation
    makes the one shuffle proportional to (distinct words × input
    partitions), not to corpus size.

    ``sort=True`` is the reference output contract (src/main.c:164-174):
    ONE partition holding every distinct word in ascending order, made
    by ``coalesce(1)`` + ``sortWithinPartitions``. Like the reference's
    single-threaded qsort after its workers join, the final merge of
    the partial counts and the sort run in one task, over the
    distinct-word set only. The plan keeps one Exchange and runs as two
    Spark jobs; a global ``orderBy`` would add a range-sampling job, a
    second Exchange and a recomputation of the final aggregate. Its
    consumers read one ordered stream (``cli.main``,
    ``toLocalIterator``).

    ``sort=False`` keeps the aggregate's hash partitioning, so the
    result stays spread over the shuffle partitions: the form for
    library callers at scale (queries/textops.py, streaming), which
    write or join the counts instead of reading them in order.
    """
    counts = tokenize(df, text_col).groupBy("word").count()
    return counts.coalesce(1).sortWithinPartitions("word") if sort else counts


def count_words_in_file(spark: SparkSession, path: str) -> DataFrame:
    """File → word counts, sorted by word. Distributed, out-of-core
    replacement for the reference's whole-file slurp
    (src/main.c:74-110): spark.read.text streams line-split input
    splits instead of requiring the input to fit in RAM. A file of a
    few MB already splits over every core
    (``spark.sql.files.openCostInBytes`` in session._DEFAULTS).
    """
    return count_words(spark.read.text(path), text_col="value")


def format_kv_lines(df: DataFrame, key_col: str = "word", val_col: str = "count") -> DataFrame:
    """``key=value`` line formatting (reference sink, src/main.c:172-174)."""
    return df.select(
        F.concat_ws("=", F.col(key_col), F.col(val_col).cast("string")).alias("line")
    )
