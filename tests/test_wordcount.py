"""Golden + differential + edge-case tests for the wordcount core.

Goldens captured from the single-threaded reference binary
(FIXTURES.md §1-2); single-thread output is the semantic ground truth
— the reference's multithread boundary bugs (SURVEY.md §2c) are
deliberately not replicated.
"""

from __future__ import annotations

import collections
import random
import re
import string

import pytest

from mapreducewordoccurences_spark.core import (
    count_words,
    count_words_in_file,
    format_kv_lines,
)
from tests.plan_text import count_exchanges, formatted_plan

ORACLE_RE = re.compile(r"[A-Za-z0-9]+")


def oracle_lines(text: str) -> list[str]:
    """The differential oracle verified byte-exact vs the reference
    binary (FIXTURES.md §2)."""
    counts = collections.Counter(ORACLE_RE.findall(text))
    return [f"{w}={c}" for w, c in sorted(counts.items())]


def engine_lines(spark, text: str) -> list[str]:
    df = spark.createDataFrame([(line,) for line in text.split("\n")], ["text"])
    out = format_kv_lines(count_words(df))
    return [r["line"] for r in out.collect()]


FIXTURE1 = "word1 word2 w3 4\nword5 w6 dsfg\nword1 word1 w3\n"
GOLDEN1 = ["4=1", "dsfg=1", "w3=2", "w6=1", "word1=3", "word2=1", "word5=1"]

FIXTURE2 = "foo bar qux\nbar bar baz\n"
GOLDEN2 = ["bar=3", "baz=1", "foo=1", "qux=1"]


def test_golden_fixture1(spark):
    assert engine_lines(spark, FIXTURE1) == GOLDEN1


def test_golden_fixture2(spark):
    assert engine_lines(spark, FIXTURE2) == GOLDEN2


@pytest.mark.parametrize(
    "name,text,expected",
    [
        ("case_sensitive", "Hello hello HELLO", ["HELLO=1", "Hello=1", "hello=1"]),
        (
            "separators",
            "world_test foo-bar don't C++ x,y;z",
            ["C=1", "bar=1", "don=1", "foo=1", "t=1", "test=1", "world=1", "x=1", "y=1", "z=1"],
        ),
        ("digits", "42 42a 7up", ["42=1", "42a=1", "7up=1"]),
        (
            "sort_order",
            "Apple apple Banana ZEBRA zebra 42",
            ["42=1", "Apple=1", "Banana=1", "ZEBRA=1", "apple=1", "zebra=1"],
        ),
        ("non_ascii", "caf\xe9 na\xefve 中文 abc", ["abc=1", "caf=1", "na=1", "ve=1"]),
        ("whitespace", "a\tb\r\nc  d\x0bx", ["a=1", "b=1", "c=1", "d=1", "x=1"]),
        ("separator_only", ",,, ;;; !!!", []),
        # reference drops the trailing single-char word (bug, SURVEY §2c);
        # engine follows single-thread-correct semantics
        ("eof_single_char", "ab c", ["ab=1", "c=1"]),
        ("eof_word", "abcdefgh", ["abcdefgh=1"]),
    ],
)
def test_edge_cases(spark, name, text, expected):
    assert engine_lines(spark, text) == expected
    assert engine_lines(spark, text) == oracle_lines(text)


def test_differential_random_corpus(spark):
    rng = random.Random(1234)
    alphabet = string.ascii_letters + string.digits + " _-'.,;!?\té中"
    lines = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(300)
    ]
    text = "\n".join(lines)
    assert engine_lines(spark, text) == oracle_lines(text)


def test_counts_are_int64(spark):
    df = spark.createDataFrame([("a a a",)], ["text"])
    out = count_words(df)
    assert dict(out.dtypes)["count"] == "bigint"


def test_sorted_file_count_is_two_jobs_over_every_core(spark, tmp_path):
    """The CLI path (file -> sorted lines -> toLocalIterator) runs as
    one Exchange and two Spark jobs (the aggregation's map stage, then
    the single ordered output partition), and a text file larger than
    cores x 2 MiB (the session's file open cost) scans in at least one
    split per core."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    rng = random.Random(99)
    alphabet = string.ascii_letters + string.digits
    vocab = [
        "".join(rng.choices(alphabet, k=rng.randrange(1, 12))) for _ in range(20_000)
    ]
    target = cores * 2 * 1024 * 1024 + 64 * 1024
    chunks, size = [], 0
    while size < target:
        line = " ".join(rng.choice(vocab) for _ in range(12)) + ",;\n"
        chunks.append(line)
        size += len(line)
    text = "".join(chunks)
    path = str(tmp_path / "corpus.txt")
    with open(path, "w") as f:
        f.write(text)

    df = format_kv_lines(count_words_in_file(spark, path))
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1
    assert "rangepartitioning" not in plan.lower()
    assert spark.read.text(path).rdd.getNumPartitions() >= cores

    group = "test-woc-shape"
    sc.setJobGroup(group, group)
    try:
        lines = [r["line"] for r in df.toLocalIterator()]
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert lines == oracle_lines(text)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
