"""End-to-end LLM-data-pipeline composition: the library operators
chained the way a real corpus build uses them —

    documents → exact-dedup survivors → length gate → tokenize/pack
              → partitioned parquet → read back

Each stage is individually oracle-tested elsewhere; this test locks
the COMPOSITION (schemas line up, no operator breaks another's
assumptions, the persisted output round-trips).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.exact import drop_exact_dups
from mapreducewordoccurences_spark.functions.text import token_count
from mapreducewordoccurences_spark.sources.readers import load_table

from tests.conftest import SF_DIR


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="pipeline_e2e_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_corpus_build_pipeline(spark, outdir):
    docs = load_table(spark, SF_DIR, "documents")
    n_raw = docs.count()

    # 1. exact dedup (keep min-id per normalized-text fingerprint)
    survivors = drop_exact_dups(docs)
    n_dedup = survivors.count()
    assert 0 < n_dedup <= n_raw

    # 2. length gate: drop docs under 10 tokens
    with_tokens = survivors.withColumn("n_tokens", token_count("text"))
    gated = with_tokens.where(F.col("n_tokens") >= 10)
    n_gated = gated.count()
    assert 0 < n_gated <= n_dedup

    # 3. deterministic sequence packing (~128-token bins per lang)
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    packed = gated.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 128).cast("bigint"),
    )
    # no pack exceeds capacity + one max-size doc (greedy prefix bound)
    max_doc = packed.agg(F.max("n_tokens")).first()[0]
    overfull = (
        packed.groupBy("lang", "pack_id")
        .agg(F.sum("n_tokens").alias("pack_tokens"))
        .where(F.col("pack_tokens") > 128 + max_doc)
        .count()
    )
    assert overfull == 0

    # 4. write partitioned by lang, read back, verify
    path = os.path.join(outdir, "corpus")
    packed.select("doc_id", "lang", "source", "n_tokens", "pack_id").write.mode(
        "overwrite"
    ).partitionBy("lang").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == n_gated
    # partition pruning works on the written layout
    one_lang = back.where(F.col("lang") == "en")
    assert 0 < one_lang.count() < n_gated
    # packing survived the round-trip
    assert back.select("pack_id").distinct().count() > 1
