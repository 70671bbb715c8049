from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.operators.skew import salted_agg, salted_join


def test_salted_agg_matches_plain_groupby(spark):
    # heavy skew: 90% of rows share one key
    df = spark.range(0, 20000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))
        ).alias("key"),
        (F.col("id") % 7).alias("v"),
    )
    plain = {
        (r["key"]): (r["s"], r["c"])
        for r in df.groupBy("key").agg(F.sum("v").alias("s"), F.count("v").alias("c")).collect()
    }
    salted = {
        (r["key"]): (r["s"], r["c"])
        for r in salted_agg(df, ["key"], {"s": ("v", "sum"), "c": ("v", "count")}, n_salts=8).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain_join(spark):
    left = spark.range(0, 5000).select(
        F.when(F.col("id") % 5 < 4, F.lit(1)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("rv"))
    plain = left.join(right, "k").groupBy("k").count()
    salted = salted_join(left, right, "k", n_salts=4).groupBy("k").count()
    assert {(r["k"], r["count"]) for r in plain.collect()} == {
        (r["k"], r["count"]) for r in salted.collect()
    }


class TestKeySkewStats:
    def test_hand_computed_shares(self, spark):
        from mapreducewordoccurences_spark.operators.skew import key_skew_stats

        df = spark.createDataFrame(
            [("hot",)] * 6 + [("warm",)] * 3 + [("cold",)] * 1, "k string"
        )
        rows = key_skew_stats(df, ["k"], top_n=2).collect()
        assert [(r["k"], r["n_rows"]) for r in rows] == [("hot", 6), ("warm", 3)]
        hot = rows[0]
        assert hot["row_share"] == pytest.approx(0.6)
        # mean key load = 10/3; ratio = 6/(10/3) = 1.8
        assert hot["ratio_to_mean"] == pytest.approx(1.8)

    def test_no_single_partition_exchange_of_keys(self, spark):
        from mapreducewordoccurences_spark.operators.skew import key_skew_stats

        df = spark.createDataFrame([("a",), ("b",)], "k string")
        plan = (
            key_skew_stats(df, ["k"], top_n=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # top-N must compile to TakeOrderedAndProject, not a global sort
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan


def test_heavy_hitters_exact_vs_full_groupby(spark):
    """Candidate+verify output must equal the plain groupBy+HAVING
    answer, including under a tiny Space-Saving capacity (many
    partitions, aggressive eviction)."""
    from pyspark.sql import functions as F

    from mapreducewordoccurences_spark.operators.skew import heavy_hitters

    # zipf-ish synthetic: key k appears ~2000/k times; share threshold
    # 2% keeps roughly the first handful of keys
    df = (
        spark.range(0, 20000)
        .select((F.floor(2000 / (F.col("id") % 2000 + 1))).alias("k"))
        .repartition(16)
    )
    got = {(r.k, r.cnt) for r in heavy_hitters(df, ["k"], min_share=0.02).collect()}
    totals = df.count()
    import math

    want = {
        (r.k, r.cnt)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= math.ceil(totals * 0.02))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_heavy_hitters_rejects_bad_share(spark):
    import pytest

    from mapreducewordoccurences_spark.operators.skew import heavy_hitters

    with pytest.raises(ValueError):
        heavy_hitters(spark.range(1), ["id"], min_share=0.0)


def test_planted_skew_mitigation_digest_parity(spark):
    """CI pin of the sf30 skew probe's conclusion (SKEW_r11.json,
    VERDICT r11 ask #6): on the probe's exact planted-skew shape (80%
    of events rows remapped to key 0, DECIMAL-carried values so
    digests are order-independent), every mitigation variant — naive
    sort-merge (AQE off), AQE skew-join, salted_join, broadcast — and
    both agg variants must produce identical digests. A salting change
    that alters answers fails here instead of waiting for the next
    manual sf30 probe."""
    import pyspark.sql.functions as F

    from mapreducewordoccurences_spark.sources.readers import load_table
    from tests.conftest import SF_DIR

    events = load_table(spark, SF_DIR, "events")
    skewed = events.select(
        F.when(F.pmod(F.xxhash64("event_id"), F.lit(5)) < 4, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        F.col("value").cast("decimal(20,6)").alias("value"),
    )
    dim_rows = (
        skewed.select("k").distinct()
        .withColumn(
            "weight",
            (F.pmod(F.col("k"), F.lit(97)) + 1).cast("decimal(20,6)"),
        )
        .collect()
    )
    dim = spark.createDataFrame(dim_rows, "k long, weight decimal(20,6)")

    def digest(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
            F.sum("weight").alias("sw"),
        ).collect()[0]
        return (int(r["n"]), str(r["sv"]), str(r["sw"]))

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        digests = {}
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        digests["naive_aqe_off"] = digest(skewed.join(dim, "k"))
        digests["salted_32"] = digest(salted_join(skewed, dim, "k", n_salts=32))
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        digests["naive_aqe_skewjoin"] = digest(skewed.join(dim, "k"))
        conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        digests["broadcast_dim"] = digest(skewed.join(F.broadcast(dim), "k"))
        assert len(set(digests.values())) == 1, digests

        def agg_digest(out):
            r = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("sv").alias("sv"),
                F.sum("n2").alias("sw"),
            ).collect()[0]
            return (int(r["n"]), str(r["sv"]), str(r["sw"]))

        plain = agg_digest(
            skewed.groupBy("k").agg(
                F.sum("value").alias("sv"), F.count(F.lit(1)).alias("n2")
            )
        )
        salted = agg_digest(
            salted_agg(
                skewed, ["k"],
                {"sv": ("value", "sum"), "n2": ("value", "count")},
                n_salts=32,
            )
        )
        assert plain == salted, (plain, salted)
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
