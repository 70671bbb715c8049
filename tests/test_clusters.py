from __future__ import annotations

from pyspark.sql import functions as F

from mapreducewordoccurences_spark.dedup.clusters import connected_components, dup_clusters


def test_connected_components_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    cc = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    # path graph of 15 nodes — diameter 14 exercises multiple rounds
    edges = [(i, i + 1) for i in range(15)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    cc = connected_components(pairs).collect()
    assert {r["component"] for r in cc} == {0}
    assert len(cc) == 16


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches lineage truncation to reliable
    checkpoint(): identical labels, and checkpoint files actually land
    in the given dir (proof the durable path was taken)."""
    import os

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    ckpt = str(tmp_path / "cc_ckpt")
    cc = {
        r["node"]: r["component"]
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    assert os.path.isdir(ckpt) and any(os.scandir(ckpt))


def test_bpe_reliable_checkpoint_same_merges(spark, tmp_path):
    from mapreducewordoccurences_spark.functions.bpe import learn_bpe_merges

    texts = ["the cat sat on the mat", "the hat and the bat"] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    local = learn_bpe_merges(df, "text", num_merges=5)
    durable = learn_bpe_merges(
        df, "text", num_merges=5, checkpoint_dir=str(tmp_path / "bpe_ckpt")
    )
    assert local == durable and len(local) == 5


def test_dup_clusters_summary(spark):
    edges = [(5, 9), (9, 7), (100, 101)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {
        (r["component"], r["size"], r["keep_id"])
        for r in dup_clusters(pairs).collect()
    }
    assert got == {(5, 3, 5), (100, 2, 100)}


def test_incremental_minhash_matches_full_lsh_cross_pairs(spark):
    """Incremental (batch × index) candidates must equal the full
    corpus LSH pair set restricted to cross-batch pairs — same seed,
    same banding, so the split changes WHERE hashing happens, not
    what it finds."""
    from mapreducewordoccurences_spark.dedup.minhash import (
        minhash_band_index,
        minhash_lsh_incremental_pairs,
        minhash_lsh_pairs,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    is_new = F.col("doc_id") % 10 == 0
    sigs, bands = minhash_band_index(docs.where(~is_new))
    inc = {
        (min(r["new_id"], r["index_id"]), max(r["new_id"], r["index_id"]))
        for r in minhash_lsh_incremental_pairs(
            docs.where(is_new), sigs, bands, threshold=0.7
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.7).collect()
        if (r["doc_a"] % 10 == 0) != (r["doc_b"] % 10 == 0)
    }
    assert inc == full


def test_minhash_index_parquet_roundtrip(spark, tmp_path):
    """The stored-index contract: band table + signatures written to
    parquet (partitioned by band, the documented scale layout) and
    read back must give the incremental join identical candidates to
    the in-memory index."""
    from mapreducewordoccurences_spark.dedup.minhash import (
        minhash_band_index,
        minhash_lsh_incremental_pairs,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    is_new = F.col("doc_id") % 10 == 0
    sigs, bands = minhash_band_index(docs.where(~is_new))
    sigs.write.mode("overwrite").parquet(str(tmp_path / "sigs"))
    bands.write.mode("overwrite").partitionBy("band").parquet(
        str(tmp_path / "bands")
    )
    sigs2 = spark.read.parquet(str(tmp_path / "sigs"))
    bands2 = spark.read.parquet(str(tmp_path / "bands")).select(
        "doc_id", F.col("band").cast("int").alias("band"), "band_hash"
    )
    mem = {
        (r["new_id"], r["index_id"], r["est_jaccard"])
        for r in minhash_lsh_incremental_pairs(
            docs.where(is_new), sigs, bands, threshold=0.7
        ).collect()
    }
    disk = {
        (r["new_id"], r["index_id"], r["est_jaccard"])
        for r in minhash_lsh_incremental_pairs(
            docs.where(is_new), sigs2, bands2, threshold=0.7
        ).collect()
    }
    assert mem == disk and len(mem) > 0


def test_semantic_dedup_planted_near_dups(spark):
    """SemDeDup on a planted corpus: two tight groups of vectors far
    apart in direction. k-means (k=2) must put each group in its own
    cell; within a cell every vector but the smallest id has a
    smaller-id near-dup at cosine ~1, so exactly one survivor per
    group remains."""
    from mapreducewordoccurences_spark.dedup.embedding import (
        semantic_dedup_profile,
    )

    dim = 8
    base_a = [1.0] + [0.05] * (dim - 1)
    base_b = [-1.0] + [0.05] * (dim - 1)

    def jitter(base, i):
        return [v + 0.001 * i * ((j % 2) * 2 - 1) for j, v in enumerate(base)]

    rows = [(i, jitter(base_a, i)) for i in range(3)] + [
        (10 + i, jitter(base_b, i)) for i in range(4)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_profile(emb, k=2, iters=2, threshold=0.9)
    got = {
        (r["n_members"], r["n_dropped"], r["n_kept"]) for r in out.collect()
    }
    assert got == {(3, 2, 1), (4, 3, 1)}
    # totals: every vector accounted for, one survivor per group
    tot = out.agg(
        F.sum("n_members").alias("m"), F.sum("n_kept").alias("k")
    ).first()
    assert (tot["m"], tot["k"]) == (7, 2)


def test_minhash_signature_sql_build_matches_column_api(spark):
    """The signature aggregate is composed as one SQL string (py4j
    round-trip reduction, r13); this pins it bit-identical to the
    equivalent Column-API build — same literal typing (IntegerType
    when the mix constant fits int32), same hash values."""
    from mapreducewordoccurences_spark.dedup.minhash import minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i} word soup") for i in range(20)],
        "doc_id bigint, text string",
    )
    num_perm, seed = 16, 42
    got = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(docs, num_perm=num_perm, seed=seed).collect()
    }
    # reference: the pre-r13 Column-API construction, verbatim
    from mapreducewordoccurences_spark.dedup.ngram import shingles_df

    sh = shingles_df(docs, "doc_id", "text", 3).select(
        F.col("doc_id"), F.xxhash64(F.col("shingle")).alias("__h")
    )
    mins = [
        F.min(F.xxhash64(F.col("__h"), F.lit(seed * 1_000_003 + i))).alias(f"__m{i}")
        for i in range(num_perm)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    ref = {
        r["doc_id"]: [r[f"__m{i}"] for i in range(num_perm)]
        for r in agg.collect()
    }
    assert got == ref
