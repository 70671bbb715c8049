"""ANN tiers built on the vector-quantization core of
functions/similarity.py: product quantization, IVF∘PQ, the persisted
IVF and IVF∘PQ indexes, the determinism of the one Lloyd trainer
(``pq_codebooks``; the IVF cells and k-means are its m=1 case) and
the k-means contract."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.sources.readers import load_table

from tests.conftest import SF_DIR


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


class TestProductQuantization:
    def test_codes_within_codebook_and_complete(self, spark):
        from mapreducewordoccurences_spark.functions.similarity import (
            pq_codebooks,
            pq_encode,
        )

        emb = _emb(spark)
        n = emb.count()
        books = pq_codebooks(emb, m=8, ks=16)
        codes = pq_encode(emb, books, m=8)
        # every vector gets exactly m codes, each a valid codeword id
        assert codes.count() == n * 8
        bad = codes.where((F.col("__code") < 0) | (F.col("__code") >= 16))
        assert bad.count() == 0
        per_vec = codes.groupBy("vec_id").count().where("count <> 8")
        assert per_vec.count() == 0

    def test_rerank_recall_vs_exact(self, spark):
        from mapreducewordoccurences_spark.functions.similarity import (
            brute_force_knn,
            pq_knn_rerank,
        )

        emb = _emb(spark)
        q = emb.where(F.col("vec_id") < 10)
        approx = pq_knn_rerank(emb, q, k=5, shortlist=100, m=16, ks=16)
        exact = brute_force_knn(emb, q, k=5)
        hits = (
            approx.select("query_id", "neighbor_id")
            .join(exact.select("query_id", "neighbor_id"),
                  ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .count()
        )
        rec = {r["query_id"]: r["count"] / 5 for r in hits.collect()}
        assert len(rec) == 10
        assert min(rec.values()) >= 0.8  # observed 1.0; margin for seeds


class TestIvfPq:
    def test_inline_recall_vs_exact(self, spark):
        from mapreducewordoccurences_spark.functions.similarity import (
            brute_force_knn,
            ivfpq_knn,
        )

        emb = _emb(spark)
        q = emb.where(F.col("vec_id") < 10)
        approx = ivfpq_knn(
            emb, q, k=5, nlist=16, nprobe=4, shortlist=100, m=16, ks=16
        )
        exact = brute_force_knn(emb, q, k=5)
        a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        assert len({qid for qid, _ in a}) == 10
        # observed 0.9 with nprobe=4 (cell pruning loses cross-cell
        # neighbors by design); generous margin for seed sensitivity
        assert len(a & e) / len(e) >= 0.5

    def test_full_probe_equals_flat_pq(self, spark):
        """nprobe = nlist scans every cell, so IVF∘PQ must reproduce
        flat PQ's rerank output exactly (same codebooks, same ADC,
        same shortlist, same tie-breaks)."""
        from mapreducewordoccurences_spark.functions.similarity import (
            ivfpq_knn,
            pq_knn_rerank,
        )

        emb = _emb(spark)
        q = emb.where(F.col("vec_id") < 5)
        flat = pq_knn_rerank(emb, q, k=5, shortlist=100, m=16, ks=16)
        composed = ivfpq_knn(
            emb, q, k=5, nlist=16, nprobe=16, shortlist=100, m=16, ks=16
        )
        fr = {(r["query_id"], r["neighbor_id"], r["rnk"]) for r in flat.collect()}
        cr = {
            (r["query_id"], r["neighbor_id"], r["rnk"])
            for r in composed.collect()
        }
        assert cr == fr

    def test_persisted_probe_matches_inline(self, spark, tmp_path):
        from mapreducewordoccurences_spark.functions.similarity import (
            build_ivfpq_index,
            ivfpq_knn,
            ivfpq_probe,
        )

        emb = _emb(spark)
        q = emb.where(F.col("vec_id") < 10)
        inline = ivfpq_knn(
            emb, q, k=5, nlist=16, nprobe=4, shortlist=100, m=16, ks=16
        )
        build_ivfpq_index(emb, str(tmp_path / "idx"), nlist=16, m=16, ks=16)
        probed = ivfpq_probe(
            q, str(tmp_path / "idx"), k=5, nprobe=4, shortlist=100, m=16
        )
        li = sorted(map(tuple, inline.collect()))
        lp = sorted(map(tuple, probed.collect()))
        assert li == lp


def test_ivf_persisted_probe_matches_inline(spark, tmp_path):
    """build_ivf_index + ivf_probe (the persisted, partition-pruned
    scale path) must return exactly what inline ivf_knn returns —
    same deterministic k-means, same probe, different storage."""
    from mapreducewordoccurences_spark.functions.similarity import (
        build_ivf_index,
        ivf_knn,
        ivf_probe,
    )

    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 10)
    build_ivf_index(emb, str(tmp_path / "ivf"), nlist=16)
    persisted = {
        (r["query_id"], r["rnk"], r["neighbor_id"])
        for r in ivf_probe(queries, str(tmp_path / "ivf"), k=5, nprobe=4).collect()
    }
    inline = {
        (r["query_id"], r["rnk"], r["neighbor_id"])
        for r in ivf_knn(emb, queries, k=5, nlist=16, nprobe=4).collect()
    }
    assert persisted == inline


def test_warm_probes_fire_no_schema_job(spark, tmp_path):
    """The probes read their index tables through ``read_parquet``: a
    cold probe pays one schema-inference job per table (2 for IVF, 4
    for IVF∘PQ), a warm one none. Rebuilding an index at the same path
    changes its file listing, so the next probe infers again; the
    cached schema keeps the ``__cell`` partition column's type."""
    from mapreducewordoccurences_spark.functions.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        ivf_probe,
        ivfpq_probe,
    )
    from mapreducewordoccurences_spark.sources.readers import read_parquet

    from tests.spark_jobs import count_jobs

    emb = _emb(spark)
    q = emb.where(F.col("vec_id") < 10)
    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")

    def probe_ivf():
        return ivf_probe(q, ivf, k=5, nprobe=4)

    def probe_ivfpq():
        return ivfpq_probe(q, ivfpq, k=5, nprobe=4, shortlist=100, m=16)

    build_ivf_index(emb, ivf, nlist=16)
    build_ivfpq_index(emb, ivfpq, nlist=16, m=16, ks=16)
    assert [count_jobs(spark, probe_ivf) for _ in range(2)] == [2, 0]
    assert [count_jobs(spark, probe_ivfpq) for _ in range(2)] == [4, 0]
    for table in (f"{ivf}/assignment", f"{ivfpq}/codes"):
        assert read_parquet(spark, table).dtypes == spark.read.parquet(table).dtypes

    before = sorted(map(tuple, probe_ivf().collect()))
    build_ivf_index(emb, ivf, nlist=16)
    assert count_jobs(spark, probe_ivf) == 2
    assert sorted(map(tuple, probe_ivf().collect())) == before


def test_probes_refuse_float_codewords(spark, tmp_path):
    """An index written by the earlier float trainer stores ``__cvec``
    as array<double>, codewords outside the quantized space the queries
    are scored in. Both probes raise a ValueError that names the table
    and asks for a rebuild."""
    from mapreducewordoccurences_spark.functions.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        ivf_probe,
        ivfpq_probe,
    )

    emb = _emb(spark)
    q = emb.where(F.col("vec_id") < 10)
    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    build_ivf_index(emb, ivf, nlist=4)
    build_ivfpq_index(emb, ivfpq, nlist=4, m=8, ks=4)

    def old_layout(path, subs, codes):
        spark.createDataFrame(
            [(s, c, [0.125] * (64 // subs)) for s in range(subs) for c in range(codes)],
            "__sub int, __code int, __cvec array<double>",
        ).write.mode("overwrite").parquet(path)

    old_layout(f"{ivf}/centroids", 1, 4)
    with pytest.raises(ValueError, match=r"/centroids: __cvec holds double.*rebuild"):
        ivf_probe(q, ivf, k=5, nprobe=2)
    old_layout(f"{ivfpq}/books", 8, 4)
    with pytest.raises(ValueError, match=r"/books: __cvec holds double.*rebuild"):
        ivfpq_probe(q, ivfpq, k=5, nprobe=2, shortlist=20, m=8)


class TestCodebookDeterminism:
    @pytest.mark.parametrize(
        "m, ks",
        [pytest.param(8, 16, id="pq_m8"), pytest.param(1, 16, id="ivf_cells_m1")],
    )
    def test_codebooks_invariant_to_partitioning(self, spark, m, ks):
        """Fixed-point centroid updates (exact BIGINT sums +
        truncating division) must make codebooks bit-identical
        regardless of how the corpus is partitioned — the F.avg
        formulation drifted with summation order. m=1 is the IVF
        cell table."""
        from mapreducewordoccurences_spark.functions.similarity import (
            pq_codebooks,
        )

        emb = _emb(spark)

        def book_map(df):
            return {
                (r["__sub"], r["__code"]): tuple(r["__cvec"])
                for r in pq_codebooks(df, m=m, ks=ks).collect()
            }

        b1 = book_map(emb.repartition(1))
        b32 = book_map(emb.repartition(32, "vec_id"))
        assert b1 == b32

    # sha256 of the sorted rows, each rendered exactly (float.hex of
    # every integer coordinate), of the 16 IVF cells, the m=16 x ks=16
    # PQ codebooks and the IVF assignment (vec_id -> cell), trained on
    # the integer protocol, each recorded after the partitioning test
    # above held at m=8 and m=1 and identical from 1 and 32 partitions.
    # A retrain must reproduce them bit for bit, which is what lets an
    # index build and an inline search share one trained table.
    GOLDEN = {
        "sf0.001": (
            "298274879f873d4151cf8588eb52155a7015b1bf588a4cfe081f4cd58c0d19a2",
            "63d589224e1284984f6442806a03086091392daf1c5f34d9daf914f1af989fd0",
            "4e0de5fc19d3ece46bda619edd1e41e11e2a150135e539e14d01ba50972b4e0a",
        ),
        "sf0.01": (
            "951313a893a997077040202cda4194921408c1a3544d345df6e2de681e250b99",
            "2276c3f12a7c1122d6dabd39011e018b57f8b29a3424c5214e580877ba23cf63",
            "a1aa2c50c3f9f0276ad00c94744a212ff6aa55272e46dd27386be96e3f085c59",
        ),
    }

    def test_trained_tables_match_golden_digests(self, spark):
        from mapreducewordoccurences_spark.functions.similarity import (
            _ivf_cells,
            pq_codebooks,
        )

        golden = self.GOLDEN.get(os.path.basename(os.path.normpath(SF_DIR)))
        if golden is None:
            pytest.skip(f"no golden digests recorded for {SF_DIR}")

        def digest(lines):
            return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()

        def vec(v):
            return ",".join(float(x).hex() for x in v)

        emb = _emb(spark)
        cells = pq_codebooks(emb, m=1, ks=16).localCheckpoint(eager=True)
        books = pq_codebooks(emb, m=16, ks=16)
        assert {r["__sub"] for r in cells.collect()} == {0}
        got = (
            digest(f"{r['__code']}:{vec(r['__cvec'])}" for r in cells.collect()),
            digest(
                f"{r['__sub']},{r['__code']}:{vec(r['__cvec'])}"
                for r in books.collect()
            ),
            digest(
                f"{r['vec_id']}:{r['__cell']}"
                for r in _ivf_cells(emb, cells, "vec_id", "embedding").collect()
            ),
        )
        assert got == golden


# k-means is the m=1 codebook plus a final assignment: the same
# integer protocol, pinned here by its own contract — partition
# invariance, every vector assigned once, and Lloyd monotonicity.


def test_kmeans_partition_invariant(spark):
    from mapreducewordoccurences_spark.functions.similarity import (
        kmeans_cluster_profile,
    )

    emb = _emb(spark)
    a = {
        tuple(r)
        for r in kmeans_cluster_profile(emb, "vec_id", "embedding", k=4, iters=2).collect()
    }
    b = {
        tuple(r)
        for r in kmeans_cluster_profile(
            emb.repartition(13), "vec_id", "embedding", k=4, iters=2
        ).collect()
    }
    assert a == b
    assert sum(n for _, n, _ in a) == emb.count()


def test_kmeans_every_vector_assigned_once(spark):
    from mapreducewordoccurences_spark.functions.similarity import (
        kmeans_fit_predict,
    )

    emb = _emb(spark)
    fit = kmeans_fit_predict(emb, "vec_id", "embedding", k=4, iters=2)
    rows = fit.collect()
    assert len(rows) == emb.count()
    assert len({r.vec_id for r in rows}) == len(rows)
    assert all(0 <= r.cluster_id < 4 and r.sq_dist >= 0 for r in rows)


def test_kmeans_profile_build_jobs(spark):
    """Building ``kmeans_cluster_profile`` (k=8, one centroid update)
    fires at most 3 Spark jobs — the lazily checkpointed Lloyd round —
    once its table's schema is cached."""
    from mapreducewordoccurences_spark.queries import QUERIES

    from tests.spark_jobs import count_jobs

    def build():
        QUERIES["kmeans_cluster_profile"](spark, SF_DIR)

    build()
    assert count_jobs(spark, build) <= 3


def test_kmeans_more_iters_never_worse_objective(spark):
    """Lloyd monotonicity survives the quantization: total within-
    cluster sq distance after 3 passes <= after 1 pass."""
    from mapreducewordoccurences_spark.functions.similarity import (
        kmeans_cluster_profile,
    )

    emb = _emb(spark)

    def obj(iters):
        prof = kmeans_cluster_profile(emb, "vec_id", "embedding", k=4, iters=iters)
        return prof.agg(F.sum("sum_sq_dist")).collect()[0][0]

    assert obj(3) <= obj(1)


class TestIvfpqIndexMeta:
    def test_rowcount_recorded_at_build(self, spark, tmp_path):
        from mapreducewordoccurences_spark.functions.similarity import (
            build_ivfpq_index,
            ivfpq_index_rowcount,
        )

        emb = _emb(spark)
        path = str(tmp_path / "ivfpq_idx")
        build_ivfpq_index(emb, path, nlist=4, m=4, ks=8)
        assert ivfpq_index_rowcount(spark, path) == emb.count()

    def test_rowcount_on_file_uri_falls_back_to_spark(self, spark, tmp_path, monkeypatch):
        """A ``file:`` URI is not a local directory to os: the driver-side
        footer count must raise before writing anything (os.walk finds
        no files there, and a URI pyarrow can write to would get
        n_rows=0), so the Spark count runs."""
        from mapreducewordoccurences_spark.functions.similarity import (
            _write_meta_rowcount_local,
            build_ivfpq_index,
            ivfpq_index_rowcount,
        )

        monkeypatch.chdir(tmp_path)
        emb = _emb(spark)
        local = tmp_path / "ivfpq_idx"
        uri = f"file:{local}"
        build_ivfpq_index(emb, uri, nlist=4, m=4, ks=8)
        n = emb.count()
        assert ivfpq_index_rowcount(spark, uri) == n
        assert ivfpq_index_rowcount(spark, str(local)) == n
        assert not (tmp_path / "file:").exists()

        with pytest.raises(OSError):
            _write_meta_rowcount_local(f"{uri}/vectors", f"{uri}/meta")
        empty = tmp_path / "empty"
        empty.mkdir()
        with pytest.raises(OSError):
            _write_meta_rowcount_local(str(empty), str(tmp_path / "meta"))
        assert not (tmp_path / "meta").exists()

    def test_rowcount_ignores_aborted_write_leftovers(self, spark, tmp_path):
        """A staging directory an aborted write left in ``vectors`` is
        not part of the table Spark reads, so it is not in the count."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from mapreducewordoccurences_spark.functions.similarity import (
            _write_meta_rowcount_local,
            build_ivfpq_index,
            ivfpq_index_rowcount,
        )

        emb = _emb(spark)
        path = tmp_path / "ivfpq_idx"
        build_ivfpq_index(emb, str(path), nlist=4, m=4, ks=8)
        staging = path / "vectors" / ".spark-staging-1"
        staging.mkdir()
        pq.write_table(
            pa.table({"vec_id": pa.array([0, 1], type=pa.int64())}),
            staging / "part-00000.parquet",
        )
        _write_meta_rowcount_local(str(path / "vectors"), str(path / "meta"))
        n = spark.read.parquet(str(path / "vectors")).count()
        assert n == emb.count()
        assert ivfpq_index_rowcount(spark, str(path)) == n

    def test_rowcount_reader_skips_zero_row_part_files(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from mapreducewordoccurences_spark.functions.similarity import (
            ivfpq_index_rowcount,
        )

        meta = tmp_path / "meta"
        meta.mkdir()
        for i, rows in enumerate(([], [7])):
            pq.write_table(
                pa.table({"n_rows": pa.array(rows, type=pa.int64())}),
                meta / f"part-{i:05d}.parquet",
            )
        assert ivfpq_index_rowcount(spark, str(tmp_path)) == 7
