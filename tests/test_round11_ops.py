"""Round-11 operators: the distributed MMR greedy phase (VERDICT r10
ask #1 — applyInPandas per query_id replaces the driver-side loop,
bit-identical to the old panel path), and the IVF∘PQ index metadata
row count that replaced the probe path's full corpus scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


class TestDistributedMmr:
    def test_distributed_matches_driver_bit_identically(self, spark):
        """The applyInPandas greedy and the old driver panel share
        _mmr_greedy_one verbatim, so the selections must be EQUAL —
        not close — across every query and rank."""
        from mapreducewordoccurences_spark.functions.similarity import (
            mmr_diversified_topk,
        )

        emb = _emb(spark)
        probe = emb.where(F.col("vec_id") < 6)
        dist = sorted(
            map(
                tuple,
                mmr_diversified_topk(
                    emb, probe, k=8, shortlist=40, lam=0.7, mu=0.3
                ).collect(),
            )
        )
        drv = sorted(
            map(
                tuple,
                mmr_diversified_topk(
                    emb,
                    probe,
                    k=8,
                    shortlist=40,
                    lam=0.7,
                    mu=0.3,
                    distributed=False,
                ).collect(),
            )
        )
        assert dist == drv
        assert len(dist) == 48  # 6 queries x top-8

    def test_no_collect_in_distributed_plan(self, spark):
        """The distributed path must be a lazy plan ending in
        FlatMapGroupsInPandas — no driver materialization before the
        caller's action."""
        from mapreducewordoccurences_spark.functions.similarity import (
            mmr_diversified_topk,
        )

        emb = _emb(spark)
        probe = emb.where(F.col("vec_id") < 3)
        plan = (
            mmr_diversified_topk(emb, probe, k=4, shortlist=10)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "FlatMapGroupsInPandas" in plan

    def test_zero_norm_skipped_in_distributed_path(self, spark):
        """The r8 zero-norm guard must survive the move off the
        driver."""
        from mapreducewordoccurences_spark.functions.similarity import (
            mmr_diversified_topk,
        )

        rows = [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),
            (3, [0.0, 1.0]),
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        probe = emb.where(F.col("vec_id") == 0)
        sl = spark.createDataFrame(
            [(0, 1, 0.99), (0, 2, 0.5), (0, 3, 0.0)],
            ["query_id", "neighbor_id", "sim"],
        )
        got = mmr_diversified_topk(
            emb, probe, k=3, lam=0.7, mu=0.3, shortlist_df=sl
        ).collect()
        picked = {r["vec_id"] for r in got}
        assert picked == {1, 3}


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
