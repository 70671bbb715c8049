"""Source readers: footer row counts agree with what Spark reads."""

from __future__ import annotations


def _write_rows(path, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"x": pa.array(range(n), type=pa.int64())}), path)


def test_footer_row_count_skips_files_spark_ignores(spark, tmp_path):
    """An aborted write leaves part files under ``_temporary/`` and
    ``.spark-staging-*``; Spark's file index skips them, so the footer
    count must too. "_"-prefixed partition directories (with "=")
    stay visible, as they do to Spark."""
    from mapreducewordoccurences_spark.sources.readers import parquet_row_count

    t = tmp_path / "t.parquet"
    _write_rows(t / "part-00000.parquet", 3)
    _write_rows(t / "_temporary" / "0" / "task_x" / "part-00001.parquet", 2)
    _write_rows(t / ".spark-staging-1" / "part-00002.parquet", 1)
    assert spark.read.parquet(str(t)).count() == 3
    assert parquet_row_count(str(tmp_path), "t") == 3

    p = tmp_path / "p.parquet"
    _write_rows(p / "_k=0" / "part-00000.parquet", 3)
    _write_rows(p / "_k=1" / "part-00000.parquet", 2)
    _write_rows(p / "_k=1" / "_temporary" / "part-00001.parquet", 4)
    assert spark.read.parquet(str(p)).count() == 5
    assert parquet_row_count(str(tmp_path), "p") == 5
