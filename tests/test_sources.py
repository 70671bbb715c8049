"""Source readers: footer row counts agree with what Spark reads, and
the schema cache behind ``read_parquet`` returns what inference would,
re-infers when the files change and stays out of non-local reads."""

from __future__ import annotations

import os
import shutil
import sys
import threading
from collections import OrderedDict
from types import SimpleNamespace
from unittest import mock

import pytest
from pyspark.errors import AnalysisException

from mapreducewordoccurences_spark.sources import readers
from mapreducewordoccurences_spark.sources.readers import (
    TABLES,
    load_table,
    read_parquet,
)

from tests.conftest import SF_DIR, SF_ORACLE_DIR
from tests.spark_jobs import count_jobs

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


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


def _cached(spark, path) -> bool:
    key = readers._schema_key(spark, path)
    return key is not None and key in readers._schemas


@pytest.fixture
def nanos_restored(spark):
    """Put the session's nanosAsLong conf back as the test found it."""
    before = spark.conf.get(NANOS, None)
    yield
    if before is None:
        spark.conf.unset(NANOS)
    else:
        spark.conf.set(NANOS, before)


def _assert_cached_read_equals_inferred(spark, path):
    inferred = spark.read.parquet(path)
    read_parquet(spark, path)
    assert _cached(spark, path), path
    cached = read_parquet(spark, path)
    assert cached.schema == inferred.schema, path
    assert cached.collect() == inferred.collect(), path


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_ORACLE_DIR])
def test_cached_schema_read_equals_inferred_read(spark, sf_dir, nanos_restored):
    """For every table, a read that takes its schema from the cache
    returns the schema and the rows, in order, of Spark's inferring
    read. ``events`` is read with nanosAsLong unset and true: two
    entries, since the conf is part of the key."""
    for name in TABLES:
        _assert_cached_read_equals_inferred(spark, f"{sf_dir}/{name}.parquet")
    events = f"{sf_dir}/events.parquet"
    spark.conf.unset(NANOS)
    _assert_cached_read_equals_inferred(spark, events)
    unset_key = readers._schema_key(spark, events)
    spark.conf.set(NANOS, "true")
    _assert_cached_read_equals_inferred(spark, events)
    true_key = readers._schema_key(spark, events)
    assert unset_key != true_key
    assert unset_key in readers._schemas and true_key in readers._schemas


def test_second_load_fires_no_job(spark, tmp_path):
    """The first load of a table pays Spark's schema-inference job;
    the second takes the cached schema and fires none."""
    shutil.copy(f"{SF_ORACLE_DIR}/region.parquet", tmp_path / "region.parquet")
    first = count_jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    second = count_jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert (first, second) == (1, 0)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A new size or a new mtime_ns is a new key: the next read infers
    (one job) and sees the rewritten schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    _write_rows(path, 3)
    assert read_parquet(spark, str(path)).dtypes == [("x", "bigint")]
    pq.write_table(pa.table({"x": pa.array(["a", "bb"])}), path)  # new size
    assert read_parquet(spark, str(path)).dtypes == [("x", "string")]

    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert not _cached(spark, str(path))
    assert count_jobs(spark, lambda: read_parquet(spark, str(path))) == 1
    assert count_jobs(spark, lambda: read_parquet(spark, str(path))) == 0


def test_file_uri_takes_the_inferring_read_uncached(spark, tmp_path):
    """A URI is not listed driver-side: every read infers (one job)."""
    path = tmp_path / "t.parquet"
    _write_rows(path, 3)
    uri = f"file:{path}"
    for _ in range(2):
        assert count_jobs(spark, lambda: read_parquet(spark, uri)) == 1
    assert readers._schema_key(spark, uri) is None
    assert read_parquet(spark, uri).count() == 3


def test_missing_path_raises_sparks_error(spark, tmp_path):
    """Nothing to list falls back to Spark, which raises its own error
    (not the OSError of the driver-side stat)."""
    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "missing.parquet"))
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    with pytest.raises(AnalysisException):
        read_parquet(spark, str(empty))


def test_cache_holds_at_most_its_bound(spark, tmp_path):
    """Past the bound the least recently used entry is dropped; a hit
    makes an entry the most recently used."""
    paths = []
    for i in range(3):
        path = tmp_path / f"t{i}.parquet"
        _write_rows(path, i + 1)
        paths.append(str(path))
    with mock.patch.object(readers, "SCHEMA_CACHE_SIZE", 2):
        for path in (paths[0], paths[1], paths[0], paths[2]):
            read_parquet(spark, path)
            assert len(readers._schemas) <= 2
    assert [_cached(spark, p) for p in paths] == [True, False, True]


def test_concurrent_reads_keep_the_cache_bounded(tmp_path):
    """Eight threads hit and fill the cache at once, with a short
    switch interval: every read sees its table's schema, none raises,
    and the cache never exceeds its bound. The session is a stand-in
    whose inferred "schema" is the path it read, so the threads spend
    their time in the cache, not in py4j."""
    paths = []
    for i in range(6):
        path = tmp_path / f"t{i}.parquet"
        _write_rows(path, i + 1)
        paths.append(str(path))
    spark = mock.MagicMock()
    spark.conf.get.return_value = "false"
    spark.read.parquet.side_effect = lambda p: SimpleNamespace(schema=p)
    spark.read.schema.side_effect = lambda s: SimpleNamespace(
        parquet=lambda p: SimpleNamespace(schema=s)
    )
    errors = []

    def reader(offset):
        try:
            for j in range(300):
                path = paths[(offset + j) % len(paths)]
                assert read_parquet(spark, path).schema == path
                assert len(readers._schemas) <= 4
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with mock.patch.object(readers, "SCHEMA_CACHE_SIZE", 4):
            threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert errors == []


def test_hit_and_evicting_fill_are_ordered_by_the_lock(tmp_path, monkeypatch):
    """A hit's ``get`` and ``move_to_end`` run under one hold of the
    cache lock, so a fill by another thread cannot evict the entry in
    between. Thread A hits key a and pauses inside ``get`` until thread
    B's read has filled key b — which, at a bound of 1, evicts a — or
    about 1 s has passed. With the lock B waits for A and A's
    ``move_to_end`` finds its key; without it B fills at once and A's
    ``move_to_end`` raises KeyError."""
    paths = []
    for i in range(2):
        path = tmp_path / f"t{i}.parquet"
        _write_rows(path, i + 1)
        paths.append(str(path))
    spark = mock.MagicMock()
    spark.conf.get.return_value = "false"
    spark.read.parquet.side_effect = lambda p: SimpleNamespace(schema=p)
    spark.read.schema.side_effect = lambda s: SimpleNamespace(
        parquet=lambda p: SimpleNamespace(schema=s)
    )
    key_a = readers._schema_key(spark, paths[0])
    key_b = readers._schema_key(spark, paths[1])
    a_in_get = threading.Event()
    b_filled = threading.Event()

    class PausingDict(OrderedDict):
        def get(self, key, default=None):
            value = super().get(key, default)
            if key == key_a:
                a_in_get.set()
                b_filled.wait(timeout=1.0)
            return value

    schemas = PausingDict({key_a: paths[0]})
    monkeypatch.setattr(readers, "_schemas", schemas)
    monkeypatch.setattr(readers, "SCHEMA_CACHE_SIZE", 1)
    got, errors = [], []

    def hit():
        try:
            got.append(read_parquet(spark, paths[0]).schema)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def fill():
        read_parquet(spark, paths[1])
        b_filled.set()

    a = threading.Thread(target=hit)
    a.start()
    assert a_in_get.wait(timeout=30)
    b = threading.Thread(target=fill)
    b.start()
    a.join(timeout=30)
    b.join(timeout=30)
    assert not a.is_alive() and not b.is_alive()
    assert errors == [] and got == [paths[0]]
    assert list(schemas) == [key_b]
