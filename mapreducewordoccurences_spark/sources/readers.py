"""Source readers.

The reference has exactly one source: a whole-file slurp into RAM
(src/main.c:74-110). The engine generalizes to Spark's distributed,
out-of-core sources; parquet is the primary format (catalog testdata,
read by ``load_table``), text is the reference-parity path
(``core.wordcount.count_words_in_file``).

Tables load through ``spark.read`` so Catalyst predicate pushdown /
column pruning / partition pruning apply. At 100 TB the parquet reader
is vectorized and split-planned by ``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _enable_nanos(spark: SparkSession) -> None:
    # Forward-compat: if events.parquet is ever written as
    # TIMESTAMP(NANOS) again (Spark 4 rejects it by default with
    # PARQUET_TYPE_ILLEGAL), this legacy conf reads nanos as BIGINT
    # nanoseconds-since-epoch instead of failing. It is a no-op for
    # micro-precision timestamp columns, so it is always safe to set.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def ts_micros(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-microseconds BIGINT from an event-time column, whatever
    physical type the source delivered.

    The engine's one timestamp convention: all event-time arithmetic
    (as-of gaps, session splits, range frames, resample buckets) runs
    on int64 epoch-micros — integer ops are bit-deterministic across
    engines, totally ordered, and micros is the precision both Spark
    TimestampType and DuckDB TIMESTAMP share. This helper adapts to
    the three shapes testdata has shipped as:

    - ``timestamp`` / ``timestamp_ntz`` (parquet timestamp[us]; the
      session TZ is pinned UTC, so the ntz→ltz cast is the identity)
    - ``bigint`` (legacy nanosAsLong epoch-nanos)
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":  # legacy epoch-nanos as int64
        return F.expr(f"`{col}` div 1000")
    c = F.col(col)
    if dtype == "timestamp_ntz":
        c = c.cast("timestamp")  # UTC session TZ → identity shift
    return F.unix_micros(c)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md layout)."""
    if name == "events":
        _enable_nanos(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spark_visible(name: str) -> bool:
    """Whether Spark's file index lists a path component: names
    starting with "." or "_" are hidden (aborted-write leftovers such
    as ``_temporary/`` and ``.spark-staging-*``), except "_"-prefixed
    partition directories, which contain "="."""
    return not name.startswith(".") and not (name.startswith("_") and "=" not in name)


def parquet_footer_rows(path: str) -> int:
    """Row count of a parquet file, or of a directory of part files,
    summed from FOOTER metadata — a driver-side read, zero executor
    work. In a directory it counts exactly the ``*.parquet`` files
    Spark would read (``_spark_visible`` on every path component), so
    it equals ``spark.read.parquet(path).count()``. Raises OSError when
    the path is missing or a directory holds no such file."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    if not os.path.isdir(path):
        return pq.ParquetFile(path).metadata.num_rows
    parts = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if _spark_visible(d)]
        parts += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and _spark_visible(f)
        ]
    if not parts:
        raise FileNotFoundError(f"no parquet files under {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parts)


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Row count of one testdata table from its parquet footers
    (``parquet_footer_rows``). Sizing inputs (e.g. the ANN acceptance
    rows' corpus-fraction shortlists) read this instead of running a
    full-scan ``df.count()`` job (VERDICT r11 ask #5); the persisted
    ANN indexes carry the same number in their build-time metadata."""
    return parquet_footer_rows(os.path.join(sf_dir, f"{name}.parquet"))
