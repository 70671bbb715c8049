"""Source readers.

The reference has exactly one source: a whole-file slurp into RAM
(src/main.c:74-110). The engine generalizes to Spark's distributed,
out-of-core sources; parquet is the primary format (catalog testdata,
read by ``load_table``; the persisted ANN indexes, read by the probes
in ``functions.similarity``), text is the reference-parity path
(``core.wordcount.count_words_in_file``).

Both load through ``read_parquet``, i.e. through ``spark.read``, so
Catalyst predicate pushdown / column pruning / partition pruning
apply. At 100 TB the parquet reader is vectorized
and split-planned by ``spark.sql.files.maxPartitionBytes``.

Schema cache. Spark infers a parquet schema with one Spark job on
every read that is not given one. ``read_parquet`` learns a table's
schema once per process and hands it to later reads of the same
files, which then fire no job:

- The key is the absolute path, the sorted ``(file, size, mtime_ns)``
  listing of the parquet files Spark reads there (``_parquet_parts``,
  the same walk as ``parquet_footer_rows``), and the session values of
  the confs that change what inference returns (``_INFERENCE_CONFS``).
  Rewriting a file, adding or removing one, or changing one of those
  confs makes a new key, so the next read infers again.
- The cache is a process-wide LRU of at most ``SCHEMA_CACHE_SIZE``
  entries; an entry is one ``StructType``.
- Local filesystem paths only. A URI (``file:``, ``hdfs:``, ``s3a:``
  ...), a glob, or any ``OSError`` while listing takes Spark's own
  inferring read, uncached: the fallback is always Spark's inference,
  never a guessed schema.
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# an entry is one StructType; a catalog pass reads ~10 tables and an
# index probe 2-4, so the bound only matters to long-lived processes
SCHEMA_CACHE_SIZE = 256

# session confs whose values change the schema parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# a Hadoop path with a scheme ("file:", "hdfs:", "s3a:" ...) or a glob
_NOT_LOCAL = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:|[*?\[{]")

_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema taken from the
    process-wide cache when the same files were read before under the
    same inference confs (no Spark job), else inferred by Spark (one
    job) and stored. See the module docstring for the key, the bound
    and the local-only rule."""
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas[key] = df.schema
        while len(_schemas) > SCHEMA_CACHE_SIZE:
            _schemas.popitem(last=False)
    return df


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """The schema-cache key of a local parquet path, or None when the
    path is not a local one or cannot be listed."""
    if _NOT_LOCAL.search(path):
        return None
    listing = []
    try:
        for f in sorted(_parquet_parts(path)):
            st = os.stat(f)
            listing.append((f, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    return (os.path.abspath(path), tuple(listing), confs)


def _spark_visible(name: str) -> bool:
    """Whether Spark's file index lists a path component: names
    starting with "." or "_" are hidden (aborted-write leftovers such
    as ``_temporary/`` and ``.spark-staging-*``), except "_"-prefixed
    partition directories, which contain "="."""
    return not name.startswith(".") and not (name.startswith("_") and "=" not in name)


def _parquet_parts(path: str) -> list[str]:
    """The parquet files Spark reads at a local ``path``: the path
    itself when it is not a directory, else every ``*.parquet`` file
    under it with ``_spark_visible`` on every path component. Raises
    OSError when a directory holds no such file."""
    if not os.path.isdir(path):
        return [path]
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
    return parts


def parquet_footer_rows(path: str) -> int:
    """Row count of a parquet file, or of a directory of part files,
    summed from FOOTER metadata — a driver-side read, zero executor
    work. It counts exactly the files Spark would read
    (``_parquet_parts``), so it equals
    ``spark.read.parquet(path).count()``. Raises OSError when the path
    is missing or a directory holds no parquet file."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_parts(path))


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Row count of one testdata table from its parquet footers
    (``parquet_footer_rows``). Sizing inputs (e.g. the ANN acceptance
    rows' corpus-fraction shortlists) read this instead of running a
    full-scan ``df.count()`` job (VERDICT r11 ask #5); the persisted
    ANN indexes carry the same number in their build-time metadata."""
    return parquet_footer_rows(os.path.join(sf_dir, f"{name}.parquet"))
