"""PySpark-native analytics engine with the query surface of
msellitto/MapReduceWordOccurences, generalized to a full relational +
text-pipeline engine designed for 100 TB scale.

The reference (C99 + pthreads, /root/reference) implements a single
hardcoded query: case-sensitive ``[A-Za-z0-9]+`` word-occurrence
counting, sorted by word (see SURVEY.md). This package re-expresses
that surface Spark-first (DataFrame/Catalyst), then extends it with
the relational operators, dedup/similarity/text-analysis pipeline
operators, and streaming surface a large-scale training-data pipeline
needs.

Layout:
  core/       wordcount parity core (reference semantics, SURVEY §2a)
  operators/  relational operators (joins incl. as-of, aggs, windows)
  sources/    table loader, footer row counts, Python DataSource
  functions/  scalar/text/similarity function surface
  dedup/      exact + MinHash-LSH + SimHash + n-gram-Jaccard dedup
  multimodal/ binary-column (image/audio/video) plumbing, vendored codecs
  streaming/  custom stateful operator + PSI drift monitor
  queries/    the catalog: named queries with DuckDB oracles
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys

# NumPy madvises transparent huge pages for allocations >= 4 MB; on
# kernels with THP defrag in [madvise] mode a fragmented box can stall
# ~10 s in synchronous compaction on the FIRST TOUCH of such an array
# (measured here: 48 MB uint8 canvas fill 8.5-11.3 s vs 0.07-0.14 s
# with the madvise off — guide §5, memory; the pure-Python bytearray
# touch of the same 48 MB is 0.03 s, so this is numpy-specific).
# Opt out by default for every process that imports this package
# (driver, Python UDF workers unpickle modules through here) and let
# hosts with healthy THP re-enable via SPARK_GRAFT_NUMPY_HUGEPAGE=1.
if _os.environ.get("SPARK_GRAFT_NUMPY_HUGEPAGE") != "1":
    _os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    # if numpy beat us into the process (pyspark worker startup,
    # pytest plugins), the env var is too late — use the runtime toggle
    if "numpy" in _sys.modules:
        try:
            _sys.modules["numpy"].core.multiarray._set_madvise_hugepage(False)
        except Exception:  # noqa: BLE001 — best-effort on other numpy versions
            pass
