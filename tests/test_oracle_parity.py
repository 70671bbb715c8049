"""Mirror of the driver's correctness gate: run every catalog query on
Spark and its DuckDB oracle side-by-side, compare engine type classes,
row count, column names, and values (order-insensitive, exact).

This is the one compare: ``tools/sweep.py`` runs it at every decade of
the scale ladder.

Runs at sf0.001 for speed; the driver repeats this at sf0.01.
"""

from __future__ import annotations

import pandas as pd
import pytest

from mapreducewordoccurences_spark.queries import ORACLES, QUERIES

from tests.conftest import SF_DIR


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        # unify integer flavors (duckdb int32 vs spark int64 etc.)
        if pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("Int64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def assert_frames_match(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    s = normalize(spark_pdf)
    d = normalize(duck_pdf)
    for col in s.columns:
        sv, dv = s[col], d[col]
        eq = (sv == dv) | (sv.isna() & dv.isna())
        if not eq.all():
            bad = (~eq).idxmax()
            raise AssertionError(
                f"{name}.{col}: value mismatch at row {bad}: "
                f"{sv[bad]!r} != {dv[bad]!r}"
            )


_INT_TYPES = {
    "TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "HUGEINT",
    "LONG", "SHORT", "BYTE", "UTINYINT", "USMALLINT", "UINTEGER",
    "UBIGINT",
}


def type_class(type_str: str) -> str:
    """Coarse, engine-neutral class for a Spark or DuckDB type string.

    Int widths are interchangeable (the external gate normalizes
    those), but float vs int, decimal vs double, etc. are distinct —
    matching that gate's type-sensitive value hash.
    """
    t = str(type_str).strip().upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.endswith("[]") or t.startswith(("ARRAY", "LIST", "STRUCT", "MAP", "ROW")):
        return "nested"
    if t in _INT_TYPES:
        return "int"
    if t in {"FLOAT", "REAL", "DOUBLE"}:
        return "float"
    if t in {"BOOLEAN", "BOOL"}:
        return "bool"
    if t in {"VARCHAR", "STRING", "TEXT", "CHAR"}:
        return "str"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t in {"BINARY", "BLOB", "VARBINARY", "BYTEA"}:
        return "binary"
    return t


def assert_types_match(name: str, spark_dtypes, oracle_cols, oracle_types):
    """Columns (matched by name) must share an engine type class: Spark
    ``df.dtypes`` vs the DuckDB relation's ``types``. pandas ``==``
    coerces dtypes and the external gate's value hash does not, so a
    Spark DOUBLE against an oracle BIGINT fails here even when every
    value is numerically equal (the r7 gate failure
    ``order_fulfillment_lag_stats``: ``percentile_disc`` DOUBLE vs
    ``quantile_disc`` BIGINT)."""
    s = {c: type_class(t) for c, t in spark_dtypes}
    o = {c: type_class(t) for c, t in zip(oracle_cols, oracle_types)}
    bad = sorted(
        f"{c}: spark={s[c]} oracle={o[c]}" for c in s.keys() & o.keys()
        if s[c] != o[c]
    )
    assert not bad, f"{name}: type class mismatch {bad}"


ORACLE_QUERIES = sorted(ORACLES)
ROWS_ONLY_QUERIES = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    rel = duck.sql(ORACLES[name])
    assert_types_match(name, sdf.dtypes, rel.columns, rel.types)
    assert_frames_match(name, sdf.toPandas(), rel.df())


def test_every_query_is_oracle_gated():
    """Positive assertion of the fully-oracle-gated state reached in
    round 6: no catalog entry may ship without a DuckDB oracle. A
    regression here means a new query was registered rows-only."""
    assert not ROWS_ONLY_QUERIES
