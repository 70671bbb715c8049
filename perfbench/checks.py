"""Output checks for the catalog workloads.

A query's result passes when it equals its DuckDB oracle on the same
files the way the engine's own oracle-parity test compares them
(``tests/test_oracle_parity.assert_frames_match``: row count, column
names, and the values after both sides are sorted by every column),
and, in addition, each column has the same coarse type class on both
sides (int widths are interchangeable; int vs float, decimal vs double
are not).
"""

from __future__ import annotations

import duckdb

from tests.test_oracle_parity import assert_frames_match

_INT_TYPES = {
    "TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "HUGEINT", "LONG",
    "SHORT", "BYTE", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}


def type_class(type_name: str) -> str:
    t = str(type_name).strip().upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.endswith("[]") or t.startswith(("ARRAY", "LIST", "STRUCT", "MAP")):
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
    return t.lower()


def oracle_connection(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in tables:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    return con


def mismatch(result, con: duckdb.DuckDBPyConnection, oracle_sql: str) -> str | None:
    """None when the Spark DataFrame ``result`` equals the oracle,
    otherwise a one-line reason."""
    rel = con.sql(oracle_sql)
    want = rel.df()
    got = result.toPandas()
    try:
        assert_frames_match("result", got, want)
    except AssertionError as exc:
        return str(exc)
    got_types = {c: type_class(t) for c, t in result.dtypes}
    want_types = {c: type_class(t) for c, t in zip(rel.columns, rel.types)}
    if got_types != want_types:
        return f"types {got_types} != {want_types}"
    return None
