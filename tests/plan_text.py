"""Physical-plan inspection helpers.

The 100 TB design rule this engine holds itself to (SURVEY.md §4,
BASELINE.json north star): filters and projections reach the parquet
scan, small dims broadcast, shuffles are counted and justified, and no
row-at-a-time Python sits in a hot path. These helpers make those
properties assertable in the plan audits (tests/test_plans.py and
the per-operator plan checks) instead of eyeballed — a plan regression
fails CI, not the 1000-executor run.

Parsing matches Spark 4 EXPLAIN output: FORMATTED mode lists each
operator as a numbered detail block ("(5) Exchange"), SIMPLE mode
marks whole-stage-codegen spans with "*(n)" prefixes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def _plan_text(plan: DataFrame | str) -> str:
    """FORMATTED plan text; a string is taken as that text already
    (lets a caller that audits one plan several ways explain it once)."""
    return plan if isinstance(plan, str) else formatted_plan(plan)


def simple_plan(df: DataFrame) -> str:
    return _explain(df, "simple")


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (each is a full network rewrite of
    its input — the dominant cost at scale). BroadcastExchange is
    excluded (it ships only the small side)."""
    plan = formatted_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\s*$", plan, re.MULTILINE))


def count_scans(df: DataFrame) -> int:
    plan = formatted_plan(df)
    return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))


def has_pushed_filters(df: DataFrame, fragment: str | None = None) -> bool:
    """True if a scan carries non-empty PushedFilters (optionally
    matching a fragment, e.g. a column name)."""
    plan = formatted_plan(df)
    pushed = ",".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    if not pushed.strip():
        return False
    return fragment is None or fragment in pushed


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each parquet scan (column-pruning
    check: a 2-column projection must not read 16 columns)."""
    plan = formatted_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_python_eval(plan: DataFrame | str) -> bool:
    """True if the plan contains row-at-a-time Python (BatchEvalPython)
    or Arrow-batched Python (ArrowEvalPython / MapInPandas). The
    catalog's relational/text queries must report False; only the
    multimodal stubs may report True."""
    return bool(
        re.search(
            r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
            _plan_text(plan),
        )
    )


def codegen_spans(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans in the simple plan ("*(n)"
    markers). Wider/fewer spans ⇒ more operators fused into single
    generated loops."""
    return len(set(re.findall(r"\*\((\d+)\)", simple_plan(df))))


def plan_audit(df: DataFrame) -> dict:
    """One-call summary used by tests and tuning sessions."""
    return {
        "exchanges": count_exchanges(df),
        "broadcast_join": has_broadcast_join(df),
        "python_eval": has_python_eval(df),
        "scans": count_scans(df),
        "codegen_spans": codegen_spans(df),
        "read_schemas": read_schema_columns(df),
    }
