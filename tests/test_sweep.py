"""Pins for the correctness sweep and the other tools' hand-kept row
lists: a typo in a list silently breaks an artifact (bench zeroes,
sweep errors), and a new catalog row must get a conscious sf30
include-or-exclude decision."""

from __future__ import annotations

import re

from mapreducewordoccurences_spark.queries import ORACLES, QUERIES


def _gated_rows() -> set[str]:
    from tools.invariants import INVARIANTS

    return {row for inv in INVARIANTS.values() for row in inv.gates}


def test_decade_rows_resolve_and_invariants_do_not_shadow_rows():
    """Every decade-table name is an oracle-backed catalog row or a
    registered invariant; invariant names are sweep-local composites,
    never catalog rows, and every row an invariant gates exists."""
    from tools.invariants import INVARIANTS
    from tools.sweep import DECADES

    for decade, spec in DECADES.items():
        missing = [
            n
            for n in spec.rows
            if n not in INVARIANTS and (n not in QUERIES or n not in ORACLES)
        ]
        assert not missing, f"{decade}: {missing}"
        assert len(set(spec.rows)) == len(spec.rows), f"{decade}: repeated rows"
    assert not set(INVARIANTS) & set(QUERIES)
    assert _gated_rows() <= set(QUERIES)


def test_manifest_covers_catalog_exactly_and_disjointly():
    from tools.sf30_manifest import EXCLUDED, EXCLUSIONS, WIDE

    catalog = set(QUERIES)
    overlap = WIDE & set(EXCLUDED)
    assert not overlap, f"rows both wide and excluded: {sorted(overlap)}"
    assert len(EXCLUDED) == sum(len(ex.rows) for ex in EXCLUSIONS), (
        "a row is listed under two exclusion reasons"
    )
    unclassified = catalog - WIDE - set(EXCLUDED)
    assert not unclassified, (
        "catalog rows with no sf30 decision (add to tools/sf30_manifest.py "
        f"WIDE or an Exclusion with a reason): {sorted(unclassified)}"
    )
    stale = (WIDE | set(EXCLUDED)) - catalog
    assert not stale, f"manifest names not in the catalog: {sorted(stale)}"


def test_every_exclusion_reason_is_substantive():
    from tools.sf30_manifest import EXCLUDED

    for name, reason in EXCLUDED.items():
        assert isinstance(reason, str) and len(reason) >= 40, (
            f"{name}: exclusion reason must be a real sentence, got "
            f"{reason!r}"
        )


def test_scale_gated_rows_are_declared_by_an_invariant():
    """An exclusion may claim scale gating only for rows some
    invariant declares in its gates — prose cannot vouch for a row no
    check touches."""
    from tools.sf30_manifest import EXCLUDED, SCALE_GATED

    undeclared = sorted(set(SCALE_GATED.rows) - _gated_rows())
    assert not undeclared, f"claimed scale-gated, no invariant: {undeclared}"
    for name, reason in EXCLUDED.items():
        if name not in SCALE_GATED.rows:
            assert "gated at scale" not in reason, name


def test_every_family_keeps_an_sf30_representative():
    """Every query FAMILY (the queries/ module a row registers in)
    keeps at least one row under a scale gate: a WIDE row
    (cross-engine at sf30) or a row some invariant declares."""
    from tools.sf30_manifest import WIDE

    gated = _gated_rows()
    families: dict[str, int] = {}
    for name, fn in QUERIES.items():
        fam = fn.__module__.rsplit(".", 1)[-1]
        families[fam] = families.get(fam, 0) + (name in WIDE or name in gated)
    unrepresented = sorted(fam for fam, n in families.items() if n == 0)
    assert not unrepresented, (
        "query families with NO sf30-scale representative (add one row "
        "to tools/sf30_manifest.py WIDE, or gate one in "
        f"tools/invariants.py): {unrepresented}"
    )


def test_wide_sibling_citations_resolve():
    """Exclusion reasons that delegate coverage to 'wide sibling X'
    must cite rows that are actually IN the wide set — a citation to
    a demoted or renamed sibling is silent coverage loss."""
    from tools.sf30_manifest import EXCLUDED, WIDE

    # prose group citations → the WIDE prefix family they point at
    groups = {
        "embedding rows": "embedding_",
        "TPC-H set": "q1_",
    }
    for name, reason in EXCLUDED.items():
        m = re.search(r"wide sibling ([a-z0-9_ +]+)", reason)
        if not m:
            continue
        cited = [
            t for t in re.findall(r"[a-z0-9_]+", m.group(1)) if t in QUERIES
        ]
        if not cited:
            grp = next((p for g, p in groups.items() if g in reason), None)
            assert grp is not None, (
                f"{name}: 'wide sibling' cites neither a catalog row nor "
                "a known group phrase"
            )
            assert any(w.startswith(grp) for w in WIDE), (
                f"{name}: cited group {grp}* has no row left in WIDE"
            )
            continue
        missing = [c for c in cited if c not in WIDE]
        assert not missing, (
            f"{name}: cited siblings not in WIDE: {missing}"
        )


def test_invariants_read_the_replica_base_from_its_manifest(tmp_path):
    """The expected values derive from the base corpus the replica was
    generated from (``source`` in its MANIFEST.json), not from a fixed
    directory; a manifest that records no base raises."""
    import json

    import duckdb
    import pytest

    from tests.conftest import SF_DIR
    from tools.invariants import _docs_base_count

    manifest = tmp_path / "MANIFEST.json"
    manifest.write_text(json.dumps({"source": SF_DIR, "copies": 1}))
    want = duckdb.sql(
        f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    assert _docs_base_count(str(tmp_path)) == want

    manifest.write_text(json.dumps({"copies": 1}))
    with pytest.raises(KeyError, match="source"):
        _docs_base_count(str(tmp_path))


class TestToolNameLists:
    def test_bench_sf1_core_resolves(self):
        from tools.bench_sf1 import SF1_CORE

        missing = [n for n in SF1_CORE if n not in QUERIES]
        assert not missing, missing

    def test_scaling_probes_resolve(self):
        from tools.scaling_probe import DEFAULT_PROBES, PROBE_ONLY_OPS

        missing = [
            n
            for n in DEFAULT_PROBES
            if n not in QUERIES and n not in PROBE_ONLY_OPS
        ]
        assert not missing, missing

    def test_bench_lists_resolve(self):
        import bench

        missing = [n for n in bench.HEADLINE + bench.EXTRA if n not in QUERIES]
        assert not missing, missing
