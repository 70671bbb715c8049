"""The library is what the catalog calls.

Every top-level function or class in the package must be reachable
from non-test code: a catalog query (``@register``), the CLI, a tool,
``bench.py``, ``perfbench/`` or the driver entry. A definition whose
only caller is a test is a second surface to keep correct for no
user; it either earns a caller or leaves with its tests.

Reachability is a static AST scan by name: a definition is reached
when reached code mentions its name as a ``Name``, an ``Attribute``,
an imported alias or a string constant. A definition's own body does
not reach it, so dead code that only calls itself, or other dead
code, stays unreached.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "mapreducewordoccurences_spark"

# Kept without a non-test caller, each for the reason given.
KEPT_ROOTS = {
    "Engine": "engine.py: the documented programmatic API (README)",
    "exact_verify_scoped": (
        "dedup/verify.py: the only path that releases the verifier's "
        "persisted frames (caches stay bounded)"
    ),
    "skew_safe_confs": (
        "operators/skew.py: a deployment conf documented in docs/DEPLOY.md"
    ),
}


def _non_test_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += sorted((ROOT / "tools").rglob("*.py"))
    files += [
        p
        for p in sorted((ROOT / "perfbench").rglob("*.py"))
        if "tests" not in p.relative_to(ROOT / "perfbench").parts
    ]
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return files


def _names(node: ast.AST) -> set[str]:
    """Every name a node mentions: identifiers, attributes, imported
    aliases and identifier-like string constants."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _is_registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        target = d.func if isinstance(d, ast.Call) else d
        name = getattr(target, "attr", None) or getattr(target, "id", None)
        if name == "register":
            return True
    return False


def unreached_definitions() -> list[str]:
    """Package definitions that no root reaches. The roots are every
    name mentioned by non-test code outside the package's top-level
    definitions (module-level statements, ``__init__`` re-exports,
    tools, the benchmarks, the driver entry), by ``@register`` queries
    and by the kept roots; a reached definition reaches every name its
    own body mentions. A cluster of definitions that only call each
    other is unreached as a whole."""
    reached: set[str] = set(KEPT_ROOTS)
    defs = []
    for path in _non_test_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if PACKAGE not in path.parents:
            reached |= _names(tree)
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.append((path, node))
                if _is_registered(node):
                    reached.add(node.name)
            else:
                reached |= _names(node)
    expanded: set[int] = set()
    grew = True
    while grew:
        grew = False
        for i, (_, node) in enumerate(defs):
            if i not in expanded and node.name in reached:
                expanded.add(i)
                reached |= _names(node)
                grew = True
    return [
        f"{path.relative_to(PACKAGE)}:{node.lineno} {node.name}"
        for i, (path, node) in enumerate(defs)
        if i not in expanded
    ]


def test_every_definition_has_a_non_test_caller():
    unreached = unreached_definitions()
    assert not unreached, (
        "package definitions with no caller outside the tests "
        "(give each a caller or delete it with its tests):\n  "
        + "\n  ".join(unreached)
    )

