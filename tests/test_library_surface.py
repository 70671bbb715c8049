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
code, stays unreached. Inside the package an ``import`` is not a
caller, and neither is any module-level statement of an
``__init__.py``: a re-export only makes a name importable, it does not
run it.

A second check keeps each top-level name bound once per package
module, so no definition is shadowed by a later one of the same name.
A third keeps each top-level function body in one place: two
functions whose bodies are the same AST, docstrings aside, are one
helper copied, and the copies drift apart.

A fourth applies the caller rule to parameters: a switch that only a
test turns (a ``None``, ``bool`` or ``str`` default that no non-test
call passes) is a second configuration to keep correct for no user.
Its default becomes the code, and the branch it selected goes.

A fifth keeps the media tier one pipeline: in ``multimodal/`` only the
two shells call ``mapInPandas`` — ``_synthetic_media`` for every
synthetic corpus, ``_map_payloads`` for every payload decoder — so a
new generator or decoder is a pure per-id or per-payload function.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "mapreducewordoccurences_spark"

# Kept without a non-test caller, each for the reason given.
KEPT_ROOTS = {
    "Engine": "engine.py: the documented programmatic API (README)",
    "skew_safe_confs": (
        "operators/skew.py: a deployment conf documented in docs/DEPLOY.md"
    ),
}

# Switches kept although no non-test call passes them, each for the
# reason given ("function.parameter").
KEPT_PARAMS = {
    "mmr_diversified_topk.distributed": (
        "functions/similarity.py: the driver path is the parity test's "
        "reference"
    ),
    "jpeg_encode_progressive.subsample": (
        "multimodal/jpeg.py: builds the progressive 4:2:0 inputs the "
        "decoder must accept from outside"
    ),
}


def _callers_outside_package() -> list[Path]:
    files = sorted((ROOT / "tools").rglob("*.py"))
    files += [
        p
        for p in sorted((ROOT / "perfbench").rglob("*.py"))
        if "tests" not in p.relative_to(ROOT / "perfbench").parts
    ]
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return files


def _names(node: ast.AST, *, imports: bool = True) -> set[str]:
    """Every name a node mentions: identifiers, attributes,
    identifier-like string constants and, when ``imports`` is true,
    imported aliases."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            if imports:
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


def _package_modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path, ast.parse(path.read_text(), filename=str(path))


def unreached_definitions() -> list[str]:
    """Package definitions that no root reaches. The roots are every
    name mentioned by tools, the benchmarks and ``__spark_entry__.py``, by
    module-level statements of package modules other than
    ``__init__.py``, by ``@register`` queries and by the kept roots; a
    reached definition reaches every name its own body mentions.
    Package imports and ``__init__`` re-exports reach nothing. A
    cluster of definitions that only call each other is unreached as a
    whole."""
    reached: set[str] = set(KEPT_ROOTS)
    for path in _callers_outside_package():
        reached |= _names(ast.parse(path.read_text(), filename=str(path)))
    defs = []
    for path, tree in _package_modules():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.append((path, node))
                if _is_registered(node):
                    reached.add(node.name)
            elif path.name != "__init__.py":
                reached |= _names(node, imports=False)
    expanded: set[int] = set()
    grew = True
    while grew:
        grew = False
        for i, (_, node) in enumerate(defs):
            if i not in expanded and node.name in reached:
                expanded.add(i)
                reached |= _names(node, imports=False)
                grew = True
    return [
        f"{path.relative_to(PACKAGE)}:{node.lineno} {node.name}"
        for i, (path, node) in enumerate(defs)
        if i not in expanded
    ]


def _bound_names(node: ast.stmt) -> list[str]:
    """Names a module-level statement binds: a def or class, the
    targets of an assignment, or an import."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return [(a.asname or a.name).split(".")[0] for a in node.names]
    targets = []
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def shadowed_names() -> list[str]:
    """Top-level names that one package module binds more than once;
    only the last binding is reachable by name."""
    out = []
    for path, tree in _package_modules():
        lines: dict[str, list[int]] = {}
        for node in tree.body:
            for name in _bound_names(node):
                lines.setdefault(name, []).append(node.lineno)
        out += [
            f"{path.relative_to(PACKAGE)}:{','.join(map(str, ls))} {name}"
            for name, ls in lines.items()
            if len(ls) > 1
        ]
    return out


def _body_without_docstring(
    node: ast.FunctionDef | ast.AsyncFunctionDef,
) -> list[ast.stmt]:
    body = node.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]
    return body


def duplicated_bodies() -> list[str]:
    """Groups of top-level package functions whose bodies, docstrings
    aside, dump to the same AST (names, signatures and line numbers
    are not compared)."""
    groups: dict[str, list[str]] = {}
    for path, tree in _package_modules():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                body = ast.Module(body=_body_without_docstring(node), type_ignores=[])
                groups.setdefault(ast.dump(body), []).append(
                    f"{path.relative_to(PACKAGE)}:{node.lineno} {node.name}"
                )
    return [" = ".join(locs) for locs in groups.values() if len(locs) > 1]


def test_every_definition_has_a_non_test_caller():
    unreached = unreached_definitions()
    assert not unreached, (
        "package definitions with no caller outside the tests "
        "(give each a caller or delete it with its tests):\n  "
        + "\n  ".join(unreached)
    )


def test_no_module_binds_a_top_level_name_twice():
    shadowed = shadowed_names()
    assert not shadowed, (
        "package modules that bind a top-level name more than once "
        "(the earlier binding is unreachable by name):\n  "
        + "\n  ".join(shadowed)
    )


def test_no_two_functions_share_a_body():
    copies = duplicated_bodies()
    assert not copies, (
        "top-level package functions with the same body (keep one and "
        "import it):\n  " + "\n  ".join(copies)
    )


def _is_switch(arg: ast.arg, default: ast.expr) -> bool:
    """A parameter that selects behaviour: a ``None``, ``bool`` or
    ``str`` literal default, not a column name (``*_col``, the
    schema) and not a directory (``*_dir``, a deployment path)."""
    return (
        isinstance(default, ast.Constant)
        and (default.value is None or isinstance(default.value, (bool, str)))
        and not arg.arg.endswith(("_col", "_dir"))
    )


def unpassed_switches() -> list[str]:
    """Switch parameters of top-level package functions that no call
    by name in non-test code (the package, the tools, the benchmarks
    and the driver entry) passes, by keyword or by position. A call
    that forwards ``*args`` or ``**kwargs`` passes every parameter."""
    switches: dict[str, list[tuple[str, int | None, str]]] = {}
    for path, tree in _package_modules():
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            defaulted = list(
                zip(positional[len(positional) - len(a.defaults):], a.defaults)
            ) + [(k, d) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            for arg, default in defaulted:
                if _is_switch(arg, default):
                    pos = positional.index(arg) if arg in positional else None
                    where = f"{path.relative_to(PACKAGE)}:{node.lineno}"
                    switches.setdefault(node.name, []).append((arg.arg, pos, where))
    passed: dict[str, set[str]] = {}
    n_positional: dict[str, int] = {}
    files = [p for p, _ in _package_modules()] + _callers_outside_package()
    for path in files:
        for call in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            if name not in switches:
                continue
            if any(isinstance(x, ast.Starred) for x in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                passed.setdefault(name, set()).update(
                    p for p, _, _ in switches[name]
                )
                continue
            passed.setdefault(name, set()).update(k.arg for k in call.keywords)
            n_positional[name] = max(n_positional.get(name, 0), len(call.args))
    return [
        f"{where} {fn}.{param}"
        for fn, params in switches.items()
        for param, pos, where in params
        if param not in passed.get(fn, set())
        and (pos is None or pos >= n_positional.get(fn, 0))
        and f"{fn}.{param}" not in KEPT_PARAMS
    ]


def test_no_switch_only_tests_set():
    unpassed = unpassed_switches()
    assert not unpassed, (
        "package function parameters that no non-test call passes "
        "(make the default the code and delete the parameter, or keep "
        "it in KEPT_PARAMS with a reason):\n  " + "\n  ".join(unpassed)
    )


# the only functions in multimodal/ that may call mapInPandas
MEDIA_SHELLS = {"_synthetic_media", "_map_payloads"}


def media_maps_outside_shells() -> list[str]:
    """``mapInPandas`` calls in ``multimodal/`` outside the bodies of
    the top-level ``MEDIA_SHELLS`` functions."""
    out = []
    for path in sorted((PACKAGE / "multimodal").rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        inside = {
            id(n)
            for node in tree.body
            if isinstance(node, ast.FunctionDef) and node.name in MEDIA_SHELLS
            for n in ast.walk(node)
        }
        out += [
            f"{path.relative_to(PACKAGE)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and getattr(n.func, "attr", None) == "mapInPandas"
            and id(n) not in inside
        ]
    return out


def test_media_maps_through_one_shell():
    outside = media_maps_outside_shells()
    assert not outside, (
        "mapInPandas calls in multimodal/ outside _synthetic_media and "
        "_map_payloads (pass a per-id payload function or a per-payload "
        "row function to one of them instead):\n  " + "\n  ".join(outside)
    )
