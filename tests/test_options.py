"""Every option and every function in the package has a production caller.

A parameter that no production call site ever sets is a setting tested
only at its default: the function should use the constant instead.  A
function that only tests reach is code kept alive for its own tests.
Tests are not callers here: a value a test needs at a boundary comes
from its input, or from a module constant it monkeypatches.

The parameter check walks `dpo_ocr_spark/` with `ast`, collects each
function's defaulted parameters, and looks for a call that passes each
one, by keyword or by position, anywhere in the package, the jobs, the
tools, the benchmark drivers or the driver entry point.  The function
check looks, in the same files, for a reference to each undecorated
module-level `def`/`class` outside its own body.

Calls are matched by the called name alone (`f(...)` or `obj.f(...)`), so
two functions that share a name share their callers; that can only hide
an unused parameter, never invent one.  A call that spreads `*args` or
`**kwargs` counts as passing every parameter it could reach.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "dpo_ocr_spark"
CALLER_TREES = ("dpo_ocr_spark", "jobs", "tools", "perfbench")
CALLER_GLOBS = ("bench*.py", "__spark_entry__.py")

# Deployment settings: a cluster sets them, no code path in the repo does.
ALLOWED = {
    ("sources/iceberg.py", "iceberg_session_conf", "catalog"),
    ("sources/iceberg.py", "iceberg_session_conf", "warehouse"),
    ("sources/iceberg.py", "iceberg_session_conf", "catalog_type"),
    # Makes decode_jpeg's restart-marker input (DRI/RSTn); the codec
    # surface is out of scope for this check.
    ("ops/codecs.py", "encode_jpeg", "restart_interval"),
}

# Reference sinks S8-S10 (COVERAGE.md): the registered queries check their
# content through the same expressions (csv_cells, json_response,
# extract_text), and the sinks are the deployment's write path.
UNCALLED = {
    ("export.py", "tokens_csv"): "S8 CSV sink, content gated by csv_cells",
    ("export.py", "json_response_sink"): "S9 sink, gated by json_response",
    ("export.py", "fulltext_sink"): "S10 sink, gated by extract_text",
}


def _caller_files() -> list[Path]:
    files = [p for t in CALLER_TREES for p in sorted((ROOT / t).rglob("*.py"))]
    return files + [p for g in CALLER_GLOBS for p in sorted(ROOT.glob(g))]


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(name, positional index or None) of each defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(positional) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    # a call through `obj.method(...)` does not pass `self`/`cls` itself
    shift = 1 if positional and positional[0].arg in ("self", "cls") else 0
    return [(n, None if i is None else i - shift) for n, i in out]


def _unpassed() -> list[str]:
    passed: dict[str, set] = defaultdict(set)  # name -> {kw names, max positional, "*"}
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call) or not (name := _called_name(node)):
                continue
            seen = passed[name]
            if any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                seen.add("*")
            seen.add(len(node.args))
            seen.update(k.arg for k in node.keywords if k.arg)
    missing = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            seen = passed.get(fn.name, set())
            if "*" in seen:
                continue
            n_pos = max((s for s in seen if isinstance(s, int)), default=0)
            for arg, idx in _defaulted(fn):
                if arg in seen or (idx is not None and idx < n_pos):
                    continue
                if (rel, fn.name, arg) not in ALLOWED:
                    missing.append(f"{rel}:{fn.lineno} {fn.name}({arg})")
    return missing


def test_every_defaulted_parameter_has_a_caller():
    missing = _unpassed()
    assert not missing, (
        f"{len(missing)} defaulted parameters that no call site passes "
        "(use the constant they default to):\n" + "\n".join(missing)
    )


def _referenced_names() -> set[str]:
    """Every `Name` id and `Attribute` attr in the caller files, except
    the ones inside the body of the package-level def/class they name
    (recursion is not a caller).  Imports, re-exports and docstrings are
    not references."""
    refs: set[str] = set()
    for path in _caller_files():
        tree = ast.parse(path.read_text(), str(path))
        own = {
            id(m)
            for top in tree.body
            if path.is_relative_to(PACKAGE)
            and isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            for m in ast.walk(top)
            if (isinstance(m, ast.Name) and m.id == top.name)
            or (isinstance(m, ast.Attribute) and m.attr == top.name)
        }
        for m in ast.walk(tree):
            if id(m) in own:
                continue
            if isinstance(m, ast.Name):
                refs.add(m.id)
            elif isinstance(m, ast.Attribute):
                refs.add(m.attr)
    return refs


def _uncalled() -> list[str]:
    refs = _referenced_names()
    missing = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for top in ast.parse(path.read_text(), str(path)).body:
            if (
                isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not top.decorator_list
                and top.name not in refs
                and (rel, top.name) not in UNCALLED
            ):
                missing.append(f"{rel}:{top.lineno} {top.name}")
    return missing


def test_every_function_has_a_caller():
    missing = _uncalled()
    assert not missing, (
        f"{len(missing)} package functions that only tests reach "
        "(delete them with the tests that check only them):\n"
        + "\n".join(missing)
    )
