"""Dead-name guard: every top-level function and class the package
defines is used somewhere outside its own definition.

A use is a name, attribute or import of it, or a string constant
equal to it (``getattr``/``monkeypatch.setattr`` targets), anywhere in
the package, ``tests/``, ``scripts/``, ``perfbench/``, ``bench.py`` or
the driver entry point.  Docstring and comment mentions do not count.
``@register`` query builders are skipped: the registry is their
caller.  No Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "social_media_ai_engineering_etl_spark"
USERS = (PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench",
         ROOT / "bench.py", ROOT / "__spark_entry__.py")

# Kept with no caller here: the real-inference backend for the LLM
# stages needs vLLM, which this environment does not install, so only
# a deployment instantiates it (operators/inference.py docstring).
DEPLOYMENT_ONLY = {"VLLMBackend"}

MIN_DEFS = 400   # a scan that finds fewer has broken, not passed


def _py_files(paths):
    for p in paths:
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p])


def _is_registered(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        f = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def _used_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def scan() -> tuple[int, list[str]]:
    """(defs scanned, ``path:line name`` of each def with no use)."""
    defs = []     # (file, def node)
    for path in _py_files([PACKAGE]):
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not _is_registered(node)):
                defs.append((path, node))
    wanted = {node.name for _, node in defs}
    own = {(path, node.name): (node.lineno, node.end_lineno)
           for path, node in defs}
    used = set()
    for path in _py_files(USERS):
        for node in ast.walk(ast.parse(path.read_text())):
            name = _used_name(node)
            if name not in wanted or name in used:
                continue
            span = own.get((path, name))
            if span is None or not span[0] <= node.lineno <= span[1]:
                used.add(name)
    dead = [f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
            for path, node in defs
            if node.name not in used and node.name not in DEPLOYMENT_ONLY]
    return len(defs), dead


def test_every_package_def_has_a_use():
    n_defs, dead = scan()
    assert n_defs >= MIN_DEFS, f"scan covered only {n_defs} defs"
    assert not dead, "defined but never used:\n" + "\n".join(dead)
