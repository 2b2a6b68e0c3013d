"""Every public top-level function or class of the package has a caller that
ships: a package module, a tool, the benchmark or the Spark entry point.

Code that only tests reach is deleted, not kept; this scan keeps it from
coming back. It is pure AST (no Spark). A reference is a name, an attribute,
or a string constant that is an identifier and not a docstring (registry
lists and patched-by-name attributes are strings). An import alone is not a
reference: a used import is counted where its name is used.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "knowledge_graph_integration_rag_biomedical_qna_spark"
# reference implementation and test-data generators: reached from tests by design
EXEMPT_DIRS = ("oracle", "fixtures")
# names that may have test-only callers, each with its reason
ALLOWED: set[str] = set()


def _caller_files() -> list[Path]:
    pkg = [p for p in PKG.rglob("*.py") if p.name != "__init__.py"]
    tools = sorted((ROOT / "tools").glob("*.py"))
    bench = sorted((ROOT / "perfbench").rglob("*.py"))
    tops = [ROOT / n for n in ("bench.py", "bench_extra.py", "__spark_entry__.py")]
    return pkg + tools + bench + [p for p in tops if p.exists()]


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def _references(path: Path) -> set[str]:
    tree = ast.parse(path.read_text(), str(path))
    docs = _docstrings(tree)
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier() and id(node) not in docs):
            refs.add(node.value)
    return refs


def _public_defs() -> dict[str, str]:
    """`<module path>::<name>` -> name, for every public top-level def/class
    outside the exempt directories."""
    defs = {}
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG)
        if rel.parts[0] in EXEMPT_DIRS:
            continue
        for node in ast.parse(path.read_text(), str(path)).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                    and not node.name.startswith("_")):
                defs[f"{rel.as_posix()}::{node.name}"] = node.name
    return defs


def test_every_public_def_has_a_shipped_caller():
    refs = set().union(*map(_references, _caller_files()))
    defs = _public_defs()
    assert ALLOWED <= defs.keys(), f"allowed names no longer defined: {ALLOWED - defs.keys()}"
    orphans = sorted(k for k, name in defs.items() if name not in refs)
    assert set(orphans) >= ALLOWED, f"allowed names now have callers: {ALLOWED - set(orphans)}"
    orphans = [k for k in orphans if k not in ALLOWED]
    assert not orphans, (
        "public names referenced only from tests (delete them with their tests, "
        f"or call them from shipped code): {orphans}"
    )
