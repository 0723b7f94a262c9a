"""Surface guard: every top-level def in the package earns its place.

A def stays when one of these holds:

- non-test code reaches it: the package's module-level code,
  ``bench.py``, ``api_server.py``, ``__spark_entry__.py``, ``tools/``,
  ``perfbench/`` or ``run_ingestion.sh`` refers to it, directly or
  through defs it reaches;
- COVERAGE.md or README.md names it by identifier inside a code span
  (the defs it reaches then count too);
- it is on the short ``ALLOWED`` list below, each entry with a reason.

The census is static (AST, no Spark, no imports of the package). A
reference is any name, attribute, import alias or identifier inside a
string constant; docstrings and comments are not references, so a def
that only prose mentions is not reached. Defs are matched by bare name,
so two defs sharing a name reach each other's callers: a name collision
can only make this test more lenient, never fail it wrongly.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "data_ingestion_project_spark"
DOCS = ("COVERAGE.md", "README.md")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

ALLOWED = {
    "aes_encrypt_native": "JVM-native AES field crypto, a candidate for the ingestion job's crypto stage",
    "aes_decrypt_native": "the decrypt half of that candidate",
    "unbounded_global_windows": "the plan-shape guard's checker for single-task global windows",
    "_recall_at_k": "the shared recall evaluator of the ANN tests",
    "require_real_decoder": "the decoder seam's guard for production media decoding",
}


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *DEF_TYPES)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _references(nodes: list[ast.AST], docstrings: set[int]) -> set[str]:
    names: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.update(node.name.split("."))
                if node.asname:
                    names.add(node.asname)
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
            ):
                names.update(IDENT.findall(node.value))
    return names


def census() -> tuple[dict[str, set[str]], dict[str, str], set[str], set[str]]:
    """Returns (references per def name, location per def name, names
    non-test code refers to, identifiers the docs name)."""
    refs: dict[str, set[str]] = {}
    where: dict[str, str] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        docstrings = _docstrings(tree)
        module_level = []
        for stmt in tree.body:
            if isinstance(stmt, DEF_TYPES):
                refs.setdefault(stmt.name, set()).update(_references([stmt], docstrings))
                where.setdefault(stmt.name, f"{path.relative_to(REPO)}:{stmt.lineno}")
                module_level.extend(stmt.decorator_list)
            else:
                module_level.append(stmt)
        roots |= _references(module_level, docstrings)
    runners = [REPO / "bench.py", REPO / "api_server.py", REPO / "__spark_entry__.py"]
    runners += sorted((REPO / "tools").rglob("*.py")) + sorted((REPO / "perfbench").rglob("*.py"))
    for path in runners:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        roots |= _references([tree], _docstrings(tree))
    roots |= set(IDENT.findall((REPO / "run_ingestion.sh").read_text(encoding="utf-8")))
    named: set[str] = set()
    for doc in DOCS:
        for span in re.findall(r"`([^`\n]+)`", (REPO / doc).read_text(encoding="utf-8")):
            named.update(IDENT.findall(span))
    return refs, where, roots, named


def reach(refs: dict[str, set[str]], seeds: set[str]) -> set[str]:
    reached: set[str] = set()
    todo = [n for n in seeds if n in refs]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(r for r in refs[name] if r in refs and r not in reached)
    return reached


def test_every_package_def_is_reached_documented_or_allowed():
    refs, where, roots, named = census()
    kept = reach(refs, roots | named | set(ALLOWED))
    unearned = sorted(f"{name} ({where[name]})" for name in set(refs) - kept)
    assert not unearned, (
        "defs no runner reaches, no COVERAGE.md/README.md code span names "
        f"and ALLOWED does not list: {unearned}"
    )


def test_allowlist_is_short_and_not_stale():
    refs, _, roots, named = census()
    assert len(ALLOWED) <= 6
    assert all(reason for reason in ALLOWED.values())
    assert set(ALLOWED) <= set(refs), sorted(set(ALLOWED) - set(refs))
    needless = sorted(set(ALLOWED) & reach(refs, roots | named))
    assert not needless, f"reached without the allowlist: {needless}"
