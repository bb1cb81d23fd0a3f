"""Every top-level package definition has a production caller.

A static scan over the package's top-level functions, classes and
module constants. Production code is the driver contract
(``__spark_entry__.py``), ``bench.py``, ``scripts/``, ``perfbench/``
and the module-level statements of the package itself (registries such
as ``ALL["..."] = ...`` run at import). A definition is reached when
reached code names it: as a name, an attribute or an import alias. Its
own body (defaults and decorators included) then counts as reached
code. A package module's top-level imports only bind names, so they
reach nothing on their own; through an ``as`` alias, a use of the alias
reaches the original name. Names are matched bare, so a name used
anywhere in reached code keeps every definition of that name.

``tests/`` is not a root: a definition only tests call fails here
unless ``ALLOWLIST`` names it with a reason. No Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "stanford_relation_extractor_spark"
ROOTS = ("__spark_entry__.py", "bench.py", "scripts", "perfbench")

# name -> why it stays without a production caller
ALLOWLIST: dict[str, str] = {
    "__version__": "package metadata, read by packaging tools",
}


def _py_files(path: Path) -> list[Path]:
    return sorted(path.rglob("*.py")) if path.is_dir() else [path]


def _names(node: ast.AST) -> set[str]:
    """Names, attributes and import aliases referenced under ``node``."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines, or [] for a root statement."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign) and all(isinstance(t, ast.Name) for t in stmt.targets):
        return [t.id for t in stmt.targets]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def scan() -> tuple[dict[str, list[str]], set[str]]:
    """(definition name -> the modules defining it, reached names)."""
    where: dict[str, list[str]] = {}
    bodies: dict[str, set[str]] = {}
    aliases: dict[str, set[str]] = {}
    reached: set[str] = set()
    for root in ROOTS:
        for f in _py_files(REPO / root):
            reached |= _names(ast.parse(f.read_text()))
    for f in _py_files(PACKAGE):
        module = str(f.relative_to(REPO))
        for stmt in ast.parse(f.read_text()).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for a in stmt.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name.split(".")[-1])
                continue
            names = _defined(stmt)
            for name in names:
                where.setdefault(name, []).append(module)
                bodies.setdefault(name, set()).update(_names(stmt))
            if not names:
                reached |= _names(stmt)
    todo = list(reached)
    while todo:
        name = todo.pop()
        for nxt in bodies.get(name, set()) | aliases.get(name, set()):
            if nxt not in reached:
                reached.add(nxt)
                todo.append(nxt)
    return where, reached


def test_every_package_definition_has_a_production_caller():
    where, reached = scan()
    unreached = sorted(
        f"{mod}:{name}"
        for name, mods in where.items()
        if name not in reached and name not in ALLOWLIST
        for mod in mods
    )
    assert not unreached, (
        "package definitions no production code reaches (give them a caller, "
        "delete them, move test-only checks under tests/, or add an ALLOWLIST "
        f"entry with a reason): {unreached}"
    )


def test_allowlist_is_not_stale():
    where, reached = scan()
    stale = sorted(n for n in ALLOWLIST if n not in where or n in reached)
    assert not stale, f"ALLOWLIST entries now reached or no longer defined: {stale}"
