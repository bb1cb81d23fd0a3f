"""Every top-level package definition and option has a production caller.

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

The second scan covers options: every defaulted parameter of a
top-level package function or of a method of a top-level class (nested
closures that bind ``x=x`` are not options). A parameter is set when a
production call (in the roots or the package), matched by the callee's
bare name, passes it by keyword, by position, through ``**``, or via
``functools.partial``; a ``*`` argument reaches no defaulted parameter.
Each call also gives the parameter a value: the literal it passes, the
default when it leaves the parameter out, or "varies" for any other
expression (and for ``**``). A parameter no production call sets, or one
whose production values are a single literal, is a constant in disguise
and fails here unless ``PARAM_ALLOWLIST`` names it as ``"func(param)"``
with a reason.
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


# "func(param)" -> why the option stays without production calls varying it
PARAM_ALLOWLIST: dict[str, str] = {
    **{
        f"{fn}(path)": "deployment path of reference data, kept configurable"
        for fn in (
            "code2country", "code2region", "cities_raw", "alt_country_names",
            "city_nicknames", "read_slots_file", "gold_2009_sql", "gold_2011_sql",
            "gold_2012_sql", "slots_2013_sql", "official_score_2013_sql",
        )
    },
    "relation_pattern_weights(rules_dir)": "deployment path of the reference rules files",
    "connected_components(checkpoint_dir)": "fault-recovery path: reliable checkpoints "
    "instead of local ones, safety code for lost executors",
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


def _package_functions() -> list[tuple[ast.FunctionDef, bool]]:
    """(function, is_bound_method) for every top-level package function
    and every method of a top-level package class."""
    out = []
    for f in _py_files(PACKAGE):
        for stmt in ast.parse(f.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.append((stmt, False))
            elif isinstance(stmt, ast.ClassDef):
                for m in stmt.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        static = any(
                            isinstance(d, ast.Name) and d.id == "staticmethod"
                            for d in m.decorator_list
                        )
                        out.append((m, not static))
    return out


def _callee(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


VARIES = "<varies>"


def _value(node: ast.expr) -> str:
    """A literal's repr, or ``VARIES`` for any other expression."""
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError):
        return VARIES


def scan_params() -> tuple[set[str], set[str], dict[str, set[str]]]:
    """(every defaulted parameter as "func(param)", those a production
    call sets, the values production calls give each).

    A call gives a defaulted parameter the literal it passes (by
    position or keyword), the default when it leaves the parameter out,
    and ``VARIES`` for any other expression. A ``*`` argument reaches
    no defaulted parameter (nor do positional arguments after it); a
    ``**`` argument sets them all to ``VARIES``. ``functools.partial``
    records only the parameters it binds."""
    options: set[str] = set()
    # bare name -> per definition: (positional params, {defaulted param: default})
    sigs: dict[str, list[tuple[list[str], dict[str, ast.expr]]]] = {}
    for fn, bound in _package_functions():
        a = fn.args
        pos = [p.arg for p in a.posonlyargs + a.args]
        defaults = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
        defaults.update((k.arg, d) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
        sigs.setdefault(fn.name, []).append((pos[1:] if bound else pos, defaults))
        options.update(f"{fn.name}({p})" for p in defaults)

    set_: set[str] = set()
    values: dict[str, set[str]] = {}

    def passes(
        name: str | None, args: list[ast.expr], keywords: list[ast.keyword], partial: bool
    ) -> None:
        if name not in sigs:
            return
        args = args[: next((i for i, x in enumerate(args) if isinstance(x, ast.Starred)), None)]
        splat = any(k.arg is None for k in keywords)
        by_kw = {k.arg: k.value for k in keywords if k.arg is not None}
        for pos, defaults in sigs[name]:
            given = {**dict(zip(pos, args)), **by_kw}
            for p, default in defaults.items():
                option = f"{name}({p})"
                if splat or p in given:
                    set_.add(option)
                    value = VARIES if splat else _value(given[p])
                elif partial:
                    continue
                else:
                    value = _value(default)
                values.setdefault(option, set()).add(value)

    sources = [f for root in ROOTS for f in _py_files(REPO / root)] + _py_files(PACKAGE)
    for f in sources:
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            if _callee(node.func) == "partial" and node.args:
                passes(_callee(node.args[0]), node.args[1:], node.keywords, True)
            else:
                passes(_callee(node.func), node.args, node.keywords, False)
    return options, set_, values


def test_every_option_is_set_by_a_production_call():
    options, set_, _ = scan_params()
    unset = sorted(o for o in options - set_ if o not in PARAM_ALLOWLIST)
    assert not unset, (
        "defaulted parameters no production call sets (fold each into a "
        "constant, give it a production caller, or add a PARAM_ALLOWLIST "
        f"entry with a reason): {unset}"
    )


def _single_valued(values: dict[str, set[str]]) -> set[str]:
    """Options every production call gives the same literal."""
    return {o for o, vs in values.items() if len(vs) == 1 and VARIES not in vs}


def test_no_option_has_a_single_production_value():
    options, set_, values = scan_params()
    single = sorted(o for o in _single_valued(values) & set_ if o not in PARAM_ALLOWLIST)
    assert not single, (
        "defaulted parameters every production call gives the same literal "
        "(fold each into a module constant, or add a PARAM_ALLOWLIST entry "
        f"with a reason): {single}"
    )


def test_param_allowlist_is_not_stale():
    options, set_, values = scan_params()
    varied = set_ - _single_valued(values)
    stale = sorted(o for o in PARAM_ALLOWLIST if o not in options or o in varied)
    assert not stale, f"PARAM_ALLOWLIST entries now varied by production or no longer defined: {stale}"
