"""Reachability lint: every top-level function, class and constant in
``leader_graph_spark`` is reached from what the engine serves, so code
that only its own tests call cannot grow back. A second check fails on
an import that binds a name its module or function never reads.

Roots:
- every function decorated with ``@query`` (the registry);
- the non-def statements of every package module (registry imports,
  side-effect calls, ``if __name__ == "__main__"`` blocks);
- ``__init__.py``'s ``_EXPORTS`` names and all of ``__main__.py``;
- ``bench.py``, ``__spark_entry__.py`` and the non-test
  ``perfbench/*.py`` modules.

Edges run only through identifiers inside a reached definition: names,
attribute names and import aliases. Docstrings and comments are never
followed. Resolution is by bare name, so a name reached anywhere keeps
every definition of that name: the lint can miss dead code but never
flags live code. Spark-free: both checks parse the source."""

from __future__ import annotations

import ast
from pathlib import Path

_ROOT = Path(__file__).resolve().parents[1]
_PKG = _ROOT / "leader_graph_spark"

# Unreached definitions kept on purpose, each with its reason.
KEEP = {
    "operators.llm.structured_extraction_with_dlq":
        "reference stage 7: LLM structuring with a dead-letter queue",
    "operators.llm.HttpExtractionBackend":
        "reference stage 7: the HTTP model backend",
    "operators.llm.RetryingBackend":
        "reference stage 7: retry wrapper for the model backend",
    "operators.llm.pending_rows":
        "reference stage 7: rows still awaiting extraction",
    "sources.jdbc.read_jdbc_table": "reference stages 1-2: MySQL landing",
    "sources.jdbc.write_jdbc": "reference stages 1-2: MySQL landing",
    "sources.jdbc.ingest_jdbc_to_parquet": "reference stages 1-2: MySQL ingest",
    "sources.jdbc.jdbc_options": "reference stages 1-2: JDBC reader options",
    "sources.jdbc.DEFAULT_FETCH_SIZE": "reference stages 1-2: JDBC default",
    "sources.jdbc.DEFAULT_BATCH_SIZE": "reference stages 1-2: JDBC default",
    "extract.html.extract_person_details":
        "X5: cited parser/baike_parser.py person-detail rules",
    "extract.html.extract_title_summary":
        "X6: cited parser/baike_parser.py title/summary rules",
    "functions.scalar.strip_name_parens": "transform with cited reference lines",
    "functions.scalar.pack_list": "transform with cited reference lines",
    "functions.scalar.unpack_list": "transform with cited reference lines",
    "functions.scalar._PAREN_RE": "pattern of strip_name_parens",
    "operators.layout.hilbert_key_py":
        "Python reference the Hilbert SQL tests compare against",
}


class _Idents(ast.NodeVisitor):
    """Collect the identifiers a piece of code mentions: names, attribute
    names and import aliases. String constants (docstrings) are skipped."""

    def __init__(self) -> None:
        self.names: set[str] = set()

    def visit_Name(self, node: ast.Name) -> None:
        self.names.add(node.id)

    def visit_Attribute(self, node: ast.Attribute) -> None:
        self.names.add(node.attr)
        self.generic_visit(node)

    def visit_alias(self, node: ast.alias) -> None:
        self.names.update(node.name.split("."))
        if node.asname:
            self.names.add(node.asname)


def _idents(*nodes: ast.AST) -> set[str]:
    v = _Idents()
    for n in nodes:
        v.visit(n)
    return v.names


def _is_query(deco: ast.expr) -> bool:
    f = deco.func if isinstance(deco, ast.Call) else deco
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return name == "query"


def _assigned_names(stmt: ast.stmt) -> list[str] | None:
    """Names a top-level constant binds, or None for any other statement."""
    targets = stmt.targets if isinstance(stmt, ast.Assign) else (
        [stmt.target] if isinstance(stmt, ast.AnnAssign) else None)
    if not targets or not all(isinstance(t, ast.Name) for t in targets):
        return None
    names = [t.id for t in targets]
    return None if any(n.startswith("__") for n in names) else names


def scan(modules: dict[str, str], root_names=(), root_sources=()) -> list[str]:
    """Unreached top-level definitions of ``modules`` ({dotted name:
    source}) as ``module.name``. ``root_names`` are reached as given;
    ``root_sources`` are whole files that reach every name they use."""
    defs: dict[str, list[tuple[str | None, set[str]]]] = {}
    reached = set(root_names)
    for src in root_sources:
        reached |= _idents(ast.parse(src))
    for mod, src in modules.items():
        for stmt in ast.parse(src).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if stmt.name.startswith("__") or any(map(_is_query, stmt.decorator_list)):
                    reached |= _idents(stmt)
                else:
                    defs.setdefault(stmt.name, []).append((mod, _idents(stmt)))
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                # an import binds names; it reaches the imported name only
                # when reached code uses the name it binds
                for a in stmt.names:
                    bound = a.asname or a.name.split(".")[0]
                    defs.setdefault(bound, []).append((None, _idents(a)))
            elif (names := _assigned_names(stmt)) is not None:
                for n in names:
                    defs.setdefault(n, []).append((mod, _idents(stmt.value)
                                                   if stmt.value else set()))
            else:
                reached |= _idents(stmt)
    todo = list(reached)
    while todo:
        for _, edges in defs.get(todo.pop(), ()):
            new = edges - reached
            reached |= new
            todo.extend(new)
    return sorted(f"{mod}.{name}" for name, entries in defs.items()
                  if name not in reached for mod, _ in entries if mod is not None)


def _package_scan() -> list[str]:
    modules = {}
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).with_suffix("")
        modules[".".join(rel.parts)] = path.read_text()
    init = ast.parse(modules["__init__"])
    exports = next(
        s.value for s in init.body
        if isinstance(s, ast.Assign) and getattr(s.targets[0], "id", "") == "_EXPORTS")
    files = [_ROOT / "bench.py", _ROOT / "__spark_entry__.py"]
    files += [p for p in sorted((_ROOT / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    sources = [modules.pop("__main__")] + [p.read_text() for p in files]
    return scan(modules, [k.value for k in exports.keys], sources)


def test_every_package_definition_is_reached():
    unreached = _package_scan()
    extra = [n for n in unreached if n not in KEEP]
    assert not extra, f"reached by nothing the engine serves: {extra}"
    stale = sorted(set(KEEP) - set(unreached))
    assert not stale, f"KEEP entries that are reached or gone: {stale}"


def test_lint_on_a_toy_module():
    lib = (
        '"""Mentions dead_doc in a docstring."""\n'
        "import os as _os\n"
        "from json import dumps\n"
        "LIMIT = 3\n"
        "DEAD_CONST = LIMIT + 1\n"
        "def helper(x):\n"
        "    return _os.sep * LIMIT\n"
        "def only_tested():\n"
        "    return dumps(1)\n"
        "def dead_doc():\n"
        '    """helper is named here only."""\n'
        "class Box:\n"
        "    def get(self):\n"
        "        return chained()\n"
        "def chained():\n"
        "    return 1\n"
        "register(Box)\n"
    )
    queries = (
        "from lib import helper\n"
        "@query('q', oracle=SQL)\n"
        "def q(spark, sf):\n"
        "    return helper(sf)\n"
        "SQL = 'select 1'\n"
        "UNUSED_SQL = 'select 2'\n"
    )
    assert scan({"lib": lib, "queries": queries}) == [
        "lib.DEAD_CONST", "lib.dead_doc", "lib.only_tested", "queries.UNUSED_SQL",
    ]
    # a root file or a bare root name reaches what it names
    assert scan({"lib": lib}, ["dead_doc", "DEAD_CONST"], ["x = only_tested()\n"]) == [
        "lib.helper"]


def _probes(node: ast.Try) -> bool:
    """A ``try`` that catches ImportError: its imports test availability."""
    caught = [h.type for h in node.handlers if h.type is not None]
    caught += [e for t in caught if isinstance(t, ast.Tuple) for e in t.elts]
    return any(getattr(t, "id", "") in ("ImportError", "ModuleNotFoundError") for t in caught)


def _scope_imports(scope: ast.AST):
    """Import statements bound in ``scope`` itself, not in a nested
    function or class, and not availability probes."""
    todo = list(scope.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif isinstance(node, ast.Try) and _probes(node):
            todo.extend(node.handlers + node.orelse + node.finalbody)
        elif not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.ClassDef, ast.Lambda)):
            todo.extend(ast.iter_child_nodes(node))


def unused_imports(src: str, *, reexports: bool = False) -> list[str]:
    """``line:name`` of every import whose bound name its module or
    function scope never reads (nested functions read their enclosing
    scope's names). ``reexports`` exempts the module scope, as in an
    ``__init__.py``."""
    tree = ast.parse(src)
    scopes = [tree] + [n for n in ast.walk(tree)
                       if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    found = []
    for scope in scopes[1:] if reexports else scopes:
        read = {n.id for n in ast.walk(scope)
                if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)}
        for imp in _scope_imports(scope):
            if isinstance(imp, ast.ImportFrom) and imp.module == "__future__":
                continue
            for a in imp.names:
                bound = a.asname or a.name.split(".")[0]
                if bound != "*" and bound not in read:
                    found.append(f"{imp.lineno}:{bound}")
    return sorted(found, key=lambda h: int(h.split(":")[0]))


def test_no_unused_imports():
    unused = [
        f"{path.relative_to(_PKG)}:{hit}"
        for path in sorted(_PKG.rglob("*.py"))
        for hit in unused_imports(path.read_text(), reexports=path.name == "__init__.py")
    ]
    assert not unused, f"imported and never read: {unused}"


def test_unused_import_check_on_a_toy_module():
    src = (
        "from __future__ import annotations\n"
        "import os\n"
        "import os.path as osp\n"
        "import json, re\n"
        "from typing import Any\n"
        "try:\n"
        "    import numpy  # availability probe\n"
        "except ImportError:\n"
        "    import math\n"
        "def f(x: Any):\n"
        "    from itertools import chain\n"
        "    from functools import reduce\n"
        "    def inner():\n"
        "        return chain(x)\n"
        "    return inner, os.sep\n"
        "def g():\n"
        "    import sys\n"
        "    return re\n"
    )
    assert unused_imports(src) == ["3:osp", "4:json", "9:math", "12:reduce", "17:sys"]
    # a package __init__ re-exports at module scope; functions still count
    assert unused_imports(src, reexports=True) == ["12:reduce", "17:sys"]
