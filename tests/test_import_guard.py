"""Name-resolution guard for the query registry. Pure-Python lint — no
Spark session.

The ``qfam/`` family modules import each helper from the module that
defines it, and ``queries`` star-re-exports only public names. Nothing
generates export lists, so this guard checks the two ways a name can
silently go missing:

* an import from ``queries`` / ``qfam.*`` (or an attribute read through
  a module alias such as ``Q._X``) anywhere in the package, the tests,
  the tools, ``bench.py`` or ``__spark_entry__.py`` that names something
  the module lacks — a function-local import only fails when its
  function runs;
* a module-level global read inside a function of ``qfam/*.py`` or
  ``queries.py`` that the module does not bind — a NameError that only
  fires when the query runs.
"""

from __future__ import annotations

import ast
import builtins
import importlib
import os
import symtable
from pathlib import Path

import pytest

ROOT = Path(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PKG = ROOT / "aiotcvectordb_spark"
REGISTRY_MODULES = ["aiotcvectordb_spark.queries"] + [
    f"aiotcvectordb_spark.qfam.{p.stem}"
    for p in sorted((PKG / "qfam").glob("*.py"))
    if p.stem != "__init__"
]


def _sources() -> list[Path]:
    files = [*PKG.rglob("*.py"), *(ROOT / "tests").glob("*.py"), *(ROOT / "tools").rglob("*.py")]
    return sorted(files) + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _registry_refs(path: Path):
    """(line, module, name) for every registry name the file imports or
    reads through a module alias."""
    tree = ast.parse(path.read_text(), str(path))
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if full in REGISTRY_MODULES:
                    aliases[a.asname or a.name] = full
                elif node.module in REGISTRY_MODULES and a.name != "*":
                    yield node.lineno, node.module, a.name
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.asname and a.name in REGISTRY_MODULES:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            yield node.lineno, aliases[node.value.id], node.attr


def test_registry_imports_resolve():
    broken = []
    for path in _sources():
        for line, module, name in _registry_refs(path):
            if not hasattr(importlib.import_module(module), name):
                broken.append(f"{path.relative_to(ROOT)}:{line}: {module}.{name}")
    assert not broken, "names missing from their module:\n" + "\n".join(broken)


def _global_reads(table: symtable.SymbolTable):
    for child in table.get_children():
        for sym in child.get_symbols():
            if sym.is_referenced() and sym.is_global():
                yield child.get_name(), sym.get_name()
        yield from _global_reads(child)


@pytest.mark.parametrize("module", REGISTRY_MODULES)
def test_function_globals_are_bound(module):
    mod = importlib.import_module(module)
    table = symtable.symtable(Path(mod.__file__).read_text(), mod.__file__, "exec")
    unbound = sorted(
        f"{scope}: {name}"
        for scope, name in _global_reads(table)
        if not hasattr(mod, name) and not hasattr(builtins, name)
    )
    assert not unbound, f"{module} reads globals it does not bind:\n" + "\n".join(unbound)
