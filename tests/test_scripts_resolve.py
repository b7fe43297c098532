"""Every package import in ``scripts/*.py`` and ``__spark_entry__.py``
names something the package still defines.

Resolved statically from the source files (no import, no Spark): a
deletion in the package that orphans a script fails here instead of at
the script's next run.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "substreams_sink_graph_load_spark"
SOURCES = sorted((ROOT / "scripts").glob("*.py")) + [ROOT / "__spark_entry__.py"]


def _module_file(dotted: str) -> pathlib.Path | None:
    base = ROOT.joinpath(*dotted.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _top_level_names(path: pathlib.Path) -> set[str]:
    names: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in node.names
            )
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(
                    n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                )
    return names


def _package_imports(path: pathlib.Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == PKG or (node.module or "").startswith(PKG + ".")
        ):
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    yield node.lineno, alias.name, None


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_package_imports_resolve(path):
    missing = []
    for lineno, module, name in _package_imports(path):
        mod_file = _module_file(module)
        if mod_file is None:
            missing.append(f"line {lineno}: no module {module}")
        elif name is not None and name not in _top_level_names(mod_file):
            if _module_file(f"{module}.{name}") is None:
                missing.append(f"line {lineno}: {module} has no {name}")
    assert not missing, f"{path.name}: " + "; ".join(missing)
