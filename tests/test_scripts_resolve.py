"""Every package import in ``scripts/*.py``, ``bench.py``,
``__spark_entry__.py`` and ``perfbench/*.py`` names something the package
still defines, and so does every layer function ``perfbench/spans.py``
wraps (``PIPELINE_SPANS``).

Resolved statically from the source files (no import, no Spark): a
deletion in the package that orphans a script or a benchmark span fails
here instead of at the script's next run.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "substreams_sink_graph_load_spark"
SOURCES = (
    sorted((ROOT / "scripts").glob("*.py"))
    + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    + sorted((ROOT / "perfbench").glob("*.py"))
)


def _pipeline_spans() -> list[tuple[str, str, str]]:
    """``PIPELINE_SPANS`` read as a literal from perfbench/spans.py."""
    for node in ast.parse((ROOT / "perfbench" / "spans.py").read_text()).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "PIPELINE_SPANS"
            for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/spans.py defines no PIPELINE_SPANS")


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
    assert not missing, f"{path.relative_to(ROOT)}: " + "; ".join(missing)


SPANS = _pipeline_spans()


@pytest.mark.parametrize("module,attr,span", SPANS, ids=[s[2] for s in SPANS])
def test_pipeline_span_resolves(module, attr, span):
    """``perfbench/run.py --trace 1`` wraps ``<module>.<attr>`` (attr may be
    ``Class.method``); each must still be defined at its module's top
    level."""
    mod_file = _module_file(f"{PKG}.{module}")
    assert mod_file is not None, f"{span}: no module {PKG}.{module}"
    body = ast.parse(mod_file.read_text()).body
    head, _, method = attr.partition(".")
    if not method:
        assert head in _top_level_names(mod_file), f"{span}: {module} has no {head}"
        return
    cls = next(
        (n for n in body if isinstance(n, ast.ClassDef) and n.name == head), None
    )
    assert cls is not None, f"{span}: {module} has no class {head}"
    assert any(
        isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == method
        for n in cls.body
    ), f"{span}: {module}.{head} has no method {method}"
