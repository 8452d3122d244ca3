"""The paper layers stay small and free of the LLM-curation operators.

A static scan, no Spark session: start from every module of the paper
layers (``plans``, ``streaming``, ``sources``, ``stats``, ``functions`` and
``session``), follow each import of a package module, at module level or
inside a function, and measure the closure. Importing ``a.b.c`` runs the
``__init__`` of ``a`` and ``a.b`` too, so package initialisers count.

The closure may reach only the operators the paper's batch ETL and feed
use (``cache``, ``quality``, ``relational``), and stays within a line
budget, so a helper borrowed from the curation or text operators
cannot pull thousands of lines into the paper layers unseen.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ningaloo_turtle_etl_spark"
PKG = PACKAGE.name
PAPER_LAYERS = ("plans", "streaming", "sources", "stats", "functions", "session")
ALLOWED_OPERATORS = {"cache", "quality", "relational"}
MAX_LINES = 3500


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(path: Path) -> set[str]:
    """Package modules ``path`` imports, with the packages they sit in."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            targets = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"{path}: relative import; the scan expects absolute ones"
            targets = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            if parts[0] != PKG:
                continue
            for i in range(1, len(parts) + 1):
                name = ".".join(parts[:i])
                if _module_file(name):
                    found.add(name)
    return found


def _paper_closure() -> dict[str, Path]:
    todo = []
    for layer in PAPER_LAYERS:
        path = _module_file(f"{PKG}.{layer}")
        assert path, f"paper layer {layer} not found"
        todo += sorted(path.parent.rglob("*.py")) if path.name == "__init__.py" else [path]
    closure: dict[str, Path] = {}
    while todo:
        path = todo.pop()
        name = _module_name(path)
        if name in closure:
            continue
        closure[name] = path
        todo += [_module_file(m) for m in _imported_modules(path) if m not in closure]
    return closure


def test_paper_layers_import_no_llm_operators():
    closure = _paper_closure()
    operators = {
        name.rsplit(".", 1)[1]
        for name in closure
        if name.startswith(f"{PKG}.operators.")
    }
    assert operators <= ALLOWED_OPERATORS, (
        f"paper layers import operators {sorted(operators - ALLOWED_OPERATORS)}"
    )


def test_paper_layer_closure_fits_line_budget():
    closure = _paper_closure()
    lines = {name: len(path.read_text().splitlines()) for name, path in closure.items()}
    total = sum(lines.values())
    largest = sorted(lines.items(), key=lambda kv: -kv[1])[:5]
    assert total <= MAX_LINES, (
        f"paper-layer import closure is {total} lines in {len(lines)} modules "
        f"(budget {MAX_LINES}); largest: {largest}"
    )
