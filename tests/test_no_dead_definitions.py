"""Every top-level definition in the package and every test helper has a
caller, and every import has a use.

A static scan, no Spark session: walk the AST of every Python file in the
package, the tests, the scripts, perfbench and the driver entry, collect
every name they use, and require a use for each undecorated top-level
``def``/``class`` and each top-level assignment in the package and in
``tests/``. Decorated definitions (``@register`` queries are reached
through the registry, ``@pytest.fixture`` helpers through pytest), dunder
names and ``test_`` functions are exempt.

The import check walks the package, the tests and the scripts: each name
an import binds must be read in the scope that binds it (a module, or the
function or class holding a local import) or be listed in the module's
``__all__``. ``from __future__`` imports and imports marked
``# noqa: F401`` (side-effect registrations) are exempt.

The scan reads the AST rather than the token stream: names used inside
f-string SQL are not NAME tokens on Python 3.11, so a token scan would
flag live definitions such as oracle SQL helpers called from an f-string.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ningaloo_turtle_etl_spark"
TESTS = ROOT / "tests"
SCANNED = [PACKAGE, TESTS, ROOT / "scripts", ROOT / "perfbench"]
IMPORTS_SCANNED = [PACKAGE, TESTS, ROOT / "scripts"]
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources() -> list[Path]:
    files = [p for d in SCANNED for p in sorted(d.rglob("*.py"))]
    return files + [ROOT / "__spark_entry__.py"]


def _used_names(tree: ast.AST) -> set[str]:
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.update(node.name.split("."))
            if node.asname:
                used.add(node.asname)
    return used


def _assigned(node: ast.stmt) -> list[str]:
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    else:
        return []
    names = []
    for target in targets:
        for sub in ast.walk(target):
            if isinstance(sub, ast.Name):
                names.append(sub.id)
    return names


def _definitions(tree: ast.Module) -> list[tuple[str, int]]:
    defs = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                defs.append((node.name, node.lineno))
        else:
            defs.extend((name, node.lineno) for name in _assigned(node))
    return [(n, line) for n, line in defs if not n.startswith("__")]


def _dead_definitions(root: Path) -> list[tuple[str, str]]:
    """(location, name) of each definition under ``root`` with no use."""
    used: set[str] = set()
    defs = []
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        used |= _used_names(tree)
        if root in path.parents:
            rel = path.relative_to(ROOT)
            defs += [(rel, n, line) for n, line in _definitions(tree)]
    assert defs, f"scan found no definitions under {root.name}"
    return [(f"{rel}:{line}", name) for rel, name, line in defs if name not in used]


def test_every_package_definition_has_a_use():
    dead = [f"{at} {name}" for at, name in _dead_definitions(PACKAGE)]
    assert not dead, "definitions with no use:\n" + "\n".join(dead)


def test_every_test_helper_has_a_use():
    dead = [
        f"{at} {name}"
        for at, name in _dead_definitions(TESTS)
        if not name.startswith("test_")
    ]
    assert not dead, "test helpers with no use:\n" + "\n".join(dead)


def _scope_imports(scope: ast.AST) -> list[ast.Import | ast.ImportFrom]:
    """Import statements that bind in ``scope`` itself, not in a nested def."""
    found, stack = [], list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            found.append(node)
        elif not isinstance(node, (*_SCOPES, ast.Lambda)):
            stack.extend(ast.iter_child_nodes(node))
    return found


def _exported(tree: ast.Module) -> set[str]:
    return {
        c.value
        for node in tree.body
        if "__all__" in _assigned(node)
        for c in ast.walk(node)
        if isinstance(c, ast.Constant) and isinstance(c.value, str)
    }


def _unused_imports(path: Path) -> list[str]:
    text = path.read_text()
    tree, lines = ast.parse(text, filename=str(path)), text.splitlines()
    unused = []
    for scope in [tree, *(n for n in ast.walk(tree) if isinstance(n, _SCOPES))]:
        read = {
            n.id
            for n in ast.walk(scope)
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
        }
        if scope is tree:
            read |= _exported(tree)
        for imp in _scope_imports(scope):
            if isinstance(imp, ast.ImportFrom) and imp.module == "__future__":
                continue
            stmt = lines[imp.lineno - 1 : imp.end_lineno]
            if any("# noqa: F401" in line for line in stmt):
                continue
            for alias in imp.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in read:
                    unused.append(f"{path.relative_to(ROOT)}:{imp.lineno} {name}")
    return unused


def test_every_import_has_a_use():
    files = [p for d in IMPORTS_SCANNED for p in sorted(d.rglob("*.py"))]
    assert files, "scan found no files"
    unused = [u for path in files for u in _unused_imports(path)]
    assert not unused, "imports with no use:\n" + "\n".join(unused)
