"""No module under the package imports a name it never uses (a static
check, no Spark). A dead import hides which call sites a change has to
cover; `__init__.py` re-exports and names a module lists in `__all__`
are exempt."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "event_store_spark"


def _unused_imports(tree: ast.Module) -> list[tuple[int, str]]:
    imported = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                if alias.name != "*":
                    name = alias.asname or alias.name.split(".")[0]
                    imported[name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    exported = {
        elt.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "__all__" for t in node.targets)
        for elt in node.value.elts
    }
    return sorted(
        (line, name)
        for name, line in imported.items()
        if name not in used and name not in exported
    )


def test_unused_import_is_detected():
    tree = ast.parse(
        "import json\nimport os\nfrom x import a, b as c\n"
        "__all__ = ['a']\nos.getcwd()\n"
    )
    assert _unused_imports(tree) == [(1, "json"), (3, "c")]


def test_no_module_imports_an_unused_name():
    unused = [
        (path.relative_to(PKG).as_posix(), line, name)
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "__init__.py"
        for line, name in _unused_imports(ast.parse(path.read_text()))
    ]
    assert not unused, unused
