"""The package reads its process environment in one place, `session.py`,
which turns it into session settings; `plans/llm.py` keeps one guard
ceiling, ``SPARK_GRAFT_SIMHASH_MAX_BUCKET``. Any other read is a knob
that no signature or document shows, so a new one fails here. A static
check: no Spark.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "event_store_spark"

#: module → the variables it may read (None: any)
_READERS = {
    "session.py": None,
    "plans/llm.py": {"SPARK_GRAFT_SIMHASH_MAX_BUCKET"},
}
_ENV = {"environ", "environb", "getenv", "getenvb", "putenv", "unsetenv"}


def _const(node) -> str | None:
    return node.value if isinstance(node, ast.Constant) else None


def _env_reads(tree) -> list[tuple[int, str | None]]:
    """(line, variable or None if it is not a literal) of every use of
    the process environment in ``tree``."""
    parents = {
        child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
    }
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            found += [(node.lineno, None) for a in node.names if a.name in _ENV]
        if not (isinstance(node, ast.Attribute) and node.attr in _ENV):
            continue
        up, name = parents.get(node), None
        if isinstance(up, ast.Call) and up.args:  # os.getenv("X")
            name = _const(up.args[0])
        elif isinstance(up, ast.Subscript):  # os.environ["X"]
            name = _const(up.slice)
        elif isinstance(up, ast.Attribute) and up.attr == "get":
            call = parents.get(up)  # os.environ.get("X")
            if isinstance(call, ast.Call) and call.args:
                name = _const(call.args[0])
        found.append((node.lineno, name))
    return found


def test_only_the_session_reads_the_environment():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        allowed = _READERS.get(rel, set())
        for line, name in _env_reads(ast.parse(path.read_text())):
            if allowed is not None and name not in allowed:
                bad.append((rel, line, name))
    assert not bad, bad


def test_the_check_sees_each_form_of_read():
    src = (
        "import os\nfrom os import environ\n"
        "a = os.environ['A']\nb = os.environ.get('B')\nc = os.getenv('C')\n"
        "d = dict(os.environ)\n"
    )
    assert sorted(_env_reads(ast.parse(src))) == [
        (2, None), (3, "A"), (4, "B"), (5, "C"), (6, None)
    ]
