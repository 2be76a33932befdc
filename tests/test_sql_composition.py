"""Oracle SQL is composed from named constants, never cut out of another
query's text with ``.split(`` / ``.rsplit(``.

A shared CTE prefix gets its own ``*_SQL`` / ``*_CTES`` constant (the
``_PASSAGES_CTES`` / ``CAPTION_SQL_CTES`` pattern); splitting a rendered
query silently breaks when its tail is reworded. This walks the package
AST, so the rule holds without a grep.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "azure_pdf_parser_spark"
SQL_SUFFIXES = ("_SQL", "_CTES", "_SQL_CTE")


def _name(node: ast.AST) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return ""


def _split_calls(node: ast.AST) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("split", "rsplit")
    ]


def _offenders(tree: ast.Module) -> list[tuple[int, str]]:
    found: dict[ast.Call, str] = {}
    # any split of a SQL-named value, wherever it happens
    for call in _split_calls(tree):
        if _name(call.func.value).endswith(SQL_SUFFIXES):
            found[call] = f"{_name(call.func.value)}.{call.func.attr}"
    # a module-level SQL name built by splitting, directly or inside a
    # module function its value calls
    funcs = {f.name: f for f in tree.body if isinstance(f, ast.FunctionDef)}
    for stmt in tree.body:
        if not isinstance(stmt, (ast.Assign, ast.AnnAssign)) or stmt.value is None:
            continue
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        names = [_name(t) for t in targets if _name(t).endswith(SQL_SUFFIXES)]
        if not names:
            continue
        called = [
            funcs[_name(c.func)]
            for c in ast.walk(stmt.value)
            if isinstance(c, ast.Call) and _name(c.func) in funcs
        ]
        for node in [stmt.value, *called]:
            for call in _split_calls(node):
                found.setdefault(call, f"{names[0]} built by .{call.func.attr}(")
    return sorted((call.lineno, msg) for call, msg in found.items())


def test_detector_flags_split_built_sql():
    src = (
        'A_SQL = "WITH x AS (SELECT 1) SELECT * FROM x"\n'
        'B_CTES = A_SQL.rsplit("SELECT *", 1)[0]\n'
        "def _c():\n"
        '    return "WITH " + "q AS (SELECT 2) SELECT 1".split(" SELECT 1")[0]\n'
        "C_SQL = _c()\n"
        'D_SQL = ",".join("a b".split())\n'
        'words = "a b".split()\n'
    )
    got = [msg for _, msg in _offenders(ast.parse(src))]
    assert got == [
        "A_SQL.rsplit",
        "C_SQL built by .split(",
        "D_SQL built by .split(",
    ], got


def test_no_sql_constant_is_built_by_splitting():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        offenders += [
            f"{path.relative_to(PACKAGE.parent)}:{line}: {msg}"
            for line, msg in _offenders(tree)
        ]
    assert not offenders, "\n".join(offenders)
