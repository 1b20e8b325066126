"""Lint: one spelling per expression family in operators/.

The SQL text is the only Spark-side body of an expression (textops.py's
SQL-text convention). Two spellings of one expression must be kept equal
by hand, and a hand-quoted name or literal is where escaping defects
live, so this fails by file and line when either grows back:

* a module defines both ``f`` and ``f_sql``;
* an f-string or ``str.format`` template puts a backtick or a quote
  right against a replacement field — quoting by hand instead of
  through ``textops.sql_ident`` / ``textops.sql_string``.
"""

from __future__ import annotations

import ast
import pathlib

OPERATORS = (
    pathlib.Path(__file__).resolve().parents[1]
    / "hive_plan_service_spark"
    / "operators"
)
_QUOTES = ("`", "'", '"')


def _trees():
    for path in sorted(OPERATORS.glob("*.py")):
        yield path.name, ast.parse(path.read_text())


def _hand_quoted(node: ast.AST) -> bool:
    if isinstance(node, ast.JoinedStr):
        parts = node.values
        for i, part in enumerate(parts):
            if not isinstance(part, ast.FormattedValue):
                continue
            before = parts[i - 1] if i else None
            after = parts[i + 1] if i + 1 < len(parts) else None
            if isinstance(before, ast.Constant) and before.value.endswith(
                _QUOTES
            ):
                return True
            if isinstance(after, ast.Constant) and after.value.startswith(
                _QUOTES
            ):
                return True
        return False
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "format"
        and isinstance(node.func.value, ast.Constant)
        and isinstance(node.func.value.value, str)
    ):
        template = node.func.value.value
        return any(
            f"{q}{{" in template or f"}}{q}" in template for q in _QUOTES
        )
    return False


def test_no_expression_family_has_two_spellings():
    twins = []
    for name, tree in _trees():
        defs = {
            n.name
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        twins += [f"{name}: {f} and {f}_sql" for f in defs if f"{f}_sql" in defs]
    assert not twins, twins


def test_names_and_literals_are_quoted_only_by_the_helper():
    spliced = [
        f"{name}:{node.lineno}: {ast.unparse(node)[:80]}"
        for name, tree in _trees()
        for node in ast.walk(tree)
        if _hand_quoted(node)
    ]
    assert not spliced, spliced
