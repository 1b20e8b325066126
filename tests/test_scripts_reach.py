"""Every script in ``scripts/`` is reached, and every import of one resolves.

Pure ``ast``: nothing here imports a script or starts Spark.

(a) A script is reached when a ``run_gates.GATES`` command runs it, when
a reached script, a test, ``bench.py`` or ``perfbench/`` imports it
(function-local imports count), or when it is one of the standing tools
run by hand (``STANDING_TOOLS``). A probe nothing reaches is dead code.

(b) An import that names a scripts module — ``from scripts.X import Y``,
``from scripts import X``, or the sibling forms ``import X`` /
``from X import Y`` — must name something X defines at top level, and
``alias.attr`` on an imported script module must be such a name too.
Most script imports are function-local, so a helper that moves
otherwise breaks only when the gate that imports it runs.
"""
from __future__ import annotations

import ast
import functools
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
MODULES = {
    os.path.basename(p)[:-3] for p in glob.glob(os.path.join(SCRIPTS, "*.py"))
}
#: run by hand, never by a gate: per-commit A/B timing, plan dumps and
#: per-stage attribution
STANDING_TOOLS = {"ab_query", "plan_dump", "attribution_probe"}


def _tree(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _script(mod: str) -> str:
    return os.path.join(SCRIPTS, f"{mod}.py")


def _outside_importers() -> list[str]:
    return (glob.glob(os.path.join(REPO, "tests", "*.py"))
            + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
            + [os.path.join(REPO, "bench.py")])


def _gate_scripts() -> set[str]:
    for node in ast.walk(_tree(_script("run_gates"))):
        if (isinstance(node, ast.AnnAssign)
                and getattr(node.target, "id", None) == "GATES"):
            return {
                m.group(1)
                for c in ast.walk(node.value)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
                for m in [re.fullmatch(r"scripts/(\w+)\.py", c.value)] if m
            }
    raise AssertionError("run_gates.GATES not found")


def _script_imports(tree: ast.Module):
    """(module, imported name or None, local alias or None) for every
    import in ``tree`` that names a scripts module."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("scripts."):
                    yield a.name[len("scripts."):], None, a.asname
                elif a.name in MODULES:
                    yield a.name, None, a.asname or a.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module == "scripts":
                for a in node.names:
                    yield a.name, None, a.asname or a.name
            elif node.module and node.module.startswith("scripts."):
                for a in node.names:
                    yield node.module[len("scripts."):], a.name, None
            elif node.module in MODULES:
                for a in node.names:
                    yield node.module, a.name, None


class _TopLevel(ast.NodeVisitor):
    """Names a module binds at top level (inside top-level if/try/with
    blocks too, never inside a function or class body)."""

    def __init__(self) -> None:
        self.names: set[str] = set()

    def visit_FunctionDef(self, node) -> None:
        self.names.add(node.name)

    visit_AsyncFunctionDef = visit_ClassDef = visit_FunctionDef

    def visit_Lambda(self, node) -> None:
        pass

    def visit_Name(self, node: ast.Name) -> None:
        if isinstance(node.ctx, ast.Store):
            self.names.add(node.id)

    def visit_alias(self, node: ast.alias) -> None:
        self.names.add((node.asname or node.name).split(".")[0])


@functools.lru_cache(maxsize=None)
def _defined(mod: str) -> set[str]:
    tree = _tree(_script(mod))
    v = _TopLevel()
    v.visit(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Global):
            v.names.update(node.names)
    return v.names


def test_every_script_is_reached():
    reached = set(STANDING_TOOLS) | (_gate_scripts() & MODULES)
    for path in _outside_importers():
        reached |= {m for m, _, _ in _script_imports(_tree(path))}
    todo = list(reached & MODULES)
    while todo:
        for m, _, _ in _script_imports(_tree(_script(todo.pop()))):
            if m in MODULES and m not in reached:
                reached.add(m)
                todo.append(m)
    unreached = sorted(MODULES - reached)
    assert not unreached, (
        f"no gate, test, bench.py or perfbench/ reaches {unreached}: "
        "delete them (git history keeps them) or wire them into a gate"
    )


def test_script_imports_resolve():
    files = glob.glob(os.path.join(SCRIPTS, "*.py")) + _outside_importers()
    bad: list[str] = []
    for path in files:
        tree = _tree(path)
        rel = os.path.relpath(path, REPO)
        aliases: dict[str, str] = {}
        for mod, name, alias in _script_imports(tree):
            if mod not in MODULES:
                bad.append(f"{rel}: no scripts/{mod}.py")
            elif name is not None and name not in _defined(mod):
                bad.append(f"{rel}: scripts/{mod}.py defines no {name!r}")
            elif alias is not None:
                aliases[alias] = mod
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in aliases
                    and node.attr not in _defined(aliases[node.value.id])):
                bad.append(f"{rel}:{node.lineno}: scripts/"
                           f"{aliases[node.value.id]}.py defines no "
                           f"{node.attr!r}")
    assert not bad, "\n".join(bad)
