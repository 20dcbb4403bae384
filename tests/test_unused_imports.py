"""No module in the package, ``jobs/``, ``scripts/``, ``__spark_entry__.py``
or ``bench.py`` keeps a module-level import it never uses.  Plain AST scan,
no linter dependency; ``__init__.py`` files are skipped because their
imports are re-exports."""

from __future__ import annotations

import ast
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _modules() -> list[str]:
    out = ["__spark_entry__.py", "bench.py"]
    for top in ("featureextraction_jl_spark", "jobs", "scripts"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            out += [os.path.relpath(os.path.join(root, f), REPO)
                    for f in files
                    if f.endswith(".py") and f != "__init__.py"]
    return sorted(out)


def _module_imports(body: list[ast.stmt]):
    """(bound name, line) of every import outside functions and classes."""
    for node in body:
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.asname or a.name.split(".")[0], node.lineno
        elif isinstance(node, ast.ImportFrom):
            if node.module == "__future__":
                continue
            for a in node.names:
                if a.name != "*":
                    yield a.asname or a.name, node.lineno
        elif isinstance(node, (ast.If, ast.Try)):
            for block in (node.body, node.orelse,
                          getattr(node, "finalbody", []),
                          *[h.body for h in getattr(node, "handlers", [])]):
                yield from _module_imports(block)


def _annotation_names(tree: ast.Module):
    """Names inside string annotations (``-> "PCAModel"``)."""
    anns = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            anns.append(node.returns)
            a = node.args
            anns += [x.annotation for x in
                     (*a.posonlyargs, *a.args, *a.kwonlyargs,
                      a.vararg, a.kwarg) if x is not None]
        elif isinstance(node, ast.AnnAssign):
            anns.append(node.annotation)
    for ann in filter(None, anns):
        for sub in ast.walk(ann):
            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                try:
                    expr = ast.parse(sub.value, mode="eval")
                except SyntaxError:
                    continue
                yield from (n.id for n in ast.walk(expr)
                            if isinstance(n, ast.Name))


def _used_names(tree: ast.Module) -> set[str]:
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    used |= set(_annotation_names(tree))
    for node in tree.body:     # names listed in __all__ are exported
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)
                and isinstance(node.value, (ast.List, ast.Tuple))):
            used |= {e.value for e in node.value.elts
                     if isinstance(e, ast.Constant)}
    return used


@pytest.mark.parametrize("path", _modules())
def test_no_unused_module_imports(path):
    with open(os.path.join(REPO, path)) as f:
        tree = ast.parse(f.read(), path)
    used = _used_names(tree)
    unused = [f"{name} (line {line})"
              for name, line in _module_imports(tree.body)
              if name not in used]
    assert not unused, f"{path}: unused imports {unused}"
