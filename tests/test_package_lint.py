"""Static check over the engine package: failures are loud. A bare
``except:``, or a handler that catches ``Exception``/``BaseException``
and does not re-raise, can swap in a different plan or a different
result without saying so; any such handler fails this test."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "multi_crm_cross_sell_spark",
)
_BROAD = {"Exception", "BaseException"}


def _catches_broad(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Name):
        return node.id in _BROAD
    if isinstance(node, ast.Attribute):
        return node.attr in _BROAD
    if isinstance(node, ast.Tuple):
        return any(_catches_broad(e) for e in node.elts)
    return False


def _reraises(handler: ast.ExceptHandler) -> bool:
    """A ``raise`` anywhere in the handler body, outside nested
    function and class definitions (those run later, if at all)."""
    todo = list(handler.body)
    while todo:
        node = todo.pop()
        if isinstance(node, ast.Raise):
            return True
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)
        ):
            continue
        todo.extend(ast.iter_child_nodes(node))
    return False


def silent_handlers(pkg_dir: str) -> list[str]:
    """``path:line`` of every bare or silent broad handler under
    ``pkg_dir``."""
    found = []
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.ExceptHandler):
                    continue
                if node.type is None or (
                    _catches_broad(node.type) and not _reraises(node)
                ):
                    rel = os.path.relpath(path, os.path.dirname(pkg_dir))
                    found.append((rel, node.lineno))
    return [f"{rel}:{line}" for rel, line in sorted(found)]


def test_package_has_no_silent_broad_handlers():
    assert silent_handlers(PKG) == []


def test_lint_flags_bare_and_silent_broad_handlers(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "try:\n    x = 1\nexcept:\n    pass\n"  # line 3: bare
        "try:\n    x = 1\nexcept (ValueError, Exception):\n    x = 2\n"  # 7
        "try:\n    x = 1\nexcept Exception:\n"  # 11: raise only in a def
        "    def f():\n        raise\n"
        "try:\n    x = 1\nexcept Exception as e:\n"  # re-raised: allowed
        "    raise RuntimeError('context') from e\n"
        "try:\n    x = 1\nexcept ValueError:\n    pass\n"  # narrow: allowed
    )
    assert silent_handlers(str(pkg)) == ["pkg/m.py:3", "pkg/m.py:7", "pkg/m.py:11"]
