"""Static checks over the engine package.

Failures are loud: a bare ``except:``, or a handler that catches
``Exception``/``BaseException`` and does not re-raise, can swap in a
different plan or a different result without saying so; any such
handler fails. Imports are used: a module-level import that neither
its module nor any ``from <module> import <name>`` in the package
references fails, unless it is listed in ``__all__`` or marked
``# noqa: F401``."""

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


def _module_name(pkg_dir: str, path: str) -> str:
    rel = os.path.relpath(path, os.path.dirname(pkg_dir))[: -len(".py")]
    parts = rel.split(os.sep)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _import_source(module: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    """Absolute dotted name of a ``from ... import`` statement's
    source module."""
    if not node.level:
        return node.module or ""
    base = module.split(".")
    if not is_pkg:
        base.pop()
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _top_level(tree: ast.Module):
    """Statements executed at import time: the module body and the
    bodies of its top-level ``if``/``try`` blocks."""
    todo = list(tree.body)
    while todo:
        node = todo.pop(0)
        yield node
        if isinstance(node, ast.If):
            todo.extend(node.body + node.orelse)
        elif isinstance(node, ast.Try):
            todo.extend(node.body + node.orelse + node.finalbody)
            for h in node.handlers:
                todo.extend(h.body)


def _dunder_all(tree: ast.Module) -> set[str]:
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
            and isinstance(node.value, (ast.List, ast.Tuple))
        ):
            return {
                e.value for e in node.value.elts if isinstance(e, ast.Constant)
            }
    return set()


def unused_imports(pkg_dir: str) -> list[str]:
    """``path:line name`` of every module-level import under
    ``pkg_dir`` that nothing in the package references."""
    modules = {}
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as f:
                    src = f.read()
                modules[_module_name(pkg_dir, path)] = (
                    path, fn == "__init__.py", src, ast.parse(src, filename=path)
                )
    # (module, name) pairs that some module imports by name
    imported_from = set()
    for module, (_path, is_pkg, _src, tree) in modules.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                source = _import_source(module, is_pkg, node)
                imported_from.update((source, a.name) for a in node.names)
    found = []
    for module, (path, is_pkg, src, tree) in modules.items():
        lines = src.splitlines()
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        used |= _dunder_all(tree)
        for node in _top_level(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name in used or (module, name) in imported_from:
                    continue
                if any(
                    "noqa: F401" in lines[ln - 1]
                    for ln in {node.lineno, alias.lineno}
                ):
                    continue
                rel = os.path.relpath(path, os.path.dirname(pkg_dir))
                found.append((rel, alias.lineno, name))
    return [f"{rel}:{line} {name}" for rel, line, name in sorted(found)]


def test_package_has_no_unused_imports():
    assert unused_imports(PKG) == []


def test_lint_flags_unused_imports(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "a.py").write_text(
        "from __future__ import annotations\n"
        "import os\n"  # line 2: unused
        "import os.path as osp\n"  # used below
        "from json import (\n"
        "    dumps,\n"  # line 5: unused
        "    loads,\n"  # re-exported: b.py imports it from here
        ")\n"
        "import sys  # noqa: F401\n"
        "import re\n"  # listed in __all__
        "__all__ = ['re']\n"
        "print(osp.sep)\n"
        "def f():\n"
        "    import math\n"  # function-level: not checked
    )
    (pkg / "sub" / "b.py").write_text("from ..a import loads\nloads('1')\n")
    assert unused_imports(str(pkg)) == ["pkg/a.py:2 os", "pkg/a.py:5 dumps"]
