"""Every import of the library in the repository resolves.

Parses each .py file (library, tests, scripts, bench drivers, perfbench)
and checks that each ``from pdftabextract_spark... import name`` — and
each relative import inside the package — names a module or an attribute
that exists, so deleting library code cannot strand a caller that no
tier-1 test runs."""

import ast
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pdftabextract_spark"


def _py_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _package_of(path):
    """Dotted package a file inside the library belongs to, else None."""
    rel = os.path.relpath(os.path.dirname(path), ROOT)
    parts = rel.split(os.sep)
    return ".".join(parts) if parts[0] == PKG else None


def _imports(path):
    """(module, name or None, line) for each library import in ``path``."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield a.name, None, node.lineno
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = _package_of(path)
                if pkg is None:
                    continue
                base = pkg.split(".")
                base = base[:len(base) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            elif (node.module or "").split(".")[0] == PKG:
                module = node.module
            else:
                continue
            for a in node.names:
                yield module, a.name, node.lineno


def _resolves(module, name):
    mod = importlib.import_module(module)
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:
        importlib.import_module(module + "." + name)
        return True
    except ModuleNotFoundError:
        return False


def test_every_library_import_resolves():
    checked, dangling = 0, []
    for path in _py_files():
        for module, name, line in _imports(path):
            checked += 1
            try:
                ok = _resolves(module, name)
            except ModuleNotFoundError:
                ok = False
            if not ok:
                dangling.append("%s:%d: from %s import %s" % (
                    os.path.relpath(path, ROOT), line, module, name))
    assert checked > 100
    assert not dangling, "\n".join(dangling)
