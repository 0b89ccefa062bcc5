"""Every import of a package name resolves, lazy ones included.

Scripts, benchmarks, tests and several operators import package names
inside functions, so importing the module that holds such an import does
not check it: a name deleted from the package would surface only when
that function runs. This walks the AST of those files instead and
resolves each `from apm_opentelemetry_collector_spark... import name` and
each `import apm_opentelemetry_collector_spark...` wherever it sits.
The same walk also finds top-level definitions and constants that
nothing references, which a retired slice can leave behind. Imports the
modules, starts no Spark session.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

PKG = "apm_opentelemetry_collector_spark"
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files() -> list[str]:
    pats = (
        "__spark_entry__.py", "bench.py", "scripts/*.py",
        "perfbench/*.py", "tests/*.py", f"{PKG}/**/*.py",
    )
    out = []
    for pat in pats:
        out += glob.glob(os.path.join(_ROOT, pat), recursive=True)
    return sorted(out)


def _package_of(path: str) -> str | None:
    """Dotted package that holds `path`, for resolving relative imports."""
    rel = os.path.relpath(os.path.dirname(path), _ROOT)
    return rel.replace(os.sep, ".") if rel.split(os.sep)[0] == PKG else None


def _imports(path: str):
    """(line, module, names) for every package import in the file."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                pkg = _package_of(path)
                assert pkg, f"{path}:{node.lineno}: relative import outside {PKG}"
                mod = importlib.util.resolve_name("." * node.level + mod, pkg)
            if mod.split(".")[0] == PKG:
                yield node.lineno, mod, [a.name for a in node.names]


def test_every_package_import_resolves():
    files = _files()
    assert any(f.endswith("__spark_entry__.py") for f in files)
    broken, checked = [], 0
    for path in files:
        where = os.path.relpath(path, _ROOT)
        for line, mod, names in _imports(path):
            checked += 1
            try:
                m = importlib.import_module(mod)
            except ImportError as e:
                broken.append(f"{where}:{line}: {mod} ({e})")
                continue
            for name in names:
                if name == "*" or hasattr(m, name):
                    continue
                # a submodule not imported yet is only found on a package
                if not (
                    hasattr(m, "__path__")
                    and importlib.util.find_spec(f"{mod}.{name}")
                ):
                    broken.append(f"{where}:{line}: {mod} has no {name}")
    assert checked > 100, checked
    assert not broken, "\n".join(broken)


def _refs(tree: ast.AST):
    """(name, line) for every name the tree reads, attributes and
    imported names included; assignment targets are not reads."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            yield node.name.split(".")[-1], node.lineno


def _top_level_names(path: str, tree: ast.Module):
    """(name, first line, last line) of each top-level def, class and
    assigned constant. Dunders are exempt, and so are config.py's
    constants, which document the reference's defaults."""
    constants = not path.endswith(os.path.join(PKG, "config.py"))
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno
        elif constants and isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node.lineno, node.end_lineno


def test_every_top_level_definition_is_referenced():
    """No dead definitions: every top-level def, class and constant of
    the package and of __spark_entry__.py is referenced by name
    somewhere in the walked files, outside its own body (a recursive
    call does not count)."""
    files = _files()
    trees = {p: ast.parse(open(p, encoding="utf-8").read(), p) for p in files}
    refs: dict[str, list[tuple[str, int]]] = {}
    for path, tree in trees.items():
        for name, line in _refs(tree):
            refs.setdefault(name, []).append((path, line))
    orphans = []
    for path, tree in trees.items():
        if _package_of(path) is None and not path.endswith("__spark_entry__.py"):
            continue
        for name, first, last in _top_level_names(path, tree):
            if not any(
                p != path or not first <= line <= last
                for p, line in refs.get(name, ())
            ):
                orphans.append(f"{os.path.relpath(path, _ROOT)}:{first}: {name}")
    assert not orphans, "unreferenced definitions:\n" + "\n".join(orphans)
