"""Every module-level import in the package and in the tests is referenced
in its module, no two package functions share a body, and every
module-level package function is named somewhere outside its definition."""

from __future__ import annotations

import ast
import glob
import os
import re
from collections import Counter

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO_DIR, "earcrawler_spark")
TESTS_DIR = os.path.join(REPO_DIR, "tests")


def _unused_imports(source: str, filename: str) -> list[str]:
    """``"<line> <name>"`` for each name bound by a module-level import that
    no ``Name`` node of the module (nor its ``__all__``) refers to."""
    tree = ast.parse(source, filename)
    bound: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    bound[a.asname or a.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets):
            used |= {c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)}
    return [f"{line} {name}" for name, line in sorted(bound.items(), key=lambda kv: kv[1])
            if name not in used]


def test_guard_flags_unused_import():
    planted = (
        "from __future__ import annotations\n"
        "import os.path\n"
        "from pyspark.sql import DataFrame, Window as W\n"
        "from x import *\n"
        "from y import exported\n"
        "__all__ = ['exported']\n"
        "def f(df: DataFrame):\n"
        "    return os.sep\n"
    )
    assert _unused_imports(planted, "x.py") == ["3 W"]


def _unused_imports_in(paths: list[str]) -> list[str]:
    hits = []
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            hits += [f"{os.path.relpath(path, REPO_DIR)}:{h}" for h in _unused_imports(f.read(), path)]
    return hits


def test_no_unused_imports_in_package():
    assert _unused_imports_in(glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True)) == []


def test_no_unused_imports_in_tests():
    assert _unused_imports_in(glob.glob(os.path.join(TESTS_DIR, "*.py"))) == []


def _duplicate_bodies(sources: dict[str, str], min_len: int = 150) -> list[list[str]]:
    """Groups (``"<file>:<line> <name>"``) of functions whose bodies, with
    the docstring stripped, have the same ``ast.dump`` longer than
    ``min_len`` characters."""
    by_body: dict[str, list[str]] = {}
    for filename, source in sorted(sources.items()):
        for node in ast.walk(ast.parse(source, filename)):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = node.body
            if (body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                body = body[1:]
            dump = "".join(ast.dump(stmt) for stmt in body)
            if len(dump) > min_len:
                by_body.setdefault(dump, []).append(f"{filename}:{node.lineno} {node.name}")
    return sorted(sites for sites in by_body.values() if len(sites) > 1)


def test_guard_flags_duplicate_body():
    body = "    n = len(xs)\n    return [x * n + 1 for x in xs if x is not None]\n"
    planted = {
        "a.py": f"def f(xs):\n    \"\"\"One.\"\"\"\n{body}",
        "b.py": f"class C:\n    def g(self, xs):\n{body.replace('    ', '        ')}\n"
                "def short(xs):\n    return xs\n",
        "c.py": "def short2(xs):\n    return xs\n",
    }
    assert _duplicate_bodies(planted) == [["a.py:1 f", "b.py:2 g"]]


def test_no_duplicate_function_bodies_in_package():
    sources = {}
    for path in glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            sources[os.path.relpath(path, REPO_DIR)] = f.read()
    assert _duplicate_bodies(sources) == []


# where a package function may be referenced from
REFERENCE_GLOBS = [
    os.path.join(d, "**", "*.py") for d in (PKG_DIR, TESTS_DIR,
                                          os.path.join(REPO_DIR, "scripts"),
                                          os.path.join(REPO_DIR, "perfbench"))
] + [os.path.join(REPO_DIR, "bench.py")]


def _unreferenced_functions(package: dict[str, str], others: dict[str, str]) -> list[str]:
    """``"<file>:<line> <name>"`` for each module-level function of
    ``package`` whose name, as a word, occurs in no source of ``package``
    or ``others`` beyond its own definitions."""
    words = Counter(w for src in [*package.values(), *others.values()]
                    for w in re.findall(r"\w+", src))
    defs = [(filename, node.lineno, node.name)
            for filename, source in sorted(package.items())
            for node in ast.parse(source, filename).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))]
    n_defs = Counter(name for _, _, name in defs)
    return [f"{f}:{line} {name}" for f, line, name in defs if words[name] <= n_defs[name]]


def _reference_sources() -> tuple[dict[str, str], dict[str, str]]:
    package, others = {}, {}
    for pattern in REFERENCE_GLOBS:
        for path in glob.glob(pattern, recursive=True):
            with open(path, encoding="utf-8") as f:
                rel = os.path.relpath(path, REPO_DIR)
                (package if rel.startswith("earcrawler_spark") else others)[rel] = f.read()
    return package, others


def test_guard_flags_unreferenced_function():
    package, others = _reference_sources()
    name = "_".join(["q", "planted", "dead"])  # not a word of this file
    planted = dict(package)
    planted["earcrawler_spark/queries.py"] += f"\n\ndef {name}(spark, sf_dir):\n    return None\n"
    line = planted["earcrawler_spark/queries.py"].count("\n") - 1
    assert _unreferenced_functions(planted, others) == [f"earcrawler_spark/queries.py:{line} {name}"]
    # one mention anywhere (a registry entry, a test) is a reference
    others = {**others, "tests/t.py": f"QUERIES['x'] = {name}\n"}
    assert _unreferenced_functions(planted, others) == []


def test_no_unreferenced_package_functions():
    assert _unreferenced_functions(*_reference_sources()) == []
