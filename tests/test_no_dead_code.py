"""Regrowth guard: every top-level definition in the package has a user.

Each top-level ``def``, ``class`` and assignment target in
``tsprofiler_spark/`` must be named somewhere in the package, in ``tools/``,
in ``bench.py`` or in ``__spark_entry__.py``, outside the lines of its own
definition. A name listed in a module's ``__all__`` counts as referenced
(it is public API). Tests do not count: a definition only tests reach is
dead code with a test attached.
"""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCOPE = ("tsprofiler_spark", "tools", "bench.py", "__spark_entry__.py")
WORD = re.compile(r"[A-Za-z_]\w*")


def _sources():
    for entry in SCOPE:
        path = os.path.join(ROOT, entry)
        if os.path.isfile(path):
            yield path
            continue
        for dirpath, _, files in os.walk(path):
            for name in sorted(files):
                if name.endswith(".py"):
                    yield os.path.join(dirpath, name)


def _defined(node) -> list:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _exported(tree) -> set:
    return {
        e.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
        for e in node.value.elts
    }


def test_every_top_level_definition_is_referenced():
    texts = {}
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            texts[path] = fh.read()
    total = Counter(w for text in texts.values() for w in WORD.findall(text))

    pkg = os.path.join(ROOT, "tsprofiler_spark") + os.sep
    parsed = {p: ast.parse(t, filename=p) for p, t in texts.items() if p.startswith(pkg)}
    exported = set().union(*(_exported(tree) for tree in parsed.values()))

    unused = []
    for path, tree in parsed.items():
        lines = texts[path].splitlines()
        for node in tree.body:
            own = Counter(
                WORD.findall("\n".join(lines[node.lineno - 1 : node.end_lineno]))
            )
            for name in _defined(node):
                if name.startswith("__") or name in exported:
                    continue
                if total[name] <= own[name]:
                    unused.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {name}")
    assert not unused, "unreferenced top-level definitions:\n" + "\n".join(unused)
