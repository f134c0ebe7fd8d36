"""Dead-definition guard for the engine package (no Spark).

Every top-level ``def``/``class`` in ``biokg_spark/`` must be referred to
somewhere: by name in another ``.py`` file of the repository, or in its
own module outside its own body. A definition nothing names is code no
caller, test or registry query runs.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "biokg_spark")


def _py_files(root: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def _unreferenced_defs() -> list[str]:
    sources = {}
    for path in _py_files(REPO):
        with open(path, encoding="utf-8") as fh:
            sources[path] = fh.read()
    dead = []
    for path, src in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            # decorators sit outside the body: a registry decorator that
            # names the query is a reference
            outside = "\n".join(lines[: node.lineno - 1] + lines[node.end_lineno :])
            if word.search(outside):
                continue
            if any(word.search(s) for p, s in sources.items() if p != path):
                continue
            dead.append(f"{os.path.relpath(path, REPO)}::{node.name}")
    return sorted(dead)


def test_no_unreferenced_top_level_defs():
    assert _unreferenced_defs() == []
