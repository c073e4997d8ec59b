"""Every top-level function and class under ``nutch_spark/`` is referenced
somewhere outside its own definition.

A reference is any whole-word occurrence of the name — a call, an import,
a registry entry, a string — in a ``.py`` file under ``nutch_spark/``,
``tests/``, ``tools/``, ``perfbench/`` or the repo root. Tests count as
callers, so public API that only tests reach passes. No Spark.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_WORD = re.compile(r"\w+")


def _sources() -> dict[Path, str]:
    files = list(ROOT.glob("*.py"))
    for d in ("nutch_spark", "tests", "tools", "perfbench"):
        files += (ROOT / d).rglob("*.py")
    return {
        p: p.read_text(encoding="utf-8") for p in files if "__pycache__" not in p.parts
    }


def test_every_top_level_definition_has_a_caller():
    sources = _sources()
    words = Counter()
    for text in sources.values():
        words.update(_WORD.findall(text))
    uncalled = []
    for path, text in sorted(sources.items()):
        if ROOT / "nutch_spark" not in path.parents:
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = _WORD.findall("\n".join(lines[first - 1 : node.end_lineno]))
            if words[node.name] == own.count(node.name):
                uncalled.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not uncalled, "\n".join(["no reference outside own definition:", *uncalled])
