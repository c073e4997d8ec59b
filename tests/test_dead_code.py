"""Every top-level function and class under ``nutch_spark/`` is referenced
somewhere outside its own definition, and no DataFrame window outside
``nutch_spark/topk.py`` inlines its own top-k-per-key filter.

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


# Functions whose DataFrame ``row_number()`` keeps the rank as a value (a
# flag, a spill bucket, an output column) instead of keeping the best k rows
# per key, which is ``topk.top_k_per_group``'s job.
_RANK_AS_VALUE = {
    ("nutch_spark/operators/generate.py", "generate"),  # segment spill
    ("nutch_spark/operators/dedup.py", "mark_duplicates"),
    ("nutch_spark/datapipe/dedup.py", "paragraph_dedup"),
    ("nutch_spark/datapipe/dedup.py", "exact_substring_spans"),
    ("nutch_spark/datapipe/dedup.py", "cluster_canonical"),
    ("nutch_spark/datapipe/similarity.py", "semantic_dedup"),
    ("nutch_spark/datapipe/retrieval.py", "bm25_topk"),
    ("nutch_spark/datapipe/prefix.py", "ranked_prefix_sum"),
    ("nutch_spark/plans/datapipe_queries.py", "dp_hybrid_rrf"),
}


def test_row_number_only_in_topk_or_rank_as_value_sites():
    """SQL strings do not count: the oracles are written in SQL."""
    inline = []
    for path, text in sorted(_sources().items()):
        rel = path.relative_to(ROOT).as_posix()
        if ROOT / "nutch_spark" not in path.parents or rel == "nutch_spark/topk.py":
            continue
        for top in ast.parse(text).body:
            for node in ast.walk(top):
                f = getattr(node, "func", None)
                name = getattr(f, "attr", getattr(f, "id", None))
                if name != "row_number":
                    continue
                owner = getattr(top, "name", "<module>")
                if (rel, owner) not in _RANK_AS_VALUE:
                    inline.append(f"{rel}:{node.lineno} {owner}")
    assert not inline, "\n".join(
        ["row_number() outside topk.top_k_per_group:", *inline]
    )
