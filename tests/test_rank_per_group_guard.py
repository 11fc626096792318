"""Every per-group rank in ``operators/`` and ``plans/`` is made by
``operators/ranking.py`` (``rank_per_group`` and the helpers built on it).

A ``row_number`` call anywhere else fails this test unless its function is
listed in ``NOT_RANK_SELECTION`` with the reason it does not select rows by
rank. A listed function that no longer calls ``row_number`` fails too, so
the list cannot go stale."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pipeline_etl_ecommerce_spark"

NOT_RANK_SELECTION = {
    ("operators/dedupe.py", "exact_span_pairs"): "run id = pos - row_number, no rank filter",
    ("operators/dedupe.py", "remove_duplicate_spans"): "run id = pos - row_number, no rank filter",
    ("operators/dedupe.py", "remove_intra_duplicate_spans"): "run id = pos - row_number, no rank filter",
    ("operators/scd.py", "scd2_from_log"): "first-row flag inside the change-run sum",
    ("operators/clustering.py", "_init_centroids"): "dense 0-based id over k rows already limited",
    ("operators/textstats.py", "vocab_top_terms"): "rank of the k rows a global limit already kept",
}


def _row_number_callers() -> set[tuple[str, str]]:
    found = set()
    for path in sorted([*PKG.glob("operators/*.py"), *PKG.glob("plans/*.py")]):
        rel = path.relative_to(PKG).as_posix()
        if rel == "operators/ranking.py":
            continue

        def visit(node: ast.AST, fn: str) -> None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == "row_number":
                    found.add((rel, fn))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(ast.parse(path.read_text()), "<module>")
    return found


def test_row_number_only_in_ranking_or_listed():
    stray = _row_number_callers() - NOT_RANK_SELECTION.keys()
    assert not stray, f"per-group rank built outside ranking.rank_per_group: {sorted(stray)}"


def test_listed_functions_still_call_row_number():
    stale = NOT_RANK_SELECTION.keys() - _row_number_callers()
    assert not stale, f"drop these from NOT_RANK_SELECTION: {sorted(stale)}"
