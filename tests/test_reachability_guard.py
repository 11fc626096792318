"""Every top-level ``def``/``class`` in ``pipeline_etl_ecommerce_spark/`` is
reached from something that runs, or is listed in ``KEPT`` with a reason.

The roots are what the engine really runs: ``scripts/``, ``bench.py``,
``__spark_entry__.py``, ``perfbench/`` (outside its tests), and every
package module's top-level code (imports, constants, the ``@register``
catalog rows and their decorators) except a package ``__init__.py``'s: its
``from .x import y`` and ``__all__`` only name what the package offers, so
a function whose one mention is its own re-export is not reached by it.
From the roots the test follows every
``Name``, ``Attribute``, import alias and identifier-shaped string constant
to a fixpoint: a top-level definition whose name was met is reached, and
its whole body (decorators, defaults, methods) is followed in turn. Tests
are not roots, so code that only tests call counts as unreached.

A ``KEPT`` entry that is reached, or names nothing that exists, fails too,
so the list cannot go stale. ``ast`` only, no Spark."""

from __future__ import annotations

import ast
import functools
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "pipeline_etl_ecommerce_spark"
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

_SCRIPT = "reproduces one of the reference's cron scripts; no workload runs it yet"
_WORKER = "the reference's queue worker as a stream; no workload runs it yet"
_JDBC = "the reference's MySQL ON DUPLICATE KEY UPDATE, as statements for a JDBC target"
_AUTH = "the reference's OAuth token refresh for its REST pulls"
KEPT = {
    ("plans/queues.py", "enqueue_stock"): _SCRIPT,
    ("plans/queues.py", "enqueue_traffic"): _SCRIPT,
    ("plans/queues.py", "mark_done"): _SCRIPT,
    ("plans/queues.py", "reclaim_stale"): _SCRIPT,
    ("plans/position.py", "capture_positions"): _SCRIPT,
    ("plans/trends.py", "capture_trends"): _SCRIPT,
    ("plans/finance_logs.py", "import_despesas"): _SCRIPT,
    ("plans/finance_logs.py", "import_recebiveis"): _SCRIPT,
    ("plans/inventory.py", "resolve_inventory_ids"): _SCRIPT,
    ("plans/inventory.py", "process_stock_tasks"): _SCRIPT,
    ("plans/catalog.py", "process_catalog_tasks"): _SCRIPT,
    ("sources/auth.py", "TokenExpired"): _AUTH,
    ("sources/auth.py", "TokenProvider"): _AUTH,
    ("sources/auth.py", "bearer_fetch"): _AUTH,
    ("sources/auth.py", "with_auth_retry"): _AUTH,
    ("streaming/pipelines.py", "catalog_stream"): _WORKER,
    ("streaming/pipelines.py", "corpus_pipeline_stream"): _WORKER,
    ("streaming/pipelines.py", "document_ingest_stream"): _WORKER,
    ("streaming/pipelines.py", "inventory_stream"): _WORKER,
    ("streaming/pipelines.py", "scd2_maintenance_stream"): _WORKER,
    ("streaming/pipelines.py", "traffic_stream"): _WORKER,
    ("streaming/pipelines.py", "training_sequence_stream"): _WORKER,
    ("sources/jdbc_merge.py", "merge_statement"): _JDBC,
    ("sources/jdbc_merge.py", "merge_statements_null_safe"): _JDBC,
    ("sources/jdbc_merge.py", "truncate_statement"): _JDBC,
    ("operators/similarity.py", "ivf_knn_normed"): "test oracle: the JVM fold ivf_knn_arrow must match bit for bit",
    ("operators/jpegcodec.py", "_fdct"): "test oracle: the scalar DCT _fdct_batch must match bit for bit",
    ("operators/jpegcodec.py", "_idct"): "test oracle: the scalar inverse DCT _idct_batch must match bit for bit",
    ("operators/jpegcodec.py", "_round_half_away"): "test oracle: the scalar rounding _rha_np must match",
    ("sources/sinks.py", "merge_upsert"): "test oracle: the JDBC MERGE's end state must equal it",
    ("sources/sinks.py", "writer_lock"): "safety: excludes a second writer of one mart path",
    ("sources/sinks.py", "WriterLockHeld"): "safety: raised by writer_lock(blocking=False)",
    ("streaming/runner.py", "idempotent_foreach_batch"): "safety: exactly-once wrapper for a run_batches sink",
}


def _root_files() -> list[pathlib.Path]:
    perfbench = [p for p in (REPO / "perfbench").rglob("*.py") if "tests" not in p.relative_to(REPO).parts]
    return [*sorted((REPO / "scripts").glob("*.py")), REPO / "bench.py", REPO / "__spark_entry__.py", *sorted(perfbench)]


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and IDENT.match(n.value):
            out.add(n.value)
    return out


def _definitions() -> tuple[dict[tuple[str, str], ast.AST], set[str]]:
    """Every top-level definition as (module path, name) -> node, and the
    names the roots use."""
    seen: set[str] = set()
    defs: dict[tuple[str, str], ast.AST] = {}
    for path in _root_files():
        seen |= _names(ast.parse(path.read_text()))
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(rel, stmt.name)] = stmt
                decorators = set().union(*map(_names, stmt.decorator_list))
                seen |= decorators
                if "register" in decorators:  # a catalog row: the catalog runs it
                    seen.add(stmt.name)
            elif path.name != "__init__.py":
                seen |= _names(stmt)
    return defs, seen


def _reach(defs: dict[tuple[str, str], ast.AST], seen: set[str]) -> set[tuple[str, str]]:
    seen, reached = set(seen), set()
    while new := {key for key in defs.keys() - reached if key[1] in seen}:
        reached |= new
        for key in new:
            seen |= _names(defs[key])
    return reached


@functools.cache
def _scan() -> tuple[set[tuple[str, str]], set[tuple[str, str]], set[tuple[str, str]]]:
    """(every definition, those reached from the roots, those reached from
    the roots or from ``KEPT``). A helper that only kept code calls needs
    no entry of its own, and goes dead with the entry that kept it."""
    defs, seen = _definitions()
    kept_names = {name for (_, name) in KEPT.keys() & defs.keys()}
    return set(defs), _reach(defs, seen), _reach(defs, seen | kept_names)


def test_every_definition_is_reached_or_kept():
    defs, _, reached = _scan()
    dead = sorted(defs - reached - KEPT.keys())
    assert not dead, f"unreached from scripts/, bench.py, perfbench/ or the catalog; delete or add to KEPT: {dead}"


def test_kept_entries_are_unreached_and_exist():
    defs, reached, _ = _scan()
    stale = sorted(KEPT.keys() - (defs - reached))
    assert not stale, f"drop these from KEPT (reached, or gone): {stale}"
