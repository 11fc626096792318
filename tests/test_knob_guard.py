"""Every defaulted parameter of a top-level function in
``pipeline_etl_ecommerce_spark/`` is set by some call, or is listed in
``ALLOWED`` with a reason. A default that no call overrides is a constant
dressed up as an option: with one value in use, the value belongs in the
body.

Calls are counted in the package, the reachability guard's roots
(``scripts/``, ``bench.py``, ``__spark_entry__.py``, ``perfbench/``) and
``tests/``. A call sets a parameter by keyword or by position; ``**kw`` sets
every keyword and ``*args`` every position. A call that passes a function
on (``tracer.call(name, fn, *args, **kw)``, ``functools.partial(fn, ...)``)
calls it too: its keywords, and its positional arguments after the
function, count for that function. Callees match by name, as in the
reachability guard, and the functions in its ``KEPT`` are skipped.

An ``ALLOWED`` entry that some call sets, or that names no defaulted
parameter, fails too, so the list cannot go stale. ``ast`` only, no Spark."""

from __future__ import annotations

import ast
import functools
from collections import defaultdict

from tests.test_reachability_guard import KEPT, PKG, REPO, _root_files

ALLOWED: dict[tuple[str, str, str], str] = {}

PLANTED = "operators/planted.py"
PLANTED_SRC = "def knob(df, *, width=4, height=2):\n    return df\n"


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Attribute) and node.attr == "__wrapped__":
        return _callee(node.value)
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _settings(sources: list[str]) -> tuple[dict[str, set[str | None]], dict[str, float]]:
    """For each callee name: the keywords some call passes it (``None`` for
    a ``**`` splat), and the most positional arguments one call passes it
    (infinite for a ``*`` splat)."""
    keywords: dict[str, set[str | None]] = defaultdict(set)
    positions: dict[str, float] = defaultdict(int)
    for src in sources:
        for call in ast.walk(ast.parse(src)):
            if not isinstance(call, ast.Call):
                continue
            targets = [(_callee(call.func), call.args)]
            targets += [(_callee(a), call.args[i + 1:]) for i, a in enumerate(call.args) if _callee(a)]
            for name, args in targets:
                if name is None:
                    continue
                n = float("inf") if any(isinstance(a, ast.Starred) for a in args) else len(args)
                positions[name] = max(positions[name], n)
                keywords[name] |= {k.arg for k in call.keywords}
    return keywords, positions


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[tuple[int | None, str]]:
    """(position, or None when keyword-only; name) of each defaulted parameter."""
    a = fn.args
    positional = [*a.posonlyargs, *a.args]
    first = len(positional) - len(a.defaults)
    out: list[tuple[int | None, str]] = [(i, p.arg) for i, p in enumerate(positional) if i >= first]
    return out + [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _unset(package: dict[str, str], callers: list[str]) -> set[tuple[str, str, str]]:
    """The defaulted parameters of the top-level functions in ``package``
    (module path -> source) outside ``KEPT`` that no call in ``package`` or
    ``callers`` sets, as (module, function, parameter)."""
    keywords, positions = _settings([*package.values(), *callers])
    unset = set()
    for rel, src in package.items():
        for fn in ast.parse(src).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or (rel, fn.name) in KEPT:
                continue
            for pos, name in _defaulted(fn):
                set_by_name = name in keywords[fn.name] or None in keywords[fn.name]
                if not set_by_name and (pos is None or positions[fn.name] <= pos):
                    unset.add((rel, fn.name, name))
    return unset


def _violations(package, callers, allowed) -> tuple[list[tuple[str, str, str]], list[tuple[str, str, str]]]:
    """(unset parameters not in ``allowed``, ``allowed`` entries that are not unset)."""
    unset = _unset(package, callers)
    return sorted(unset - allowed.keys()), sorted(allowed.keys() - unset)


@functools.cache
def _package() -> dict[str, str]:
    return {p.relative_to(PKG).as_posix(): p.read_text() for p in sorted(PKG.rglob("*.py"))}


@functools.cache
def _callers() -> tuple[str, ...]:
    return tuple(p.read_text() for p in [*_root_files(), *sorted((REPO / "tests").rglob("*.py"))])


def test_every_default_is_set_by_a_call_or_allowed():
    unset, _ = _violations(_package(), list(_callers()), ALLOWED)
    assert not unset, f"no call sets these defaulted parameters; make each a constant or add to ALLOWED: {unset}"


def test_allowed_entries_are_unset_and_exist():
    _, stale = _violations(_package(), list(_callers()), ALLOWED)
    assert not stale, f"drop these from ALLOWED (some call sets them, or they are gone): {stale}"


def test_a_planted_default_that_no_call_sets_fails_the_guard():
    package = {**_package(), PLANTED: PLANTED_SRC}
    unset, _ = _violations(package, [*_callers(), "knob(df, height=3)"], ALLOWED)
    assert unset == [(PLANTED, "knob", "width")]
    for call in ("knob(df, width=8)", "knob(df, **opts)", "tracer.call('knob', knob, df, width=8)"):
        unset, _ = _violations(package, [*_callers(), "knob(df, height=3)", call], ALLOWED)
        assert unset == [], call


def test_a_planted_positional_default_is_set_by_position():
    package = {**_package(), PLANTED: "def knob(df, width=4):\n    return df\n"}
    assert _violations(package, [*_callers(), "knob(df)"], ALLOWED)[0] == [(PLANTED, "knob", "width")]
    for call in ("knob(df, 8)", "knob(*args)", "functools.partial(knob, df, 8)"):
        assert _violations(package, [*_callers(), call], ALLOWED)[0] == [], call


def test_a_stale_allowed_entry_fails_the_guard():
    package = {**_package(), PLANTED: PLANTED_SRC}
    callers = [*_callers(), "knob(df, width=8)"]
    allowed = {
        (PLANTED, "knob", "height"): "unset: a valid entry",
        (PLANTED, "knob", "width"): "a call sets it",
        (PLANTED, "knob", "depth"): "names no parameter",
    }
    unset, stale = _violations(package, callers, allowed)
    assert unset == []
    assert stale == [(PLANTED, "knob", "depth"), (PLANTED, "knob", "width")]
