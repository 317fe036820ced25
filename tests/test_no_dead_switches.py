"""Guard against dead switches: every ``True``/``False``-defaulted parameter
of a function in ``nexus_forge_spark/`` must be passed by some caller
outside ``tests/`` (the package itself, ``tools/``, ``perfbench/``,
``bench.py``, ``__spark_entry__.py``).  A flag nothing sets keeps a second
plan that runs nowhere; delete it and keep the branch every caller gets.

In the modules of ``EVERY_DEFAULT`` the same holds for every defaulted
parameter: a column name, salt, scale or window no caller sets is a
layout or constant, not a knob.  Each operator family joins the set once
its never-set parameters are gone.

The scan is by name, so it errs towards "passed": any call whose callee is
named like the function counts, as does a ``*args``/``**kwargs`` splat.
A parameter that mirrors the reference API keeps its switch through
``ALLOWED``, with the reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "nexus_forge_spark"
CALLER_ROOTS = [PACKAGE, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py"]
# modules (relative to the package) where every defaulted parameter is guarded
EVERY_DEFAULT = {"operators/graph.py", "operators/events.py"}

# (module path relative to the package, function, parameter) -> reason
ALLOWED = {
    ("forge.py", "sparql", "rewrite"): (
        "public facade verb: a query already in store terms skips the context rewrite"
    ),
    ("operators/resolve.py", "build_alias_table", "include_deprecated"): (
        "mirrors the reference resolver's deprecated-term filter (archetypes/resolver.py:213)"
    ),
    ("operators/kge.py", "negative_samples", "filtered"): (
        "public KGE operator: filtered or raw negatives is the evaluation setting a caller picks"
    ),
    ("functions/uri.py", "rewrite_uri", "is_file"): (
        "mirrors the reference's rewrite_uri_static(is_file): files or resources address (S18)"
    ),
    ("operators/graph.py", "coreness", "rounds"): (
        "round budget: tests set it below the fixpoint round to exercise the raise"
    ),
}


def _py_files(root: Path):
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _defaulted_params(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(name, positional index or None, is a bool default) for each
    defaulted parameter; the index skips a leading ``self``/``cls``."""
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if positional and positional[0].arg in ("self", "cls") else 0
    first_default = len(positional) - len(a.defaults)
    is_bool = lambda d: isinstance(d, ast.Constant) and isinstance(d.value, bool)  # noqa: E731
    for i, (arg, default) in enumerate(zip(positional[first_default:], a.defaults)):
        yield arg.arg, first_default + i - skip, is_bool(default)
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None, is_bool(default)


def _guarded():
    """(module, function, parameter, callee name, positional index, is a
    bool default) for each guarded parameter: bool-defaulted ones
    anywhere, every defaulted one in ``EVERY_DEFAULT``; a constructor's
    callee is its class."""
    for path in _py_files(PACKAGE):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        rel = path.relative_to(PACKAGE).as_posix()
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                fns = [(f, "__init__", node.name) for f in node.body
                       if isinstance(f, ast.FunctionDef) and f.name == "__init__"]
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fns = [] if node.name == "__init__" else [(node, node.name, node.name)]
            else:
                continue
            for fn, name, callee in fns:
                for param, pos, is_bool in _defaulted_params(fn):
                    if is_bool or rel in EVERY_DEFAULT:
                        yield rel, name, param, callee, pos, is_bool


def _declared():
    """(module, function, parameter, callee name, positional index) for
    each guarded parameter."""
    for mod, fn, param, callee, pos, _ in _guarded():
        yield mod, fn, param, callee, pos


def _calls():
    """callee name -> list of (keyword names, positional count, has *args,
    has **kwargs)."""
    calls: dict[str, list[tuple[set, int, bool, bool]]] = {}
    for root in CALLER_ROOTS:
        for path in _py_files(root):
            for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name is None:
                    continue
                star = any(isinstance(x, ast.Starred) for x in node.args)
                dstar = any(k.arg is None for k in node.keywords)
                calls.setdefault(name, []).append(
                    ({k.arg for k in node.keywords}, len(node.args), star, dstar)
                )
    return calls


def _passed(calls, name, param, pos) -> bool:
    return any(
        param in keywords or dstar or (pos is not None and (n_pos > pos or star))
        for keywords, n_pos, star, dstar in calls.get(name, ())
    )


def _dead(keep) -> list[str]:
    """The guarded parameters ``keep(module, is_bool)`` selects that no
    caller outside tests/ passes and ``ALLOWED`` does not name."""
    calls = _calls()
    return [
        f"{mod}:{fn}({param})"
        for mod, fn, param, callee, pos, is_bool in _guarded()
        if keep(mod, is_bool)
        and (mod, fn, param) not in ALLOWED
        and not _passed(calls, callee, param, pos)
    ]


def test_every_bool_switch_has_a_caller():
    dead = _dead(lambda mod, is_bool: is_bool)
    assert not dead, (
        "bool parameters no caller outside tests/ passes; delete the switch "
        f"and keep the default branch, or allow-list it with a reason: {dead}"
    )


def test_every_default_in_layout_modules_has_a_caller():
    dead = _dead(lambda mod, is_bool: mod in EVERY_DEFAULT)
    assert not dead, (
        "defaulted parameters no caller outside tests/ passes; make a column "
        "name a literal of the module's layout and a shared value a module "
        f"constant, or allow-list a tested round budget with a reason: {dead}"
    )


def test_allow_list_names_live_parameters():
    declared = {(mod, fn, param) for mod, fn, param, _, _ in _declared()}
    assert set(ALLOWED) <= declared, set(ALLOWED) - declared
