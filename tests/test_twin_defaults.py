"""An operator ``X`` in ``nexus_forge_spark/operators/`` and its DuckDB twin
``sql_X`` in the same module must agree on every parameter both declare
with a default: a salt, scale, window or round budget that differs
between the twins makes the oracle grade another computation.  AST only,
no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

OPERATORS = Path(__file__).resolve().parents[1] / "nexus_forge_spark" / "operators"


def _defaults(fn: ast.FunctionDef) -> dict[str, str]:
    a = fn.args
    positional = a.posonlyargs + a.args
    pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    pairs += [(arg, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return {arg.arg: ast.dump(d) for arg, d in pairs}


def _twins():
    """(module, operator, twin) for each operator with a same-module twin."""
    for path in sorted(OPERATORS.glob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        fns = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
        for name, fn in fns.items():
            if f"sql_{name}" in fns:
                yield path.name, fn, fns[f"sql_{name}"]


def test_twins_share_their_defaults():
    twins = list(_twins())
    assert twins  # the scan found the operator/oracle pairs
    differ = [
        f"{mod}:{op.name}/{twin.name}({param})"
        for mod, op, twin in twins
        for param, default in _defaults(op).items()
        if _defaults(twin).get(param, default) != default
    ]
    assert not differ, (
        "an operator and its sql_ twin default a shared parameter to different "
        f"values; read one module constant in both: {differ}"
    )
