"""Registry integrity after the family split (round-3 VERDICT ask #8):
same query names, both import paths serve the SAME function objects, no
rename (the driver keys on names)."""

from __future__ import annotations

import builtins
import dis
import types


def _code_objects(code: types.CodeType):
    """``code`` and every code object nested in it (closures, lambdas,
    comprehensions)."""
    yield code
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            yield from _code_objects(c)


def test_registry_names_and_both_import_paths():
    from nexus_forge_spark.plans import driver_queries as dq
    from nexus_forge_spark.plans import (
        _qshared,
        queries_dedup,
        queries_er,
        queries_events,
        queries_graph,
        queries_kg,
        queries_misc,
        queries_text,
    )

    mods = [
        queries_kg, queries_er, queries_dedup, queries_events,
        queries_graph, queries_text, queries_misc,
    ]
    assert len(dq.QUERIES) >= 282
    # every registry entry resolves to the same object via its family
    # module and the aggregator
    for name, (qf, sqlf) in dq.QUERIES.items():
        owner = [m for m in mods if qf.__name__ in vars(m)]
        assert owner, f"{name}: q fn not found in any family module"
        assert getattr(dq, qf.__name__) is qf
        if sqlf is not None:
            assert getattr(dq, sqlf.__name__) is sqlf
    # every global a family (or _qshared) function reads resolves in its
    # own module or in builtins: cross-family queries are imported by name
    for m in mods + [_qshared]:
        unresolved = {
            (fn.__name__, ins.argval)
            for fn in vars(m).values()
            if isinstance(fn, types.FunctionType) and fn.__module__ == m.__name__
            for co in _code_objects(fn.__code__)
            for ins in dis.get_instructions(co)
            if ins.opname == "LOAD_GLOBAL"
            and ins.argval not in vars(m)
            and not hasattr(builtins, ins.argval)
        }
        assert not unresolved, f"{m.__name__}: {sorted(unresolved)}"


def test_shared_helpers_reexported_from_aggregator():
    # tests and tools import helpers through the original module path
    from nexus_forge_spark.plans.driver_queries import (  # noqa: F401
        _bl_case,
        _docs_with_mutants,
        _lnq,
        _lnq30_unrolled_ctes,
        _q30_div_portable,
        load_table,
    )


def test_every_oracle_renders():
    from nexus_forge_spark.plans import driver_queries as dq

    n = 0
    for name, (_qf, sqlf) in dq.QUERIES.items():
        if sqlf is None:
            continue
        s = sqlf()
        assert isinstance(s, str) and len(s) > 40, name
        n += 1
    assert n >= 276
