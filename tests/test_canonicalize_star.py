"""Differential tests: alternating large-star/small-star connected
components vs min-label propagation (the O(diameter) oracle)."""

from __future__ import annotations

import random

import pytest

from nexus_forge_spark.operators import canonicalize as CC


def _labels(df):
    return {(r.entity_id, r.canonical_id) for r in df.collect()}


def _check(spark, edges_py, nodes_py):
    e = spark.createDataFrame(edges_py, "a string, b string")
    n = spark.createDataFrame([(x,) for x in nodes_py], "entity_id string")
    star = _labels(CC.connected_components(e, n))
    prop = _labels(CC.connected_components_propagation(e, n, max_iter=300))
    assert star == prop


@pytest.mark.parametrize("seed", [7, 11, 13])
def test_star_matches_propagation_random(spark, seed):
    rnd = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(150)]
    _check(spark, edges, nodes)


def test_star_handles_long_path(spark):
    # diameter 199: propagation needs ~200 rounds, star converges in O(log n)
    nodes = [f"p{i:03d}" for i in range(200)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(199)]
    _check(spark, edges, nodes)


def test_star_self_loops_and_isolated(spark):
    _check(spark, [("x", "x"), ("y", "z")], ["x", "y", "z", "w"])


def test_incremental_merges_two_components(spark):
    from nexus_forge_spark.operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    base = spark.createDataFrame([(2, 1), (3, 2), (10, 11), (11, 12)], "a long, b long")
    mapping0 = connected_components(base)
    # bridge the two components + attach a brand-new node 99-12
    delta = spark.createDataFrame([(3, 10), (99, 12)], "a long, b long")
    got = {
        (r["entity_id"], r["canonical_id"])
        for r in incremental_components(mapping0, delta).collect()
    }
    full = {
        (r["entity_id"], r["canonical_id"])
        for r in connected_components(base.unionByName(delta)).collect()
    }
    assert got == full
    assert {c for _, c in got} == {1}  # everything collapsed to min id 1


def test_incremental_leaves_untouched_components_alone(spark):
    from pyspark.sql import functions as F
    from nexus_forge_spark.operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    base = spark.createDataFrame(
        [(2, 1), (20, 21), (30, 31)], "a long, b long"
    )
    mapping0 = connected_components(base)
    delta = spark.createDataFrame([(21, 22)], "a long, b long")
    out = incremental_components(mapping0, delta)
    untouched = {
        (r["entity_id"], r["canonical_id"])
        for r in out.where(F.col("entity_id").isin(1, 2, 30, 31)).collect()
    }
    assert untouched == {(1, 1), (2, 1), (30, 30), (31, 30)}
    merged = {
        (r["entity_id"], r["canonical_id"])
        for r in out.where(F.col("entity_id").isin(20, 21, 22)).collect()
    }
    assert merged == {(20, 20), (21, 20), (22, 20)}


def test_incremental_randomized_equals_full_recompute(spark):
    import random

    from nexus_forge_spark.operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    rng = random.Random(42)
    for trial in range(3):
        edges = [
            (rng.randint(1, 40), rng.randint(1, 40)) for _ in range(50)
        ]
        cut = rng.randint(0, len(edges))
        base = spark.createDataFrame(edges[:cut] or [(0, 0)], "a long, b long")
        delta = spark.createDataFrame(edges[cut:] or [(0, 0)], "a long, b long")
        mapping0 = connected_components(base)
        got = {
            (r["entity_id"], r["canonical_id"])
            for r in incremental_components(mapping0, delta).collect()
        }
        full = {
            (r["entity_id"], r["canonical_id"])
            for r in connected_components(base.unionByName(delta)).collect()
        }
        assert got == full, f"trial {trial}"


def test_golden_records_majority_and_ties(spark):
    from nexus_forge_spark.operators.canonicalize import golden_records

    mapping = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10)],
        "entity_id long, canonical_id long",
    )
    values = spark.createDataFrame(
        [
            # attr 'name': majority 'acme' (2 votes vs 1)
            (1, "name", "acme"),
            (2, "name", "acme"),
            (3, "name", "acme inc"),
            # attr 'city': 1-1 tie -> min value wins
            (1, "city", "zurich"),
            (2, "city", "bern"),
            # entity 99 unknown to the mapping -> keeps its own id
            (99, "name", "solo"),
        ],
        "entity_id long, attr string, value string",
    )
    got = {
        (r["canonical_id"], r["attr"]): (r["value"], r["support"])
        for r in golden_records(values, mapping).collect()
    }
    assert got == {
        (1, "name"): ("acme", 2),
        (1, "city"): ("bern", 1),
        (99, "name"): ("solo", 1),
    }


# ------------------------------------------------ sameAs refinement


def test_refine_sameas_cuts_conflicting_bridge(spark):
    """a1-a2-b1-b2 chain where the a's and b's disagree on a
    functional property: the a2-b1 bridge is cut, two clusters
    emerge; a conflict-free chain stays whole."""
    from nexus_forge_spark.operators.canonicalize import (
        refine_sameas_components,
    )

    edges = spark.createDataFrame(
        [("a1", "a2"), ("a2", "b1"), ("b1", "b2"), ("c1", "c2")],
        "a string, b string",
    )
    props = spark.createDataFrame(
        [("a1", "src", "X"), ("a2", "src", "X"),
         ("b1", "src", "Y"), ("b2", "src", "Y"),
         ("c1", "src", "Z"), ("c2", "src", "Z")],
        "entity_id string, pred string, value string",
    )
    out = {r.entity_id: (r.canonical_raw, r.canonical_refined)
           for r in refine_sameas_components(edges, props).collect()}
    # raw: one big a1-rooted cluster; refined: a-cluster and b-cluster split
    assert out["b2"][0] == "a1" and out["b2"][1] == "b1"
    assert out["a2"] == ("a1", "a1")
    assert out["c2"] == ("c1", "c1")


def test_refine_sameas_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.canonicalize import (
        refine_sameas_components,
        sql_refine_sameas_components,
    )

    edges = [(f"n{i % 9}", f"n{(i * 4 + 1) % 9}") for i in range(20)]
    props = [(f"n{i}", "p", f"v{i % 3}") for i in range(9)]
    e = spark.createDataFrame(edges, "a string, b string")
    pr = spark.createDataFrame(props, "entity_id string, pred string, value string")
    got = sorted(tuple(r) for r in refine_sameas_components(e, pr).collect())
    ee = ", ".join(f"('{a}', '{b}')" for a, b in edges)
    pp = ", ".join(f"('{x}', '{p}', '{v}')" for x, p, v in props)
    sql = sql_refine_sameas_components(
        f"SELECT * FROM (VALUES {ee}) AS t(a, b)",
        f"SELECT * FROM (VALUES {pp}) AS t(entity_id, pred, value)",
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# a scrambled path 5-3-8-1-9-2-7-4-6 plus a separate edge 11-10
_HAND_EDGES = [(5, 3), (3, 8), (8, 1), (1, 9), (9, 2), (2, 7), (7, 4), (4, 6), (11, 10)]
_HAND_MIN_IDS = {v: 1 for v in range(1, 10)} | {10: 10, 11: 10}


def _changing_rounds(step, state) -> int:
    """Rounds of ``step`` that still change ``state`` before its fixpoint."""
    r = 0
    while (nxt := step(state)) != state:
        state, r = nxt, r + 1
    return r


def _propagation_round(labels: dict) -> dict:
    new = dict(labels)
    for a, b in _HAND_EDGES:
        new[a] = min(new[a], labels[b])
        new[b] = min(new[b], labels[a])
    return new


def _star_round(e: frozenset) -> frozenset:
    """One large-star + small-star round over (larger, smaller) edges."""
    sym = e | {(b, a) for a, b in e}
    m = {}
    for a, b in sym:
        m[a] = min(m.get(a, a), b)
    e1 = {(b, m[a]) for a, b in sym if b > a and b != m[a]}
    o = {(max(a, b), min(a, b)) for a, b in e1}
    m2 = {}
    for a, b in o:
        m2[a] = min(m2.get(a, b), b)
    out = {(b, m2[a]) for a, b in o} | set(m2.items())
    return frozenset((max(a, b), min(a, b)) for a, b in out if a != b)


def test_propagation_raises_until_its_budget_reaches_the_fixpoint(spark):
    e = spark.createDataFrame(_HAND_EDGES, "a long, b long")
    r = _changing_rounds(_propagation_round, {v: v for v in _HAND_MIN_IDS})
    assert r >= 3
    with pytest.raises(RuntimeError, match="did not converge"):
        CC.connected_components_propagation(e, max_iter=r)
    got = CC.connected_components_propagation(e, max_iter=r + 1)
    assert dict(_labels(got)) == _HAND_MIN_IDS


def test_star_raises_until_its_budget_reaches_the_fixpoint(spark):
    e = spark.createDataFrame(_HAND_EDGES, "a long, b long")
    r = _changing_rounds(
        _star_round, frozenset((max(a, b), min(a, b)) for a, b in _HAND_EDGES)
    )
    assert r >= 2
    with pytest.raises(RuntimeError, match="did not converge"):
        CC.connected_components(e, max_iter=r)
    got = CC.connected_components(e, max_iter=r + 1)
    assert dict(_labels(got)) == _HAND_MIN_IDS
