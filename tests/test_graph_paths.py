"""Bellman-Ford SSSP and neighborhood-overlap link-prediction semantics
(engine parity is covered by the sssp_copurchase / link_prediction
contract queries)."""

from nexus_forge_spark.operators.graph import link_prediction, sssp

E_SCHEMA = "src long, dst long, w long"


def _sym(rows):
    return rows + [(b, a, w) for a, b, w in rows]


def test_sssp_prefers_cheaper_longer_path(spark):
    # 1->4 direct costs 10; 1->2->3->4 costs 3 — more hops, cheaper.
    rows = _sym([(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1)])
    edges = spark.createDataFrame(rows, E_SCHEMA)
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in sssp(edges, seeds, rounds=4).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_sssp_rounds_cap_limits_path_length(spark):
    # with only 1 round the relaxed 3-edge path hasn't propagated yet
    rows = _sym([(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1)])
    edges = spark.createDataFrame(rows, E_SCHEMA)
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in sssp(edges, seeds, rounds=1).collect()}
    assert got == {1: 0, 2: 1, 4: 10}  # node 3 unreached at round 1


def test_sssp_multi_seed_min(spark):
    rows = _sym([(1, 2, 5), (9, 2, 1)])
    edges = spark.createDataFrame(rows, E_SCHEMA)
    seeds = spark.createDataFrame([(1,), (9,)], "node long")
    got = {r.node: r.dist for r in sssp(edges, seeds, rounds=3).collect()}
    assert got[2] == 1  # the cheaper seed wins


M_SCHEMA = "item long, via long"


def test_link_prediction_scores(spark):
    # items 1,2 share vias 10 (deg 2) and 11 (deg 3); items 1,3 share 11.
    rows = [(1, 10), (2, 10), (1, 11), (2, 11), (3, 11)]
    df = spark.createDataFrame(rows, M_SCHEMA)
    got = {
        (r.a, r.b): (r.common_via, r.ra_scaled)
        for r in link_prediction(df).collect()
    }
    # via 10 contributes 1000000//2 = 500000; via 11 contributes 333333
    assert got == {
        (1, 2): (2, 833333),
        (1, 3): (1, 333333),
        (2, 3): (1, 333333),
    }


def test_link_prediction_hub_suppression(spark):
    rows = [(1, 10), (2, 10), (1, 99), (2, 99), (3, 99)]
    df = spark.createDataFrame(rows, M_SCHEMA)
    got = {
        (r.a, r.b): r.common_via
        for r in link_prediction(df, max_via_degree=2).collect()
    }
    assert got == {(1, 2): 1}  # via 99 (deg 3) dropped entirely


def test_link_prediction_dedups_multi_edges(spark):
    # duplicate (item, via) rows must not double-count
    rows = [(1, 10), (1, 10), (2, 10)]
    df = spark.createDataFrame(rows, M_SCHEMA)
    got = {(r.a, r.b): (r.common_via, r.ra_scaled)
           for r in link_prediction(df).collect()}
    assert got == {(1, 2): (1, 500000)}


def test_personalized_pagerank_matches_python_recurrence(spark):
    from nexus_forge_spark.operators.graph import personalized_pagerank

    rows = [(1, 2), (2, 1), (2, 3), (3, 2)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.rank_micro
           for r in personalized_pagerank(edges, seeds, iterations=3).collect()}

    # pure-python replica of the integer recurrence
    PPM, d = 1_000_000, 85
    out_edges = {1: [2], 2: [1, 3], 3: [2]}
    nodes = [1, 2, 3]
    base = (PPM * (100 - d)) // (100 * 1)
    r = {v: (PPM if v == 1 else 0) for v in nodes}
    for _ in range(3):
        contrib = {v: 0 for v in nodes}
        for u, outs in out_edges.items():
            per = r[u] // len(outs)
            for v in outs:
                contrib[v] += per
        r = {v: (base if v == 1 else 0) + d * contrib[v] // 100 for v in nodes}
    assert got == r
    # seed-locality: the seed outranks the far node
    assert got[1] > got[3]


def test_personalized_pagerank_rejects_empty_seeds(spark):
    import pytest

    from nexus_forge_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([], "node long")
    with pytest.raises(ValueError):
        personalized_pagerank(edges, seeds)


def test_harmonic_centrality_hand_computed(spark):
    from nexus_forge_spark.operators.graph import PPM, harmonic_centrality

    # path graph 1-2-3-4 (symmetric), seeds {1, 4}, contributions PPM div d
    rows = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (4,)], "node long")
    got = {r.node: (r.harmonic_micro, r.n_sources_reached)
           for r in harmonic_centrality(edges, seeds, max_hops=3).collect()}
    # d from 1: 2->1, 3->2, 4->3 ; from 4: 3->1, 2->2, 1->3
    assert PPM == 1_000_000
    assert got == {
        1: (333_333, 1),          # only seed 4 contributes (1e6 div 3)
        2: (1_000_000 + 500_000, 2),
        3: (500_000 + 1_000_000, 2),
        4: (333_333, 1),
    }


def test_harmonic_centrality_hop_truncation(spark):
    from nexus_forge_spark.operators.graph import harmonic_centrality

    rows = [(1, 2), (2, 3)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node for r in
           harmonic_centrality(edges, seeds, max_hops=1).collect()}
    assert got == {2}  # node 3 is beyond the horizon; seed itself excluded
