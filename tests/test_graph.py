"""PageRank integer recurrence and triangle counting on known graphs
(engine parity: pagerank_copurchase / triangle_counts_neardup contract
queries)."""

from pyspark.sql import functions as F

from nexus_forge_spark.operators.graph import (
    oriented_edges,
    pagerank,
    triangle_counts,
)


def test_pagerank_two_cycle_fixed_point(spark):
    # a<->b: init 500000 each is the exact fixed point of the recurrence
    # (base 75000 + 85% of the full incoming 500000 = 500000)
    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    out = {r.node: r.rank_micro for r in pagerank(e, iterations=5).collect()}
    assert out == {1: 500_000, 2: 500_000}


def test_pagerank_star_hand_computed(spark):
    # a->c, b->c: n=3, base=50000; a,b settle at base after iter 1, so
    # from iter 2 on c = 50000 + (85 * (50000+50000)) div 100 = 135000
    e = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    out = {r.node: r.rank_micro for r in pagerank(e, iterations=5).collect()}
    assert out == {1: 50_000, 2: 50_000, 3: 135_000}


def test_triangle_counts_k4(spark):
    # complete graph on 4 nodes: C(4,3)=4 triangles, each node in 3
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(edges, "a long, b long")
    out = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_path_and_isolated_triangle(spark):
    # path 1-2-3-4 has none; 5-6-7 is one triangle; every node reported
    edges = [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)]
    e = spark.createDataFrame(edges, "a long, b long")
    out = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    assert out == {1: 0, 2: 0, 3: 0, 4: 0, 5: 1, 6: 1, 7: 1}


def test_oriented_edges_each_edge_once_and_acyclic(spark):
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1)]  # dups + self-loop
    e = spark.createDataFrame(edges, "a long, b long")
    rows = [(r.lo, r.hi) for r in oriented_edges(e).collect()]
    assert len(rows) == len(set(rows)) == 3  # 3 distinct undirected edges
    # orientation is a total order (degree, id): no 2-cycles possible
    assert not {(h, l) for l, h in rows} & set(rows)


def test_khop_path_graph(spark):
    from nexus_forge_spark.operators.graph import khop_distances

    # path 1-2-3-4-5, directed; seed {1}; cap 3
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {(r["node"], r["dist"]) for r in khop_distances(e, seeds, 3).collect()}
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3)}


def test_khop_min_dist_and_cycles(spark):
    from nexus_forge_spark.operators.graph import khop_distances

    # diamond + cycle back: 1->2, 1->3, 2->4, 3->4, 4->1; two paths to 4
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {(r["node"], r["dist"]) for r in khop_distances(e, seeds, 5).collect()}
    assert got == {(1, 0), (2, 1), (3, 1), (4, 2)}  # node 4 once, at min dist


def test_khop_multi_seed_and_isolated_seed(spark):
    from nexus_forge_spark.operators.graph import khop_distances

    e = spark.createDataFrame([(1, 2), (10, 11)], "src long, dst long")
    seeds = spark.createDataFrame([(1,), (10,), (99,)], "node long")
    got = {(r["node"], r["dist"]) for r in khop_distances(e, seeds, 2).collect()}
    assert got == {(1, 0), (10, 0), (99, 0), (2, 1), (11, 1)}


def _lpa_naive(edges, iterations):
    """Pure-Python synchronous LPA with (count DESC, label ASC) argmax —
    the determinism spec label_propagation pins."""
    und = {(max(a, b), min(a, b)) for a, b in edges if a != b}
    adj: dict[int, list[int]] = {}
    for p, q in und:
        adj.setdefault(p, []).append(q)
        adj.setdefault(q, []).append(p)
    lab = {v: v for v in adj}
    for _ in range(iterations):
        new = {}
        for v, nbrs in adj.items():
            votes: dict[int, int] = {}
            for u in nbrs:
                votes[lab[u]] = votes.get(lab[u], 0) + 1
            new[v] = min(votes, key=lambda l: (-votes[l], l))
        lab = new
    return lab


def test_label_propagation_two_cliques_bridge(spark):
    from nexus_forge_spark.operators.graph import label_propagation

    # two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10.
    # Round 1 gives node 10 a three-way ballot tie {11, 12, 3} which the
    # label-ASC rule resolves to 3, so the bridge BLEEDS the low label
    # into the second clique — by round 3 both cliques carry it, 1 and 3
    # respectively, and the labelling is a fixed point (round 4 == 3).
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    e = spark.createDataFrame(edges, "a long, b long")
    out = {r.node: r.community for r in label_propagation(e, 4).collect()}
    assert out == _lpa_naive(edges, 4)
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12] == 3


def test_label_propagation_matches_naive_random(spark):
    import random

    from nexus_forge_spark.operators.graph import label_propagation

    rng = random.Random(7)
    edges = list(
        {
            (rng.randrange(40), rng.randrange(40))
            for _ in range(120)
        }
    )
    e = spark.createDataFrame(edges, "a long, b long")
    for iters in (1, 3):
        got = {
            r.node: r.community
            for r in label_propagation(e, iters).collect()
        }
        assert got == _lpa_naive(edges, iters)


# ------------------------------------------------ k-core / co-occurrence


def test_kcore_peels_tail_into_triangle(spark):
    # triangle 1-2-3 with a pendant chain 3-4-5: 2-core = the triangle.
    # peeling is iterative (5 falls first, THEN 4 loses its last support)
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    e = spark.createDataFrame(edges, "a long, b long")
    from nexus_forge_spark.operators.graph import kcore

    out = {r.node: r.degree for r in kcore(e, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_empty_when_overdemanding(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a long, b long")
    from nexus_forge_spark.operators.graph import kcore

    assert kcore(e, k=3).count() == 0


def test_kcore_k4_complete_graph_survives_whole(spark):
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(edges, "a long, b long")
    from nexus_forge_spark.operators.graph import kcore

    out = {r.node: r.degree for r in kcore(e, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_matches_naive_peeling_random(spark):
    import random

    rnd = random.Random(7)
    nodes = list(range(30))
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rnd.choice(nodes), rnd.choice(nodes)) for _ in range(120)
            )
            if a != b
        }
    )

    def naive_kcore(edge_list, k):
        es = set(edge_list)
        while True:
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            drop = {n for n, d in deg.items() if d < k}
            if not drop:
                return deg
            nxt = {(a, b) for a, b in es if a not in drop and b not in drop}
            if nxt == es:
                return deg
            es = nxt

    from nexus_forge_spark.operators.graph import kcore

    for k in (2, 3, 4):
        expected = naive_kcore(edges, k)
        e = spark.createDataFrame(edges, "a long, b long")
        got = {r.node: r.degree for r in kcore(e, k=k).collect()}
        assert got == expected, f"k={k}"


def test_cooccurrence_counts_and_association(spark):
    # docs: d1 {A,B}, d2 {A,B}, d3 {A,C}, d4 {B}; n_groups=4
    rows = [
        (1, "A"), (1, "B"),
        (2, "A"), (2, "B"), (2, "B"),  # duplicate membership ignored
        (3, "A"), (3, "C"),
        (4, "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, entity_id string")
    from nexus_forge_spark.operators.graph import cooccurrence_edges

    out = {
        (r.entity_a, r.entity_b): r
        for r in cooccurrence_edges(df).collect()
    }
    ab = out[("A", "B")]
    # pair 2, A in 3, B in 3, n 4 -> 2*4=8 < 9 -> not positively associated
    assert (ab.pair_groups, ab.groups_a, ab.groups_b, ab.n_groups) == (2, 3, 3, 4)
    assert not ab.positively_associated
    ac = out[("A", "C")]
    # pair 1, A in 3, C in 1, n 4 -> 4 > 3 -> positively associated
    assert (ac.pair_groups, ac.groups_a, ac.groups_b) == (1, 3, 1)
    assert ac.positively_associated
    assert ("B", "C") not in out  # never co-occur


def test_cooccurrence_pair_generation_is_ordered_and_distinct(spark):
    # one doc with 4 entities -> C(4,2)=6 pairs, all a<b
    rows = [(1, e) for e in ["d", "b", "a", "c", "a"]]
    df = spark.createDataFrame(rows, "doc_id long, entity_id string")
    from nexus_forge_spark.operators.graph import cooccurrence_edges

    got = sorted(
        (r.entity_a, r.entity_b)
        for r in cooccurrence_edges(df).collect()
    )
    assert got == [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    ]


def _py_ktruss(edge_list, k):
    edges = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    while True:
        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        sup = {
            (u, v): len(adj[u] & adj[v])
            for u, v in edges
        }
        keep = {e for e in edges if sup[e] >= k - 2}
        if keep == edges:
            return {e: sup[e] for e in edges}
        edges = keep


def test_ktruss_k4_plus_pendant_triangle(spark):
    from nexus_forge_spark.operators.graph import ktruss

    # K4 on {1,2,3,4} (every edge in 2 triangles) + triangle {4,5,6}
    # hanging off node 4 (each of its edges in 1 triangle)
    k4 = [(u, v) for u in range(1, 5) for v in range(u + 1, 5)]
    pend = [(4, 5), (4, 6), (5, 6)]
    df = spark.createDataFrame(k4 + pend, "a long, b long")
    out4 = {(r.lo, r.hi): r.support for r in ktruss(df, k=4).collect()}
    assert out4 == {(u, v): 2 for u, v in k4}
    # at k=3 everything survives (every edge is in >= 1 triangle)
    out3 = {(r.lo, r.hi): r.support for r in ktruss(df, k=3).collect()}
    assert set(out3) == set(k4 + pend)
    # at k=5 nothing survives
    assert ktruss(df, k=5).count() == 0
    # k < 3 refuses: the 2-truss is the whole graph, but the peeling only
    # sees triangle edges — silently dropping pendant edges would be wrong
    import pytest

    with pytest.raises(ValueError, match="k >= 3"):
        ktruss(df, k=2)


def test_ktruss_differential_random(spark):
    import random

    from nexus_forge_spark.operators.graph import ktruss

    rng = random.Random(13)
    edge_list = list({
        tuple(sorted((rng.randint(1, 14), rng.randint(1, 14))))
        for _ in range(60)
    })
    edge_list = [e for e in edge_list if e[0] != e[1]]
    df = spark.createDataFrame(edge_list, "a long, b long")
    for k in (3, 4, 5):
        got = {(r.lo, r.hi): r.support for r in ktruss(df, k=k).collect()}
        assert got == _py_ktruss(edge_list, k), k


def _py_kruskal(edge_list):
    """MSF under the (w, lo, hi) total order — the unique forest the
    Borůvka plan must reproduce."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = set()
    canon = sorted(
        {(min(a, b), max(a, b)): w for a, b, w in sorted(
            ((a, b, w) for a, b, w in edge_list if a != b),
            key=lambda e: e[2], reverse=True)  # keep MIN w per pair
        }.items()
    )
    for (lo, hi), w in sorted(canon, key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(lo), find(hi)
        if ra != rb:
            parent[ra] = rb
            out.add((lo, hi, w))
    return out


def test_boruvka_msf_hand_and_random(spark):
    import random

    from nexus_forge_spark.operators.graph import boruvka_msf

    # hand case: square with diagonal — MSF drops the two heaviest sides
    hand = [(1, 2, 1), (2, 3, 2), (3, 4, 5), (4, 1, 4), (1, 3, 3)]
    df = spark.createDataFrame(hand, "a long, b long, w long")
    got = {(r.lo, r.hi, r.w) for r in boruvka_msf(df).collect()}
    assert got == {(1, 2, 1), (2, 3, 2), (1, 4, 4)}

    rng = random.Random(21)
    # two disconnected blobs + duplicate weights to exercise the
    # (w, lo, hi) tie-break and the forest (not tree) case
    edge_list = [
        (rng.randint(1, 10), rng.randint(1, 10), rng.randint(1, 5))
        for _ in range(30)
    ] + [
        (rng.randint(20, 26), rng.randint(20, 26), rng.randint(1, 5))
        for _ in range(15)
    ]
    edge_list = [e for e in edge_list if e[0] != e[1]]
    df = spark.createDataFrame(edge_list, "a long, b long, w long")
    got = {(r.lo, r.hi, r.w) for r in boruvka_msf(df).collect()}
    assert got == _py_kruskal(edge_list)


def test_msf_sparsification_incremental(spark):
    import random

    from nexus_forge_spark.operators.graph import boruvka_msf

    rng = random.Random(31)
    edge_list = list({
        (rng.randint(1, 12), rng.randint(1, 12), rng.randint(1, 9))
        for _ in range(50)
    })
    edge_list = [e for e in edge_list if e[0] != e[1]]
    df = spark.createDataFrame(edge_list, "a long, b long, w long")
    full = {(r.lo, r.hi, r.w) for r in boruvka_msf(df).collect()}
    # sparsification: fold half the edges into the other half's forest
    h1 = df.where((F.col("a") + F.col("b")) % 2 == 0)
    h2 = df.where((F.col("a") + F.col("b")) % 2 == 1)
    f1 = boruvka_msf(h1).select(
        F.col("lo").alias("a"), F.col("hi").alias("b"), "w"
    )
    inc = {
        (r.lo, r.hi, r.w)
        for r in boruvka_msf(f1.unionByName(h2)).collect()
    }
    assert inc == full


# -------------------------------------------------------------- FastRP


def test_fastrp_mean_propagation_exact(spark):
    """On a 2-node mutual pair, each round swaps the two nodes' vectors
    exactly (deg 1, mean = the other's value); weights [1, 1] then sum
    the two iterates."""
    from nexus_forge_spark.operators.graph import fastrp_embeddings
    from nexus_forge_spark.operators.sketches import hash60

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "node string, nbr string"
    )
    out = {(r.node, r.dim): r.val for r in fastrp_embeddings(e, dims=4, rounds=2).collect()}
    # compute expected from the same portable hash
    sig = {}
    for n in ("a", "b"):
        for d in range(4):
            row = spark.range(1).select(
                (hash60(F.lit(f"{n}|{d}"), "fastrp") % 6).alias("h")
            ).collect()[0]
            s = 1000000 if row.h == 0 else (-1000000 if row.h == 1 else 0)
            sig[(n, d)] = s
    for d in range(4):
        # x1(a) = x0(b), x2(a) = x1(b) = x0(a) -> total = x0(b) + x0(a)
        assert out[("a", d)] == sig[("b", d)] + sig[("a", d)]
        assert out[("b", d)] == sig[("a", d)] + sig[("b", d)]


def test_fastrp_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import (
        fastrp_embeddings,
        sql_fastrp_embeddings,
    )

    rows = [(f"n{i}", f"n{(i * 3 + 1) % 17}") for i in range(17 * 4)]
    rows += [(b, a) for a, b in rows]
    e = spark.createDataFrame(rows, "node string, nbr string")
    got = sorted(
        (r.node, r.dim, r.val)
        for r in fastrp_embeddings(e, dims=6, rounds=3, weights=[2, 1, 1]).collect()
    )
    vals = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    sql = sql_fastrp_embeddings(
        f"SELECT * FROM (VALUES {vals}) AS t(node, nbr)",
        dims=6,
        rounds=3,
        weights=[2, 1, 1],
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_fastrp_sink_nodes_hold_zero(spark):
    from nexus_forge_spark.operators.graph import fastrp_embeddings

    # b has no out-edges: its iterates are 0 but it still feeds a's mean
    e = spark.createDataFrame([("a", "b")], "node string, nbr string")
    out = {(r.node, r.dim): r.val for r in fastrp_embeddings(e, dims=2, rounds=2).collect()}
    assert out[("b", 0)] == 0 and out[("b", 1)] == 0


# ---------------------------------------------------------------- HITS


def test_hits_star_graph(spark):
    """One hub pointing at 3 authorities, a spectator edge elsewhere:
    the hub takes hub_ppm = scale, the shared authorities saturate."""
    from nexus_forge_spark.operators.graph import hits_scores

    edges = spark.createDataFrame(
        [("h", "a1"), ("h", "a2"), ("h", "a3"), ("x", "y")],
        "src string, dst string",
    )
    out = {r.node: (r.hub_ppm, r.auth_ppm) for r in hits_scores(edges, rounds=2).collect()}
    assert out["h"][0] == 1000000          # dominant hub
    assert out["a1"][1] == out["a2"][1] == out["a3"][1] == 1000000
    assert out["h"][1] == 0                # nothing points at the hub
    assert out["x"][0] < 1000000           # weaker hub than h


def test_hits_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import hits_scores, sql_hits_scores

    rows = [(f"u{i % 7}", f"v{(i * 3) % 11}") for i in range(60)]
    edges = spark.createDataFrame(rows, "src string, dst string")
    got = sorted(tuple(r) for r in hits_scores(edges, rounds=3).collect())
    vals = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    sql = sql_hits_scores(f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", rounds=3)
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ---------------------------------------------------------- betweenness


def test_betweenness_path_graph(spark):
    """Path a->b->c->d, seed {a}: classic Brandes gives delta(b)=2
    (c and d both route through b), delta(c)=1, endpoints 0."""
    from nexus_forge_spark.operators.graph import betweenness_sampled

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r.node: r.betweenness_ppm for r in betweenness_sampled(e, seeds, 4).collect()}
    assert out.get("b") == 2000000
    assert out.get("c") == 1000000
    assert "a" not in out  # seeds excluded
    assert "d" not in out or out["d"] == 0


def test_betweenness_split_paths(spark):
    """Diamond a->{b,c}->d: sigma(d)=2, each middle node carries
    (1/2)*(1+0) = 0.5 from d's dependency."""
    from nexus_forge_spark.operators.graph import betweenness_sampled

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r.node: r.betweenness_ppm for r in betweenness_sampled(e, seeds, 3).collect()}
    assert out["b"] == 500000 and out["c"] == 500000


def test_betweenness_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import (
        betweenness_sampled,
        sql_betweenness_sampled,
    )

    rows = [(f"n{i}", f"n{(i * 3 + 1) % 19}") for i in range(19 * 3)]
    rows += [(b, a) for a, b in rows[:20]]
    e = spark.createDataFrame(rows, "src string, dst string")
    seeds = spark.createDataFrame([(f"n{i}",) for i in range(0, 19, 4)], "node string")
    got = sorted(tuple(r) for r in betweenness_sampled(e, seeds, 4).collect())
    vals = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    svals = ", ".join(f"('n{i}')" for i in range(0, 19, 4))
    sql = sql_betweenness_sampled(
        f"SELECT DISTINCT * FROM (VALUES {vals}) AS t(src, dst)",
        f"SELECT * FROM (VALUES {svals}) AS t(node)",
        max_hops=4,
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ----------------------------------------------------- community quality


def test_community_quality_two_cliques(spark):
    """Two triangles joined by one bridge edge: each community has
    e_in=3, vol=7 (bridge endpoint has deg 3), cut=1, m=7."""
    from nexus_forge_spark.operators.graph import community_quality

    edges = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
             ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a1", "b1")]
    e = spark.createDataFrame(edges, "a string, b string")
    asg = spark.createDataFrame(
        [(n, n[0]) for n in ("a1", "a2", "a3", "b1", "b2", "b3")],
        "node string, community string",
    )
    out = {r.community: r for r in community_quality(e, asg).collect()}
    for c in ("a", "b"):
        r = out[c]
        assert (r.n_nodes, r.vol, r.e_in, r.cut) == (3, 7, 3, 1)
        # conductance = 1/7 -> 142857 ppm (truncating)
        assert r.conductance_ppm == 142857
        # part1 = 3e6 DIV 7 = 428571; r_milli = 7000 DIV 14 = 500 -> 250000
        assert r.modularity_contrib_ppm == 428571 - 250000


def test_community_quality_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import (
        community_quality,
        sql_community_quality,
    )

    edges = [(f"n{i}", f"n{(i * 5 + 2) % 23}") for i in range(60)]
    e = spark.createDataFrame(edges, "a string, b string")
    asg = spark.createDataFrame(
        [(f"n{i}", i % 4) for i in range(23)], "node string, community int"
    )
    got = sorted(tuple(r) for r in community_quality(e, asg).collect())
    ev = ", ".join(f"('{a}', '{b}')" for a, b in edges)
    av = ", ".join(f"('n{i}', {i % 4})" for i in range(23))
    sql = sql_community_quality(
        f"SELECT * FROM (VALUES {ev}) AS t(a, b)",
        f"SELECT * FROM (VALUES {av}) AS t(node, community)",
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# -------------------------------------------------- temporal reachability


def test_earliest_arrival_respects_time_order(spark):
    """a -(t=10)-> b -(t=5)-> c: c is NOT reachable from a (the second
    edge departs before the first arrives); b -(t=20)-> d IS."""
    from nexus_forge_spark.operators.graph import earliest_arrival

    e = spark.createDataFrame(
        [("a", "b", 10), ("b", "c", 5), ("b", "d", 20)],
        "src string, dst string, ts_micros long",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {(r.seed, r.node): (r.arrival_micros, r.hops)
           for r in earliest_arrival(e, seeds, 3).collect()}
    assert out[("a", "b")] == (10, 1)
    assert out[("a", "d")] == (20, 2)
    assert ("a", "c") not in out


def test_earliest_arrival_improvement_across_rounds(spark):
    """A longer path can still yield an EARLIER arrival than a direct
    late edge; the label-correcting rounds must keep the minimum."""
    from nexus_forge_spark.operators.graph import earliest_arrival

    e = spark.createDataFrame(
        [("s", "x", 100), ("s", "m", 1), ("m", "x", 2)],
        "src string, dst string, ts_micros long",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    out = {r.node: (r.arrival_micros, r.hops)
           for r in earliest_arrival(e, seeds, 3).collect()}
    assert out["x"] == (2, 2)  # via m, not the direct t=100 edge


def test_earliest_arrival_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import (
        earliest_arrival,
        sql_earliest_arrival,
    )

    rows = [(f"n{i % 11}", f"n{(i * 7 + 3) % 11}", (i * 13) % 50) for i in range(80)]
    e = spark.createDataFrame(rows, "src string, dst string, ts_micros long")
    seeds = spark.createDataFrame([("n0",), ("n5",)], "node string")
    got = sorted(tuple(r) for r in earliest_arrival(e, seeds, 4).collect())
    ev = ", ".join(f"('{a}', '{b}', {t})" for a, b, t in rows)
    sql = sql_earliest_arrival(
        f"SELECT * FROM (VALUES {ev}) AS t(src, dst, ts_micros)",
        "SELECT * FROM (VALUES ('n0'), ('n5')) AS t(node)",
        max_hops=4,
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ------------------------------------------------------- assortativity


def test_assortativity_star_is_negative(spark):
    """A star graph is maximally disassortative (hub deg n meets leaves
    deg 1): r = -1."""
    from nexus_forge_spark.operators.graph import degree_assortativity

    e = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(6)], "a string, b string"
    )
    r = degree_assortativity(e).collect()[0]
    assert r.n_edges == 6
    assert r.r_milli == -1000


def test_assortativity_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import (
        degree_assortativity,
        sql_degree_assortativity,
    )

    rows = [(f"n{i % 13}", f"n{(i * 5 + 1) % 13}") for i in range(50)]
    e = spark.createDataFrame(rows, "a string, b string")
    got = [tuple(r) for r in degree_assortativity(e).collect()]
    ev = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    sql = sql_degree_assortativity(f"SELECT * FROM (VALUES {ev}) AS t(a, b)")
    want = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    assert got == want


# ------------------------------------------------------------- Louvain


def test_louvain_merges_clique_and_respects_modularity(spark):
    """Two triangles + one bridge: each triangle collapses into one
    community; the bridge does not merge them (negative gain)."""
    from nexus_forge_spark.operators.graph import louvain_moves

    edges = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
             ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a3", "b1")]
    e = spark.createDataFrame(edges, "a string, b string")
    out = {r.node: r.community for r in louvain_moves(e, rounds=4).collect()}
    assert out["a1"] == out["a2"] == out["a3"]
    assert out["b1"] == out["b2"] == out["b3"]
    assert out["a1"] != out["b1"]


def test_louvain_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import louvain_moves, sql_louvain_moves

    rows = [(f"n{i % 17}", f"n{(i * 5 + 2) % 17}") for i in range(70)]
    e = spark.createDataFrame(rows, "a string, b string")
    got = sorted(tuple(r) for r in louvain_moves(e, rounds=3).collect())
    ev = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    sql = sql_louvain_moves(f"SELECT * FROM (VALUES {ev}) AS t(a, b)", rounds=3)
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ------------------------------------------------------------- HyperBall


def test_hyperball_ball_sum_monotone_and_converges(spark):
    """On a path graph the ball sum strictly grows per round until the
    ball covers the graph; pct_ppm ends at exactly 1000000."""
    from nexus_forge_spark.operators.graph import hyperball_nf

    path = [(f"p{i}", f"p{i + 1}") for i in range(6)]
    edges = path + [(b, a) for a, b in path]
    e = spark.createDataFrame(edges, "src string, dst string")
    rows = {r.t: r for r in hyperball_nf(e, rounds=3).collect()}
    assert sorted(rows) == [0, 1, 2, 3]
    sums = [rows[t].ball_sum for t in range(4)]
    assert sums == sorted(sums)
    assert sums[0] < sums[3]
    assert rows[3].pct_ppm == 1000000


def test_hyperball_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import hyperball_nf, sql_hyperball_nf

    rows = [(f"n{i % 23}", f"n{(i * 7 + 3) % 23}") for i in range(80)]
    e = spark.createDataFrame(rows, "src string, dst string")
    got = sorted(tuple(r) for r in hyperball_nf(e, rounds=4).collect())
    ev = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    sql = sql_hyperball_nf(f"SELECT * FROM (VALUES {ev}) AS t(src, dst)", rounds=4)
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ------------------------------------------------------------------ SCAN


def test_scan_roles_cliques_hub_outlier(spark):
    """Two 4-cliques bridged by one node, plus a dangling pair: the
    cliques become core clusters, the bridge is a hub, the pair are
    outliers (the SCAN paper's figure-1 shape)."""
    from nexus_forge_spark.operators.graph import scan_clusters

    c1 = [(a, b) for i, a in enumerate(["a1", "a2", "a3", "a4"])
          for b in ["a1", "a2", "a3", "a4"][i + 1:]]
    c2 = [(a, b) for i, a in enumerate(["b1", "b2", "b3", "b4"])
          for b in ["b1", "b2", "b3", "b4"][i + 1:]]
    rows = c1 + c2 + [("a1", "hh"), ("b1", "hh"), ("z1", "z2")]
    e = spark.createDataFrame(rows, "a string, b string")
    out = {r.node: (r.cluster, r.role) for r in scan_clusters(e, 6, 10, 3).collect()}
    assert {out[n] for n in ["a1", "a2", "a3", "a4"]} == {("a1", "core")}
    assert {out[n] for n in ["b1", "b2", "b3", "b4"]} == {("b1", "core")}
    assert out["hh"] == (None, "hub")
    assert out["z1"] == (None, "outlier") and out["z2"] == (None, "outlier")


def test_scan_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import scan_clusters, sql_scan_clusters

    rows = [(f"n{i % 19}", f"n{(i * 5 + 2) % 19}") for i in range(70)]
    e = spark.createDataFrame(rows, "a string, b string")
    got = sorted((r.node, r.cluster, r.role)
                 for r in scan_clusters(e, 5, 10, 4).collect())
    ev = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    sql = sql_scan_clusters(f"SELECT * FROM (VALUES {ev}) AS t(a, b)", 5, 10, 4)
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ------------------------------------------------------------ butterflies


def test_butterfly_counts_hand_graph(spark):
    """K_{2,2} = exactly one butterfly; adding a pendant edge adds
    wedges but no butterfly."""
    from nexus_forge_spark.operators.graph import butterfly_counts

    e = spark.createDataFrame(
        [("l1", "r1"), ("l1", "r2"), ("l2", "r1"), ("l2", "r2"), ("l3", "r1")],
        "l string, r string",
    )
    r = butterfly_counts(e).collect()[0]
    # pairs per left: l1 -> (r1,r2), l2 -> (r1,r2); support c(r1,r2)=2
    assert r.n_wedges == 2
    assert r.n_connected_pairs == 1
    assert r.n_butterflies == 1
    assert r.n_expand_dropped == 0


def test_butterfly_cap_and_duckdb_parity(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import (
        butterfly_counts,
        sql_butterfly_counts,
    )

    rows = [(f"l{i % 9}", f"r{(i * 5 + 2) % 11}") for i in range(70)]
    rows += [("hub", f"r{i}") for i in range(11)]  # over any small cap
    e = spark.createDataFrame(rows, "l string, r string")
    for cap in (None, 5):
        got = [tuple(r) for r in butterfly_counts(
            e, max_expand_degree=cap).collect()]
        ev = ", ".join(f"('{a}', '{b}')" for a, b in rows)
        sql = sql_butterfly_counts(
            f"SELECT * FROM (VALUES {ev}) AS t(l, r)", max_expand_degree=cap)
        want = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
        assert got == want, f"cap={cap}"
    r5 = butterfly_counts(e, max_expand_degree=5).collect()[0]
    assert r5.n_expand_dropped >= 1


# ---------------------------------------------------------- JP coloring


def test_jp_coloring_proper_and_deterministic(spark):
    from nexus_forge_spark.operators.graph import jp_coloring

    rows = [(f"n{i % 11}", f"n{(i * 3 + 1) % 11}") for i in range(30)]
    e = spark.createDataFrame(rows, "a string, b string")
    got1 = sorted(tuple(r) for r in jp_coloring(e, max_iter=15).collect())
    got2 = sorted(
        tuple(r) for r in jp_coloring(e.repartition(7), max_iter=15).collect()
    )
    assert got1 == got2  # partitioning-independent
    cmap = dict(got1)
    for a, b in rows:
        if a != b:
            assert cmap[a] != cmap[b]
    # mex rule gives dense small colors
    assert min(cmap.values()) == 0


def test_jp_coloring_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import jp_coloring, sql_jp_coloring

    rows = [(f"n{i % 13}", f"n{(i * 5 + 1) % 13}") for i in range(40)]
    e = spark.createDataFrame(rows, "a string, b string")
    got = sorted(tuple(r) for r in jp_coloring(e, max_iter=15).collect())
    ev = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    sql = sql_jp_coloring(f"SELECT * FROM (VALUES {ev}) AS t(a, b)", rounds=15)
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_jp_coloring_raises_on_exhaustion(spark):
    import pytest as _pytest

    from nexus_forge_spark.operators.graph import ColoringError, jp_coloring

    path = [(f"p{i}", f"p{i + 1}") for i in range(6)]
    e = spark.createDataFrame(path, "a string, b string")
    with _pytest.raises(ColoringError):
        jp_coloring(e, max_iter=1)


def test_hyperball_closeness_telescoping_and_duckdb(spark):
    """Path graph: center of the path has the smallest within-R
    distance sum; values match the unrolled DuckDB oracle exactly."""
    import duckdb

    from nexus_forge_spark.operators.graph import (
        hyperball_closeness,
        sql_hyperball_closeness,
    )

    path = [(f"p{i}", f"p{i + 1}") for i in range(6)]
    edges = path + [(b, a) for a, b in path]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = sorted(tuple(r) for r in hyperball_closeness(e, rounds=3).collect())
    ev = ", ".join(f"('{a}', '{b}')" for a, b in edges)
    sql = sql_hyperball_closeness(
        f"SELECT * FROM (VALUES {ev}) AS t(src, dst)", rounds=3
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want
    d = {n: ds for n, _, ds in got}
    # within-3 ball of the center covers the whole 7-node path; ends reach 4
    assert d["p3"] >= 0
    by_ball = {n: b for n, b, _ in got}
    assert by_ball["p3"] >= by_ball["p0"]


# ----------------------------------------------------- densest subgraph


def test_densest_subgraph_finds_clique(spark):
    from nexus_forge_spark.operators.graph import densest_subgraph

    clique = [(f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)]
    tail = [("c0", "t1"), ("t1", "t2"), ("t2", "t3")]
    e = spark.createDataFrame(clique + tail, "a string, b string")
    out = densest_subgraph(e, eps_num=11, eps_den=10, max_iter=10).collect()
    dens = {r.node for r in out if r.in_densest}
    assert dens == {"c0", "c1", "c2", "c3", "c4"}
    r0 = out[0]
    assert r0.best_n == 5 and r0.best_m == 10  # the clique round
    # every input node is labeled (isolated survivors must not vanish)
    assert {r.node for r in out} == {f"c{i}" for i in range(5)} | {
        "t1", "t2", "t3"
    }


def test_densest_subgraph_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.graph import (
        densest_subgraph,
        sql_densest_subgraph,
    )

    rows = [(f"n{i % 11}", f"n{(i * 3 + 2) % 11}") for i in range(35)]
    e = spark.createDataFrame(rows, "a string, b string")
    got = sorted(tuple(r) for r in densest_subgraph(
        e, eps_num=11, eps_den=10, max_iter=15).collect())
    ev = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    sql = sql_densest_subgraph(
        f"SELECT * FROM (VALUES {ev}) AS t(a, b)",
        eps_num=11, eps_den=10, rounds=15)
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# --------------------------------------------- clustering coefficients


def test_clustering_coefficients_triangle_vs_star(spark):
    from nexus_forge_spark.operators.graph import clustering_coefficients

    # triangle abc: C=1 everywhere; star hub h->3 leaves: C(h)=0
    rows = [("a", "b"), ("b", "c"), ("a", "c"),
            ("h", "x"), ("h", "y"), ("h", "z")]
    e = spark.createDataFrame(rows, "a string, b string")
    out = {r.node: r for r in clustering_coefficients(e).collect()}
    assert out["a"].cc_ppm == 1_000_000 and out["a"].deg == 2
    assert out["h"].cc_ppm == 0 and out["h"].deg == 3
    assert out["x"].cc_ppm == 0  # deg 1 -> 0 by convention


def test_iterative_round_metrics(spark):
    """Round-3 VERDICT ask #7: iterative operators emit per-round
    convergence metrics (frontier size, delta count) when run inside a
    recording() block — and are metric-free (identical plans) by
    default."""
    from nexus_forge_spark.functions.itermetrics import recording
    from nexus_forge_spark.operators.graph import coreness, kcore, pagerank, sssp
    from nexus_forge_spark.operators.ontology import (
        transitive_closure,
        transitive_closure_incremental,
    )

    with recording() as m:
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
        )
        pagerank(edges, iterations=3)
        pr = m.for_op("pagerank")
        assert [r["round"] for r in pr] == [0, 1, 2]
        assert all(r["nodes"] == 5 for r in pr)
        assert all(r["mass_micro"] > 0 for r in pr)

        seeds = spark.createDataFrame([(1,)], "node long")
        w = edges.withColumn("w", F.lit(1))
        sssp(w, seeds, rounds=5)
        ss = m.for_op("sssp")
        assert [r["round"] for r in ss] == [0, 1, 2, 3, 4]
        assert ss[-1]["reached"] == 5
        assert ss[-1]["grew"] == 0  # converged before the final round

        und = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], "a long, b long"
        )
        kcore(und, k=2)
        kc = m.for_op("kcore")
        assert kc and kc[0]["peeled"] == 1  # the 3-4 pendant edge peels
        assert kc[-1]["peeled"] == 0  # fixpoint round

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "child long, parent long"
        )
        transitive_closure(chain)
        tc = m.for_op("transitive_closure")
        # depth 8 -> floor(log2 8) + 1 doubling rounds; the last one shows
        # no pair lies 16 hops apart, so it adds none
        assert [r["round"] for r in tc] == [0, 1, 2, 3]
        assert tc[-1]["new_pairs"] == 0
        assert tc[-1]["pairs"] == 9 * 8 // 2  # full chain closure

        # the old closure covers 0..4; the delta edges extend it to 8
        old = transitive_closure(chain.where("child < 4"))
        transitive_closure_incremental(old, chain.where("child >= 4"))
        inc = m.for_op("transitive_closure_incremental")
        # over the old closure's pairs plus the delta edges the longest
        # shortest path is 0 -> 4 -> 5 -> 6 -> 7 -> 8, 5 hops: floor(log2 5)
        # + 1 = 3 rounds, and the last still adds the 5-hop pairs
        assert [r["round"] for r in inc] == [0, 1, 2]
        assert [r["longest"] for r in inc] == [2, 4, 5]
        assert inc[0]["new_pairs"] > 0 and inc[-1]["new_pairs"] > 0
        assert inc[-1]["pairs"] == 9 * 8 // 2

        # triangle 1-2-3 plus pendant 4: degree sum 8, core sum 2+2+2+1 = 7
        coreness(und)
        cc = m.for_op("coreness")
        assert [r["sum_c"] for r in cc] == [7, 7]  # the fixpoint round ends it

        mdf = m.df(spark)
        assert mdf.columns == ["op", "round", "metric", "value"]
        assert mdf.count() == sum(len(r) - 2 for r in m.rows)


def test_round_metrics_default_path_observes_nothing(spark, monkeypatch):
    """Outside a recording() block a loop evaluates no aggregate for
    metrics: with the observing checkpoint made to raise, pagerank still
    returns the recorded run's ranks, and the exited block's recorder
    gets no further rows."""
    from nexus_forge_spark.functions import itermetrics
    from nexus_forge_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    with itermetrics.recording() as m:
        want = sorted(pagerank(edges, iterations=3).collect())
    assert [r["round"] for r in m.for_op("pagerank")] == [0, 1, 2]

    def boom(*_a, **_k):
        raise AssertionError("observed outside a recording() block")

    monkeypatch.setattr(itermetrics, "checkpoint_observed", boom)
    assert sorted(pagerank(edges, iterations=3).collect()) == want
    assert len(m.rows) == 3


def test_recording_nests_and_labels_by_enclosing_function():
    from nexus_forge_spark.functions.itermetrics import iterate, recording

    def count_up(n, rnd):
        rnd.seen["n"] = n
        return n + 1

    with recording() as outer:
        iterate(count_up, 0, 1)
        with recording() as inner:
            iterate(lambda n, rnd: count_up(n, rnd), 5, 2)
        iterate(count_up, 9, 1, op="named")
    assert outer.rows == [
        {"op": "test_recording_nests_and_labels_by_enclosing_function", "round": 0, "n": 0},
        {"op": "named", "round": 0, "n": 9},
    ]
    assert inner.rows == [
        {"op": "test_recording_nests_and_labels_by_enclosing_function", "round": i, "n": 5 + i}
        for i in range(2)
    ]


def test_round_metrics_df_skips_non_numeric_observations(spark):
    """Every loop records inside a block, so df() must take the
    observations that are no integer: kcenter_select's `far` row (kept in
    rows only), bpe_train's bool `exhausted` (0/1) and a sum over no rows
    (a null value)."""
    from nexus_forge_spark.functions.itermetrics import RoundMetrics, recording
    from nexus_forge_spark.operators.bpe import bpe_train
    from nexus_forge_spark.operators.clustering import kcenter_select
    from nexus_forge_spark.operators.ontology import wl_colors

    pts = spark.createDataFrame(
        [(1, [0, 0]), (2, [1, 0]), (3, [10, 0])], "vid long, qv array<long>"
    )
    words = spark.createDataFrame([("low", 5), ("lower", 2)], "word string, cnt long")
    triples = spark.createDataFrame(
        [("_:a", "p", "n:1"), ("_:b", "p", "_:a")], "subj string, pred string, obj string"
    )
    with recording() as m:
        kcenter_select(pts, k=2, dim=2)
        bpe_train(words, 2)
        wl_colors(triples, rounds=2)
    assert m.for_op("kcenter_select") and m.for_op("bpe_train")
    assert [r["round"] for r in m.for_op("wl_colors")] == [0, 1]
    long_form = m.df(spark).collect()
    got = {(r.op, r.metric) for r in long_form}
    assert ("bpe_train", "exhausted") in got
    assert not any(r.metric == "far" for r in long_form)
    assert {r.value for r in long_form if r.metric == "exhausted"} <= {0, 1}

    hand = RoundMetrics()
    hand.record("pagerank", 0, changed=None, settled=True)
    assert sorted(hand.df(spark).collect(), key=lambda r: r.metric) == [
        ("pagerank", 0, "changed", None),
        ("pagerank", 0, "settled", 1),
    ]


# a 4-clique (coreness 3) with a pendant path (1) and a triangle bridge (2)
_HAND_CORE_EDGES = [(i, j) for i in range(4) for j in range(i + 1, 4)] + [
    (3, 10), (10, 11), (11, 12), (0, 20), (1, 20),
]
_HAND_CORENESS = {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1, 12: 1, 20: 2}


def test_coreness_matches_peeling_definition(spark):
    """Hand graph: h-index iteration must land on the exact peeling core
    numbers, and agree with kcore membership at every k."""
    from nexus_forge_spark.operators.graph import coreness, kcore

    edges = spark.createDataFrame(_HAND_CORE_EDGES, "a long, b long")
    got = {r.node: r.coreness for r in coreness(edges).collect()}
    assert got == _HAND_CORENESS
    for k in (1, 2, 3):
        members = {r.node for r in kcore(edges, k=k).collect()}
        assert members == {n for n, c in got.items() if c >= k}
    import pytest

    with pytest.raises(RuntimeError, match="still changing"):
        coreness(edges, rounds=1)


def _hindex_changing_rounds(edges) -> int:
    """Rounds of the h-index iteration from the degree vector that still
    change some value (pure python)."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def h(vals):
        vals = sorted(vals, reverse=True)
        return max((min(v, i + 1) for i, v in enumerate(vals)), default=0)

    c, r = {v: len(ns) for v, ns in adj.items()}, 0
    while True:
        nxt = {v: h([c[u] for u in ns]) for v, ns in adj.items()}
        if nxt == c:
            return r
        c, r = nxt, r + 1


def test_coreness_convergence_boundary(spark):
    """The early exit keeps the fixed-budget boundary: with r changing
    rounds, rounds=r raises and rounds=r+1 returns the peeling answer."""
    import pytest

    from nexus_forge_spark.operators.graph import coreness

    r = _hindex_changing_rounds(_HAND_CORE_EDGES)
    assert r >= 1
    edges = spark.createDataFrame(_HAND_CORE_EDGES, "a long, b long")
    with pytest.raises(RuntimeError, match="still changing"):
        coreness(edges, rounds=r)
    got = {row.node: row.coreness for row in coreness(edges, rounds=r + 1).collect()}
    assert got == _HAND_CORENESS


def test_closure_incremental_convergence_boundary(spark):
    """Same boundary for the incremental closure under its stop rule.  The
    seed pairs (old closure plus delta edges) chain 0 -> 3 -> 4 -> ... -> 12,
    a longest shortest path of L = 10 pairs, so the doubling stops after
    floor(log2 L) + 1 rounds, which for an L that is no power of two are
    exactly the r rounds that still add pairs: max_rounds=r-1 raises and
    max_rounds=r returns the full closure."""
    import pytest

    from nexus_forge_spark.operators.ontology import (
        ClosureError,
        transitive_closure,
        transitive_closure_incremental,
    )

    chain = [(i, i + 1) for i in range(12)]
    old_edges, delta_edges = chain[:3], chain[3:]
    reach = {(a, c) for a, b in old_edges for c in range(b, 4)} | set(delta_edges)
    seed = set(reach)
    r = 0
    while True:
        nxt = reach | {(a, d) for a, b in reach for c, d in reach if b == c}
        if nxt == reach:
            break
        reach, r = nxt, r + 1
    assert r >= 2 and len(reach) == 13 * 12 // 2

    def farthest(a: int) -> int:  # BFS levels over the seed pairs
        seen, frontier, level = {a}, {a}, 0
        while True:
            frontier = {d for c, d in seed if c in frontier} - seen
            if not frontier:
                return level
            seen, level = seen | frontier, level + 1

    longest = max(farthest(a) for a, _ in seed)
    assert longest == 10 and longest.bit_length() == r

    schema = "child long, parent long"
    old = transitive_closure(spark.createDataFrame(old_edges, schema))
    delta = spark.createDataFrame(delta_edges, schema)
    with pytest.raises(ClosureError, match="not converged"):
        transitive_closure_incremental(old, delta, max_rounds=r - 1)
    got = transitive_closure_incremental(old, delta, max_rounds=r)
    assert {(row.node, row.anc) for row in got.collect()} == reach


def _peeling_changing_rounds(edges, keep) -> tuple[int, set]:
    """Peel an undirected edge set to its fixpoint (pure python): returns
    the number of rounds that still drop an edge and the surviving
    (lo, hi) pairs.  ``keep(adj, a, b)`` is the per-round survival test
    of edge (a, b) over the current adjacency."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    r = 0
    while und:
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        nxt = {(a, b) for a, b in und if keep(adj, a, b)}
        if nxt == und:
            break
        und, r = nxt, r + 1
    return r, und


def test_kcore_convergence_boundary(spark):
    """kcore keeps its budget on iterate(): with r peeling rounds
    that still drop an edge, max_iter=r raises and max_iter=r+1 returns
    the peeling answer (the pendant path 3-10-11-12 peels one node per
    round at k=2)."""
    import pytest

    from nexus_forge_spark.operators.graph import kcore

    r, core = _peeling_changing_rounds(
        _HAND_CORE_EDGES, lambda adj, a, b: min(len(adj[a]), len(adj[b])) >= 2
    )
    assert r >= 2 and core
    want = {}
    for a, b in core:
        want[a], want[b] = want.get(a, 0) + 1, want.get(b, 0) + 1
    edges = spark.createDataFrame(_HAND_CORE_EDGES, "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(edges, k=2, max_iter=r)
    got = kcore(edges, k=2, max_iter=r + 1).collect()
    assert {row.node: row.degree for row in got} == want


def test_ktruss_convergence_boundary(spark):
    """Same boundary for ktruss: the hand graph plus a triangle strip,
    whose k=4 peel drops the strip's chords first and its rails next
    while the 4-clique survives."""
    import pytest

    from nexus_forge_spark.operators.graph import ktruss

    strip = [(i, i + 1) for i in range(30, 37)] + [(i, i + 2) for i in range(30, 36)]
    rows = _HAND_CORE_EDGES + strip
    r, truss = _peeling_changing_rounds(
        rows, lambda adj, a, b: len(adj[a] & adj[b]) >= 2
    )
    assert r >= 2 and truss
    edges = spark.createDataFrame(rows, "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        ktruss(edges, k=4, max_iter=r)
    got = ktruss(edges, k=4, max_iter=r + 1).collect()
    assert {(row.lo, row.hi) for row in got} == truss


def test_disparity_backbone_keeps_planted_edge(spark):
    """A hub with 20 weight-1 edges plus ONE weight-30 edge: the heavy
    edge is statistically surprising from the hub's side and must be the
    only survivor at alpha=0.05; uniform stars keep nothing."""
    from nexus_forge_spark.operators.graph import disparity_backbone

    rows = [(0, i, 1) for i in range(1, 21)] + [(0, 99, 30)]
    edges = spark.createDataFrame(rows, "a long, b long, w long")
    kept = disparity_backbone(edges, alpha_milli=50).collect()
    assert [(r.a, r.b, r.w) for r in kept] == [(99, 0, 30)]
    assert kept[0].nll_a_micro == 0 or kept[0].nll_b_micro > 2995732
    uniform = spark.createDataFrame(
        [(0, i, 5) for i in range(1, 21)], "a long, b long, w long"
    )
    assert disparity_backbone(uniform, alpha_milli=50).count() == 0


def test_coreness_random_graph_vs_peeling(spark):
    """Differential on a random graph: histogram-fold h-index fixpoint ==
    classic python peeling core decomposition."""
    import random

    from nexus_forge_spark.operators.graph import coreness

    rng = random.Random(9)
    n = 40
    edges = set()
    for _ in range(120):
        a, b = rng.randint(0, n - 1), rng.randint(0, n - 1)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "a long, b long")
    got = {r.node: r.coreness for r in coreness(df, rounds=30).collect()}

    # python peeling
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core, alive = {}, dict(deg)
    k = 0
    while alive:
        k_min = min(alive.values())
        k = max(k, k_min)
        peel = [v for v, d in alive.items() if d <= k]
        while peel:
            v = peel.pop()
            if v not in alive:
                continue
            core[v] = k
            del alive[v]
            for u in adj[v]:
                if u in alive:
                    alive[u] -= 1
                    if alive[u] <= k:
                        peel.append(u)
    assert got == core
