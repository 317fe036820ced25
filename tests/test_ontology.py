from __future__ import annotations

import duckdb
import pytest

from nexus_forge_spark.operators.ontology import (
    ClosureError,
    class_rollup,
    flatten_rdf_lists,
    sql_class_rollup,
    owl_transitive_entail,
    sql_flatten_rdf_lists,
    transitive_closure,
    transitive_closure_incremental,
)


def test_closure_deep_chain_converges_in_log_rounds(spark):
    # depth-70 chain: naive propagation needs 70 rounds; doubling needs 7.
    edges = spark.createDataFrame(
        [(f"c{i}", f"c{i + 1}") for i in range(70)], "child string, parent string"
    )
    out = transitive_closure(edges, max_rounds=9)
    rows = {(r.node, r.anc) for r in out.collect()}
    assert ("c0", "c70") in rows
    assert len(rows) == 70 * 71 // 2


def test_closure_diamond_counts_once(spark):
    # d -> b -> a and d -> c -> a: (d, a) must appear exactly once.
    edges = spark.createDataFrame(
        [("d", "b"), ("d", "c"), ("b", "a"), ("c", "a")],
        "child string, parent string",
    )
    out = transitive_closure(edges).collect()
    assert sum(1 for r in out if (r.node, r.anc) == ("d", "a")) == 1


def test_closure_nonconvergence_raises(spark):
    edges = spark.createDataFrame(
        [(f"c{i}", f"c{i + 1}") for i in range(70)], "child string, parent string"
    )
    with pytest.raises(ClosureError):
        transitive_closure(edges, max_rounds=2)


def _chain(spark, depth):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(depth)], "child long, parent long"
    )


@pytest.mark.parametrize("depth", [8, 12])
def test_closure_stops_on_shortest_path_bound(spark, depth):
    """A chain whose longest path is L stops after floor(log2 L) + 1
    rounds, 4 for both L = 8 and L = 12.  At L = 8 the fourth round is the
    one that shows no pair lies 16 hops apart, so it adds no pair."""
    from nexus_forge_spark.functions.itermetrics import recording

    with recording() as m:
        out = transitive_closure(_chain(spark, depth))
    rows = m.for_op("transitive_closure")
    assert [r["round"] for r in rows] == [0, 1, 2, 3]
    assert [r["longest"] for r in rows] == [2, 4, 8, depth]
    assert rows[-1]["pairs"] == depth * (depth + 1) // 2
    assert (rows[-1]["new_pairs"] == 0) == (depth == 8)
    assert out.columns == ["node", "anc"]
    assert {(r.node, r.anc) for r in out.collect()} == {
        (a, b) for a in range(depth + 1) for b in range(a + 1, depth + 1)
    }


def _py_closure(pairs):
    reach = set(pairs)
    while True:
        nxt = reach | {(a, d) for a, b in reach for c, d in reach if b == c}
        if nxt == reach:
            return reach
        reach = nxt


def test_owl_transitive_cycles_match_python_closure(spark):
    """Cycles of several lengths, a reflexive seed pair and a tail off a
    cycle, per predicate: every pair of the pure-Python closure, the
    self-loops the cycles entail included, and nothing else."""
    ring = ["a", "b", "c", "d", "e"]
    t = [(ring[i], ring[(i + 1) % 5]) for i in range(5)]
    t += [("e", "f"), ("f", "g"), ("g", "h"), ("h", "h"), ("x", "a")]
    u = [("p", "q"), ("q", "p"), ("q", "r"), ("r", "s"), ("s", "t"), ("t", "u")]
    rows = [(s, "t", o) for s, o in t] + [(s, "u", o) for s, o in u]
    got = {
        (r.subj, r.pred, r.obj)
        for r in owl_transitive_entail(_trips(spark, rows), ["t", "u"]).collect()
    }
    want = {(s, "t", o) for s, o in _py_closure(t)}
    want |= {(s, "u", o) for s, o in _py_closure(u)}
    assert ("a", "t", "a") in want and ("h", "t", "h") in want
    assert got == want


def test_closures_of_empty_input_are_empty(spark):
    empty = spark.createDataFrame([], "child long, parent long")
    assert transitive_closure(empty).collect() == []
    assert transitive_closure_incremental(transitive_closure(empty), empty).collect() == []
    assert owl_transitive_entail(_trips(spark, []), ["t"]).collect() == []


def test_closure_broadcasts_hop_side_only_under_threshold(spark, monkeypatch):
    """With broadcast joins switched off (threshold -1) no round asks for
    a broadcast and the pairs are unchanged; at the session's threshold a
    small chain's hop side is broadcast."""
    from nexus_forge_spark.operators import ontology

    chain = _chain(spark, 12)
    want = {(r.node, r.anc) for r in transitive_closure(chain).collect()}

    def no_broadcast(df):
        raise AssertionError("hop side broadcast")

    monkeypatch.setattr(ontology.F, "broadcast", no_broadcast)
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        got = {(r.node, r.anc) for r in transitive_closure(chain).collect()}
    finally:
        spark.conf.set(key, threshold)
    assert got == want
    with pytest.raises(AssertionError, match="hop side broadcast"):
        transitive_closure(chain)


def test_class_rollup_diamond_no_double_count(spark):
    edges = spark.createDataFrame(
        [("d", "b"), ("d", "c"), ("b", "a"), ("c", "a")],
        "child string, parent string",
    )
    inst = spark.createDataFrame(
        [("x1", "d"), ("x2", "d"), ("x3", "b"), ("x4", "zero_free")],
        "instance string, cls string",
    )
    got = {r.cls: (r.direct_cnt, r.subtree_cnt) for r in class_rollup(inst, edges).collect()}
    # a's subtree: d(2) + b(1) counted once despite two paths from d.
    assert got["a"] == (0, 3)
    assert got["b"] == (1, 3)
    assert got["c"] == (0, 2)
    assert got["d"] == (2, 2)
    assert got["zero_free"] == (1, 1)  # instance class outside the hierarchy


def test_class_rollup_matches_duckdb_oracle(spark):
    edges = [(f"c{i}", f"c{i + 1}") for i in range(12)] + [("side", "c3")]
    inst = [(f"x{i}", f"c{i % 5}") for i in range(200)] + [("y", "side")]
    e_df = spark.createDataFrame(edges, "child string, parent string")
    i_df = spark.createDataFrame(inst, "instance string, cls string")
    got = sorted(
        (r.cls, r.direct_cnt, r.subtree_cnt) for r in class_rollup(i_df, e_df).collect()
    )
    e_sql = " UNION ALL ".join(f"SELECT '{c}' AS child, '{p}' AS parent" for c, p in edges)
    i_sql = " UNION ALL ".join(f"SELECT '{i}' AS instance, '{c}' AS cls" for i, c in inst)
    want = sorted(duckdb.connect().execute(sql_class_rollup(e_sql, i_sql)).fetchall())
    assert got == [tuple(w) for w in want]


def _list_triples(spark, lists: dict[str, list[str]], dangle: bool = False):
    rows = []
    for head, items in lists.items():
        for i, item in enumerate(items):
            cell = head if i == 0 else f"{head}#{i}"
            nxt = "rdf:nil" if i == len(items) - 1 else f"{head}#{i + 1}"
            if dangle and i == len(items) - 1:
                nxt = "ghost:cell"  # malformed tail: rest points nowhere
            rows.append((cell, "rdf:first", item))
            rows.append((cell, "rdf:rest", nxt))
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_flatten_lists_positions_and_multiple_lists(spark):
    trips = _list_triples(
        spark, {"L1": [f"i{k}" for k in range(13)], "L2": ["a"], "L3": ["p", "q"]}
    )
    got = {(r.head, r.pos, r.item) for r in flatten_rdf_lists(trips).collect()}
    assert ("L1", 0, "i0") in got and ("L1", 12, "i12") in got
    assert ("L2", 0, "a") in got
    assert ("L3", 1, "q") in got
    assert len(got) == 13 + 1 + 2


def test_flatten_lists_dangling_tail_truncates_not_raises(spark):
    trips = _list_triples(spark, {"L": ["a", "b", "c"]}, dangle=True)
    got = sorted((r.pos, r.item) for r in flatten_rdf_lists(trips).collect())
    # the dangling rest target has no first edge -> chain ends at c.
    assert got == [(0, "a"), (1, "b"), (2, "c")]


def test_flatten_lists_matches_duckdb_oracle(spark):
    trips = _list_triples(spark, {f"L{j}": [f"v{j}_{k}" for k in range(j + 1)] for j in range(9)})
    got = sorted((r.head, r.pos, r.item) for r in flatten_rdf_lists(trips).collect())
    t_sql = " UNION ALL ".join(
        f"SELECT '{s}' AS subj, '{p}' AS pred, '{o}' AS obj"
        for s, p, o in (tuple(r) for r in trips.collect())
    )
    want = sorted(duckdb.connect().execute(sql_flatten_rdf_lists(t_sql)).fetchall())
    assert got == [tuple(w) for w in want]


def _trips(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_rdfs_entailment_stratified_rules(spark):
    """rdfs7 output must feed rdfs2 (domain of a SUPER-property types the
    subject) and rdfs9/11 must roll asserted + derived types up the
    subClassOf closure."""
    from nexus_forge_spark.operators.ontology import rdfs_entailment

    facts = _trips(spark, [("a", "p", "b"), ("x", "rdf:type", ":Sub")])
    subclass = spark.createDataFrame(
        [(":Sub", ":Mid"), (":Mid", ":Top"), (":QDom", ":DomTop")],
        "child string, parent string",
    )
    subprop = spark.createDataFrame([("p", "q")], "child string, parent string")
    domains = spark.createDataFrame([("q", ":QDom")], "pred string, cls string")
    ranges = spark.createDataFrame([("q", ":QRng")], "pred string, cls string")
    got = {
        (r.subj, r.pred, r.obj)
        for r in rdfs_entailment(facts, subclass, subprop, domains, ranges).collect()
    }
    # rdfs7: (a q b); rdfs2 on the ENTAILED triple: (a type :QDom);
    # rdfs11 rolls it to :DomTop; rdfs3: (b type :QRng)
    assert ("a", "q", "b") in got
    assert ("a", "rdf:type", ":QDom") in got
    assert ("a", "rdf:type", ":DomTop") in got
    assert ("b", "rdf:type", ":QRng") in got
    # asserted type rolled up two levels
    assert ("x", "rdf:type", ":Mid") in got and ("x", "rdf:type", ":Top") in got
    # schema closure emitted as triples
    assert (":Sub", "rdfs:subClassOf", ":Top") in got
    assert ("p", "rdfs:subPropertyOf", "q") in got
    # original triple survives, and nothing is duplicated
    assert ("a", "p", "b") in got


def test_rdfs_entailment_matches_duckdb(spark):
    from nexus_forge_spark.operators.ontology import (
        rdfs_entailment,
        sql_rdfs_entailment,
    )

    fact_rows = [(f"s{i % 7}", "p" if i % 3 else "p2", f"o{i % 5}") for i in range(40)]
    fact_rows += [(f"s{i}", "rdf:type", ":A") for i in range(4)]
    facts = _trips(spark, fact_rows)
    subclass = spark.createDataFrame(
        [(":A", ":B"), (":B", ":C")], "child string, parent string"
    )
    subprop = spark.createDataFrame(
        [("p", "q"), ("p2", "q")], "child string, parent string"
    )
    domains = spark.createDataFrame([("q", ":B")], "pred string, cls string")
    ranges = spark.createDataFrame([("p", ":A")], "pred string, cls string")
    got = sorted(
        (r.subj, r.pred, r.obj)
        for r in rdfs_entailment(facts, subclass, subprop, domains, ranges).collect()
    )
    f_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"('{s}', '{p}', '{o}')" for s, p, o in fact_rows
    ) + ") AS t(subj, pred, obj)"
    sql = sql_rdfs_entailment(
        f_sql,
        "SELECT * FROM (VALUES (':A', ':B'), (':B', ':C')) AS t(child, parent)",
        "SELECT * FROM (VALUES ('p', 'q'), ('p2', 'q')) AS t(child, parent)",
        "SELECT * FROM (VALUES ('q', ':B')) AS t(pred, cls)",
        "SELECT * FROM (VALUES ('p', ':A')) AS t(pred, cls)",
    )
    want = sorted(duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_owl_transitive_entail_two_preds_one_plan(spark):
    from nexus_forge_spark.operators.ontology import owl_transitive_entail

    rows = [(f"n{i}", "deep", f"n{i + 1}") for i in range(9)]
    rows += [("a", "shallow", "b"), ("b", "shallow", "c")]
    rows += [("x", "other", "y"), ("y", "other", "z")]  # NOT closed
    out = owl_transitive_entail(_trips(spark, rows), ["deep", "shallow"])
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("n0", "deep", "n9") in got
    assert ("a", "shallow", "c") in got
    assert not any(p == "other" for _, p, _ in got)
    assert sum(1 for _, p, _ in got if p == "deep") == 9 * 10 // 2


def test_owl_transitive_cycle_entails_self_loops(spark):
    from nexus_forge_spark.operators.ontology import owl_transitive_entail

    out = owl_transitive_entail(
        _trips(spark, [("a", "t", "b"), ("b", "t", "a")]), ["t"]
    )
    got = {(r.subj, r.obj) for r in out.collect()}
    assert got == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_property_chain_entail(spark):
    from nexus_forge_spark.operators.ontology import property_chain_entail

    trips = _trips(
        spark,
        [
            ("c1", "placed", "o1"),
            ("o1", "contains", "p1"),
            ("o1", "contains", "p2"),
            ("c2", "placed", "o9"),  # o9 has no contents -> nothing entailed
            ("p1", "other", "x"),
        ],
    )
    got = {
        (r.subj, r.pred, r.obj)
        for r in property_chain_entail(
            trips, [("placed", "contains", "purchased")]
        ).collect()
    }
    assert got == {("c1", "purchased", "p1"), ("c1", "purchased", "p2")}


def test_unreify_roles_annotations_and_malformed(spark):
    from nexus_forge_spark.operators.ontology import unreify

    trips = _trips(
        spark,
        [
            ("st1", "rdf:type", "rdf:Statement"),
            ("st1", "rdf:subject", "a"),
            ("st1", "rdf:predicate", "knows"),
            ("st1", "rdf:object", "b"),
            ("st1", "prov:source", "crawl7"),
            ("st1", "prov:conf", "900"),
            ("st2", "rdf:subject", "c"),     # missing predicate+object -> dropped
            ("st3", "rdf:subject", "d"),
            ("st3", "rdf:predicate", "knows"),
            ("st3", "rdf:object", "e"),      # bare statement -> NULL annotation
        ],
    )
    rows = unreify(trips).collect()
    got = {(r.subj, r.pred, r.obj, r.ann_pred, r.ann_obj) for r in rows}
    assert ("a", "knows", "b", "prov:source", "crawl7") in got
    assert ("a", "knows", "b", "prov:conf", "900") in got
    assert ("d", "knows", "e", None, None) in got
    assert not any(r.subj == "c" for r in rows)
    # rdf:type rdf:Statement consumed, never an annotation
    assert not any(r.ann_pred == "rdf:type" for r in rows)


def test_incremental_closure_equals_full_recompute(spark):
    """Delta edges BRIDGE two chains: the incremental result must equal
    the from-scratch closure of the union, pair for pair."""
    from nexus_forge_spark.operators.ontology import (
        transitive_closure,
        transitive_closure_incremental,
    )

    old_edges = [(f"a{i}", f"a{i + 1}") for i in range(6)]
    old_edges += [(f"b{i}", f"b{i + 1}") for i in range(6)]
    delta = [("a6", "b0"), ("x", "a0")]  # bridge + new source node
    mk = lambda rows: spark.createDataFrame(rows, "child string, parent string")
    full = {
        (r.node, r.anc) for r in transitive_closure(mk(old_edges + delta)).collect()
    }
    inc = {
        (r.node, r.anc)
        for r in transitive_closure_incremental(
            transitive_closure(mk(old_edges)), mk(delta)
        ).collect()
    }
    assert inc == full
    assert ("x", "b6") in inc  # path threading both delta edges


def test_meta_blocking_wnp_purge_and_prune(spark):
    from nexus_forge_spark.operators.blocking import meta_blocking_wnp

    rows = []
    # block B1 holds e1,e2,e3; block B2 holds e1,e2 -> (e1,e2) weight 2
    for b, es in [("B1", ["e1", "e2", "e3"]), ("B2", ["e1", "e2"])]:
        rows += [(e, b) for e in es]
    # an oversized block must be purged entirely
    rows += [(f"z{i}", "BIG") for i in range(10)]
    df = spark.createDataFrame(rows, "entity string, block string")
    got = {(r.a, r.b): r.weight for r in meta_blocking_wnp(df, max_block=8).collect()}
    # weights: (e1,e2)=2, (e1,e3)=1, (e2,e3)=1.
    # avgs: e1=e2=3/2, e3=1 -> (e1,e2): 2 >= 3/2 keep; (e1,e3): 1 >= 5/4 drop
    assert got == {("e1", "e2"): 2}
    assert not any(a.startswith("z") for a, _ in got)


def test_meta_blocking_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.blocking import (
        meta_blocking_wnp,
        sql_meta_blocking_wnp,
    )

    rows = [(f"e{i % 23}", f"b{(i * 5) % 11}") for i in range(150)]
    rows += [(f"e{i}", "mega") for i in range(20)]
    df = spark.createDataFrame(rows, "entity string, block string")
    got = sorted((r.a, r.b, r.weight) for r in meta_blocking_wnp(df, max_block=12).collect())
    vals = ", ".join(f"('{e}', '{b}')" for e, b in rows)
    sql = sql_meta_blocking_wnp(
        f"SELECT * FROM (VALUES {vals}) AS t(entity, block)", max_block=12
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# -------------------------------------------------------- bisim summary


def test_bisim_summary_splits_by_unfolding(spark):
    """Two 'doc' nodes with identical outgoing shape share a block; a
    third with an extra edge splits off; leaves group by namespace."""
    from nexus_forge_spark.operators.ontology import bisim_summary

    trips = [
        ("d:1", "has", "t:x"), ("d:2", "has", "t:x"),
        ("d:3", "has", "t:x"), ("d:3", "extra", "t:y"),
    ]
    t = spark.createDataFrame(trips, "subj string, pred string, obj string")
    out = bisim_summary(t, rounds=2).collect()
    # quotient edges: {d12}-has->{t}, {d3}-has->{t}, {d3}-extra->{t}
    by_pred = {}
    for r in out:
        by_pred.setdefault(r.pred, []).append(r)
    assert {r.src_block_size for r in by_pred["has"]} == {1, 2}
    assert len(by_pred["extra"]) == 1 and by_pred["extra"][0].src_block_size == 1
    # t:x and t:y share the leaf block (same namespace, no out-edges)
    assert all(r.dst_block_size == 2 for r in out)


def test_bisim_summary_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.ontology import (
        bisim_summary,
        sql_bisim_summary,
    )

    trips = [(f"a:{i % 7}", f"p{i % 3}", f"b:{(i * 3 + 1) % 5}") for i in range(40)]
    trips += [(f"b:{i}", "leafp", "c:z") for i in range(3)]
    t = spark.createDataFrame(trips, "subj string, pred string, obj string")
    got = sorted(tuple(r) for r in bisim_summary(t, rounds=3).collect())
    ev = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in trips)
    sql = sql_bisim_summary(
        f"SELECT * FROM (VALUES {ev}) AS t(subj, pred, obj)", rounds=3
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ------------------------------------------- qualified cardinality


def test_qualified_cardinality_min_max_and_zero(spark):
    from nexus_forge_spark.operators.ontology import qualified_cardinality_audit

    trips = [
        ("o1", "rdf:type", "Order"), ("o2", "rdf:type", "Order"),
        ("o3", "rdf:type", "Order"), ("o4", "rdf:type", "Order"),
        ("p1", "rdf:type", "Part"), ("p2", "rdf:type", "Part"),
        ("p3", "rdf:type", "Part"),
        # o1: 2 typed parts (ok); o2: 1 typed + 1 untyped (min viol);
        # o3: 3 typed (max viol at max_q=2); o4: no contains at all (min viol)
        ("o1", "contains", "p1"), ("o1", "contains", "p2"),
        ("o2", "contains", "p1"), ("o2", "contains", "x9"),
        ("o3", "contains", "p1"), ("o3", "contains", "p2"),
        ("o3", "contains", "p3"),
    ]
    t = spark.createDataFrame(trips, "subj string, pred string, obj string")
    out = {r.subj: (r.n_qualified, r.violation)
           for r in qualified_cardinality_audit(
               t, "Order", "contains", "Part", min_q=2, max_q=2).collect()}
    assert out == {"o2": (1, "min"), "o3": (3, "max"), "o4": (0, "min")}


def test_qualified_cardinality_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.ontology import (
        qualified_cardinality_audit,
        sql_qualified_cardinality_audit,
    )

    trips = [(f"s{i % 6}", "rdf:type", "C") for i in range(6)]
    trips += [(f"f{i}", "rdf:type", "Q") for i in range(4)]
    trips += [(f"s{i % 6}", "p", f"f{(i * 3) % 7}") for i in range(25)]
    t = spark.createDataFrame(trips, "subj string, pred string, obj string")
    got = sorted(tuple(r) for r in qualified_cardinality_audit(
        t, "C", "p", "Q", min_q=2, max_q=3).collect())
    ev = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in trips)
    sql = sql_qualified_cardinality_audit(
        f"SELECT * FROM (VALUES {ev}) AS t(subj, pred, obj)",
        "C", "p", "Q", min_q=2, max_q=3)
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ------------------------------------------- temporal functional audit


def test_temporal_functional_conflicts_semantics(spark):
    from nexus_forge_spark.operators.triples import (
        temporal_functional_conflicts,
    )

    rows = [
        # s1: A [0,10) then B [5,15) -> both conflict; B again [20,30) is fine
        ("s1", "p", "A", 0, 10),
        ("s1", "p", "B", 5, 15),
        ("s1", "p", "B", 20, 30),
        # s2: same obj overlapping intervals coalesce -> no conflict
        ("s2", "p", "A", 0, 10),
        ("s2", "p", "A", 5, 15),
        # s3: touching different objs do NOT conflict (half-open)
        ("s3", "p", "A", 0, 10),
        ("s3", "p", "B", 10, 20),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, start_us long, end_us long"
    )
    out = {(r.subj, r.obj, r.start_us): r.conflict
           for r in temporal_functional_conflicts(df).collect()}
    assert out[("s1", "A", 0)] is True
    assert out[("s1", "B", 5)] is True
    assert out[("s1", "B", 20)] is False
    assert out[("s2", "A", 0)] is False     # coalesced to [0,15)
    assert out[("s3", "A", 0)] is False and out[("s3", "B", 10)] is False


def test_temporal_functional_conflicts_matches_duckdb(spark):
    import duckdb

    from nexus_forge_spark.operators.triples import (
        sql_temporal_functional_conflicts,
        temporal_functional_conflicts,
    )

    rows = [
        (f"s{i % 5}", "p", f"o{(i * 3) % 4}", (i * 11) % 40, (i * 11) % 40 + 8)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, start_us long, end_us long"
    )
    got = sorted(tuple(r) for r in temporal_functional_conflicts(df).collect())
    ev = ", ".join(f"('{s}', '{p}', '{o}', {a}, {b})" for s, p, o, a, b in rows)
    sql = sql_temporal_functional_conflicts(
        f"SELECT * FROM (VALUES {ev}) AS t(subj, pred, obj, start_us, end_us)"
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_class_similarity_wu_palmer_hand_values(spark):
    """nation:A/B under region:R1, nation:C under region:R2, regions
    under World: wup(A,B)=2*2/(3+3), wup(A,C)=2*1/6, wup(A,R1)=2*2/5."""
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.ontology import class_similarity

    edges = spark.createDataFrame(
        [("A", "R1"), ("B", "R1"), ("C", "R2"), ("R1", "W"), ("R2", "W")],
        "child string, parent string",
    )
    pairs = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("A", "R1"), ("A", "W"), ("A", "ZZZ")],
        "a string, b string",
    )
    got = {
        (r.a, r.b): (r.d_a, r.d_b, r.d_lca, r.wup_ppm)
        for r in class_similarity(pairs, edges).collect()
    }
    assert got[("A", "B")] == (3, 3, 2, 666666)
    assert got[("A", "C")] == (3, 3, 1, 333333)
    assert got[("A", "R1")] == (3, 2, 2, 800000)
    assert got[("A", "W")] == (3, 1, 1, 500000)
    assert ("A", "ZZZ") not in got  # unknown class drops (inner join)


def test_class_similarity_random_tree_vs_python(spark):
    """Differential on random trees: wup_ppm == a python implementation
    computing ancestor-or-self sets directly."""
    import random

    from nexus_forge_spark.operators.ontology import class_similarity

    rng = random.Random(5)
    nodes = [f"n{i}" for i in range(25)]
    parent = {}
    for i, n in enumerate(nodes[1:], start=1):
        parent[n] = nodes[rng.randint(0, i - 1)]
    edges = spark.createDataFrame(
        list(parent.items()), "child string, parent string"
    )

    def anc_or_self(n):
        out = [n]
        while n in parent:
            n = parent[n]
            out.append(n)
        return out

    pairs = [(a, b) for a in nodes for b in nodes if a < b]
    rng.shuffle(pairs)
    pairs = pairs[:60]
    pdf = spark.createDataFrame(pairs, "a string, b string")
    got = {
        (r.a, r.b): (r.d_a, r.d_b, r.d_lca, r.wup_ppm)
        for r in class_similarity(pdf, edges).collect()
    }
    for a, b in pairs:
        aa, ab = anc_or_self(a), anc_or_self(b)
        d_a, d_b = len(aa), len(ab)
        common = set(aa) & set(ab)
        d_lca = max(len(anc_or_self(c)) for c in common)
        assert got[(a, b)] == (
            d_a, d_b, d_lca, 2 * d_lca * 1_000_000 // (d_a + d_b)
        ), (a, b)
