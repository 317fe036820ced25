"""Schema induction, predicate profiling, and deterministic random-walk
semantics (engine parity is covered by the kg_schema_graph /
kg_predicate_profile / random_walks contract queries)."""

from nexus_forge_spark.operators.graph import random_walks
from nexus_forge_spark.operators.triples import predicate_profile, schema_graph

TRIP_SCHEMA = (
    "subj string, pred string, obj string, "
    "obj_is_literal boolean, obj_datatype string"
)


def test_schema_graph_classes_and_datatypes(spark):
    trip = spark.createDataFrame(
        [
            ("a", "rdf:type", "Person", False, None),
            ("b", "rdf:type", "Org", False, None),
            ("a", "memberOf", "b", False, None),
            ("a", "name", "Ada", True, "xsd:string"),
            ("a", "age", "36", True, "xsd:integer"),
            ("c", "memberOf", "b", False, None),  # untyped subject
        ],
        TRIP_SCHEMA,
    )
    out = {
        (r.subj_type, r.pred, r.obj_type): r.n_triples
        for r in schema_graph(
            trip, literal_col="obj_is_literal", datatype_col="obj_datatype"
        ).collect()
    }
    assert out == {
        ("Person", "memberOf", "Org"): 1,
        ("Person", "name", "xsd:string"): 1,
        ("Person", "age", "xsd:integer"): 1,
        (None, "memberOf", "Org"): 1,
    }


def test_schema_graph_multi_typed_entity(spark):
    trip = spark.createDataFrame(
        [
            ("a", "rdf:type", "Person", False, None),
            ("a", "rdf:type", "Agent", False, None),
            ("a", "name", "Ada", True, None),  # null datatype -> xsd:string
        ],
        TRIP_SCHEMA,
    )
    out = {
        (r.subj_type, r.obj_type)
        for r in schema_graph(
            trip, literal_col="obj_is_literal", datatype_col="obj_datatype"
        ).collect()
    }
    assert out == {("Person", "xsd:string"), ("Agent", "xsd:string")}


def test_predicate_profile_functional_flag(spark):
    trip = spark.createDataFrame(
        [
            ("a", "name", "x", False, None),
            ("b", "name", "y", False, None),
            ("a", "knows", "b", False, None),
            ("a", "knows", "c", False, None),
        ],
        TRIP_SCHEMA,
    ).select("subj", "pred", "obj")
    out = {r.pred: r.asDict() for r in predicate_profile(trip).collect()}
    assert out["name"]["is_functional"] is True
    assert out["name"]["n_triples"] == 2 and out["name"]["n_subjects"] == 2
    assert out["knows"]["is_functional"] is False
    assert out["knows"]["max_per_subj"] == 2
    assert out["knows"]["n_objects"] == 2


E_SCHEMA = "src long, dst long"


def test_random_walks_shape_and_determinism(spark):
    rows = [(1, 2), (2, 1), (2, 3), (3, 2)]
    edges = spark.createDataFrame(rows, E_SCHEMA)
    out1 = random_walks(edges, num_walks=2, walk_length=3).collect()
    out2 = random_walks(edges, num_walks=2, walk_length=3).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    # 3 start nodes x 2 reps x 4 positions (no dangling nodes)
    assert len(out1) == 3 * 2 * 4
    # every step moves along a real edge
    eset = set(rows)
    pos = {(r.start, r.rep, r.step): r.node for r in out1}
    for (s, rep, st), n in pos.items():
        if st > 0:
            assert (pos[(s, rep, st - 1)], n) in eset


def test_random_walks_truncate_at_dangling(spark):
    edges = spark.createDataFrame([(1, 2)], E_SCHEMA)  # 2 has no out-edges
    out = random_walks(edges, num_walks=1, walk_length=3).collect()
    steps = sorted((r.step, r.node) for r in out)
    assert steps == [(0, 1), (1, 2)]  # walk stops, no padding


def test_random_walks_salt_changes_draws(spark, monkeypatch):
    from nexus_forge_spark.operators import graph

    # a node with 2+ neighbors must see different draws under some salt
    rows = [(1, n) for n in range(2, 12)] + [(n, 1) for n in range(2, 12)]
    edges = spark.createDataFrame(rows, E_SCHEMA)
    starts = spark.createDataFrame([(1,)], "node long")

    def draws(salt):
        monkeypatch.setattr(graph, "WALK_SALT", salt)
        return {(r.rep, r.step): r.node
                for r in random_walks(edges, 4, 1, starts=starts).collect()}

    assert draws("s1") != draws("s2")


def test_rank_entity_facts_rarity_order(spark):
    from nexus_forge_spark.operators.triples import rank_entity_facts

    trip = spark.createDataFrame(
        [
            ("a", "common", "x"),
            ("b", "common", "y"),
            ("c", "common", "z"),
            ("a", "rare", "r"),
            ("a", "mid", "m1"),
            ("b", "mid", "m2"),
        ],
        "subj string, pred string, obj string",
    )
    out = {(r.subj, r.fact_rank): (r.pred, r.pred_triples)
           for r in rank_entity_facts(trip, top_k=2).collect()}
    # a: rare (1 use) then mid (2 uses); common (3 uses) cut by top-2
    assert out == {
        ("a", 1): ("rare", 1),
        ("a", 2): ("mid", 2),
        ("b", 1): ("mid", 2),
        ("b", 2): ("common", 3),
        ("c", 1): ("common", 3),
    }


def test_mention_contexts_clamped_windows(spark):
    from nexus_forge_spark.operators.mentions import mention_contexts

    docs = spark.createDataFrame(
        [(1, "a b c d e f g")], "doc_id long, text string"
    )
    resolved = spark.createDataFrame(
        [
            (1, 0, 1, "a", "E1"),   # at doc start: no left context
            (1, 3, 2, "d e", "E2"),  # bigram mid-doc
            (1, 6, 1, "g", "E3"),   # at doc end: no right context
        ],
        "doc_id long, tok_idx int, n int, mention string, entity_id string",
    )
    out = {r.mention: (r.left_context, r.right_context)
           for r in mention_contexts(resolved, docs, window=3).collect()}
    assert out == {
        "a": ("", "b c d"),
        "d e": ("a b c", "f g"),
        "g": ("d e f", ""),
    }
