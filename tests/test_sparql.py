"""SPARQL rewrite parity + SELECT-subset compiler correctness.

The rewrite goldens reproduce the reference's own public test matrix
(tests/core/commons/test_sparql_query_builder.py:53-120) so behavioral
parity with rewrite_sparql (sparql_query_builder.py:265-331) is checked
case by case.  The compiler tests run the generated SQL on DuckDB against
hand-written expected results over a tiny triples relation; the Spark
execution path is covered by the sparql_select contract query.
"""

import duckdb
import pytest

from nexus_forge_spark.functions.sparql import (
    QueryingError,
    apply_limit_and_offset,
    flatten_context,
    rewrite_sparql,
    sparql_to_sql,
)

CONTEXT = {
    "@context": {
        "@vocab": "http://example.org/vocab/",
        "type": {"@id": "rdf:type", "@type": "@id"},
        "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
        "prov": "http://www.w3.org/ns/prov#",
        "schema": "http://schema.org/",
        "Person": {"@id": "schema:Person", "@type": "@id"},
        "Association": "prov:Association",
        "name": "schema:name",
        "agent": "prov:agent",
        "description": "http://schema.org/description",
    }
}

# the store metadata context contributes the deprecated term
# (reference conftest metadata_context fixture)
METADATA_TERMS = {"deprecated": "https://store.net/vocabulary/deprecated"}

PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "prov": "http://www.w3.org/ns/prov#",
    "schema": "http://schema.org/",
}
PREFIX_STRING = "\n".join(f"PREFIX {k}: <{v}>" for k, v in PREFIXES.items())
PREFIX_STRING_VOCAB = "\n".join(
    [PREFIX_STRING, "PREFIX : <http://example.org/vocab/>"]
)

REWRITE_CASES = [
    ("SELECT ?agent WHERE { <http://exaplpe.org/1234> agent ?agent }",
     "\nSELECT ?agent WHERE { <http://exaplpe.org/1234> prov:agent ?agent }"),
    ("SELECT ?agent WHERE { ?agent type ?v0 FILTER(?v0 != Person) }",
     "\nSELECT ?agent WHERE { ?agent rdf:type ?v0 FILTER(?v0 != schema:Person) }"),
    ("SELECT ?agent WHERE { ?agent type ?v0 FILTER (?v0 in (Person, Agent)) }",
     "\nSELECT ?agent WHERE { ?agent rdf:type ?v0 FILTER (?v0 in (schema:Person, :Agent)) }"),
    ("SELECT ?x ?name WHERE { ?x type Association ; agent/name ?name }",
     "\nSELECT ?x ?name WHERE { ?x rdf:type prov:Association ; prov:agent/schema:name ?name }"),
    ('SELECT ?name WHERE { ?x agent/name ?name FILTER regex(?name, "^j", "i") }',
     '\nSELECT ?name WHERE { ?x prov:agent/schema:name ?name FILTER regex(?name, "^j", "i") }'),
    ("SELECT ?x WHERE { <http://exaplpe.org/1234> description ?x }",
     "\nSELECT ?x WHERE { <http://exaplpe.org/1234> <http://schema.org/description> ?x }"),
    ("SELECT ?x WHERE { <http://exaplpe.org/1234> a TypeNotInContext }",
     "\nSELECT ?x WHERE { <http://exaplpe.org/1234> a :TypeNotInContext }"),
    ("SELECT ?x WHERE { <http://exaplpe.org/1234> a TypeNotInContext, AnotherNotTypeInContext, Person }",
     "\nSELECT ?x WHERE { <http://exaplpe.org/1234> a :TypeNotInContext, :AnotherNotTypeInContext, schema:Person }"),
    ("SELECT ?x WHERE { ?id propertyNotInContext ?x }",
     "\nSELECT ?x WHERE { ?id :propertyNotInContext ?x }"),
    ("SELECT ?x WHERE { ?id propertyNotInContext/name/anotherPropertyNotInContext ?x }",
     "\nSELECT ?x WHERE { ?id :propertyNotInContext/schema:name/:anotherPropertyNotInContext ?x }"),
    ("SELECT DISTINCT ?x WHERE { ?id propertyNotInContext/name/anotherPropertyNotInContext ?x }",
     "\nSELECT DISTINCT ?x WHERE { ?id :propertyNotInContext/schema:name/:anotherPropertyNotInContext ?x }"),
    ("SELECT ?x WHERE { Graph ?g { ?id propertyNotInContext/name/anotherPropertyNotInContext ?x }}",
     "\nSELECT ?x WHERE { Graph ?g { ?id :propertyNotInContext/schema:name/:anotherPropertyNotInContext ?x }}"),
    ("SELECT * WHERE { <http://exaplpe.org/1234> a TypeNotInContext, AnotherNotTypeInContext, Person; deprecated false.}",
     "\nSELECT * WHERE { <http://exaplpe.org/1234> a :TypeNotInContext, :AnotherNotTypeInContext, schema:Person; <https://store.net/vocabulary/deprecated> false.}"),
]


def _ctx_with_metadata():
    ctx, prefixes, vocab = flatten_context(CONTEXT)
    merged = dict(METADATA_TERMS)
    merged.update(ctx)
    return merged, prefixes, vocab


@pytest.mark.parametrize("query,expected", REWRITE_CASES)
def test_rewrite_sparql_golden(query, expected):
    ctx, prefixes, vocab = _ctx_with_metadata()
    assert prefixes == PREFIXES
    result = rewrite_sparql(query, ctx, prefixes, vocab)
    assert result == PREFIX_STRING_VOCAB + expected


def test_rewrite_unknown_term_missing_vocab_raises():
    ctx = {"name": "http://xmlns.com/foaf/0.1/name"}
    with pytest.raises(QueryingError):
        rewrite_sparql(
            "SELECT ?x WHERE { ?id propertyNotInContext ?x }",
            ctx,
            {"foaf": "http://xmlns.com/foaf/0.1/"},
            None,
        )


def test_rewrite_no_vocab_known_term():
    ctx = {"name": "foaf:name"}
    prefixes = {"foaf": "http://xmlns.com/foaf/0.1/"}
    out = rewrite_sparql(
        "SELECT ?name WHERE { <http://x.org/1> name ?name }", ctx, prefixes, None
    )
    assert out == (
        "PREFIX foaf: <http://xmlns.com/foaf/0.1/>\n"
        "SELECT ?name WHERE { <http://x.org/1> foaf:name ?name }"
    )


def test_rewrite_skips_existing_prefix_prologue():
    ctx, prefixes, vocab = _ctx_with_metadata()
    q = "PREFIX prov: <http://www.w3.org/ns/prov#>\nSELECT ?x WHERE { ?x agent ?y }"
    out = rewrite_sparql(q, ctx, prefixes, vocab)
    assert out.startswith("PREFIX prov:")
    assert out.count("PREFIX") == 1
    assert "prov:agent" in out


@pytest.mark.parametrize(
    "query,limit,offset,expected",
    [
        ("SELECT ?x WHERE { ?x a Person }", 3, None,
         "SELECT ?x WHERE { ?x a Person }  LIMIT 3"),
        ("SELECT ?x WHERE { ?x a Person } LIMIT 50", 3, None,
         "SELECT ?x WHERE { ?x a Person } LIMIT 3"),
        # the reference appends with a leading space, yielding the double
        # space its own goldens show (test_sparql_query_builder.py:124)
        ("SELECT ?x WHERE { ?x a Person } LIMIT 50", None, 7,
         "SELECT ?x WHERE { ?x a Person } LIMIT 50  OFFSET 7"),
    ],
)
def test_apply_limit_and_offset(query, limit, offset, expected):
    out = apply_limit_and_offset(
        query, limit=limit, offset=offset, default_limit=None, default_offset=None
    )
    assert out == expected


# ----------------------------------------------------------- compiler tests

TRIPLES = [
    ("doc:1", "rdf:type", "schema:Document"),
    ("doc:2", "rdf:type", "schema:Document"),
    ("doc:1", "nsg:hasBody", "ont:e1"),
    ("doc:1", "nsg:hasBody", "ont:e2"),
    ("doc:2", "nsg:hasBody", "ont:e2"),
    ("ont:e1", "rdfs:label", "alpha"),
    ("ont:e2", "rdfs:label", "Beta"),
    ("doc:2", "schema:distribution", "media/2.png"),
]


@pytest.fixture()
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE triples(subj VARCHAR, pred VARCHAR, obj VARCHAR)")
    con.executemany("INSERT INTO triples VALUES (?, ?, ?)", TRIPLES)
    return con


def run(con, sparql, **kw):
    sql = sparql_to_sql(sparql, dialect="duckdb", **kw)
    return con.execute(sql).fetchall()


def test_basic_pattern(duck):
    rows = run(duck, "SELECT ?d WHERE { ?d a schema:Document } ORDER BY ?d")
    assert rows == [("doc:1",), ("doc:2",)]


def test_join_two_patterns(duck):
    rows = run(
        duck,
        "SELECT ?d ?l WHERE { ?d nsg:hasBody ?e . ?e rdfs:label ?l } ORDER BY ?d ?l",
    )
    assert rows == [("doc:1", "Beta"), ("doc:1", "alpha"), ("doc:2", "Beta")]


def test_semicolon_and_path(duck):
    rows = run(
        duck,
        "SELECT ?d ?l WHERE { ?d a schema:Document ; nsg:hasBody/rdfs:label ?l } ORDER BY ?d ?l",
    )
    assert rows == [("doc:1", "Beta"), ("doc:1", "alpha"), ("doc:2", "Beta")]


def test_filter_neq_and_regex(duck):
    rows = run(
        duck,
        'SELECT ?e ?l WHERE { ?e rdfs:label ?l FILTER (?l != "alpha") } ORDER BY ?e',
    )
    assert rows == [("ont:e2", "Beta")]
    rows = run(
        duck,
        'SELECT ?l WHERE { ?e rdfs:label ?l FILTER regex(?l, "^b", "i") }',
    )
    assert rows == [("Beta",)]


def test_filter_in(duck):
    rows = run(
        duck,
        "SELECT DISTINCT ?d WHERE { ?d nsg:hasBody ?e FILTER (?e in (ont:e1, ont:e9)) }",
    )
    assert rows == [("doc:1",)]


def test_optional_left_join(duck):
    rows = run(
        duck,
        "SELECT ?d ?m WHERE { ?d a schema:Document OPTIONAL { ?d schema:distribution ?m } } ORDER BY ?d",
    )
    assert rows == [("doc:1", None), ("doc:2", "media/2.png")]


def test_limit_offset(duck):
    rows = run(
        duck,
        "SELECT ?d WHERE { ?d nsg:hasBody ?e } ORDER BY ?d ?e LIMIT 2 OFFSET 1",
    )
    assert rows == [("doc:1",), ("doc:2",)]


def test_select_star(duck):
    rows = run(duck, "SELECT * WHERE { ?s schema:distribution ?o }")
    assert rows == [("doc:2", "media/2.png")]


def test_desc_order_and_contains(duck):
    rows = run(
        duck,
        'SELECT ?e WHERE { ?e rdfs:label ?l FILTER contains(?l, "et") } ORDER BY DESC(?e)',
    )
    assert rows == [("ont:e2",)]


def test_unbound_select_var_raises(duck):
    with pytest.raises(QueryingError):
        run(duck, "SELECT ?zzz WHERE { ?d a schema:Document }")


def test_prefix_prologue_parses(duck):
    rows = run(
        duck,
        "PREFIX schema: <http://schema.org/>\nSELECT ?d WHERE { ?d a schema:Document } ORDER BY ?d",
    )
    assert rows == [("doc:1",), ("doc:2",)]


# -------------------------------------------------- forge.sparql end-to-end


def test_forge_sparql_full_path(spark):
    """Real SPARQL text through the facade: context rewrite -> compile ->
    distributed execution over a triples view (reference flow:
    read_only_store.py:212-245)."""
    from nexus_forge_spark.forge import SparkForge, SparkForgeConfig

    forge = SparkForge(
        spark,
        SparkForgeConfig(
            context={
                "@context": {
                    "@vocab": "http://example.org/vocab/",
                    "schema": "http://schema.org/",
                    "nsg": "https://neuroshapes.org/",
                    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
                    "Document": "schema:Document",
                    "hasBody": "nsg:hasBody",
                }
            }
        ),
    )
    triples = spark.createDataFrame(
        TRIPLES, schema="subj string, pred string, obj string"
    )
    out = forge.sparql(
        "SELECT ?d ?e WHERE { ?d a Document ; hasBody ?e } ORDER BY ?d ?e",
        triples=triples,
        limit=2,
    )
    assert [tuple(r) for r in out.collect()] == [
        ("doc:1", "ont:e1"),
        ("doc:1", "ont:e2"),
    ]
    # plain Spark SQL (no group pattern) still runs unchanged
    n = forge.sparql("SELECT count(*) AS n FROM triples").collect()[0]["n"]
    assert n == len(TRIPLES)


# ----------------------------------------------------------- UNION support


def test_union_of_patterns(duck):
    rows = run(
        duck,
        "SELECT ?s WHERE { { ?s rdfs:label ?l } UNION { ?s schema:distribution ?l } } ORDER BY ?s",
    )
    assert rows == [("doc:2",), ("ont:e1",), ("ont:e2",)]


def test_union_joined_to_base_pattern(duck):
    q = ("SELECT DISTINCT ?d WHERE { ?d a schema:Document "
         "{ ?d nsg:hasBody ?x } UNION { ?d schema:distribution ?x } } ORDER BY ?d")
    assert run(duck, q) == [("doc:1",), ("doc:2",)]


def test_union_filter_applies_over_all_branches(duck):
    q = ('SELECT ?s ?l WHERE { { ?s rdfs:label ?l } UNION '
         '{ ?s schema:distribution ?l } FILTER contains(?l, "ph") }')
    assert run(duck, q) == [("ont:e1", "alpha")]


def test_union_bag_semantics(duck):
    # SPARQL UNION is bag union: the same binding from both branches
    # appears twice (UNION ALL, not UNION)
    q = "SELECT ?s WHERE { { ?s a schema:Document } UNION { ?s a schema:Document } }"
    assert len(run(duck, q)) == 4


def test_union_mismatched_vars_raises(duck):
    with pytest.raises(QueryingError, match="different variables"):
        run(duck, "SELECT ?s WHERE { { ?s rdfs:label ?l } UNION { ?s a ?t } }")


def test_notebook_query_end_to_end(duck):
    """The reference's getting-started querying notebook shape
    (examples/notebooks/getting-started/04 - Querying.ipynb): bare local
    names rewritten through the context, then compiled and executed."""
    ctx = {
        "@vocab": "http://example.org/vocab/",
        "Dataset": "schema:Document",   # alias onto the fixture's type
        "contribution": "nsg:hasBody",
        "agent": "rdfs:label",
        "name": "rdfs:label",
        "schema": "http://schema.org/",
        "nsg": "https://neuroshapes.org/",
        "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    }
    prefixes = {"schema": "http://schema.org/"}
    q = """SELECT ?id ?contributor WHERE {
        ?id a Dataset ;
        contribution ?contributor.
    }"""
    rewritten = rewrite_sparql(q, ctx, prefixes, ctx["@vocab"])
    assert "schema:Document" in rewritten and "nsg:hasBody" in rewritten
    rewritten = apply_limit_and_offset(
        rewritten, limit=2, default_limit=None, default_offset=None
    )
    rows = run(duck, rewritten)
    assert len(rows) == 2
    assert all(r[0].startswith("doc:") for r in rows)


# ------------------------------------------------ VALUES / BIND / GROUP BY


def test_values_single_var(duck):
    q = ('SELECT ?s ?l WHERE { ?s rdfs:label ?l VALUES ?l { "alpha" "Beta" } } '
         "ORDER BY ?s")
    assert run(duck, q) == [("ont:e1", "alpha"), ("ont:e2", "Beta")]


def test_values_restricts(duck):
    q = 'SELECT ?s WHERE { ?s rdfs:label ?l VALUES ?l { "alpha" } }'
    assert run(duck, q) == [("ont:e1",)]


def test_values_multi_var_with_undef(duck):
    # UNDEF leaves ?l unconstrained for the doc:2 row
    q = ("SELECT ?d ?e WHERE { ?d nsg:hasBody ?e "
         'VALUES (?d ?e) { ("doc:1" "ont:e1") ("doc:2" UNDEF) } } ORDER BY ?d')
    assert run(duck, q) == [("doc:1", "ont:e1"), ("doc:2", "ont:e2")]


def test_values_unshared_cross_join(duck):
    q = ('SELECT ?s ?tag WHERE { ?s a schema:Document VALUES ?tag { "x" "y" } } '
         "ORDER BY ?s ?tag")
    assert run(duck, q) == [
        ("doc:1", "x"), ("doc:1", "y"), ("doc:2", "x"), ("doc:2", "y"),
    ]


def test_bind_concat(duck):
    q = ('SELECT ?s ?tagged WHERE { ?s rdfs:label ?l '
         'BIND (concat("label:", ?l) AS ?tagged) } ORDER BY ?s')
    assert run(duck, q) == [
        ("ont:e1", "label:alpha"), ("ont:e2", "label:Beta"),
    ]


def test_bind_then_filter_on_bound_var(duck):
    q = ('SELECT ?s WHERE { ?s rdfs:label ?l BIND (strlen(?l) AS ?n) '
         "FILTER (?n > 4) }")
    assert run(duck, q) == [("ont:e1",)]


def test_bind_arithmetic(duck):
    q = ('SELECT ?s ?m WHERE { ?s rdfs:label ?l '
         "BIND (strlen(?l) * 2 + 1 AS ?m) } ORDER BY ?s")
    assert run(duck, q) == [("ont:e1", 11), ("ont:e2", 9)]


def test_group_by_count(duck):
    q = ("SELECT ?d (COUNT(?e) AS ?n) WHERE { ?d nsg:hasBody ?e } "
         "GROUP BY ?d ORDER BY ?d")
    assert run(duck, q) == [("doc:1", 2), ("doc:2", 1)]


def test_group_by_having(duck):
    q = ("SELECT ?d WHERE { ?d nsg:hasBody ?e } "
         "GROUP BY ?d HAVING (COUNT(?e) > 1)")
    assert run(duck, q) == [("doc:1",)]


def test_count_distinct_and_star(duck):
    q = "SELECT (COUNT(*) AS ?rows) (COUNT(DISTINCT ?e) AS ?ents) WHERE { ?d nsg:hasBody ?e }"
    assert run(duck, q) == [(3, 2)]


def test_group_concat_sorted(duck):
    q = ('SELECT ?d (GROUP_CONCAT(?e; SEPARATOR=",") AS ?es) '
         "WHERE { ?d nsg:hasBody ?e } GROUP BY ?d ORDER BY ?d")
    assert run(duck, q) == [("doc:1", "ont:e1,ont:e2"), ("doc:2", "ont:e2")]


def test_implicit_global_aggregate(duck):
    q = "SELECT (COUNT(?d) AS ?n) WHERE { ?d a schema:Document }"
    assert run(duck, q) == [(2,)]


def test_aggregate_outside_select_rejected(duck):
    with pytest.raises(QueryingError, match="aggregate"):
        run(duck, "SELECT ?d WHERE { ?d nsg:hasBody ?e FILTER (COUNT(?e) > 1) }")


# ------------------------------------------------ property-path alternatives


def test_path_alternative_bare(duck):
    q = "SELECT ?s ?o WHERE { ?s rdfs:label|schema:distribution ?o } ORDER BY ?s"
    assert run(duck, q) == [
        ("doc:2", "media/2.png"), ("ont:e1", "alpha"), ("ont:e2", "Beta"),
    ]


def test_path_alternative_parenthesized_with_sequence(duck):
    q = "SELECT ?d ?l WHERE { ?d (nsg:hasBody|schema:distribution)/rdfs:label ?l } ORDER BY ?d ?l"
    assert run(duck, q) == [
        ("doc:1", "Beta"), ("doc:1", "alpha"), ("doc:2", "Beta"),
    ]


def test_bare_alternative_before_sequence_rejected(duck):
    with pytest.raises(QueryingError, match="parenthesize"):
        run(duck, "SELECT ?d ?l WHERE { ?d nsg:hasBody|schema:distribution/rdfs:label ?l }")


def test_sample_aggregate(duck):
    q = ("SELECT ?d (SAMPLE(?e) AS ?one) WHERE { ?d nsg:hasBody ?e } "
         "GROUP BY ?d ORDER BY ?d")
    assert run(duck, q) == [("doc:1", "ont:e1"), ("doc:2", "ont:e2")]


# ------------------------------------------------------- CONSTRUCT / ASK


def test_construct_basic(duck):
    q = """CONSTRUCT { ?e <http://ex.org/inDoc> ?d . ?e a <http://ex.org/Entity> }
           WHERE { ?d nsg:hasBody ?e }"""
    rows = sorted(run(duck, q))
    assert rows == sorted([
        ("ont:e1", "http://ex.org/inDoc", "doc:1"),
        ("ont:e2", "http://ex.org/inDoc", "doc:1"),
        ("ont:e2", "http://ex.org/inDoc", "doc:2"),
        ("ont:e1", "rdf:type", "http://ex.org/Entity"),
        ("ont:e2", "rdf:type", "http://ex.org/Entity"),
    ])


def test_construct_is_a_set(duck):
    # two docs share ont:e2 -> the type triple appears once (graph set)
    q = "CONSTRUCT { ?e a <http://ex.org/E> } WHERE { ?d nsg:hasBody ?e }"
    assert sorted(run(duck, q)) == [
        ("ont:e1", "rdf:type", "http://ex.org/E"),
        ("ont:e2", "rdf:type", "http://ex.org/E"),
    ]


def test_construct_with_limit_deterministic(duck):
    q = ("CONSTRUCT { ?s <http://ex.org/p> ?l } WHERE { ?s rdfs:label ?l } "
         "LIMIT 1")
    assert run(duck, q) == [("ont:e1", "http://ex.org/p", "alpha")]


def test_construct_unbound_template_var_rejected(duck):
    with pytest.raises(QueryingError, match="unbound"):
        run(duck, "CONSTRUCT { ?s <http://ex.org/p> ?missing } WHERE { ?s rdfs:label ?l }")


def test_ask_true_false(duck):
    assert run(duck, 'ASK { ?s rdfs:label "alpha" }') == [(True,)]
    assert run(duck, 'ASK WHERE { ?s rdfs:label "nope" }') == [(False,)]


def test_ask_with_filter(duck):
    assert run(duck, "ASK { ?s rdfs:label ?l FILTER (strlen(?l) > 10) }") == [(False,)]
    assert run(duck, "ASK { ?s rdfs:label ?l FILTER (strlen(?l) > 3) }") == [(True,)]


def test_construct_and_ask_on_spark(spark):
    """CONSTRUCT and ASK compile to SQL that Spark executes distributed;
    CONSTRUCT rows feed triples_to_resources (C4) for Resource reassembly
    as in the reference's build_resource_from_construct_query."""
    from nexus_forge_spark.forge import SparkForge, SparkForgeConfig

    forge = SparkForge(spark, SparkForgeConfig())
    triples = spark.createDataFrame(
        TRIPLES, schema="subj string, pred string, obj string"
    )
    out = forge.sparql(
        "CONSTRUCT { ?e <http://ex.org/inDoc> ?d } WHERE { ?d nsg:hasBody ?e }",
        triples=triples,
        rewrite=False,
    )
    assert sorted(map(tuple, out.collect())) == [
        ("ont:e1", "http://ex.org/inDoc", "doc:1"),
        ("ont:e2", "http://ex.org/inDoc", "doc:1"),
        ("ont:e2", "http://ex.org/inDoc", "doc:2"),
    ]
    ask = forge.sparql(
        'ASK { ?s rdfs:label "alpha" }', triples=triples, rewrite=False
    ).collect()
    assert [r["ask"] for r in ask] == [True]


# ---- MINUS / FILTER (NOT) EXISTS / inverse paths ------------------------


def test_minus_removes_compatible_solutions(duck):
    # docs that are NOT distributed as media
    rows = run(
        duck,
        """SELECT ?d WHERE {
             ?d a schema:Document
             MINUS { ?d schema:distribution ?m }
           } ORDER BY ?d""",
    )
    assert rows == [("doc:1",)]


def test_minus_disjoint_domain_removes_nothing(duck):
    # SPARQL incompatible-domain rule: no shared variable -> no removal
    rows = run(
        duck,
        """SELECT ?d WHERE {
             ?d a schema:Document
             MINUS { ?x schema:distribution ?m }
           } ORDER BY ?d""",
    )
    assert rows == [("doc:1",), ("doc:2",)]


def test_filter_not_exists(duck):
    rows = run(
        duck,
        """SELECT ?d WHERE {
             ?d a schema:Document
             FILTER NOT EXISTS { ?d schema:distribution ?m }
           } ORDER BY ?d""",
    )
    assert rows == [("doc:1",)]


def test_filter_exists(duck):
    rows = run(
        duck,
        """SELECT ?d WHERE {
             ?d a schema:Document
             FILTER EXISTS { ?d nsg:hasBody ont:e2 }
           } ORDER BY ?d""",
    )
    assert rows == [("doc:1",), ("doc:2",)]


def test_filter_not_with_plain_expr_still_works(duck):
    rows = run(
        duck,
        """SELECT ?d WHERE { ?d a schema:Document FILTER (?d != 'doc:2') }""",
    )
    assert rows == [("doc:1",)]


def test_exists_combined_with_filter(duck):
    rows = run(
        duck,
        """SELECT ?d ?b WHERE {
             ?d nsg:hasBody ?b
             FILTER EXISTS { ?b rdfs:label ?l }
             FILTER (?b != 'ont:e1')
           } ORDER BY ?d""",
    )
    assert rows == [("doc:1", "ont:e2"), ("doc:2", "ont:e2")]


def test_inverse_path(duck):
    # ^nsg:hasBody: entity -> the documents citing it
    rows = run(
        duck,
        "SELECT ?d WHERE { ont:e2 ^nsg:hasBody ?d } ORDER BY ?d",
    )
    assert rows == [("doc:1",), ("doc:2",)]


def test_inverse_in_sequence(duck):
    # label <- entity <- body of doc: label of anything doc:2 cites
    rows = run(
        duck,
        "SELECT ?l WHERE { ?l ^rdfs:label/^nsg:hasBody doc:2 }",
    )
    assert rows == [("Beta",)]


def test_minus_inside_composite_group(duck):
    # MINUS applies after OPTIONAL attachment (composite compile path)
    rows = run(
        duck,
        """SELECT ?d ?m WHERE {
             ?d a schema:Document
             OPTIONAL { ?d schema:distribution ?m }
             MINUS { ?d nsg:hasBody ont:e1 }
           } ORDER BY ?d""",
    )
    assert rows == [("doc:2", "media/2.png")]


# ---- transitive paths (p+) ----------------------------------------------

HIER = [
    ("ont:dog", "rdfs:subClassOf", "ont:mammal"),
    ("ont:cat", "rdfs:subClassOf", "ont:mammal"),
    ("ont:mammal", "rdfs:subClassOf", "ont:animal"),
    ("ont:animal", "rdfs:subClassOf", "ont:thing"),
    ("ont:rex", "rdf:type", "ont:dog"),
]


@pytest.fixture()
def duck_hier():
    con = duckdb.connect()
    con.execute("CREATE TABLE triples(subj VARCHAR, pred VARCHAR, obj VARCHAR)")
    con.executemany("INSERT INTO triples VALUES (?, ?, ?)", HIER)
    return con


def test_transitive_plus(duck_hier):
    rows = run(
        duck_hier,
        "SELECT ?a WHERE { ont:dog rdfs:subClassOf+ ?a } ORDER BY ?a",
    )
    assert rows == [("ont:animal",), ("ont:mammal",), ("ont:thing",)]


def test_transitive_in_sequence(duck_hier):
    # instances of anything that transitively subclasses ont:animal
    rows = run(
        duck_hier,
        "SELECT ?x WHERE { ?x rdf:type/rdfs:subClassOf+ ont:animal }",
    )
    assert rows == [("ont:rex",)]


def test_transitive_inverse(duck_hier):
    # ^p+ : all transitive subclasses of ont:animal
    rows = run(
        duck_hier,
        "SELECT ?c WHERE { ont:animal ^rdfs:subClassOf+ ?c } ORDER BY ?c",
    )
    assert rows == [("ont:cat",), ("ont:dog",), ("ont:mammal",)]


def test_transitive_no_duplicates_on_diamond(duck_hier):
    # diamond: two paths dog->thing must yield ONE solution (set semantics)
    con = duck_hier
    con.execute(
        "INSERT INTO triples VALUES ('ont:dog', 'rdfs:subClassOf', 'ont:pet'),"
        " ('ont:pet', 'rdfs:subClassOf', 'ont:animal')"
    )
    rows = run(con, "SELECT ?a WHERE { ont:dog rdfs:subClassOf+ ?a } ORDER BY ?a")
    assert rows == [("ont:animal",), ("ont:mammal",), ("ont:pet",), ("ont:thing",)]


def test_transitive_both_endpoints_bound(duck_hier):
    assert run(duck_hier, "ASK { ont:dog rdfs:subClassOf+ ont:thing }") == [(True,)]
    assert run(duck_hier, "ASK { ont:thing rdfs:subClassOf+ ont:dog }") == [(False,)]


def test_transitive_rejected_in_construct_template():
    from nexus_forge_spark.functions.sparql import sparql_to_sql, QueryingError

    with pytest.raises(QueryingError):
        sparql_to_sql(
            "CONSTRUCT { ?a rdfs:subClassOf+ ?b } WHERE { ?a rdfs:subClassOf ?b }"
        )


def test_transitive_spark_dialect(spark):
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    spark.createDataFrame(
        HIER, schema="subj string, pred string, obj string"
    ).createOrReplaceTempView("tc_triples_v")
    sql = sparql_to_sql(
        "SELECT ?a WHERE { ont:dog rdfs:subClassOf+ ?a } ORDER BY ?a",
        table="tc_triples_v",
        dialect="spark",
    )
    rows = [r.a for r in spark.sql(sql).collect()]
    assert rows == ["ont:animal", "ont:mammal", "ont:thing"]
    # sequence + inverse through the same compiler on Spark
    sql2 = sparql_to_sql(
        "SELECT ?x WHERE { ?x rdf:type/rdfs:subClassOf+ ont:animal }",
        table="tc_triples_v",
        dialect="spark",
    )
    assert [r.x for r in spark.sql(sql2).collect()] == ["ont:rex"]


# ---- round-2 forms: *, ?, negated property sets, DESCRIBE, REDUCED ------


def test_star_path_includes_zero_length(duck_hier):
    # p* = p+ plus the zero-length identity: dog itself appears
    rows = run(
        duck_hier,
        "SELECT ?a WHERE { ont:dog rdfs:subClassOf* ?a } ORDER BY ?a",
    )
    assert rows == [
        ("ont:animal",),
        ("ont:dog",),
        ("ont:mammal",),
        ("ont:thing",),
    ]


def test_star_path_in_sequence(duck_hier):
    # rdf:type/subClassOf* reaches the direct class too
    rows = run(
        duck_hier,
        "SELECT ?c WHERE { ont:rex rdf:type/rdfs:subClassOf* ?c } ORDER BY ?c",
    )
    assert rows == [
        ("ont:animal",),
        ("ont:dog",),
        ("ont:mammal",),
        ("ont:thing",),
    ]


def test_zero_or_one_path(duck_hier):
    rows = run(
        duck_hier,
        "SELECT ?a WHERE { ont:dog rdfs:subClassOf? ?a } ORDER BY ?a",
    )
    assert rows == [("ont:dog",), ("ont:mammal",)]


def test_zero_or_one_both_bound(duck_hier):
    assert run(duck_hier, "ASK { ont:dog rdfs:subClassOf? ont:dog }") == [(True,)]
    assert run(duck_hier, "ASK { ont:dog rdfs:subClassOf? ont:mammal }") == [
        (True,)
    ]
    assert run(duck_hier, "ASK { ont:dog rdfs:subClassOf? ont:animal }") == [
        (False,)
    ]


def test_negated_property_set(duck):
    # every doc:1 edge that is NOT rdf:type
    rows = run(
        duck,
        "SELECT ?o WHERE { doc:1 !rdf:type ?o } ORDER BY ?o",
    )
    assert rows == [("ont:e1",), ("ont:e2",)]


def test_negated_property_set_parenthesized(duck):
    rows = run(
        duck,
        "SELECT ?o WHERE { doc:2 !(rdf:type|nsg:hasBody) ?o }",
    )
    assert rows == [("media/2.png",)]


def test_negated_set_rejects_modifiers():
    with pytest.raises(QueryingError):
        sparql_to_sql("SELECT ?o WHERE { doc:1 !rdf:type+ ?o }")
    with pytest.raises(QueryingError):
        sparql_to_sql("SELECT ?o WHERE { doc:1 !^rdf:type ?o }")


def test_describe_constant(duck):
    rows = sorted(run(duck, "DESCRIBE doc:2"))
    assert rows == [
        ("doc:2", "nsg:hasBody", "ont:e2"),
        ("doc:2", "rdf:type", "schema:Document"),
        ("doc:2", "schema:distribution", "media/2.png"),
    ]


def test_describe_variable_with_where(duck):
    rows = sorted(
        run(duck, "DESCRIBE ?e WHERE { doc:1 nsg:hasBody ?e }")
    )
    assert rows == [
        ("ont:e1", "rdfs:label", "alpha"),
        ("ont:e2", "rdfs:label", "Beta"),
    ]


def test_describe_mixed_terms(duck):
    rows = sorted(
        run(duck, "DESCRIBE doc:2 ?e WHERE { ?e rdfs:label 'alpha' }")
    )
    assert rows == [
        ("doc:2", "nsg:hasBody", "ont:e2"),
        ("doc:2", "rdf:type", "schema:Document"),
        ("doc:2", "schema:distribution", "media/2.png"),
        ("ont:e1", "rdfs:label", "alpha"),
    ]


def test_describe_var_without_where_rejected():
    with pytest.raises(QueryingError):
        sparql_to_sql("DESCRIBE ?x")


def test_reduced_deduplicates(duck):
    # both docs reference ont:e2 -> REDUCED may (here: does) collapse them
    rows = run(duck, "SELECT REDUCED ?e WHERE { ?d nsg:hasBody ?e } ORDER BY ?e")
    assert rows == [("ont:e1",), ("ont:e2",)]


def test_star_path_spark_dialect(spark):
    from nexus_forge_spark.functions.sparql import sparql_to_sql as s2s

    spark.createDataFrame(
        HIER, schema="subj string, pred string, obj string"
    ).createOrReplaceTempView("tc_star_v")
    sql = s2s(
        "SELECT ?a WHERE { ont:dog rdfs:subClassOf* ?a } ORDER BY ?a",
        table="tc_star_v",
        dialect="spark",
    )
    assert [r.a for r in spark.sql(sql).collect()] == [
        "ont:animal",
        "ont:dog",
        "ont:mammal",
        "ont:thing",
    ]
    sql2 = s2s(
        "DESCRIBE ?c WHERE { ?c rdfs:subClassOf ont:mammal }",
        table="tc_star_v",
        dialect="spark",
    )
    got = sorted((r.subj, r.pred, r.obj) for r in spark.sql(sql2).collect())
    assert got == [
        ("ont:cat", "rdfs:subClassOf", "ont:mammal"),
        ("ont:dog", "rdfs:subClassOf", "ont:mammal"),
    ]


# ---- { SELECT ... } subqueries ------------------------------------------


def test_subquery_aggregate_join(duck):
    # inner: per-entity citation counts; outer: attach labels
    rows = run(
        duck,
        """SELECT ?e ?label ?n WHERE {
             { SELECT ?e (COUNT(?d) AS ?n) WHERE { ?d nsg:hasBody ?e } GROUP BY ?e }
             ?e rdfs:label ?label
           } ORDER BY ?e""",
    )
    assert rows == [("ont:e1", "alpha", 1), ("ont:e2", "Beta", 2)]


def test_subquery_limit(duck):
    # inner LIMIT applies before the outer join
    rows = run(
        duck,
        """SELECT ?e ?label WHERE {
             { SELECT ?e WHERE { ?d nsg:hasBody ?e } ORDER BY ?e LIMIT 1 }
             ?e rdfs:label ?label
           }""",
    )
    assert rows == [("ont:e1", "alpha")]


def test_subquery_cross_join_when_disjoint(duck):
    rows = run(
        duck,
        """SELECT ?d ?n WHERE {
             ?d a schema:Document
             { SELECT (COUNT(?e) AS ?n) WHERE { ?e rdfs:label ?l } }
           } ORDER BY ?d""",
    )
    assert rows == [("doc:1", 2), ("doc:2", 2)]


def test_subquery_spark_dialect(spark):
    from nexus_forge_spark.functions.sparql import sparql_to_sql as s2s

    spark.createDataFrame(
        TRIPLES, schema="subj string, pred string, obj string"
    ).createOrReplaceTempView("sq_triples_v")
    sql = s2s(
        """SELECT ?e ?label ?n WHERE {
             { SELECT ?e (COUNT(?d) AS ?n) WHERE { ?d nsg:hasBody ?e } GROUP BY ?e }
             ?e rdfs:label ?label
           } ORDER BY ?e""",
        table="sq_triples_v",
        dialect="spark",
    )
    got = [(r.e, r.label, r.n) for r in spark.sql(sql).collect()]
    assert got == [("ont:e1", "alpha", 1), ("ont:e2", "Beta", 2)]


# ---------------------------------------------------------- unsupported forms
# The reference passes raw SPARQL through to a remote store
# (kgforge/core/archetypes/read_only_store.py:212-245), so users can write
# constructs this single-graph engine cannot honor; each must fail with a
# QueryingError NAMING the construct, never a mis-parse.

@pytest.mark.parametrize(
    "query,needle",
    [
        (
            "SELECT ?s FROM <http://example.org/g1> WHERE { ?s ?p ?o }",
            "FROM / FROM NAMED",
        ),
        (
            "SELECT ?s FROM NAMED <http://example.org/g1> WHERE { ?s ?p ?o }",
            "FROM / FROM NAMED",
        ),
        (
            "SELECT ?s WHERE { GRAPH <http://example.org/g1> { ?s ?p ?o } }",
            "GRAPH",
        ),
        (
            "SELECT ?s WHERE { SERVICE <http://example.org/sparql> { ?s ?p ?o } }",
            "SERVICE",
        ),
        (
            "SELECT ?s WHERE { ?s !(nsg:a/nsg:b) ?o }",
            "sequence path inside a negated property set",
        ),
    ],
)
def test_unsupported_sparql_constructs_raise_named_errors(query, needle):
    from nexus_forge_spark.functions.sparql import sparql_to_sql as s2s

    with pytest.raises(QueryingError, match=needle):
        s2s(query)


def test_supported_parenthesized_alternatives_still_parse():
    from nexus_forge_spark.functions.sparql import sparql_to_sql as s2s

    # grouped ALTERNATIVES before a sequence remain supported
    sql = s2s("SELECT ?s WHERE { ?s (nsg:a|nsg:b)/nsg:c ?o }")
    assert "UNION" in sql or "IN (" in sql or "OR" in sql


# ---- round-3: closure over a sequence path '(p1/p2)+' -------------------

CHAIN = [
    ("ont:a", "ont:p", "ont:x1"),
    ("ont:x1", "ont:q", "ont:b"),
    ("ont:b", "ont:p", "ont:x2"),
    ("ont:x2", "ont:q", "ont:c"),
    ("ont:b", "ont:r", "ont:z"),
    ("ont:lone", "ont:p", "ont:nowhere"),  # p without a following q
]


@pytest.fixture()
def duck_chain():
    con = duckdb.connect()
    con.execute("CREATE TABLE triples(subj VARCHAR, pred VARCHAR, obj VARCHAR)")
    con.executemany("INSERT INTO triples VALUES (?, ?, ?)", CHAIN)
    return con


def test_sequence_closure_plus(duck_chain):
    rows = run(
        duck_chain, "SELECT ?o WHERE { ont:a (ont:p/ont:q)+ ?o } ORDER BY ?o"
    )
    assert rows == [("ont:b",), ("ont:c",)]


def test_sequence_closure_inverse(duck_chain):
    # ^(p/q)+ == ((^q)/(^p))+ : walk the composite edges backwards
    rows = run(
        duck_chain, "SELECT ?o WHERE { ont:c ^(ont:p/ont:q)+ ?o } ORDER BY ?o"
    )
    assert rows == [("ont:a",), ("ont:b",)]


def test_sequence_closure_star_and_opt(duck_chain):
    rows = run(
        duck_chain, "SELECT ?o WHERE { ont:a (ont:p/ont:q)* ?o } ORDER BY ?o"
    )
    assert rows == [("ont:a",), ("ont:b",), ("ont:c",)]
    rows = run(
        duck_chain, "SELECT ?o WHERE { ont:a (ont:p/ont:q)? ?o } ORDER BY ?o"
    )
    assert rows == [("ont:a",), ("ont:b",)]


def test_sequence_group_splices_without_modifier(duck_chain):
    # (p/q)/r == p/q/r: pure grouping
    got = run(duck_chain, "SELECT ?o WHERE { ont:a (ont:p/ont:q)/ont:r ?o }")
    want = run(duck_chain, "SELECT ?o WHERE { ont:a ont:p/ont:q/ont:r ?o }")
    assert got == want == [("ont:z",)]


def test_sequence_closure_in_longer_path(duck_chain):
    # closure bounded on both sides by plain hops
    rows = run(
        duck_chain,
        "SELECT ?o WHERE { ont:x1 ont:q/(ont:p/ont:q)+/ont:r ?o }",
    )
    # x1 -q-> b ; (p/q)+ from b = {c}; c has no r edge -> empty
    assert rows == []
    rows = run(
        duck_chain,
        "SELECT ?o WHERE { ont:x1 ont:q/(ont:p/ont:q)*/ont:r ?o }",
    )
    # zero-length arm keeps b -> b -r-> z
    assert rows == [("ont:z",)]


def test_sequence_closure_spark_dialect_matches_duckdb(spark, duck_chain):
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    spark.createDataFrame(
        CHAIN, schema="subj string, pred string, obj string"
    ).createOrReplaceTempView("seqtc_triples_v")
    for q in (
        "SELECT ?s ?o WHERE { ?s (ont:p/ont:q)+ ?o } ORDER BY ?s ?o",
        "SELECT ?s ?o WHERE { ?s (ont:p/ont:q)? ?o } ORDER BY ?s ?o",
        "SELECT ?o WHERE { ont:c ^(ont:p/ont:q)+ ?o } ORDER BY ?o",
    ):
        got = [
            tuple(r)
            for r in spark.sql(
                sparql_to_sql(q, table="seqtc_triples_v", dialect="spark")
            ).collect()
        ]
        want = run(duck_chain, q)
        assert got == want


# --------------------------------------------------------- SPARQL UPDATE


def _upd_graph(spark):
    t = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "c"), ("a", "rdf:type", "Person"),
         ("b", "rdf:type", "Person")],
        "subj string, pred string, obj string",
    )
    t.createOrReplaceTempView("upd_t")
    return t


def test_update_insert_data_distinct_union(spark):
    from nexus_forge_spark.functions.sparql import sparql_update_to_sql

    _upd_graph(spark)
    out = spark.sql(sparql_update_to_sql(
        'INSERT DATA { <a> <knows> <b> . <x> <likes> "pie" }', table="upd_t"
    ))
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("x", "likes", "pie") in rows
    assert len(rows) == 5  # existing (a knows b) not duplicated


def test_update_delete_where_join_pattern(spark):
    from nexus_forge_spark.functions.sparql import sparql_update_to_sql

    _upd_graph(spark)
    # delete knows-edges only when the SUBJECT is typed Person via a join
    out = spark.sql(sparql_update_to_sql(
        "DELETE WHERE { ?s <knows> ?o . ?s <rdf:type> <Person> }", table="upd_t"
    ))
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    # the construct template instantiates BOTH patterns per solution:
    # knows-edges AND the matched type triples are deleted
    assert ("a", "knows", "b") not in rows and ("b", "knows", "c") not in rows
    assert ("a", "rdf:type", "Person") not in rows


def test_update_rejects_unsupported_forms(spark):
    import pytest as _pytest

    from nexus_forge_spark.functions.sparql import (
        QueryingError,
        sparql_update_to_sql,
    )

    for bad in (
        "LOAD <http://x/file.nt>",
        "CLEAR GRAPH <g>",
        "INSERT DATA { ?v <p> <o> }",          # not ground
        "INSERT DATA { <s> <p> <o> FILTER(1) }",  # non-pattern feature
    ):
        with _pytest.raises(QueryingError):
            sparql_update_to_sql(bad)


def test_update_insert_where_rule(spark):
    from nexus_forge_spark.functions.sparql import sparql_update_to_sql

    _upd_graph(spark)
    out = spark.sql(sparql_update_to_sql(
        "INSERT { ?x <knows2> ?z } WHERE { ?x <knows> ?y . ?y <knows> ?z }",
        table="upd_t",
    ))
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("a", "knows2", "c") in rows
    assert len(rows) == 5  # base 4 + one derived


def test_update_delete_template_where(spark):
    from nexus_forge_spark.functions.sparql import sparql_update_to_sql

    _upd_graph(spark)
    # delete ONLY the type triple of nodes that know someone (template
    # narrower than the pattern)
    out = spark.sql(sparql_update_to_sql(
        "DELETE { ?s <rdf:type> <Person> } WHERE { ?s <knows> ?o . ?s <rdf:type> <Person> }",
        table="upd_t",
    ))
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("a", "rdf:type", "Person") not in rows
    assert ("a", "knows", "b") in rows  # knows edges SURVIVE


# ---- round-4: named-graph (quad store) surface ---------------------------
# SPARQL 1.1 dataset semantics over one extra graph column (NULL = default
# graph): plain patterns match only the default graph, GRAPH <g> filters,
# GRAPH ?g ranges over named graphs and binds.


def _quad_con():
    con = duckdb.connect()
    con.execute("CREATE TABLE quads(subj VARCHAR, pred VARCHAR, obj VARCHAR, g VARCHAR)")
    con.executemany(
        "INSERT INTO quads VALUES (?,?,?,?)",
        [
            ("a", "knows", "b", None),
            ("b", "knows", "c", None),
            ("a", "knows", "z", "urn:g1"),
            ("z", "rdf:type", "Person", "urn:g1"),
            ("a", "knows", "y", "urn:g2"),
            ("y", "rdf:type", "Robot", "urn:g2"),
            ("z", "sub", "top", "urn:g1"),
            ("top", "sub", "root", "urn:g1"),
        ],
    )
    return con


def _q(con, text):
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    return con.execute(
        sparql_to_sql(text, table="quads", dialect="duckdb", graph_col="g")
    ).fetchall()


def test_graph_default_scope_excludes_named_rows():
    rows = _q(_quad_con(), "SELECT ?s ?o WHERE { ?s <knows> ?o }")
    assert sorted(rows) == [("a", "b"), ("b", "c")]


def test_graph_constant_filters_one_graph():
    rows = _q(
        _quad_con(),
        "SELECT ?o WHERE { GRAPH <urn:g1> { <a> <knows> ?o } }",
    )
    assert rows == [("z",)]


def test_graph_var_ranges_over_named_graphs_only():
    rows = _q(
        _quad_con(),
        "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <knows> ?o } }",
    )
    # the two default-graph knows edges must NOT appear under any ?g
    assert sorted(rows) == [("urn:g1", "a", "z"), ("urn:g2", "a", "y")]


def test_graph_var_joins_with_default_pattern():
    rows = _q(
        _quad_con(),
        "SELECT ?g ?t WHERE { <a> <knows> ?b . GRAPH ?g { ?x <rdf:type> ?t } }",
    )
    assert sorted(set(rows)) == [("urn:g1", "Person"), ("urn:g2", "Robot")]


def test_graph_same_var_constrains_both_blocks():
    # same ?g on two patterns inside one block: both must be in one graph
    rows = _q(
        _quad_con(),
        "SELECT ?g WHERE { GRAPH ?g { <a> <knows> ?z . ?z <rdf:type> <Person> } }",
    )
    assert rows == [("urn:g1",)]


def test_graph_closure_path_inside_constant_graph():
    rows = _q(
        _quad_con(),
        "SELECT ?o WHERE { GRAPH <urn:g1> { <z> <sub>+ ?o } }",
    )
    assert sorted(rows) == [("root",), ("top",)]


def test_graph_closure_default_graph_is_scoped():
    # default graph has NO sub edges: the closure must be empty, not leak g1
    rows = _q(_quad_con(), "SELECT ?o WHERE { <z> <sub>+ ?o }")
    assert rows == []


def test_graph_nested_raises():
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    with pytest.raises(QueryingError, match="nested GRAPH"):
        sparql_to_sql(
            "SELECT ?s WHERE { GRAPH ?g { GRAPH <urn:g1> { ?s ?p ?o } } }",
            table="quads",
            graph_col="g",
        )


def test_graph_path_inside_graph_var_raises():
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    with pytest.raises(QueryingError, match="name the graph"):
        sparql_to_sql(
            "SELECT ?o WHERE { GRAPH ?g { <z> <sub>+ ?o } }",
            table="quads",
            graph_col="g",
        )


def test_graph_spark_duckdb_differential(spark):
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    con = _quad_con()
    sdf = spark.createDataFrame(
        con.execute("SELECT * FROM quads").fetchall(),
        "subj string, pred string, obj string, g string",
    )
    sdf.createOrReplaceTempView("quads_v")
    text = (
        "SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } "
        "GROUP BY ?g ORDER BY ?g"
    )
    got_spark = [
        tuple(r)
        for r in spark.sql(
            sparql_to_sql(text, table="quads_v", dialect="spark", graph_col="g")
        ).collect()
    ]
    got_duck = con.execute(
        sparql_to_sql(text, table="quads", dialect="duckdb", graph_col="g")
    ).fetchall()
    assert got_spark == got_duck == [("urn:g1", 4), ("urn:g2", 2)]


def test_from_clauses_construct_the_dataset():
    """SPARQL 1.1 §13.2: FROM graphs union into the query's default
    graph (the stored default is then excluded); FROM NAMED bounds what
    GRAPH ?g ranges over; a constant GRAPH outside the FROM NAMED list
    is empty."""
    con = _quad_con()
    assert sorted(
        _q(con, "SELECT ?o FROM <urn:g1> FROM <urn:g2> WHERE { <a> <knows> ?o }")
    ) == [("y",), ("z",)]
    assert _q(
        con,
        "SELECT ?g ?o FROM NAMED <urn:g2> WHERE { GRAPH ?g { <a> <knows> ?o } }",
    ) == [("urn:g2", "y")]
    assert (
        _q(
            con,
            "SELECT ?o FROM NAMED <urn:g2> WHERE { GRAPH <urn:g1> { <a> <knows> ?o } }",
        )
        == []
    )
    # closure paths walk the FROM-constructed default graph
    assert sorted(
        _q(con, "SELECT ?o FROM <urn:g1> WHERE { <z> <sub>+ ?o }")
    ) == [("root",), ("top",)]
    # the stored default graph is excluded once FROM is present
    assert _q(con, "SELECT ?o FROM <urn:g1> WHERE { <b> <knows> ?o }") == []


# ---------------------------------------------------------------- SERVICE


def _fed_con():
    con = duckdb.connect()
    con.execute("CREATE TABLE triples(subj VARCHAR, pred VARCHAR, obj VARCHAR)")
    con.executemany(
        "INSERT INTO triples VALUES (?,?,?)",
        [
            ("doc:1", "nsg:hasBody", "e1"),
            ("doc:2", "nsg:hasBody", "e2"),
            ("doc:3", "nsg:hasBody", "e3"),
        ],
    )
    con.execute("CREATE TABLE fed(subj VARCHAR, pred VARCHAR, obj VARCHAR)")
    con.executemany(
        "INSERT INTO fed VALUES (?,?,?)",
        [
            ("e1", "rdfs:label", "one"),
            ("e2", "rdfs:label", "two"),
            ("e9", "rdfs:label", "ghost"),
        ],
    )
    return con


SVC = {"urn:svc:ont": "fed"}


def _fq(con, text, **kw):
    return con.execute(
        sparql_to_sql(text, table="triples", dialect="duckdb", **kw)
    ).fetchall()


def test_service_joins_second_table():
    rows = _fq(
        _fed_con(),
        "SELECT ?d ?l WHERE { ?d nsg:hasBody ?e . "
        "SERVICE <urn:svc:ont> { ?e rdfs:label ?l } } ORDER BY ?d",
        services=SVC,
    )
    # inner-join semantics: doc:3's entity has no label and drops out;
    # the endpoint's e9 row has no local match and never appears
    assert rows == [("doc:1", "one"), ("doc:2", "two")]


def test_service_alone_scans_endpoint_table():
    rows = _fq(
        _fed_con(),
        "SELECT ?e ?l WHERE { SERVICE <urn:svc:ont> "
        "{ ?e rdfs:label ?l } } ORDER BY ?e",
        services=SVC,
    )
    assert rows == [("e1", "one"), ("e2", "two"), ("e9", "ghost")]


def test_service_unbound_endpoint_raises_named_error():
    with pytest.raises(QueryingError, match="SERVICE <urn:svc:nowhere>"):
        _fq(
            _fed_con(),
            "SELECT ?e ?l WHERE { SERVICE <urn:svc:nowhere> "
            "{ ?e rdfs:label ?l } }",
            services=SVC,
        )


def test_service_silent_unbound_is_identity():
    rows = _fq(
        _fed_con(),
        "SELECT ?d ?e WHERE { ?d nsg:hasBody ?e . "
        "SERVICE SILENT <urn:svc:nowhere> { ?e nsg:x ?x } } ORDER BY ?d",
        services=SVC,
    )
    assert rows == [("doc:1", "e1"), ("doc:2", "e2"), ("doc:3", "e3")]


def test_service_silent_bound_still_joins():
    rows = _fq(
        _fed_con(),
        "SELECT ?d ?l WHERE { ?d nsg:hasBody ?e . "
        "SERVICE SILENT <urn:svc:ont> { ?e rdfs:label ?l } } ORDER BY ?d",
        services=SVC,
    )
    assert rows == [("doc:1", "one"), ("doc:2", "two")]


def test_service_variable_free_block_raises_named_error():
    # no variable inside the block: compiling it used to emit
    # "SELECT  FROM ..." and fail in the SQL parser
    with pytest.raises(QueryingError, match="SERVICE <urn:svc:ont> block binds no variable"):
        sparql_to_sql(
            "SELECT ?d WHERE { ?d nsg:hasBody ?e . "
            'SERVICE <urn:svc:ont> { <e1> rdfs:label "one" } }',
            table="triples",
            dialect="duckdb",
            services=SVC,
        )


def test_graph_variable_free_block_raises_named_error():
    with pytest.raises(QueryingError, match="GRAPH block that binds no variable"):
        sparql_to_sql(
            "SELECT ?d WHERE { ?d nsg:hasBody ?e . "
            "GRAPH <urn:g1> { <d2> nsg:hasBody <e2> } }",
            table="quads",
            dialect="duckdb",
            graph_col="g",
        )


def test_service_var_endpoint_raises():
    with pytest.raises(QueryingError, match="SERVICE .var"):
        _fq(
            _fed_con(),
            "SELECT ?e WHERE { SERVICE ?ep { ?e rdfs:label ?l } }",
            services=SVC,
        )


def test_service_inside_graph_store_keeps_graph_scoping_outside_only():
    # quad store outside, plain triple table inside SERVICE: the graph
    # column must not leak into the federated block's scan
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE quads(subj VARCHAR, pred VARCHAR, obj VARCHAR, g VARCHAR)"
    )
    con.executemany(
        "INSERT INTO quads VALUES (?,?,?,?)",
        [("d1", "nsg:hasBody", "e1", None), ("d2", "nsg:hasBody", "e2", "urn:g1")],
    )
    con.execute("CREATE TABLE fed(subj VARCHAR, pred VARCHAR, obj VARCHAR)")
    con.executemany(
        "INSERT INTO fed VALUES (?,?,?)",
        [("e1", "rdfs:label", "one"), ("e2", "rdfs:label", "two")],
    )
    rows = con.execute(
        sparql_to_sql(
            "SELECT ?d ?l WHERE { ?d nsg:hasBody ?e . "
            "SERVICE <urn:svc:ont> { ?e rdfs:label ?l } } ORDER BY ?d",
            table="quads",
            dialect="duckdb",
            graph_col="g",
            services=SVC,
        )
    ).fetchall()
    # default-graph scoping applies to the LOCAL pattern (d2 is named-
    # graph-only and drops); the fed table joins without a graph column
    assert rows == [("d1", "one")]
