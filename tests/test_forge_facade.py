"""End-to-end facade parity against the reference's demo-resolver fixtures:
the verbs a nexus-forge user runs, on real fixture dictionaries.

The SHACL shapes and the schema.org ontology are the vendored copies under
tests/data/shacl-model/commons.  The demo-resolver dictionaries and the
demo-model mappings are read from a nexus-forge checkout at /root/reference;
the tests that need them are skipped where it is absent."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nexus_forge_spark.forge import SparkForge, SparkForgeConfig
from nexus_forge_spark.operators import resolve as R
from nexus_forge_spark.sources.resolver_dims import load_resolver_dim

REF = "/root/reference"
DEMO = f"{REF}/tests/data/demo-resolver"
DEMO_MAPPINGS = f"{REF}/tests/data/demo-model/mappings"
DISPATCH_MAPPING = f"{DEMO_MAPPINGS}/scientists-database/DictionaryMapping/Contribution.hjson"
COMMONS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "shacl-model", "commons"
)


def _needs_reference(*paths):
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing),
        reason=f"needs the nexus-forge reference checkout at /root/reference: {missing}",
    )


needs_demo_resolver = _needs_reference(DEMO)


@pytest.fixture(scope="module")
def forge(spark):
    d = tempfile.mkdtemp()
    props = ["label", "acronym"]
    resolver_dims = {}
    if os.path.isdir(DEMO):
        resolver_dims = {
            ("terms", None): (load_resolver_dim(spark, f"{DEMO}/sex.json", props), props),
            ("agents", None): (load_resolver_dim(spark, f"{DEMO}/agents.json", props), props),
            ("terms", "cell_types"): (
                load_resolver_dim(spark, f"{DEMO}/cell_types.json", props), props
            ),
        }
    cfg = SparkForgeConfig(
        formatters={"identifier": "https://kg.example.ch/{}/{}"},
        resolver_dims=resolver_dims,
        shape_files=sorted(glob.glob(f"{COMMONS}/shapes-*.json")),
        ontology_file=f"{COMMONS}/schemaorg-v26.0.json",
        store_dir=f"{d}/store",
    )
    yield SparkForge(spark, cfg)
    shutil.rmtree(d, ignore_errors=True)


def _mentions(spark, *texts):
    return spark.createDataFrame([(t,) for t in texts], "mention string")


@needs_demo_resolver
def test_resolve_agent_by_acronym(spark, forge):
    # DemoResolver resolves agents on label OR acronym (demo_resolver.py:51)
    out = forge.resolve(_mentions(spark, "EPFL"), scope="agents", strategy=R.EXACT_MATCH)
    row = out.collect()[0]
    assert row.entity_id == "https://www.grid.ac/institutes/grid.5333.6"


@needs_demo_resolver
def test_resolve_agent_unicode_label(spark, forge):
    out = forge.resolve(
        _mentions(spark, "École Polytechnique Fédérale de Lausanne"),
        scope="agents",
        strategy=R.EXACT_MATCH,
    )
    assert out.collect()[0].entity_id == "https://www.grid.ac/institutes/grid.5333.6"


@needs_demo_resolver
def test_resolve_case_insensitive(spark, forge):
    out = forge.resolve(
        _mentions(spark, "FEMALE"), scope="terms",
        strategy=R.EXACT_CASE_INSENSITIVE_MATCH,
    )
    assert out.collect()[0].entity_id == "http://purl.obolibrary.org/obo/PATO_0000383"


@needs_demo_resolver
def test_resolve_type_filter(spark, forge):
    # type pre-filter (demo_resolver.py:52-53): Person type excludes orgs
    out = forge.resolve(
        _mentions(spark, "EPFL"), scope="agents", type="Person", strategy=R.EXACT_MATCH
    )
    assert out.count() == 0


@needs_demo_resolver
def test_resolve_fuzzy_all_scores(spark, forge):
    # substring candidates sorted by len(label)-len(text) (demo_resolver.py:68-79)
    out = forge.resolve(
        _mentions(spark, "neuron"), scope="terms", target="cell_types",
        strategy=R.ALL_MATCHES, limit=10,
    ).collect()
    assert out, "expected fuzzy candidates for 'neuron'"
    scores = [r.score for r in sorted(out, key=lambda r: r.rank)]
    assert scores == sorted(scores)


def test_map_validate_store_roundtrip(spark, forge):
    rules = {
        "id": 'forge.format("identifier", "persons", x.pid)',
        "type": "Person",
        "givenName": "x.first",
        "familyName": "x.last",
        "gender": "x.g",
        "birthDate": "x.bd",
    }
    src = spark.createDataFrame(
        [(1, "Jane", "Doe", "female", "2000-01-01"), (2, "Jon", None, "male", "2000-01-01")],
        "pid long, first string, last string, g string, bd string",
    )
    mapped = forge.map(src, rules)
    assert mapped.collect()[0].id == "https://kg.example.ch/persons/1"
    validated = forge.validate(mapped, "Person")
    by_id = {r.id: r.validated for r in validated.collect()}
    assert by_id["https://kg.example.ch/persons/1"] is True
    assert by_id["https://kg.example.ch/persons/2"] is False  # familyName minCount

    # store the valid ones, search them back
    ok = validated.where("validated").drop("validated", "violations")
    assert forge.register(ok)["succeeded"] == 1
    p = forge.paths()
    hits = forge.search(p.gender == "female")
    assert [r.id for r in hits.collect()] == ["https://kg.example.ch/persons/1"]

    # triples end-to-end
    triples = forge.as_triples(ok)
    assert ("https://kg.example.ch/persons/1", "rdf:type", "Person") in {
        (r.subj, r.pred, r.obj) for r in triples.collect()
    }


def test_patient_rdfs_inference_via_facade(spark, forge):
    df = spark.createDataFrame(
        [("https://t/1", "Patient", "Doe", "John", "male", "2004-04-12")],
        "id string, type string, familyName string, givenName string, gender string, birthDate string",
    )
    assert forge.validate(df, "Person", inference="rdfs").collect()[0].validated
    assert not forge.validate(df, "Person").collect()[0].validated


@needs_demo_resolver
def test_introspection_verbs(spark, forge):
    assert "Person" in forge.types()
    t = forge.template("Person")
    assert isinstance(t, dict) and "type" in t
    assert ("terms", "cell_types") in forge.resolvers()
    assert forge.attach("/p/x.txt", "text/plain") == {
        "type": "DataDownload", "contentUrl": "/p/x.txt", "encodingFormat": "text/plain"
    }


@_needs_reference(DEMO_MAPPINGS)
def test_mappings_layout_verbs(spark):
    from nexus_forge_spark.forge import SparkForge, SparkForgeConfig

    f = SparkForge(
        spark,
        SparkForgeConfig(mappings_dir=f"{REF}/tests/data/demo-model/mappings"),
    )
    assert "scientists-database" in f.sources()
    assert "Contribution" in f.mappings("scientists-database")
    rules = f.mapping("Contribution", "scientists-database")
    assert rules["type"] == "Contribution"


def test_sparql_verb_over_triples_view(spark, forge):
    from pyspark.sql import functions as F

    triples = spark.createDataFrame(
        [("s1", "rdf:type", "Person"), ("s1", "name", "Jane"), ("s2", "rdf:type", "Org")],
        "subj string, pred string, obj string",
    )
    out = forge.sparql(
        "SELECT subj, obj FROM triples WHERE pred = 'rdf:type' ORDER BY subj", triples
    )
    assert [(r.subj, r.obj) for r in out.collect()] == [("s1", "Person"), ("s2", "Org")]


def test_json_roundtrip_verbs(spark, forge):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    back = forge.from_json(forge.as_json(df)).orderBy("id")
    assert [(r.id, r.name) for r in back.collect()] == [(1, "a"), (2, "b")]


def test_elastic_runs_es_dsl(spark, forge):
    """forge.elastic executes real ES search bodies against an index
    DataFrame (S4/S6 — was n/a-by-design until the esdsl compiler landed);
    calling it without an index is a clear error, not a silent default."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="index"):
        forge.elastic({"query": {"match_all": {}}})
    idx = spark.createDataFrame([("a", 1), ("b", 2)], "id string, n long")
    out = forge.elastic({"query": {"range": {"n": {"gte": 2}}}}, index=idx)
    assert [r["id"] for r in out.collect()] == ["b"]


@_needs_reference(DISPATCH_MAPPING, DEMO)
def test_map_dispatch_records_and_files(spark, forge, tmp_path):
    # mapper dispatch parity (M2): dict / list-of-dicts / file path
    mapping = f"{REF}/tests/data/demo-model/mappings/scientists-database/DictionaryMapping/Contribution.hjson"
    rec = {"id": 9, "name": "Grace Hopper", "middle_name": "B", "gender": "female"}
    one = forge.map(rec, mapping).collect()
    assert len(one) == 1 and one[0].agent.name == "Grace Hopper"
    many = forge.map([rec, {**rec, "id": 10, "name": "Jean Doe"}], mapping).collect()
    assert {r.agent.name for r in many} == {"Grace Hopper", "Jean Doe"}
    p = tmp_path / "recs.json"
    import json as _json

    p.write_text(_json.dumps([rec]))
    from_file = forge.map(str(p), mapping).collect()
    assert from_file[0].agent.name == "Grace Hopper"


def test_as_graph_from_graph_aliases(spark, forge):
    df = spark.createDataFrame(
        [("https://kg.example.ch/x/1", "Thing", "hello")],
        "id string, type string, name string",
    )
    triples = forge.as_graph(df)
    back = forge.from_graph(triples)
    assert {r.subj for r in back.collect()} == {"https://kg.example.ch/x/1"}
    # alias identity with the triples verbs
    assert type(forge).as_graph is type(forge).as_triples
    assert type(forge).from_graph is type(forge).from_triples


def test_context_getters(forge):
    # core/forge.py:973-980 — both getters expose the configured context
    assert forge.get_model_context() == forge.prefixes()
    ctx = forge.get_store_context()
    assert ctx is None or ctx == forge.prefixes()
