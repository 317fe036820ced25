"""Rule-compiler parity tests against the reference's fixture mappings.

Expected values derived from the reference semantics
(specializations/mappers/dictionaries.py:31-62 eval loop) applied by hand to
the fixture rules; fixture mapping files + resolver dictionaries are read
from /root/reference/tests|examples (data, not code).  The tests that read
them are skipped where that checkout is absent."""

from __future__ import annotations

import os

import pytest

from nexus_forge_spark.functions import hjson
from nexus_forge_spark.operators.mapping import (
    ForgeContext,
    RuleCompileError,
    map_dataframe,
    load_mapping,
)
from nexus_forge_spark.sources.resolver_dims import load_resolver_dim

REF = "/root/reference"
DEMO_RESOLVER = f"{REF}/tests/data/demo-resolver"
SUBJECT_MAPPING = (
    f"{REF}/examples/mappings/allen-cell-types-database/mappings/DictionaryMapping/Subject.hjson"
)
ASSOCIATION_MAPPING = (
    f"{REF}/examples/mappings/scientists-database/DictionaryMapping/Association.hjson"
)
NEURONMORPHOLOGY_MAPPING = (
    f"{REF}/examples/mappings/allen-cell-types-database/mappings/DictionaryMapping/"
    "NeuronMorphology.hjson"
)
EXAMPLE_MAPPING = f"{REF}/examples/mappings/DemoDB/mappings/DictionaryMappings/Example.hjson"
CONTRIBUTION_MAPPING = (
    f"{REF}/tests/data/demo-model/mappings/scientists-database/"
    "DictionaryMapping/Contribution.hjson"
)
FORMATTERS = {"identifier": "https://kg.example.ch/{}/{}"}

INLINE_MAPPING = """
{
    type: x.type
    id: x.id
    content_type: {
        unitCode: f"bytes"
        value: x.p1
    }
    encodingFormat: x.p2
}
"""


def _needs_reference(*paths):
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing),
        reason=f"needs the nexus-forge reference checkout at /root/reference: {missing}",
    )


def _ctx(spark) -> ForgeContext:
    return ForgeContext(
        formatters=FORMATTERS,
        resolver_dims={
            ("terms", None): (
                load_resolver_dim(spark, f"{DEMO_RESOLVER}/sex.json", ["label", "acronym"]),
                ["label", "acronym"],
            ),
            ("terms", "sex"): (
                load_resolver_dim(spark, f"{DEMO_RESOLVER}/sex.json", ["label", "acronym"]),
                ["label", "acronym"],
            ),
            ("terms", "species"): (
                load_resolver_dim(spark, f"{DEMO_RESOLVER}/species.json", ["label", "acronym"]),
                ["label", "acronym"],
            ),
            ("terms", "structure-layer"): (
                load_resolver_dim(
                    spark, f"{DEMO_RESOLVER}/structure_layer.json", ["label", "acronym"]
                ),
                ["label", "acronym"],
            ),
        },
    )


def test_hjson_inline_mapping_parse():
    rules = hjson.loads(INLINE_MAPPING)
    assert list(rules) == ["type", "id", "content_type", "encodingFormat"]
    assert rules["content_type"]["unitCode"] == 'f"bytes"'


def test_inline_mapping_map(spark):
    # tests/specializations/mappers/test_mappers.py:27-58 (happy path)
    df = spark.createDataFrame(
        [("123", "Type", "v1a", "v2a")], "id string, type string, p1 string, p2 string"
    )
    out = map_dataframe(df, hjson.loads(INLINE_MAPPING)).collect()[0]
    assert out.type == "Type" and out.id == "123"
    assert out.content_type.unitCode == "bytes" and out.content_type.value == "v1a"
    assert out.encodingFormat == "v2a"


def test_missing_attribute_raises(spark):
    # record lacking p1 -> AttributeError (test_mappers.py:41-58)
    df = spark.createDataFrame([("123", "Type", "v2a")], "id string, type string, p2 string")
    with pytest.raises(AttributeError):
        map_dataframe(df, hjson.loads(INLINE_MAPPING))


def test_literal_fallbacks(spark):
    df = spark.createDataFrame([("n",)], "name string")
    rules = hjson.loads(
        """
{
    type: Contribution
    uri: https://example.org/x
    note: "quoted literal"
    count: 3
    name: x.name
}
"""
    )
    row = map_dataframe(df, rules).collect()[0]
    # bare Name -> NameError -> literal; URL -> SyntaxError -> literal
    assert row.type == "Contribution"
    assert row.uri == "https://example.org/x"
    assert row.note == "quoted literal"
    assert row["count"] == 3
    assert row.name == "n"


@_needs_reference(SUBJECT_MAPPING, DEMO_RESOLVER)
def test_subject_mapping_with_resolve(spark):
    # examples/mappings/allen-cell-types-database/.../Subject.hjson
    rules = load_mapping(
        f"{REF}/examples/mappings/allen-cell-types-database/mappings/DictionaryMapping/Subject.hjson"
    )
    df = spark.createDataFrame(
        [(101, "Specimen A", 7, "Donor 7", "male", "Mus musculus")],
        "specimen__id long, specimen__name string, donor__id long, donor__name string,"
        "donor__sex string, donor__species string",
    )
    row = map_dataframe(df, rules, _ctx(spark)).collect()[0]
    assert row.type == "Subject"
    assert row.id == "https://kg.example.ch/subjects/7"
    assert row.identifier == 7
    assert row.name == "Donor 7"
    assert row.sex.id == "http://purl.obolibrary.org/obo/PATO_0000384"  # male
    assert row.sex.label == "male"
    assert row.species.id == "http://purl.obolibrary.org/obo/NCBITaxon_10090"
    assert row.species.label == "Mus musculus"


@_needs_reference(DEMO_RESOLVER)
def test_unresolved_mention_is_null(spark):
    rules = hjson.loads('{\n sex: forge.resolve(x.s, scope="terms", target="sex")\n}')
    df = spark.createDataFrame([("male",), ("unknown-xyz",)], "s string")
    rows = {r.asDict()["sex"].id if r.sex else None for r in map_dataframe(df, rules, _ctx(spark)).collect()}
    assert "http://purl.obolibrary.org/obo/PATO_0000384" in rows
    assert None in rows


@_needs_reference(ASSOCIATION_MAPPING, DEMO_RESOLVER)
def test_association_attach_and_strmethods(spark):
    # scientists-database Association.hjson: attach path via
    # '_'.join(x.name.lower().split())
    rules = load_mapping(
        f"{REF}/examples/mappings/scientists-database/DictionaryMapping/Association.hjson"
    )
    df = spark.createDataFrame(
        [(1, "Jane Mid Doe", "Mid", "female")],
        "id long, name string, middle_name string, gender string",
    )
    row = map_dataframe(df, rules, _ctx(spark)).collect()[0]
    assert row.type == "Association"
    assert row.agent.id == "https://kg.example.ch/persons/1"
    assert row.agent.type == "Person"
    assert row.agent.name == "Jane Mid Doe"
    assert row.agent.gender.label == "female"
    assert row.distribution.type == "DataDownload"
    assert row.distribution.contentUrl == "../../data/scientists-database/jane_mid_doe.txt"


@_needs_reference(NEURONMORPHOLOGY_MAPPING, DEMO_RESOLVER)
def test_neuronmorphology_full(spark):
    # allen NeuronMorphology.hjson: nested structs, derivation list, f-string
    # id, attach with content_type, resolve on f-string arg
    rules = load_mapping(
        f"{REF}/examples/mappings/allen-cell-types-database/mappings/DictionaryMapping/NeuronMorphology.hjson"
    )
    df = spark.createDataFrame(
        [
            (
                55, "Cell 55", 7, "Donor 7", "male", "Mus musculus",
                315, "VISp", "2", 1.0, 2.0, 3.0, "intact",
            )
        ],
        "specimen__id long, specimen__name string, donor__id long, donor__name string,"
        "donor__sex string, donor__species string, structure__id long,"
        "structure__acronym string, structure__layer string, csl__x double,"
        "csl__y double, csl__z double, tag__apical string",
    )
    row = map_dataframe(df, rules, _ctx(spark)).collect()[0]
    assert row.id == "https://kg.example.ch/neuronmorphologies/55"
    assert row.apicalDendrite == "intact"
    bl = row.brainLocation
    assert bl.type == "BrainLocation"
    assert bl.brainRegion.id == "http://api.brain-map.org/api/v2/data/Structure/315"
    assert bl.brainRegion.label == "VISp"
    assert bl.coordinatesInBrainAtlas.valueX == 1.0
    assert bl.layer.id == "http://purl.obolibrary.org/obo/UBERON_0005391"  # layer 2
    assert row.contribution.agent.id == "https://www.grid.ac/institutes/grid.417881.3"
    assert [d.entity.type for d in row.derivation] == ["Subject", "PatchedCell"]
    assert row.derivation[0].entity.id == "https://kg.example.ch/subjects/7"
    assert row.derivation[1].entity.id == "https://kg.example.ch/patchedcells/55"
    assert row.distribution.encodingFormat == "application/swc"
    assert row.subject.id == "https://kg.example.ch/subjects/7"


def test_na_dropping(spark):
    df = spark.createDataFrame([("a", "N/A"), ("b", "real")], "k string, v string")
    rules = hjson.loads("{\n key: x.k\n value: x.v\n}")
    rows = map_dataframe(df, rules, na=["N/A"]).collect()
    vals = {r.key: r.value for r in rows}
    assert vals == {"a": None, "b": "real"}


def test_eval_fallback_for_uncompilable_rules(spark):
    # slicing/zfill aren't in the Column compiler -> Arrow-batch eval hatch
    df = spark.createDataFrame([("abcdef", 7)], "s string, n long")
    rules = hjson.loads(
        """
{
    rev: x.s[::-1]
    padded: str(x.n).zfill(5)
    plain: x.s
}
"""
    )
    row = map_dataframe(df, rules).collect()[0]
    assert row.rev == "fedcba"
    assert row.padded == "00007"
    assert row.plain == "abcdef"


def test_eval_fallback_missing_attr_raises(spark):
    df = spark.createDataFrame([("a",)], "s string")
    rules = hjson.loads("{\n v: x.nope[::-1]\n}")
    import pytest as _pytest

    with _pytest.raises(Exception) as exc:
        map_dataframe(df, rules).collect()
    assert "no attribute" in str(exc.value)


@_needs_reference(EXAMPLE_MAPPING, DEMO_RESOLVER)
def test_heterogeneous_ternary_struct_unification(spark):
    # DemoDB Example.hjson: resolve-result struct vs literal dict with fewer
    # fields — branches unify to the field union (missing -> null)
    rules = load_mapping(
        f"{REF}/examples/mappings/DemoDB/mappings/DictionaryMappings/Example.hjson"
    )
    ctx = ForgeContext(
        formatters=FORMATTERS,
        resolver_dims={
            ("ontology", None): (
                load_resolver_dim(
                    spark, f"{DEMO_RESOLVER}/cell_types.json", ["label", "acronym"]
                ),
                ["label", "acronym"],
            )
        },
    )
    df = spark.createDataFrame(
        [("a/1", "n1", "l1", "Lamp+"), ("b/2", "n2", "l2", "nosuchterm")],
        "id string, name string, label string, subject string",
    )
    rows = {r.name: r for r in map_dataframe(df, rules, ctx).collect()}
    hit = rows["n1"].subject
    assert hit.label == "Lamp+" and hit.id and hit.type == "Class"
    miss = rows["n2"].subject
    assert miss.label == "nosuchterm" and miss.id is None and miss.type is None


@_needs_reference(EXAMPLE_MAPPING, DEMO_RESOLVER)
def test_duplicate_resolve_sites_share_one_prejoin(spark):
    # `resolve(t) if resolve(t) is not None else ...` must register ONE site
    from nexus_forge_spark.operators.mapping import RuleCompiler
    from pyspark.sql import types as T

    rules = load_mapping(
        f"{REF}/examples/mappings/DemoDB/mappings/DictionaryMappings/Example.hjson"
    )
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in ("id", "name", "label", "subject")]
    )
    ctx = ForgeContext(
        formatters=FORMATTERS,
        resolver_dims={
            ("ontology", None): (
                load_resolver_dim(
                    spark, f"{DEMO_RESOLVER}/cell_types.json", ["label", "acronym"]
                ),
                ["label", "acronym"],
            )
        },
    )
    compiler = RuleCompiler(schema, ctx)
    compiler.compile_tree(rules)
    assert len(compiler.sites) == 1


@_needs_reference(CONTRIBUTION_MAPPING)
def test_load_mapping_url_autodetect():
    # Mapping.load URL branch (mapping.py:57-103) via a file:// URL
    path = (
        f"{REF}/tests/data/demo-model/mappings/scientists-database/"
        "DictionaryMapping/Contribution.hjson"
    )
    rules = load_mapping(f"file://{path}")
    assert rules["type"] == "Contribution"
    assert load_mapping(path) == rules  # file-path branch agrees


def test_non_dict_mapping_raises_rule_compile_error(spark):
    # a path to a missing file loads as raw hjson text (load_mapping's last
    # branch); mapping it must name the value, not fail inside the compiler
    from nexus_forge_spark.forge import SparkForge, SparkForgeConfig

    forge = SparkForge(spark, SparkForgeConfig())
    with pytest.raises(RuleCompileError, match="/no/such/mapping.hjson"):
        forge.map({"id": 1, "name": "n"}, "/no/such/mapping.hjson")
    df = spark.createDataFrame([("n",)], "a string")
    with pytest.raises(RuleCompileError, match="list"):
        map_dataframe(df, ["x.a"])
