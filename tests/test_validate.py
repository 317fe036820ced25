"""Validation parity vs the reference's SHACL test matrix
(tests/specializations/models/test_rdf_model.py:79-174, shapes fixtures
tests/data/shacl-model/commons/shapes-{1,2,3}.json)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from nexus_forge_spark.operators.validate import (
    ShapeCompiler,
    load_shapes,
    load_subclass_closure,
)

COMMONS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "shacl-model", "commons"
)


@pytest.fixture(scope="module")
def compiler():
    shapes = load_shapes(sorted(glob.glob(f"{COMMONS}/shapes-*.json")))
    closure = load_subclass_closure(f"{COMMONS}/schemaorg-v26.0.json")
    return ShapeCompiler(shapes, closure)


def test_shapes_loaded(compiler):
    assert "Person" in compiler.shapes
    assert "Activity" in compiler.shapes
    assert compiler.shapes["Activity"].target_class == "Activity"
    assert "Person" in compiler.subclass_of.get("Patient", set())


ACT_SCHEMA = (
    "id string, type string, generated struct<type:string>, status string"
)


def test_valid_activity(spark, compiler):
    # valid_activity_resource: id + generated Entity + status completed
    df = spark.createDataFrame(
        [("http://testing/123", "Activity", ("Entity",), "completed")], ACT_SCHEMA
    )
    row = compiler.validate(df, "Activity").collect()[0]
    assert row.validated, row.violations


def test_invalid_activity_missing_id(spark, compiler):
    # invalid_activity_resource: missing id -> nodeKind IRI violation
    df = spark.createDataFrame(
        [(None, "Activity", ("Entity",), "completed")], ACT_SCHEMA
    )
    row = compiler.validate(df, "Activity").collect()[0]
    assert not row.validated
    assert any("nodeKind" in v for v in row.violations)


def test_activity_wrong_status_and_missing_generated(spark, compiler):
    df = spark.createDataFrame(
        [("http://t/1", "Activity", None, "in-progress")], ACT_SCHEMA
    )
    row = compiler.validate(df, "Activity").collect()[0]
    assert not row.validated
    assert any("hasValue" in v for v in row.violations)
    assert any("generated" in v for v in row.violations)


PATIENT_SCHEMA = (
    "id string, type string, familyName string, givenName string,"
    "gender string, birthDate string"
)
PATIENT_ROW = ("https://testing/1234", "Patient", "Doe", "John", "male", "2004-04-12T13:20:15.5")


@pytest.mark.parametrize(
    "inference, validated",
    [("rdfs", True), (None, False), ("none", False)],
)
def test_patient_as_person_inference_matrix(spark, compiler, inference, validated):
    # test_rdf_model.py:130-158: Patient passes Person only with rdfs
    inf = None if inference in (None, "none") else inference
    df = spark.createDataFrame([PATIENT_ROW], PATIENT_SCHEMA)
    row = compiler.validate(df, "Person", inference=inf).collect()[0]
    assert row.validated == validated, row.violations
    if not validated:
        assert any("focus" in v for v in row.violations)


def test_validate_many_mixed(spark, compiler):
    # test_validate_many: one valid + one invalid in the same frame
    df = spark.createDataFrame(
        [
            ("http://testing/123", "Activity", ("Entity",), "completed"),
            (None, "Activity", ("Entity",), "completed"),
        ],
        ACT_SCHEMA,
    )
    out = {r.id: r.validated for r in compiler.validate(df, "Activity").collect()}
    assert out["http://testing/123"] is True
    assert out[None] is False


def test_person_gender_in_and_datatype(spark, compiler):
    person_schema = (
        "id string, type string, familyName string, givenName string,"
        "gender string, birthDate string"
    )
    rows = [
        ("http://p/1", "Person", "Doe", "Jane", "female", "2000-01-01"),
        ("http://p/2", "Person", "Doe", "Jon", "other", "2000-01-01"),
        ("http://p/3", "Person", None, "NoFam", "male", "2000-01-01"),
    ]
    df = spark.createDataFrame(rows, person_schema)
    out = {r.id: r for r in compiler.validate(df, "Person").collect()}
    assert out["http://p/1"].validated, out["http://p/1"].violations
    assert not out["http://p/2"].validated  # gender not in (female, male)
    assert not out["http://p/3"].validated  # familyName minCount 1


def test_building_mandatory(spark, compiler):
    if "Building" not in compiler.shapes:
        pytest.skip("no Building shape in fixtures")
    schema = (
        "id string, type string, description string, name string,"
        "geo struct<latitude:double,longitude:double>"
    )
    df = spark.createDataFrame(
        [
            ("http://b/1", "Building", "HQ", "Main", (1.0, 2.0)),
            ("http://b/2", "Building", None, "Main", (1.0, 2.0)),
        ],
        schema,
    )
    out = {r.id: r.validated for r in compiler.validate(df, "Building").collect()}
    assert out["http://b/1"] is True
    assert out["http://b/2"] is False  # description mandatory


# ---------------------------------------------------------------- templates
# Golden templates copied verbatim from the reference's expected values
# (tests/specializations/models/data.py:28-123) — our ShapeCompiler.template
# must reproduce them exactly (test_rdf_model.py:46-76).

ORGANIZATION = {
    "id": "",
    "type": "Organization",
    "name": "",
    "parentOrganization": {"id": "", "type": "Organization"},
}

PERSON_TEMPLATE = {
    "id": "",
    "type": "Person",
    "address": {"type": "PostalAddress", "postalCode": ["", 0], "streetAddress": ""},
    "birthDate": "9999-12-31",
    "deathDate": "9999-12-31",
    "gender": ["female", "male"],
    "givenName": "",
    "familyName": "",
}

EMPLOYEE_TEMPLATE = dict(
    PERSON_TEMPLATE,
    type="Employee",
    colleague=dict(PERSON_TEMPLATE),
    contractor=ORGANIZATION,
    department=ORGANIZATION,
    startDate="9999-12-31",
    worksFor={"id": "", "type": ["Organization", "Person"]},
)

ENTITY = {"id": "", "type": "Entity"}

ACTIVITY_TEMPLATE = {
    "id": "",
    "type": "Activity",
    "citation": {"id": ""},
    "endedAtTime": "9999-12-31T00:00:00",
    "generated": ENTITY,
    "startedAtTime": "9999-12-31T00:00:00",
    "status": "completed",
    "used": ENTITY,
    "validated": False,
    "author": {"id": "", "type": ["Organization", "Person"]},
}

BUILDING_TEMPLATE = {
    "id": "",
    "type": "Building",
    "description": "",
    "geo": {"latitude": 0.0, "longitude": 0.0},
    "image": {"id": ""},
    "name": "",
}


@pytest.mark.parametrize(
    "type_, expected",
    [
        ("Person", PERSON_TEMPLATE),
        ("Employee", EMPLOYEE_TEMPLATE),
        ("Activity", ACTIVITY_TEMPLATE),
        ("Building", BUILDING_TEMPLATE),
    ],
)
def test_create_templates(compiler, type_, expected):
    assert compiler.template(type_, only_required=False) == expected


@pytest.mark.parametrize(
    "type_, keep",
    [
        ("Activity", ["id", "type", "generated", "status"]),
        ("Building", ["id", "type", "description", "name"]),
    ],
)
def test_create_templates_only_required(compiler, type_, keep):
    full = compiler.template(type_, only_required=False)
    expected = {k: v for k, v in full.items() if k in keep}
    assert compiler.template(type_, only_required=True) == expected


def test_template_invalid_type(compiler):
    with pytest.raises(ValueError):
        compiler.template("Invalid")


# ------------------------------------------- sh:node + and-inheritance


def test_employee_inherits_person_constraints(spark, compiler):
    """EmployeeShape `and`-includes PersonShape (shapes-4.json): a valid
    employee needs the person properties plus startDate."""
    rows = [
        # valid: all person props + startDate
        ("http://e/1", "Employee", "Doe", "Jane", "female", "2000-01-01", "2020-01-01"),
        # invalid: missing familyName (inherited minCount 1)
        ("http://e/2", "Employee", None, "Jo", "male", "2000-01-01", "2020-01-01"),
        # invalid: missing startDate (own minCount 1)
        ("http://e/3", "Employee", "Roe", "Ann", "female", "2000-01-01", None),
    ]
    df = spark.createDataFrame(
        rows,
        "id string, type string, familyName string, givenName string, "
        "gender string, birthDate string, startDate string",
    )
    out = {
        r["id"]: r["validated"]
        for r in compiler.validate(df, "Employee").collect()
    }
    assert out == {"http://e/1": True, "http://e/2": False, "http://e/3": False}


def test_building_geo_node_shape(spark, compiler):
    """sh:node GeoShape on schema:geo — nested struct must satisfy the
    referenced (non-targeting) shape's property constraints."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [("http://b/1", "Building", "hq", "main office", 46.5, 6.6),
         ("http://b/2", "Building", "lab", "wet lab", None, 7.0)],
        "id string, type string, name string, description string, "
        "lat double, lon double",
    ).select(
        "id", "type", "name", "description",
        F.struct(F.col("lat").alias("latitude"), F.col("lon").alias("longitude")).alias("geo"),
    )
    out = {r["id"]: (r["validated"], list(r["violations"]))
           for r in compiler.validate(base, "Building").collect()}
    assert out["http://b/1"][0] is True
    assert out["http://b/2"][0] is False
    assert any("latitude" in v for v in out["http://b/2"][1])


def test_employee_or_of_paths_alt_group(spark, compiler):
    """EmployeeShape's node-level or(contractor|department): satisfied when
    either alternative conforms; violated when both present but broken."""
    from pyspark.sql import functions as F

    org_ok = F.struct(F.lit("Organization").alias("type"), F.lit("ACME").alias("name"))
    org_bad = F.struct(F.lit("NotOrg").alias("type"), F.lit("x").alias("name"))
    base = spark.createDataFrame(
        [("http://e/1", "Employee", "Doe", "Jane", "female", "2000-01-01", "2020-01-01", 1),
         ("http://e/2", "Employee", "Roe", "Ann", "male", "2000-01-01", "2020-01-01", 0)],
        "id string, type string, familyName string, givenName string, "
        "gender string, birthDate string, startDate string, good int",
    ).select(
        "id", "type", "familyName", "givenName", "gender", "birthDate", "startDate",
        F.when(F.col("good") == 1, org_ok).otherwise(org_bad).alias("contractor"),
        F.when(F.col("good") == 1, org_ok).otherwise(org_bad).alias("department"),
    )
    out = {r["id"]: r["validated"] for r in compiler.validate(base, "Employee").collect()}
    assert out == {"http://e/1": True, "http://e/2": False}
