"""Randomized validation differential: ShapeCompiler's compiled Person-shape
predicates vs a plain-Python model of the same SHACL constraints (focus
type, nodeKind IRI on id, familyName/givenName/gender/birthDate minCount,
gender sh:in, birthDate xsd:date parse — shapes-1.json via the golden
template tests), with and without rdfs inference (Patient ⊑ Person)."""

from __future__ import annotations

import datetime
import glob
import os
import random

import pytest

COMMONS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "shacl-model", "commons"
)

GENDERS = ["female", "male", "other", None]
TYPES = ["Person", "Patient", "Alien", None]
DATES = ["2000-01-01", "1999-12-31", "not-a-date", "2000-13-40", None]
NAMES = ["Doe", "", None]


def _expected_valid(row: dict, rdfs: bool) -> bool:
    focus_types = {"Person", "Patient"} if rdfs else {"Person"}
    if row["type"] not in focus_types:
        return False
    if not row["id"]:
        return False
    if row["familyName"] is None or row["givenName"] is None:
        return False
    if row["gender"] is None or row["gender"] not in ("female", "male"):
        return False
    if row["birthDate"] is None:
        return False
    try:
        datetime.date.fromisoformat(row["birthDate"])
    except ValueError:
        return False
    return True


@pytest.mark.parametrize("seed", [2, 29])
def test_validation_matches_model(spark, seed):
    from nexus_forge_spark.operators.validate import (
        ShapeCompiler,
        load_shapes,
        load_subclass_closure,
    )

    rnd = random.Random(seed)
    rows = []
    for i in range(60):
        rows.append(
            {
                "id": f"http://p/{i}" if rnd.random() > 0.05 else "",
                "type": rnd.choice(TYPES),
                "familyName": rnd.choice(NAMES) or None,
                "givenName": rnd.choice(NAMES) or None,
                "gender": rnd.choice(GENDERS),
                "birthDate": rnd.choice(DATES),
            }
        )
    df = spark.createDataFrame(
        [(r["id"], r["type"], r["familyName"], r["givenName"], r["gender"], r["birthDate"]) for r in rows],
        "id string, type string, familyName string, givenName string, "
        "gender string, birthDate string",
    )
    shapes = load_shapes(sorted(glob.glob(f"{COMMONS}/shapes-*.json")))
    closure = load_subclass_closure(f"{COMMONS}/schemaorg-v26.0.json")

    plain = {r["id"]: r["validated"] for r in ShapeCompiler(shapes).validate(df, "Person").collect()}
    rdfs = {
        r["id"]: r["validated"]
        for r in ShapeCompiler(shapes, closure).validate(df, "Person", inference="rdfs").collect()
    }
    for r in rows:
        assert plain[r["id"]] == _expected_valid(r, rdfs=False), ("plain", r)
        assert rdfs[r["id"]] == _expected_valid(r, rdfs=True), ("rdfs", r)
