"""Quantitative P/R parity report vs the reference's semantics on its own
fixture corpus (BASELINE.json: triple extraction P/R >= 0.95).

The reference itself cannot run here (its deps hjson/rdflib/pyshacl are not
installed and installs are forbidden), so the EXPECTED side is an
independent pure-Python interpreter of the reference's documented semantics
— NOT copied code:

* mapping  — the eval loop of DictionaryMapper._map_one/_apply_rules
  (kgforge/specializations/mappers/dictionaries.py:31-62): bind {x, forge},
  eval each leaf, literal fallback on TypeError/NameError/SyntaxError,
  AttributeError propagates;
* resolve  — DemoResolver._resolve (…/resolvers/demo_resolver.py:41-110):
  exact / case-insensitive / substring strategies over label|acronym,
  score = len(first present property) - len(text), stable dictionary order;
* validate — the RdfModel pass/fail matrix
  (tests/specializations/models/test_rdf_model.py:79-174) as hand facts.

The ACTUAL side is this engine (Spark): map_dataframe, resolve, and
ShapeCompiler over the very same fixture files: the resolver dictionaries
and mappings of a nexus-forge checkout at ``REF``, and the SHACL shapes
vendored in tests/data/shacl-model/commons.  A missing fixture ends the
run with exit status 2 and a list of the absent paths.

Every case's output is flattened to (case, path, value) facts;
  precision = |actual ∩ expected| / |actual|
  recall    = |actual ∩ expected| / |expected|
micro-averaged across families. Writes PARITY.md, prints one JSON line.
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

REF = "/root/reference"
DEMO_RESOLVER = f"{REF}/tests/data/demo-resolver"
RESOLVER_DICTS = ("sex", "species", "cell_types", "agents", "structure_layer")
COMMONS = os.path.join(ROOT, "tests", "data", "shacl-model", "commons")
FORMATTERS = {"identifier": "https://kg.example.ch/{}/{}"}



from nexus_forge_spark.refsem import (  # noqa: E402
    ALL,
    BEST,
    EXACT,
    EXACT_CI,
    _ForgeStub,
    _norm,
    demo_resolve,
    flatten,
    ref_map,
)

# ------------------------------------------------------------ corpora

MAPPING_CASES = [
    (
        f"{REF}/tests/data/demo-model/mappings/scientists-database/DictionaryMapping/Contribution.hjson",
        [
            {"id": 1, "name": "Jane Mid Doe", "middle_name": "Mid", "gender": "female"},
            {"id": 2, "name": "John Smith", "middle_name": "M", "gender": "male"},
        ],
    ),
    (
        f"{REF}/tests/data/demo-model/mappings/scientists-database/DictionaryMapping/Association.hjson",
        [
            {"id": 3, "name": "Marie Curie", "middle_name": "S", "gender": "female"},
        ],
    ),
    (
        f"{REF}/tests/data/demo-model/mappings/allen-cell-types-database/DictionaryMapping/Subject.hjson",
        [
            {"donor__id": 7, "donor__name": "Donor 7", "donor__sex": "male",
             "donor__species": "Mus musculus"},
            {"donor__id": 8, "donor__name": "Donor 8", "donor__sex": "female",
             "donor__species": "Homo Sapiens"},
        ],
    ),
    (
        f"{REF}/tests/data/demo-model/mappings/allen-cell-types-database/DictionaryMapping/PatchedCell.hjson",
        [
            {"specimen__id": 11, "specimen__name": "Spec 11", "structure__id": 101,
             "structure__acronym": "VISp", "donor__id": 7},
        ],
    ),
    (
        f"{REF}/tests/data/demo-model/mappings/allen-cell-types-database/DictionaryMapping/NeuronMorphology.hjson",
        [
            {"specimen__id": 12, "specimen__name": "Spec 12", "structure__id": 102,
             "structure__acronym": "VISl", "structure__layer": "2", "donor__id": 8,
             "tag__apical": "intact", "csl__x": 1.0, "csl__y": 2.0, "csl__z": 3.0},
        ],
    ),
    (
        f"{REF}/examples/mappings/UniProt/mappings/DictionaryMapping/Gene.hjson",
        [
            {"uid": "u1", "description": "desc one"},
        ],
    ),
    (
        f"{REF}/examples/mappings/scientists-database/DictionaryMapping/Contribution.hjson",
        [
            {"id": 4, "name": "Ada Lovelace", "middle_name": "A", "gender": "female"},
        ],
    ),
    (
        f"{REF}/examples/mappings/DemoDB/mappings/DictionaryMappings/Example.hjson",
        [
            {"id": "a/1", "name": "n1", "label": "l1", "subject": "Lamp+"},
            {"id": "b/2", "name": "n2", "label": "l2", "subject": "nosuchterm"},
        ],
    ),
    (
        f"{REF}/examples/mappings/MouseLight/mappings/DictionaryMapping/NeuronMorphology.hjson",
        [
            {"neurons": [{"idString": "AA001",
                          "soma": {"x": 1.0, "y": 2.0, "z": 3.0, "allenId": 100},
                          "allenLabel": "VISp",
                          "sample": {"strain": "C57", "date": "2020-01-01"},
                          "annotationSpace": {"version": "1.0", "description": "d"},
                          "label": {"virus": "v", "fluorophore": "f"}}]},
        ],
    ),
    (
        f"{REF}/examples/mappings/NeuroMorpho/mappings/DictionaryMapping/NeuronMorphology.hjson",
        [
            {"bbpID": "b1", "brain_region": ["Lamp+"], "date_formatted": "2020-01-01",
             "neuron_id": "n1", "archive": "arch", "neuron_name": "nm1",
             "species": "21_Sncg", "scientific_name": "Pyramidal Neuron",
             "stain": "golgi"},
        ],
    ),
    (
        f"{REF}/examples/mappings/UniProt/mappings/DictionaryMapping/Protein.hjson",
        [
            {"id": "http://purl.uniprot.org/uniprot/P12345", "gene": "g1",
             "gene_label": "Gcgr", "label": "prot", "subject": "Lamp+"},
            {"id": "http://purl.uniprot.org/uniprot/Q99999", "gene": "g2",
             "gene_label": "Abc", "label": "prot2", "subject": "missingterm"},
        ],
    ),
]

VALIDATION_CASES = [
    # (id, type, familyName, givenName, gender, birthDate,
    #  expected_plain, expected_rdfs) — matrix of test_rdf_model.py:79-174
    ("v1", "Person", "Doe", "Jane", "female", "2000-01-01", True, True),
    ("v2", "Person", None, "Jane", "female", "2000-01-01", False, False),
    ("v3", "Person", "Doe", None, "female", "2000-01-01", False, False),
    ("v4", "Person", "Doe", "Jane", "unknown", "2000-01-01", False, False),
    ("v5", "Person", "Doe", "Jane", None, "2000-01-01", False, False),
    ("v6", "Person", "Doe", "Jane", "male", "not-a-date", False, False),
    ("v7", "Patient", "Doe", "Jane", "female", "2000-01-01", False, True),
    ("v8", "Alien", "Doe", "Jane", "female", "2000-01-01", False, False),
]


def _resolver_mentions(rows: list[dict]) -> list[str]:
    out = []
    for r in rows:
        for p in ("label", "acronym"):
            v = r.get(p)
            if v:
                out.extend([v, v.lower(), v.upper(), v[: max(4, len(v) // 2)].lower()])
    out.append("zzz-no-match")
    return sorted(set(out))


# ------------------------------------------------------------ actual side

def run(spark):  # noqa: C901 — linear report script
    from pyspark.sql import functions as F

    from nexus_forge_spark.functions import hjson
    from nexus_forge_spark.operators import resolve as R
    from nexus_forge_spark.operators.mapping import ForgeContext, map_dataframe
    from nexus_forge_spark.operators.validate import (
        ShapeCompiler,
        load_shapes,
        load_subclass_closure,
    )
    from nexus_forge_spark.sources.resolver_dims import load_resolver_dim

    dict_rows = {
        name: json.load(open(f"{DEMO_RESOLVER}/{name}.json", encoding="utf-8"))
        for name in RESOLVER_DICTS
    }
    py_dicts = {
        ("terms", None): dict_rows["sex"],
        ("terms", "sex"): dict_rows["sex"],
        ("terms", "species"): dict_rows["species"],
        ("terms", "cell_types"): dict_rows["cell_types"],
        ("terms", "structure-layer"): dict_rows["structure_layer"],
        ("agents", None): dict_rows["agents"],
        ("ontology", None): dict_rows["cell_types"],
    }
    props = ["label", "acronym"]
    ctx = ForgeContext(
        formatters=FORMATTERS,
        resolver_dims={
            key: (load_resolver_dim(spark, f"{DEMO_RESOLVER}/{name}.json", props), props)
            for key, name in [
                (("terms", None), "sex"),
                (("terms", "sex"), "sex"),
                (("terms", "species"), "species"),
                (("terms", "cell_types"), "cell_types"),
                (("terms", "structure-layer"), "structure_layer"),
                (("agents", None), "agents"),
                (("ontology", None), "cell_types"),
            ]
        },
    )
    stub = _ForgeStub(py_dicts)
    families: dict[str, tuple[set, set]] = {}

    def fam(name: str) -> tuple[set, set]:
        return families.setdefault(name, (set(), set()))

    # ---- mapping family
    exp, act = fam("mapping")
    for path, records in MAPPING_CASES:
        rules = hjson.loads(open(path, encoding="utf-8").read())
        short = os.path.relpath(path, REF)
        for i, rec in enumerate(records):
            flatten(f"{short}#{i}", ref_map(rec, rules, stub), "", exp)
        for i, rec in enumerate(records):
            rdd = spark.sparkContext.parallelize([json.dumps(rec)], 1)
            df = spark.read.json(rdd)
            row = map_dataframe(df, rules, ctx).collect()[0]
            flatten(f"{short}#{i}", row.asDict(recursive=True), "", act)

    # ---- resolver family
    exp, act = fam("resolve")
    for name, rows in dict_rows.items():
        mentions = _resolver_mentions(rows)
        mdf = spark.createDataFrame([(m,) for m in mentions], "mention string")
        dim = load_resolver_dim(spark, f"{DEMO_RESOLVER}/{name}.json", props)
        alias = R.build_alias_table(dim, props)
        for strategy in (EXACT, EXACT_CI, BEST, ALL):
            for m in mentions:
                hit = demo_resolve(rows, m, strategy)
                if strategy == ALL:
                    for shaped, score, rank in hit:
                        flatten(f"{name}/{strategy}/{m}#r{rank}",
                                {**shaped, "score": score}, "", exp)
                elif hit is not None:
                    shaped, score, rank = hit
                    flatten(f"{name}/{strategy}/{m}#r1",
                            {**shaped, "score": score}, "", exp)
            out = R.resolve(mdf, alias, strategy, keys=["mention"]).collect()
            dim_info = {r["id"]: r for r in rows}
            for row in out:
                shaped = {
                    "id": row.entity_id,
                    "type": dim_info[row.entity_id].get("type"),
                    "label": dim_info[row.entity_id].get("label"),
                    "score": row.score,
                }
                flatten(f"{name}/{strategy}/{row.mention}#r{row.rank}", shaped, "", act)

    # ---- validation family
    exp, act = fam("validate")
    shapes = load_shapes(sorted(glob.glob(f"{COMMONS}/shapes-*.json")))
    closure = load_subclass_closure(f"{COMMONS}/schemaorg-v26.0.json")
    vdf = spark.createDataFrame(
        [(c[0], c[1], c[2], c[3], c[4], c[5]) for c in VALIDATION_CASES],
        "id string, type string, familyName string, givenName string, "
        "gender string, birthDate string",
    )
    plain = {r["id"]: r["validated"]
             for r in ShapeCompiler(shapes).validate(vdf, "Person").collect()}
    rdfs = {r["id"]: r["validated"]
            for r in ShapeCompiler(shapes, closure)
            .validate(vdf, "Person", inference="rdfs").collect()}
    for cid, *_rest, e_plain, e_rdfs in VALIDATION_CASES:
        exp.add((cid, "validated_plain", _norm(e_plain)))
        exp.add((cid, "validated_rdfs", _norm(e_rdfs)))
        act.add((cid, "validated_plain", _norm(plain[cid])))
        act.add((cid, "validated_rdfs", _norm(rdfs[cid])))

    # ---- dataset PROV family (datasets.py:27-205 semantics)
    exp, act = fam("datasets_prov")
    from nexus_forge_spark.operators import datasets as D
    from nexus_forge_spark.refsem import ref_add_parts, ref_add_prov

    from pyspark.sql import functions as F

    agent = {"id": "agents/jdoe", "type": "Person", "_rev": 3}
    entity = {"id": "entities/src", "type": "Entity", "name": "corpus", "_rev": 7}
    parts = [
        {"id": "p1", "type": "File", "name": "one", "_rev": 2,
         "distribution": {"contentUrl": "http://f/p1"}},
        {"id": "p2", "type": "File", "name": "two", "_rev": 5,
         "distribution": {"contentUrl": "http://f/p2"}},
    ]
    # expected: reference model applied to one dataset dict
    e_ds = {"id": "ds-1", "type": "Dataset"}
    ref_add_prov(e_ds, "contribution", agent, versioned=True)
    ref_add_prov(e_ds, "generation", "activities/gen", versioned=False)
    ref_add_prov(e_ds, "derivation", entity, versioned=True)
    ref_add_parts(e_ds, parts, versioned=True)
    flatten("prov", e_ds, "", exp)
    # actual: Spark operators on a one-row DataFrame
    ds = spark.createDataFrame([("ds-1", "Dataset", "k")], "id string, type string, k string")
    adf = spark.createDataFrame(
        [(agent["id"], agent["type"], agent["_rev"], "k")],
        "id string, type string, _rev int, k string")
    edf = spark.createDataFrame(
        [(entity["id"], entity["type"], entity["name"], entity["_rev"], "k")],
        "id string, type string, name string, _rev int, k string")
    pdf = spark.createDataFrame(
        [(p["id"], p["type"], p["name"], p["_rev"], (p["distribution"]["contentUrl"],), "k")
         for p in parts],
        "id string, type string, name string, _rev int, "
        "distribution struct<contentUrl:string>, k string")
    out = D.add_contribution(ds, adf, on=("k", "k"), versioned=True)
    out = D.add_generation(out, "activities/gen", versioned=False)
    out = D.add_derivation(out, edf, on=("k", "k"), versioned=True)
    out = D.add_parts(out, pdf.orderBy("id").coalesce(1), on=("k", "k"))
    row = out.drop("k").collect()[0]

    def _clean(v):
        if isinstance(v, dict):
            return {k2: _clean(s) for k2, s in v.items() if s is not None}
        if isinstance(v, list):
            return [_clean(s) for s in v]
        return v

    flatten("prov", _clean(row.asDict(recursive=True)), "", act)

    # ---- report
    lines = [
        "# PARITY — fact-level P/R vs reference semantics on its fixture corpus",
        "",
        "Expected side: pure-Python interpreter of the reference's eval/resolve",
        "semantics (see tools/parity_report.py docstring; the reference package",
        "itself is not installable here). Actual side: this engine on Spark.",
        "",
        "| family | expected facts | actual facts | matched | precision | recall |",
        "|---|---|---|---|---|---|",
    ]
    tot_e = tot_a = tot_m = 0
    result = {}
    for name, (e, a) in families.items():
        m = len(e & a)
        tot_e += len(e)
        tot_a += len(a)
        tot_m += m
        p = m / len(a) if a else 1.0
        r = m / len(e) if e else 1.0
        result[name] = {"precision": round(p, 4), "recall": round(r, 4),
                        "expected": len(e), "actual": len(a), "matched": m}
        lines.append(f"| {name} | {len(e)} | {len(a)} | {m} | {p:.4f} | {r:.4f} |")
        if m != len(e) or m != len(a):
            diff_e = sorted(e - a)[:10]
            diff_a = sorted(a - e)[:10]
            for d in diff_e:
                lines.append(f"|  missing | `{d}` | | | | |")
            for d in diff_a:
                lines.append(f"|  spurious | `{d}` | | | | |")
    P = tot_m / tot_a if tot_a else 1.0
    Rr = tot_m / tot_e if tot_e else 1.0
    lines += [
        f"| **all** | {tot_e} | {tot_a} | {tot_m} | **{P:.4f}** | **{Rr:.4f}** |",
        "",
        f"Target (BASELINE.json): P/R >= 0.95. Measured: P={P:.4f}, R={Rr:.4f}.",
    ]
    with open(os.path.join(ROOT, "PARITY.md"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    summary = {"metric": "parity_pr", "precision": round(P, 4), "recall": round(Rr, 4),
               "families": result}
    print(json.dumps(summary))
    return 0 if P >= 0.95 and Rr >= 0.95 else 1


def missing_inputs() -> list[str]:
    """The fixture files and directories this report reads that are absent."""
    paths = [f"{DEMO_RESOLVER}/{name}.json" for name in RESOLVER_DICTS]
    paths += [path for path, _records in MAPPING_CASES] + [COMMONS]
    return [p for p in paths if not os.path.exists(p)]


def main() -> int:
    missing = missing_inputs()
    if missing:
        print(
            f"parity_report: {len(missing)} fixture path(s) missing (the resolver "
            f"dictionaries and mappings come from a nexus-forge checkout at {REF}):",
            *missing, sep="\n  ", file=sys.stderr,
        )
        return 2
    from nexus_forge_spark.session import get_spark

    spark = get_spark("parity-report")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return run(spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
