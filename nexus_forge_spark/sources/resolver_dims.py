"""Resolver dictionary loader: JSON files of flat records -> dimension DF.

Reference: DemoResolver._service_from_directory loads each target's bucket
JSON into a list of dicts (demo_resolver.py:113-119); records are
heterogeneous (e.g. structure_layer.json rows carry only label+id).  The
loader normalizes to a fixed schema with dict_idx = file order (the
stable-sort tiebreak) and null for absent fields.

Files are small ontology dictionaries — parsed in Python, always the
broadcast side of resolver joins.  They become an Arrow-backed
``LocalRelation`` (``dims.local_frame``), not a ``createDataFrame(<list>)``
over a Python RDD: scanning the latter starts Python-worker tasks on every
job (a 20-row scan measured 1.2-1.6 CPU s against 0.06-0.2 CPU s as a
``LocalRelation``, local[4]), and a resolve pass scans its dictionary
several times.  The Arrow table is typed from the declared schema, so a
match prop absent from every record stays a string column.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from nexus_forge_spark.dims import local_frame

BASE_FIELDS = ["id", "type", "label"]


def load_resolver_dim(
    spark: SparkSession,
    path: str,
    match_props: list[str] | None = None,
) -> DataFrame:
    """JSON array file -> dim(dict_idx, id, type, label, <match_props...>, deprecated)."""
    with open(path, encoding="utf-8") as f:
        records = json.load(f)
    props = list(dict.fromkeys(BASE_FIELDS + (match_props or [])))
    rows = [
        tuple([i] + [r.get(p) for p in props] + [bool(r.get("deprecated", False))])
        for i, r in enumerate(records)
    ]
    schema = T.StructType(
        [T.StructField("dict_idx", T.IntegerType(), False)]
        + [T.StructField(p, T.StringType()) for p in props]
        + [T.StructField("deprecated", T.BooleanType())]
    )
    return local_frame(spark, rows, schema)
