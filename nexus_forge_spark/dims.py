"""Embedded resolver dimension tables (deterministic, generated in-repo).

The reference loads resolver targets from JSON files of flat dicts
(kgforge/specializations/resolvers/demo_resolver.py:113-119; fixture data
tests/data/demo-resolver/*.json with fields id/type/label/acronym/notation/
prefLabel/altLabel/deprecated).  We embed equivalent dimensions whose labels
are phrases over the synthetic ``documents`` vocabulary so resolution against
the driver-provided test corpus is meaningful, plus punctuation-bearing and
unicode labels to exercise regex escaping (archetypes/resolver.py:181-188)
and case folding.

Dimensions are small (ontologies: 10^2..10^6 rows) → always the broadcast
side of resolver joins.  ``sql_values`` renders the same rows as a DuckDB
``VALUES`` clause so oracle SQL sees an identical dictionary.

Every dictionary frame is a ``LocalRelation`` built from an Arrow table
(:func:`local_frame`).  ``createDataFrame`` over a Python list makes a
``LogicalRDD`` over a Python RDD instead, and every job that scans it starts
Python-worker tasks: a 20-row scan measured 1.2-1.6 CPU s that way against
0.06-0.2 CPU s as a ``LocalRelation`` (local[4], 4-vCPU host).  The first
``construct_kg`` call of a session scans its dictionary three times to
build the ladder index, which later calls reuse (it is frozen into
``LocalRelation``s too), and a mapping's ``forge.resolve`` site scans it
twice per call.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nexus_forge_spark import schemas

NS = "https://nexus-forge-spark.org/terms/"
ANS = "https://nexus-forge-spark.org/agents/"

ONTOLOGY_COLS = [
    "id", "type", "label", "notation", "prefLabel", "altLabel",
    "definition", "subClassOf", "deprecated",
]

# (id, type, label, notation, prefLabel, altLabel, definition, subClassOf, deprecated)
ONTOLOGY_ROWS = [
    (NS + "HashJoin", "Class", "hash join", "HJ", None, "hash-join", "equi join via hash table", NS + "Join", False),
    (NS + "MergeJoin", "Class", "merge join", "MJ", None, "sort merge join", "join by merging sorted runs", NS + "Join", False),
    (NS + "SortMergeJoin", "Class", "sort merge join", "SMJ", None, None, "duplicate alias of merge join", NS + "Join", False),
    (NS + "Join", "Class", "join", None, None, None, "generic relational join", None, False),
    (NS + "TableScan", "Class", "table scan", "TS", None, "full table scan", "sequential scan", NS + "Scan", False),
    (NS + "Scan", "Class", "scan", None, None, None, "generic scan", None, False),
    (NS + "IndexScan", "Class", "index scan", "IS", None, None, "deprecated access path", NS + "Scan", True),
    (NS + "WindowFunction", "Class", "window", "WF", None, "window function", "analytic window", None, False),
    (NS + "SortOperator", "Class", "sort", None, "sort operator", None, "ordering operator", None, False),
    (NS + "FilterOperator", "Class", "filter", None, None, "predicate filter", "row filter", None, False),
    (NS + "Aggregation", "Class", "agg", None, "aggregation", "group agg", "grouped aggregation", None, False),
    (NS + "Spark", "Class", "spark", None, None, None, "the engine", None, False),
    (NS + "VectorEngine", "Class", "vector", None, None, "vector engine", "vectorized exec", None, False),
    (NS + "StreamProcessor", "Class", "stream", None, None, "stream processor", "continuous exec", None, False),
    (NS + "BatchProcessor", "Class", "batch", None, None, "batch processor", "bulk exec", None, False),
    (NS + "QueryPlan", "Class", "query", None, None, "query plan", "plan tree", None, False),
    (NS + "RowStore", "Class", "row", None, None, "row store", "NSM layout", None, False),
    (NS + "ColumnStore", "Class", "column", None, None, "column store", "DSM layout", None, False),
    (NS + "KeyValue", "Class", "key value", "KV", None, "key-value", "kv access", None, False),
    (NS + "L56NPCTCTX", "Class", "270_L5/6 NP CT CTX", None, None, None, "punctuation-heavy fixture-style label", None, False),
]

AGENT_COLS = [
    "id", "type", "label", "acronym", "name", "givenName", "familyName",
    "alternateName", "deprecated",
]

AGENT_ROWS = [
    (ANS + "epfl", "Organization", "École Polytechnique Fédérale de Lausanne", "EPFL",
     "École Polytechnique Fédérale de Lausanne", None, None, "EPFL", False),
    (ANS + "dpt", "Organization", "Data Platform Team", "DPT",
     "Data Platform Team", None, None, "the data platform team", False),
    (ANS + "m-curie", "Person", "Marie Curie", None, "Marie Curie", "Marie", "Curie",
     "M. Curie", False),
    (ANS + "a-lovelace", "Person", "Ada Lovelace", None, "Ada Lovelace", "Ada", "Lovelace",
     "A. Lovelace", False),
    (ANS + "old-org", "Organization", "Deprecated Org", "DO", "Deprecated Org",
     None, None, None, True),
]

# DemoResolver resolves against ["label", "acronym"] by default
# (demo_resolver.py:51); OntologyResolver against label|notation|prefLabel|
# altLabel (ontology_resolver.py:47); AgentResolver against
# name|givenName|familyName|alternateName (agent_resolver.py:46).
ONTOLOGY_MATCH_PROPS = ["label", "notation", "prefLabel", "altLabel"]
AGENT_MATCH_PROPS = ["name", "givenName", "familyName", "alternateName"]
DEMO_MATCH_PROPS = ["label", "acronym"]


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Python rows -> an Arrow-backed ``LocalRelation`` with exactly
    ``schema`` (nullability included).  The Arrow table is typed from the
    schema, so a column that is null in every row keeps its declared type."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def ontology_terms(spark: SparkSession) -> DataFrame:
    return local_frame(spark, ONTOLOGY_ROWS, schemas.ONTOLOGY_TERMS)


def agents(spark: SparkSession) -> DataFrame:
    return local_frame(spark, AGENT_ROWS, schemas.AGENTS)


def _with_idx_schema(base):
    return T.StructType([T.StructField("dict_idx", T.IntegerType(), False)] + list(base))


def ontology_terms_idx(spark: SparkSession) -> DataFrame:
    """Ontology dim with ``dict_idx`` = source row order; the reference's
    ``sorted()`` is stable w.r.t. dictionary file order (demo_resolver.py:72),
    so dict_idx is the deterministic tiebreak for equal fuzzy scores."""
    rows = [(i, *r) for i, r in enumerate(ONTOLOGY_ROWS)]
    return local_frame(spark, rows, _with_idx_schema(schemas.ONTOLOGY_TERMS))


def agents_idx(spark: SparkSession) -> DataFrame:
    rows = [(i, *r) for i, r in enumerate(AGENT_ROWS)]
    return local_frame(spark, rows, _with_idx_schema(schemas.AGENTS))


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def sql_values(rows: list[tuple], cols: list[str], alias: str) -> str:
    """Render rows as a DuckDB `(VALUES ...) AS alias(dict_idx, cols)`
    relation so the oracle SQL uses the exact same dictionary as the Spark
    side; dict_idx = row order (the fuzzy-score tiebreak)."""
    rows = [(i, *r) for i, r in enumerate(rows)]
    cols = ["dict_idx"] + cols
    vals = ",\n    ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES\n    {vals}\n  ) AS {alias}({', '.join(cols)})"


def ontology_sql_values(alias: str = "dim") -> str:
    return sql_values(ONTOLOGY_ROWS, ONTOLOGY_COLS, alias)


def agents_sql_values(alias: str = "agents") -> str:
    return sql_values(AGENT_ROWS, AGENT_COLS, alias)
