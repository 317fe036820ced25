"""The kg contract-query family (``q_*`` Spark plans, ``sql_*`` DuckDB
oracles), registered by driver_queries.py."""

from nexus_forge_spark.plans._qshared import *  # noqa: F401,F403
from nexus_forge_spark.plans.queries_dedup import (
    q_dedup_minhash, sql_dedup_components, sql_dedup_minhash,
)



def q_kg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.resolve_distinct(_flat_mentions(spark, sf_dir), _alias(spark), R.EXACT_MATCH, keys=FLAT_KEYS)


def sql_kg_exact() -> str:
    return _rank_sql(
        "m.mention = al.alias", "CAST(0.0 AS DOUBLE)", R.EXACT_MATCH, "rank = 1"
    )


def q_kg_fuzzy_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.resolve_distinct(_flat_mentions(spark, sf_dir), _alias(spark), R.BEST_MATCH, keys=FLAT_KEYS)


def sql_kg_fuzzy_best() -> str:
    return _rank_sql(
        "contains(lower(al.alias), lower(m.mention))",
        "CAST(al.score_len - length(m.mention) AS DOUBLE)",
        R.BEST_MATCH,
        "rank = 1",
    )


def q_kg_fuzzy_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.resolve_distinct(
        _flat_mentions(spark, sf_dir), _alias(spark), R.ALL_MATCHES, limit=10, keys=FLAT_KEYS
    )


def sql_kg_fuzzy_all() -> str:
    return _rank_sql(
        "contains(lower(al.alias), lower(m.mention))",
        "CAST(al.score_len - length(m.mention) AS DOUBLE)",
        R.ALL_MATCHES,
        "rank <= 10",
    )


def q_kg_exact_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive resolve over the distinct UPPER'd mention vocabulary
    (demo_resolver.py:62-67 lower()s both sides)."""
    m = (
        _flat_mentions(spark, sf_dir)
        .select(F.upper(F.col("mention")).alias("mention"))
        .distinct()
    )
    return R.resolve(m, _alias(spark), R.EXACT_CASE_INSENSITIVE_MATCH, keys=["mention"])


def sql_kg_exact_ci() -> str:
    return f"""WITH dim AS (SELECT * FROM {dims.ontology_sql_values('d')}),
{_alias_cte()},
{_mentions_cte()},
um AS (SELECT DISTINCT upper(mention) AS mention FROM mentions),
cand AS (
  SELECT um.mention, al.entity_id, al.dict_idx, CAST(0.0 AS DOUBLE) AS score
  FROM um JOIN alias_t al ON lower(um.mention) = lower(al.alias)
),
per_entity AS (
  SELECT mention, entity_id, min(score) AS score, min(dict_idx) AS dict_idx
  FROM cand GROUP BY mention, entity_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY mention ORDER BY score, dict_idx) AS INT) AS rank
  FROM per_entity
)
SELECT mention, entity_id, score, rank, 'EXACT_CASE_INSENSITIVE_MATCH' AS strategy
FROM ranked WHERE rank = 1"""


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: exact resolve -> annotation triples + per-doc type triple,
    graph set semantics (dedup)."""
    resolved = q_kg_exact(spark, sf_dir)
    ann = resolved.select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("subj"),
        F.lit("nsg:hasBody").alias("pred"),
        F.col("entity_id").alias("obj"),
    )
    docs = load_table(spark, "documents", sf_dir).select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.lit("schema:Document").alias("obj"),
    )
    return ann.unionByName(docs).distinct()


def sql_kg_triples() -> str:
    inner = sql_kg_exact()
    return f"""WITH resolved AS ({inner})
SELECT DISTINCT 'doc:' || doc_id AS subj, 'nsg:hasBody' AS pred, entity_id AS obj FROM resolved
UNION
SELECT DISTINCT 'doc:' || doc_id AS subj, 'rdf:type' AS pred, 'schema:Document' AS obj FROM documents"""


def q_kg_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    alias = _alias(spark)
    edges = CC.sameas_edges(alias)
    nodes = alias.select("entity_id").distinct()
    return CC.connected_components(edges, nodes).orderBy("entity_id")


def sql_kg_canonical() -> str:
    return f"""WITH RECURSIVE dim AS (SELECT * FROM {dims.ontology_sql_values('d')}),
{_alias_cte()},
edges AS (
  SELECT DISTINCT a.entity_id AS a, b.entity_id AS b
  FROM alias_t a JOIN alias_t b ON a.alias = b.alias AND a.entity_id <> b.entity_id
),
reach(src, dst) AS (
  SELECT entity_id, entity_id FROM (SELECT DISTINCT entity_id FROM alias_t)
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS entity_id, min(dst) AS canonical_id FROM reach GROUP BY src ORDER BY entity_id"""


def q_kg_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record consolidation: after sameAs canonicalization, each
    canonical entity elects ONE value per alias property from its
    co-referent members (majority vote, min-value tie-break) — two hash
    aggregations with map-side partial combine, no window
    (operators/canonicalize.py golden_records).  The oracle replays the
    election with the naive count + row_number SQL over the same
    recursive-closure mapping."""
    alias = _alias(spark)
    edges = CC.sameas_edges(alias)
    nodes = alias.select("entity_id").distinct()
    mapping = CC.connected_components(edges, nodes)
    values = alias.select(
        "entity_id",
        F.col("prop_order").cast("int").alias("attr_order"),
        F.col("alias").alias("value"),
    )
    out = CC.golden_records(values, mapping, attr_col="attr_order")
    return out.select(
        "canonical_id",
        F.col("attr_order").cast("int").alias("attr_order"),
        "value",
        F.col("support").cast("long").alias("support"),
    )


def sql_kg_golden() -> str:
    return f"""WITH RECURSIVE dim AS (SELECT * FROM {dims.ontology_sql_values('d')}),
{_alias_cte()},
edges AS (
  SELECT DISTINCT a.entity_id AS a, b.entity_id AS b
  FROM alias_t a JOIN alias_t b ON a.alias = b.alias AND a.entity_id <> b.entity_id
),
reach(src, dst) AS (
  SELECT entity_id, entity_id FROM (SELECT DISTINCT entity_id FROM alias_t)
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
mapping AS (SELECT src AS entity_id, min(dst) AS canonical_id FROM reach GROUP BY src),
vals AS (
  SELECT coalesce(m.canonical_id, a.entity_id) AS canonical_id,
         CAST(a.prop_order AS INT) AS attr_order, a.alias AS value
  FROM alias_t a LEFT JOIN mapping m ON a.entity_id = m.entity_id
),
counted AS (
  SELECT canonical_id, attr_order, value, CAST(count(*) AS BIGINT) AS cnt
  FROM vals GROUP BY canonical_id, attr_order, value
),
ranked AS (
  SELECT canonical_id, attr_order, value, cnt,
         row_number() OVER (PARTITION BY canonical_id, attr_order
                            ORDER BY cnt DESC, value) AS rn,
         max(cnt) OVER (PARTITION BY canonical_id, attr_order) AS mx
  FROM counted
)
SELECT canonical_id, attr_order, value, CAST(mx AS BIGINT) AS support
FROM ranked WHERE rn = 1"""


def q_kg_canonical_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule composition end-to-end as ONE graded plan: resolve ->
    annotation/type triples -> connected-components canonical mapping over
    sameAs edges -> subj/obj rewrite through the (broadcast) mapping ->
    graph-set dedup.  Non-entity terms (doc:* subjects, literal objects)
    pass through the left joins untouched; co-referent entities collapse,
    so triples that become equal after rewriting dedup away."""
    triples = q_kg_triples(spark, sf_dir)
    alias = _alias(spark)
    mapping = CC.connected_components(
        CC.sameas_edges(alias), alias.select("entity_id").distinct()
    )
    return CC.canonicalize_triples(triples, mapping).dropDuplicates(
        ["subj", "pred", "obj"]
    )


def sql_kg_canonical_triples() -> str:
    return f"""WITH RECURSIVE
trip AS (SELECT * FROM ({sql_kg_triples()})),
dim AS (SELECT * FROM {dims.ontology_sql_values('d')}),
{_alias_cte()},
edges AS (
  SELECT DISTINCT a.entity_id AS a, b.entity_id AS b
  FROM alias_t a JOIN alias_t b ON a.alias = b.alias AND a.entity_id <> b.entity_id
),
reach(src, dst) AS (
  SELECT entity_id, entity_id FROM (SELECT DISTINCT entity_id FROM alias_t)
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
mapping AS (SELECT src AS entity_id, min(dst) AS canonical_id FROM reach GROUP BY src)
SELECT DISTINCT coalesce(ms.canonical_id, t.subj) AS subj, t.pred,
       coalesce(mo.canonical_id, t.obj) AS obj
FROM trip t
LEFT JOIN mapping ms ON t.subj = ms.entity_id
LEFT JOIN mapping mo ON t.obj = mo.entity_id"""


def q_map_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DictionaryMapping rule application (forge.map) over the customer table:
    literal fallback, forge.format id minting, f-string, str method."""
    from nexus_forge_spark.functions import hjson
    from nexus_forge_spark.operators.mapping import ForgeContext, map_dataframe

    rules = hjson.loads(
        """
{
    type: Customer
    id: forge.format("identifier", "customers", x.c_custkey)
    name: x.c_name
    segment: x.c_mktsegment.lower()
    summary: f"{x.c_name} [{x.c_mktsegment}]"
}
"""
    )
    ctx = ForgeContext(formatters={"identifier": "https://kg.example.ch/{}/{}"})
    return map_dataframe(load_table(spark, "customer", sf_dir), rules, ctx)


def sql_map_customers() -> str:
    return """SELECT
  'Customer' AS type,
  'https://kg.example.ch/customers/' || CAST(c_custkey AS VARCHAR) AS id,
  c_name AS name,
  lower(c_mktsegment) AS segment,
  c_name || ' [' || c_mktsegment || ']' AS summary
FROM customer"""


def q_validate_persons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-shape validation (forge.validate) over Person-shaped rows derived
    from customer: per-row validated flag, never throws (execution.run
    semantics, commons/execution.py:148-191)."""
    import glob

    from nexus_forge_spark.operators.validate import (
        ShapeCompiler,
        load_shapes,
    )

    shapes = load_shapes(
        sorted(glob.glob(f"{FIXTURE_COMMONS}/shapes-*.json"))
    )
    persons = load_table(spark, "customer", sf_dir).select(
        F.concat(F.lit("http://p/"), F.col("c_custkey")).alias("id"),
        F.when(F.col("c_custkey") % 10 == 0, "Alien").otherwise("Person").alias("type"),
        F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_name")).alias("familyName"),
        F.col("c_name").alias("givenName"),
        F.element_at(
            F.array(F.lit("female"), F.lit("male"), F.lit("other")),
            (F.col("c_custkey") % 3 + 1).cast("int"),
        ).alias("gender"),
        F.lit("2000-01-01").alias("birthDate"),
    )
    out = ShapeCompiler(shapes).validate(persons, "Person")
    return out.select(
        "id", "type", "validated", F.size("violations").cast("int").alias("n_violations")
    )


def sql_validate_persons() -> str:
    # replicates the compiled Person-shape predicate set exactly:
    # focus(type), nodeKind IRI, familyName/givenName minCount,
    # gender minCount + in, birthDate minCount + date-parse
    return """WITH persons AS (
  SELECT 'http://p/' || CAST(c_custkey AS VARCHAR) AS id,
         CASE WHEN c_custkey % 10 = 0 THEN 'Alien' ELSE 'Person' END AS type,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS familyName,
         c_name AS givenName,
         CASE c_custkey % 3 WHEN 0 THEN 'female' WHEN 1 THEN 'male' ELSE 'other' END AS gender,
         '2000-01-01' AS birthDate
  FROM customer
),
checks AS (
  SELECT id, type,
    CAST(type <> 'Person' AS INT) +
    CAST(id IS NULL OR id = '' AS INT) +
    CAST(familyName IS NULL AS INT) +
    CAST(givenName IS NULL AS INT) +
    CAST(gender IS NULL AS INT) +
    CAST(gender IS NOT NULL AND gender NOT IN ('female','male') AS INT) +
    CAST(birthDate IS NULL AS INT) +
    CAST(birthDate IS NOT NULL AND try_cast(birthDate AS TIMESTAMP) IS NULL AS INT)
    AS n_violations
  FROM persons
)
SELECT id, type, n_violations = 0 AS validated, CAST(n_violations AS INT) AS n_violations
FROM checks"""


def q_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    triples = q_kg_triples(spark, sf_dir).localCheckpoint(eager=True)
    triples.createOrReplaceTempView("sparql_triples_v")
    return spark.sql(
        sparql_to_sql(
            SPARQL_CONSTRUCT_TEXT, table="sparql_triples_v", dialect="spark"
        )
    )


def sql_sparql_construct() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    inner = sparql_to_sql(SPARQL_CONSTRUCT_TEXT, table="tr", dialect="duckdb")
    return f"WITH tr AS ({sql_kg_triples()}) {inner}"


def q_collect_span_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_values over the interleaved-span table: all text values along
    spans.text (media spans yield NULL and are compacted away), exploded to
    (doc_id, idx, chunk) rows."""
    from nexus_forge_spark.operators.reshape import collect_values
    from nexus_forge_spark.sources import flat_to_interleaved

    docs = flat_to_interleaved(load_table(spark, "documents", sf_dir))
    vals = collect_values(docs, "spans.text", keep=["doc_id"])
    return vals.select(
        "doc_id", F.posexplode("values").alias("idx", "chunk")
    ).withColumn("idx", F.col("idx").cast("int"))


def sql_collect_span_texts() -> str:
    # text spans are the 4-token chunks of the flat text, in order
    # (media placement does not affect the text-value sequence)
    return """WITH t AS (
  SELECT printf('doc-%09d', doc_id) AS doc_id, string_split(text, ' ') AS toks
  FROM documents
),
c AS (
  SELECT doc_id,
    [array_to_string(toks[(i*4+1):(i*4+4)], ' ')
     FOR i IN range(0, greatest(CAST(ceil(len(toks) / 4.0) AS INT), 1))] AS vals
  FROM t
)
SELECT doc_id,
  CAST(unnest(generate_series(1, len(vals))) AS INT) - 1 AS idx,
  unnest(vals) AS chunk
FROM c"""


def q_reshape_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """forge.reshape: keep dotted paths out of a nested resource, with
    versioned-id rewrite (id?_version=<rev>)."""
    from nexus_forge_spark.operators.reshape import reshape

    nested = load_table(spark, "customer", sf_dir).select(
        F.concat(F.lit("http://c/"), F.col("c_custkey")).alias("id"),
        F.lit("Customer").alias("type"),
        F.col("c_name").alias("name"),
        F.struct(
            F.col("c_acctbal").alias("balance"),
            F.col("c_mktsegment").alias("segment"),
        ).alias("account"),
        (F.col("c_custkey") % 5 + 1).alias("_rev"),
    )
    out = reshape(nested, ["id", "name", "account.segment"], versioned=True)
    return out.select("id", "name", F.col("account.segment").alias("segment"))


def sql_reshape_versioned() -> str:
    return """SELECT
  'http://c/' || CAST(c_custkey AS VARCHAR) || '?_version=' || CAST(c_custkey % 5 + 1 AS VARCHAR) AS id,
  c_name AS name,
  c_mktsegment AS segment
FROM customer"""


def q_jsonld_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compacted JSON-LD form: id/type -> @id/@type key rewrite on the
    mapped customers (as_jsonld 'compacted', rdf.py:61-89)."""
    from nexus_forge_spark.operators.convert import apply_ld_keys

    mapped = q_map_customers(spark, sf_dir).select("id", "type", "name")
    return apply_ld_keys(mapped, direction="add")


def sql_jsonld_keys() -> str:
    return """SELECT
  'https://kg.example.ch/customers/' || CAST(c_custkey AS VARCHAR) AS "@id",
  'Customer' AS "@type",
  c_name AS name
FROM customer"""


def q_media_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """forge.download analogue (S13): media spans resolved from the
    interleaved table, incl. their offsets in the span sequence."""
    from nexus_forge_spark.sources import flat_to_interleaved

    docs = flat_to_interleaved(load_table(spark, "documents", sf_dir))
    span = F.explode("spans").alias("span")
    return (
        docs.select("doc_id", span)
        .where(F.col("span.kind") == "media")
        .select("doc_id", F.col("span.offset").alias("offset"), F.col("span.media_ref").alias("media_ref"))
    )


def sql_media_refs() -> str:
    return """WITH t AS (
  SELECT printf('doc-%09d', doc_id) AS doc_id, string_split(text, ' ') AS toks
  FROM documents
),
ch AS (
  SELECT doc_id,
         unnest(range(greatest(CAST(ceil(len(toks) / 4.0) AS INT), 1))) AS i
  FROM t
),
m AS (
  SELECT doc_id, i,
         CAST('0x' || substr(md5(doc_id || '|' || i), 1, 15) AS BIGINT) % 5 = 0
           AS has_media
  FROM ch
),
med AS (
  SELECT doc_id, i,
         CAST(i + 1 + COALESCE(SUM(CASE WHEN has_media THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS offset,
         'media://' || doc_id || '/' || i AS media_ref
  FROM m WHERE has_media
)
SELECT doc_id, "offset", media_ref FROM med"""


def q_search_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """forge.search Filter DSL -> pushed-down parquet predicates."""
    from nexus_forge_spark.operators.search import apply_filters, paths

    p = paths()
    ev = load_table(spark, "events", sf_dir)
    return apply_filters(
        ev, p.event_type == "purchase", p.value > 100.0, limit=None
    ).select("event_id", "user_id", "event_type", "value")


def sql_search_filters() -> str:
    return """SELECT event_id, user_id, event_type, value
FROM events WHERE event_type = 'purchase' AND value > 100.0"""


def q_struct_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic Resource-struct -> triples materializer (as_graph analogue):
    nested struct becomes a deterministic skolem node."""
    from nexus_forge_spark.operators.convert import struct_to_triples

    nested = load_table(spark, "customer", sf_dir).select(
        F.concat(F.lit("http://c/"), F.col("c_custkey")).alias("id"),
        F.lit("Customer").alias("type"),
        F.col("c_name").alias("name"),
        F.struct(
            F.lit("Account").alias("type"),
            F.col("c_acctbal").alias("balance"),
            F.col("c_mktsegment").alias("segment"),
        ).alias("account"),
    )
    return struct_to_triples(nested)


def sql_struct_triples() -> str:
    return """WITH nested AS (
  SELECT 'http://c/' || CAST(c_custkey AS VARCHAR) AS id, c_name, c_acctbal, c_mktsegment
  FROM customer
),
t AS (
  SELECT id AS subj, 'rdf:type' AS pred, 'Customer' AS obj, FALSE AS obj_is_literal, NULL AS obj_datatype FROM nested
  UNION ALL
  SELECT id, 'name', c_name, TRUE, 'xsd:string' FROM nested
  UNION ALL
  SELECT id, 'account', '_:' || md5(id || '/account'), FALSE, NULL FROM nested
  UNION ALL
  SELECT '_:' || md5(id || '/account'), 'rdf:type', 'Account', FALSE, NULL FROM nested
  UNION ALL
  SELECT '_:' || md5(id || '/account'), 'balance', CAST(c_acctbal AS VARCHAR), TRUE, 'xsd:double' FROM nested
  UNION ALL
  SELECT '_:' || md5(id || '/account'), 'segment', c_mktsegment, TRUE, 'xsd:string' FROM nested
)
SELECT DISTINCT subj, pred, obj, obj_is_literal, CAST(obj_datatype AS VARCHAR) AS obj_datatype FROM t"""


def q_resolve_agents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AgentResolver (R9, agent_resolver.py:37-87): EXACT_CASE_INSENSITIVE
    over name|givenName|familyName|alternateName, deprecated excluded —
    mention per supplier row drawn from a fixed menu incl. decoys."""
    sup = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").cast("int").alias("s_suppkey"),
        F.element_at(
            F.array(*[F.lit(m) for m in _AGENT_MENU]),
            (F.col("s_suppkey") % 8 + 1).cast("int"),
        ).alias("mention"),
    )
    alias = R.build_alias_table(dims.agents_idx(spark), dims.AGENT_MATCH_PROPS)
    return R.resolve_distinct(
        sup, alias, R.EXACT_CASE_INSENSITIVE_MATCH, keys=["s_suppkey", "mention"]
    )


def sql_resolve_agents() -> str:
    props = dims.AGENT_MATCH_PROPS
    coalesce = "coalesce(" + ", ".join(props) + ")"
    branches = "\nUNION ALL\n".join(
        f"SELECT id AS entity_id, dict_idx, CAST(length({coalesce}) AS INT) AS score_len, "
        f"{i} AS prop_order, {pp} AS alias FROM ag WHERE {pp} IS NOT NULL AND NOT deprecated"
        for i, pp in enumerate(props)
    )
    menu = ", ".join("'" + m + "'" for m in _AGENT_MENU)
    return f"""WITH ag AS (SELECT * FROM {dims.agents_sql_values('a')}),
alias_t AS (
{branches}
),
m AS (
  SELECT CAST(s_suppkey AS INT) AS s_suppkey,
         list_extract([{menu}], CAST(s_suppkey % 8 + 1 AS INT)) AS mention
  FROM supplier
),
cand AS (
  SELECT m.s_suppkey, m.mention, al.entity_id, al.dict_idx, CAST(0.0 AS DOUBLE) AS score
  FROM m JOIN alias_t al ON lower(m.mention) = lower(al.alias)
),
per_entity AS (
  SELECT s_suppkey, mention, entity_id, min(score) AS score, min(dict_idx) AS dict_idx
  FROM cand GROUP BY s_suppkey, mention, entity_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY s_suppkey, mention ORDER BY score, dict_idx) AS INT) AS rank
  FROM per_entity
)
SELECT s_suppkey, mention, entity_id, score, rank,
       'EXACT_CASE_INSENSITIVE_MATCH' AS strategy
FROM ranked WHERE rank = 1"""


def q_triples_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by-subject triple reassembly (C4 / §2.6,
    sparql_query_builder.py:208-238): per subject the triple count and a
    fingerprint of the sorted (pred, obj) list."""
    t = q_kg_triples(spark, sf_dir)
    return t.groupBy("subj").agg(
        F.count(F.lit(1)).cast("int").alias("n_triples"),
        F.md5(
            F.array_join(
                F.array_sort(F.collect_list(F.concat_ws("|", "pred", "obj"))), ","
            )
        ).alias("props_fp"),
    )


def sql_triples_reassembly() -> str:
    return f"""WITH t AS ({sql_kg_triples()})
SELECT subj, CAST(count(*) AS INT) AS n_triples,
       md5(string_agg(pred || '|' || obj, ',' ORDER BY pred || '|' || obj)) AS props_fp
FROM t GROUP BY subj"""


def q_retrieve_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieve (S19, bluebrain_nexus.py:346-432): N point lookups as
    ONE join of the id set against the table — not N requests."""
    cust = load_table(spark, "customer", sf_dir)
    ids = spark.range(0, 3000).select((F.col("id") * 7).alias("c_custkey"))
    return ids.join(
        cust.select(F.col("c_custkey").cast("bigint").alias("c_custkey"), "c_name"),
        "c_custkey",
        "left",
    ).select("c_custkey", "c_name", F.col("c_name").isNotNull().alias("found"))


def sql_retrieve_batch() -> str:
    return """WITH ids AS (SELECT range * 7 AS c_custkey FROM range(0, 3000))
SELECT ids.c_custkey, c.c_name, c.c_name IS NOT NULL AS found
FROM ids LEFT JOIN customer c ON ids.c_custkey = CAST(c.c_custkey AS BIGINT)"""


def q_validate_rdfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS-inference validation (V8, rdf_model.py:115-131): Patient rows
    satisfy the Person shape's focus only when the precomputed
    rdfs:subClassOf closure is applied (test_rdf_model.py:130-158)."""
    import glob

    from nexus_forge_spark.operators.validate import (
        ShapeCompiler,
        load_shapes,
        load_subclass_closure,
    )

    commons = FIXTURE_COMMONS
    shapes = load_shapes(sorted(glob.glob(f"{commons}/shapes-*.json")))
    closure = load_subclass_closure(f"{commons}/schemaorg-v26.0.json")
    persons = load_table(spark, "customer", sf_dir).select(
        F.concat(F.lit("http://p/"), F.col("c_custkey")).alias("id"),
        F.when(F.col("c_custkey") % 10 == 0, "Patient")
        .when(F.col("c_custkey") % 9 == 0, "Alien")
        .otherwise("Person")
        .alias("type"),
        F.col("c_name").alias("familyName"),
        F.col("c_name").alias("givenName"),
        F.lit("female").alias("gender"),
        F.lit("2000-01-01").alias("birthDate"),
    )
    plain = ShapeCompiler(shapes).validate(persons, "Person").select(
        "id", "type", F.col("validated").alias("validated_plain")
    )
    rdfs = (
        ShapeCompiler(shapes, closure)
        .validate(persons, "Person", inference="rdfs")
        .select("id", F.col("validated").alias("validated_rdfs"))
    )
    return plain.join(rdfs, "id")


def sql_validate_rdfs() -> str:
    return """WITH persons AS (
  SELECT 'http://p/' || CAST(c_custkey AS VARCHAR) AS id,
         CASE WHEN c_custkey % 10 = 0 THEN 'Patient'
              WHEN c_custkey % 9 = 0 THEN 'Alien'
              ELSE 'Person' END AS type
  FROM customer
)
SELECT id, type,
       type IN ('Person') AS validated_plain,
       type IN ('Person', 'Patient') AS validated_rdfs
FROM persons"""





def q_search_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter DSL with typed-literal coercions (S2/S3,
    sparql_query_builder.py:94-186): a STRING timestamp literal compared to a
    timestamp column (Catalyst coerces, like the reference's xsd:dateTime
    formatting), a float bound, and a != on a keyword column."""
    from nexus_forge_spark.operators.search import apply_filters, paths

    ev = load_table(spark, "events", sf_dir)
    p = paths()
    out = apply_filters(
        ev,
        p.ts >= "2024-01-20 00:00:00",
        p.value > 100.0,
        p.event_type != "view",
    )
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
    )


def sql_search_typed() -> str:
    return """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       event_type, value
FROM events
WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' AND value > 100.0
  AND event_type <> 'view'"""





def q_kg_ladder_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-blocked + salted resolve ladder (the scale path for dims too
    large to broadcast, R5/R15 + SURVEY §4.2 skew salting) over the distinct
    mention vocabulary — exact preferred, fuzzy fallback, one pass."""
    m = _flat_mentions(spark, sf_dir).select("mention").distinct()
    return R.resolve_ladder_blocked(m, _alias(spark), keys=["mention"], salt_buckets=4)


def sql_kg_ladder_blocked() -> str:
    return f"""WITH dim AS (SELECT * FROM {dims.ontology_sql_values('d')}),
{_alias_cte()},
{_mentions_cte()},
vocab AS (SELECT DISTINCT mention FROM mentions),
cand AS (
  SELECT v.mention, al.entity_id, al.dict_idx, al.prop_order,
         CASE WHEN v.mention = al.alias THEN 0 ELSE 1 END AS exact_rank,
         CASE WHEN v.mention = al.alias THEN CAST(0.0 AS DOUBLE)
              ELSE CAST(al.score_len - length(v.mention) AS DOUBLE) END AS score
  FROM vocab v JOIN alias_t al ON contains(lower(al.alias), lower(v.mention))
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY mention
      ORDER BY exact_rank, score, dict_idx, prop_order) AS INT) AS rank
  FROM cand
)
SELECT mention, entity_id, score, rank,
       CASE WHEN exact_rank = 0 THEN 'EXACT_MATCH' ELSE 'BEST_MATCH' END AS strategy
FROM ranked WHERE rank = 1"""


def q_kg_ladder_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P50 measure->act skew loop closed (SURVEY §4.2): a planted hot
    mention ('join' in EVERY document) makes one blocking gram dominate
    the mention-side join key; ``key_skew_profile`` MEASURES the gram
    distribution, its heavy hitters (>=5% share) become the broadcast
    hot-gram salt list, and ``resolve_ladder_blocked`` salts exactly
    those keys — alias-side replication is k hot grams x buckets instead
    of the whole gram index.  The oracle applies the UNSALTED semantics:
    hash equality proves the profile-guided salt only splits hot
    partitions, never changes a result."""
    from nexus_forge_spark.operators.profile import key_skew_profile
    from nexus_forge_spark.operators.resolve import trigrams

    base = _flat_mentions(spark, sf_dir).select("doc_id", "mention").distinct()
    hot = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id")
        .withColumn("mention", F.lit("join"))
    )
    m = base.unionByName(hot).distinct().localCheckpoint(eager=True)
    gram_stream = m.where(F.length("mention") >= 3).select(
        F.element_at(trigrams(F.col("mention")), 1).alias("g")
    )
    prof = key_skew_profile(gram_stream, "g", top_k=SKEW_TOP_K)
    hot_grams = [
        r["key"] for r in prof.where(F.col("share_ppm") >= 50000).collect()
    ]
    out = R.resolve_ladder_blocked(
        m,
        _alias(spark),
        keys=["doc_id", "mention"],
        salt_buckets=8,
        hot_grams=hot_grams,
    )
    return (
        out.groupBy("entity_id", "strategy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy("entity_id", "strategy")
    )


def sql_kg_ladder_salted() -> str:
    return f"""WITH dim AS (SELECT * FROM {dims.ontology_sql_values('d')}),
{_alias_cte()},
{_mentions_cte()},
base AS (SELECT DISTINCT doc_id, mention FROM mentions),
hot AS (SELECT DISTINCT doc_id, 'join' AS mention FROM documents),
m AS (SELECT * FROM base UNION SELECT * FROM hot),
vocab AS (SELECT DISTINCT mention FROM m),
cand AS (
  SELECT v.mention, al.entity_id, al.dict_idx, al.prop_order,
         CASE WHEN v.mention = al.alias THEN 0 ELSE 1 END AS exact_rank,
         CASE WHEN v.mention = al.alias THEN CAST(0.0 AS DOUBLE)
              ELSE CAST(al.score_len - length(v.mention) AS DOUBLE) END AS score
  FROM vocab v JOIN alias_t al ON contains(lower(al.alias), lower(v.mention))
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY mention
      ORDER BY exact_rank, score, dict_idx, prop_order) AS INT) AS rank
  FROM cand
),
resolved AS (
  SELECT mention, entity_id,
    CASE WHEN exact_rank = 0 THEN 'EXACT_MATCH' ELSE 'BEST_MATCH' END AS strategy
  FROM ranked WHERE rank = 1
),
j AS (
  SELECT m.doc_id, r.entity_id, r.strategy
  FROM m JOIN resolved r ON m.mention = r.mention
)
SELECT entity_id, strategy, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM j GROUP BY entity_id, strategy
ORDER BY entity_id, strategy"""


def q_jsonld_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested JSON-LD compact -> remove round trip (C2/C5, rdf.py:489-527):
    id/type keys rewrite at BOTH nesting levels, @id values resolve against
    the context (curie via prefix, bare name via @base), and the @id-typed
    'nation' value shrinks to a curie.  All rewrites are generated Column
    chains over the bounded context — schema ops + JVM string exprs."""
    from nexus_forge_spark.operators.convert import apply_ld_keys

    cust = load_table(spark, "customer", sf_dir)
    res = cust.select(
        F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).alias("id"),
        F.lit("schema:Customer").alias("type"),
        F.struct(
            F.concat(F.lit("addr-"), F.col("c_custkey").cast("string")).alias("id"),
            F.lit("schema:PostalAddress").alias("type"),
            F.col("c_name").alias("streetAddress"),
        ).alias("address"),
        F.concat(F.lit("http://schema.org/nation/"), F.col("c_nationkey").cast("string")).alias(
            "nation"
        ),
    )
    ld = apply_ld_keys(res, "add", _LD_CTX)
    back = apply_ld_keys(ld, "remove", _LD_CTX)
    return back.select(
        "id",
        "type",
        F.col("address.id").alias("address_id"),
        F.col("address.type").alias("address_type"),
        F.col("address.streetAddress").alias("street"),
        "nation",
    ).orderBy("id")


def sql_jsonld_nested() -> str:
    return """SELECT
  'http://example.org/customer/' || CAST(c_custkey AS VARCHAR) AS id,
  'schema:Customer' AS type,
  'http://example.org/addr-' || CAST(c_custkey AS VARCHAR) AS address_id,
  'schema:PostalAddress' AS address_type,
  c_name AS street,
  'schema:nation/' || CAST(c_nationkey AS VARCHAR) AS nation
FROM customer
ORDER BY id"""


def q_dataset_prov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset.add_contribution/add_generation as set-oriented struct
    appends (specializations/resources/datasets.py:66-124): one broadcast
    dim join attaches a versioned agent reference to every dataset row; the
    constant-id generation is a pure column append.  Flattened to scalar
    columns for the oracle."""
    from nexus_forge_spark.operators import datasets as D

    cust = load_table(spark, "customer", sf_dir)
    ds = cust.select(
        F.concat(F.lit("ds-"), F.col("c_custkey").cast("string")).alias("id"),
        F.lit("Dataset").alias("type"),
        F.col("c_nationkey").alias("k"),
    )
    agents = load_table(spark, "nation", sf_dir).select(
        F.concat(F.lit("agents/"), F.col("n_name")).alias("id"),
        F.lit("Organization").alias("type"),
        (F.col("n_nationkey") % 5 + 1).cast("int").alias("_rev"),
        F.col("n_nationkey").alias("k"),
    )
    out = D.add_contribution(ds, agents, on=("k", "k"), versioned=True)
    out = D.add_generation(out, "activities/ingest-1", versioned=False)
    return out.select(
        "id",
        "type",
        F.col("contribution.type").alias("contribution_type"),
        F.col("contribution.agent.id").alias("agent_id"),
        F.col("contribution.agent.type").alias("agent_type"),
        F.col("generation.activity.id").alias("activity_id"),
    ).orderBy("id")


def sql_dataset_prov() -> str:
    return """SELECT
  'ds-' || CAST(c_custkey AS VARCHAR) AS id,
  'Dataset' AS type,
  'Contribution' AS contribution_type,
  'agents/' || n_name || '?_version=' || CAST(n_nationkey % 5 + 1 AS VARCHAR) AS agent_id,
  'Organization' AS agent_type,
  'activities/ingest-1' AS activity_id
FROM customer JOIN nation ON c_nationkey = n_nationkey
ORDER BY id"""


def q_sparql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """forge.sparql with real SPARQL text (S5, read_only_store.py:212-245):
    compiled to Spark SQL over the materialized triples view — the
    n-pattern match plans as hash joins with pred/obj constants pushed to
    the scan."""
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    # materialize the triples once (a deployment queries a stored Iceberg
    # triples table, not a virtual view through the extraction pipeline —
    # without this every pattern scan re-runs the resolve pipeline)
    triples = q_kg_triples(spark, sf_dir).localCheckpoint(eager=True)
    triples.createOrReplaceTempView("sparql_triples_v")
    return spark.sql(
        sparql_to_sql(SPARQL_SELECT_TEXT, table="sparql_triples_v", dialect="spark")
    )


def sql_sparql_select() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    inner = sparql_to_sql(SPARQL_SELECT_TEXT, table="tr", dialect="duckdb")
    return f"WITH tr AS ({sql_kg_triples()}) {inner}"


def q_sparql_named_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL over a quad store: extraction triples land in one named
    graph per document source (provenance partitioning), type triples in
    the default graph.  The default-graph pattern must NOT see named
    rows and GRAPH ?g must NOT see default rows — the aggregate per ?g
    proves both scopings at once."""
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    triples = q_kg_triples(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("dsubj"), "source"
    )
    quads = (
        triples.join(F.broadcast(docs), triples.subj == F.col("dsubj"), "left")
        .select(
            "subj",
            "pred",
            "obj",
            F.when(F.col("pred") == "rdf:type", F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("urn:graph:"), F.col("source")))
            .alias("graph"),
        )
        .localCheckpoint(eager=True)
    )
    quads.createOrReplaceTempView("sparql_quads_v")
    return spark.sql(
        sparql_to_sql(
            SPARQL_NAMED_GRAPH_TEXT,
            table="sparql_quads_v",
            dialect="spark",
            graph_col="graph",
        )
    )


def sql_sparql_named_graph() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    inner = sparql_to_sql(
        SPARQL_NAMED_GRAPH_TEXT, table="qd", dialect="duckdb", graph_col="graph"
    )
    return f"""WITH tr AS ({sql_kg_triples()}),
qd AS (
  SELECT tr.subj, tr.pred, tr.obj,
    CASE WHEN tr.pred = 'rdf:type' THEN NULL
         ELSE 'urn:graph:' || d.source END AS graph
  FROM tr LEFT JOIN documents d ON tr.subj = 'doc:' || d.doc_id
)
{inner}"""


def q_sparql_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 federation (S5 closure — the last SPARQL construct):
    SERVICE <urn:svc:ontology> compiles against a second locally
    registered table (SparqlToSql services=), so the federated pattern
    joins the local extraction triples as a plain hash join between two
    registered relations — never an HTTP call.  The ontology endpoint
    labels only terms starting A–M, so the SERVICE join also FILTERS
    (inner-join semantics graded, not just column attach); the second
    block is SERVICE SILENT on an unbound endpoint — the spec's identity
    solution — proving the silent-drop path in the same hash."""
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    triples = q_kg_triples(spark, sf_dir).localCheckpoint(eager=True)
    triples.createOrReplaceTempView("sparql_triples_v")
    fed = (
        triples.where(F.col("pred") == "nsg:hasBody")
        .select(F.col("obj").alias("subj"))
        .distinct()
        .withColumn("tail", F.regexp_extract("subj", "([^/]+)$", 1))
        .where(F.substring("tail", 1, 1).between("A", "M"))
        .select(
            "subj",
            F.lit("rdfs:label").alias("pred"),
            F.concat(F.lit("Label of "), F.col("tail")).alias("obj"),
        )
    )
    fed.createOrReplaceTempView("sparql_fed_v")
    return spark.sql(
        sparql_to_sql(
            SPARQL_SERVICE_TEXT,
            table="sparql_triples_v",
            dialect="spark",
            services={"urn:svc:ontology": "sparql_fed_v"},
        )
    )


def sql_sparql_service() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    inner = sparql_to_sql(
        SPARQL_SERVICE_TEXT,
        table="tr",
        dialect="duckdb",
        services={"urn:svc:ontology": "fed"},
    )
    return f"""WITH tr AS ({sql_kg_triples()}),
fed AS (
  SELECT subj, 'rdfs:label' AS pred, 'Label of ' || tail AS obj
  FROM (
    SELECT subj, regexp_extract(subj, '([^/]+)$', 1) AS tail
    FROM (SELECT DISTINCT obj AS subj FROM tr WHERE pred = 'nsg:hasBody')
  )
  WHERE substr(tail, 1, 1) BETWEEN 'A' AND 'M'
)
{inner}"""


def q_sparql_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregating SPARQL over the triples view (S5 extension): UNION ALL
    of two pattern scans -> VALUES semi-constraint -> hash aggregate with
    map-side partial combine; GROUP_CONCAT compiles to
    array_join(array_sort(collect_list(...))) so both engines emit the
    same deterministic string."""
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    triples = q_kg_triples(spark, sf_dir).localCheckpoint(eager=True)
    triples.createOrReplaceTempView("sparql_triples_v")
    return spark.sql(
        sparql_to_sql(
            SPARQL_ANALYTICS_TEXT, table="sparql_triples_v", dialect="spark"
        )
    )


def sql_sparql_analytics() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    inner = sparql_to_sql(SPARQL_ANALYTICS_TEXT, table="tr", dialect="duckdb")
    return f"WITH tr AS ({sql_kg_triples()}) {inner}"


def q_sparql_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negation SPARQL over annotation + media triples (S5 extension):
    FILTER NOT EXISTS and MINUS compile to correlated NOT EXISTS probes —
    Catalyst plans them as anti hash joins on the triples scan (rdflib
    re-evaluates the group per solution; sparql_query_builder.py:265-385
    is the text-rewrite spec) — and the inverse hop ^nsg:hasBody just
    swaps join sides."""
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    triples = (
        q_kg_triples(spark, sf_dir)
        .unionByName(_negation_media_triples(spark, sf_dir))
        .localCheckpoint(eager=True)
    )
    triples.createOrReplaceTempView("sparql_triples_v")
    return spark.sql(
        sparql_to_sql(
            SPARQL_NEGATION_TEXT, table="sparql_triples_v", dialect="spark"
        )
    )


def sql_sparql_negation() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    media = (
        "SELECT 'doc:' || CAST(CAST(substr(doc_id, 5) AS BIGINT) AS VARCHAR)"
        "   AS subj, 'schema:distribution' AS pred, media_ref AS obj "
        f"FROM ({sql_media_refs()}) GROUP BY 1, 2, 3"
    )
    inner = sparql_to_sql(SPARQL_NEGATION_TEXT, table="tr", dialect="duckdb")
    return f"WITH tr AS ({sql_kg_triples()} UNION ALL {media}) {inner}"


def q_sparql_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive property path over annotation + subclass triples (S5
    extension): ?doc cites an entity whose rdfs:subClassOf+ chain reaches
    a hierarchy root.  The closure CTE shuffles only the (s, o) edge set
    of the subclass graph — tiny next to the annotation scan."""
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    triples = _subclass_enriched_triples(spark, sf_dir)
    triples.createOrReplaceTempView("sparql_triples_v")
    return spark.sql(
        sparql_to_sql(
            SPARQL_TRANSITIVE_TEXT, table="sparql_triples_v", dialect="spark"
        )
    )


def q_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL subquery (S5 extension): aggregate-in-subquery joined to an
    outer pattern — compiles to a derived-table join; the inner GROUP BY
    shuffles only the distinct-entity counts."""
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    triples = _subclass_enriched_triples(spark, sf_dir)
    triples.createOrReplaceTempView("sparql_subquery_v")
    return spark.sql(
        sparql_to_sql(
            SPARQL_SUBQUERY_TEXT, table="sparql_subquery_v", dialect="spark"
        )
    )


def sql_sparql_subquery() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    sub = (
        "SELECT id AS subj, 'rdfs:subClassOf' AS pred, subClassOf AS obj "
        f"FROM {dims.ontology_sql_values('d')} WHERE subClassOf IS NOT NULL"
    )
    extra = " UNION ALL ".join(
        f"SELECT '{s}', 'rdfs:subClassOf', '{o}'"
        for s, _, o in SPARQL_TRANSITIVE_EXTRA_LEVELS
    )
    tr = f"({sql_kg_triples()}) UNION ALL ({sub}) UNION ALL ({extra})"
    inner = sparql_to_sql(SPARQL_SUBQUERY_TEXT, table="tr", dialect="duckdb")
    return _wrap_triples_cte(tr, inner)


def q_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE with a p* closure path (S5 extension): resources whose
    rdfs:subClassOf* chain reaches the Operator term, returned as their
    subject-rooted triples.  Same enriched view as sparql_transitive."""
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    triples = _subclass_enriched_triples(spark, sf_dir)
    triples.createOrReplaceTempView("sparql_describe_v")
    return spark.sql(
        sparql_to_sql(
            SPARQL_DESCRIBE_TEXT, table="sparql_describe_v", dialect="spark"
        )
    ).orderBy("subj", "pred", "obj")


def sql_sparql_describe() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    sub = (
        "SELECT id AS subj, 'rdfs:subClassOf' AS pred, subClassOf AS obj "
        f"FROM {dims.ontology_sql_values('d')} WHERE subClassOf IS NOT NULL"
    )
    extra = " UNION ALL ".join(
        f"SELECT '{s}', 'rdfs:subClassOf', '{o}'"
        for s, _, o in SPARQL_TRANSITIVE_EXTRA_LEVELS
    )
    tr = f"({sql_kg_triples()}) UNION ALL ({sub}) UNION ALL ({extra})"
    inner = sparql_to_sql(SPARQL_DESCRIBE_TEXT, table="tr", dialect="duckdb")
    return _wrap_triples_cte(tr, inner) + " ORDER BY subj, pred, obj"


def sql_sparql_transitive() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    sub = (
        "SELECT id AS subj, 'rdfs:subClassOf' AS pred, subClassOf AS obj "
        f"FROM {dims.ontology_sql_values('d')} WHERE subClassOf IS NOT NULL"
    )
    extra = " UNION ALL ".join(
        f"SELECT '{s}', 'rdfs:subClassOf', '{o}'"
        for s, _, o in SPARQL_TRANSITIVE_EXTRA_LEVELS
    )
    # each branch parenthesized: the first is itself a WITH...SELECT, and
    # inside a WITH RECURSIVE prologue DuckDB mis-scopes an unparenthesized
    # nested WITH followed by UNION ALL
    tr = f"({sql_kg_triples()}) UNION ALL ({sub}) UNION ALL ({extra})"
    inner = sparql_to_sql(SPARQL_TRANSITIVE_TEXT, table="tr", dialect="duckdb")
    return _wrap_triples_cte(tr, inner)


def q_kg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental canonicalization: components are first built over the
    original-docs near-dup edges only, then the mutant-involving edges
    arrive as a delta and are folded in with incremental_components —
    re-solving ONLY the touched components (broadcast semi/anti joins, the
    full mapping never shuffles).  The oracle recomputes components over
    ALL edges from scratch; matching hashes prove incremental == full."""
    from nexus_forge_spark.operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b").localCheckpoint(
        eager=True
    )
    is_delta = (F.col("a") >= 1000000) | (F.col("b") >= 1000000)
    base, delta = pairs.where(~is_delta), pairs.where(is_delta)
    mapping0 = connected_components(base)
    out = incremental_components(mapping0, delta)
    return out.select(
        F.col("entity_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def sql_kg_incremental() -> str:
    # the whole point: the incremental result must equal a full recompute
    return sql_dedup_components()


def q_mention_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of the resolver's mention join key — the
    north-rule skew case made measurable: Zipfian corpus terms mean the
    hottest mentions carry an outsized share of any shuffle keyed on
    them, which is exactly why the resolve ladder factors the vocabulary
    (distinct mentions) before joining.  Top-25 hottest mentions with
    integer-ppm shares; ranked (count DESC, mention ASC) so the output
    is engine-exact."""
    from nexus_forge_spark.operators.profile import key_skew_profile

    m = _flat_mentions(spark, sf_dir)
    return key_skew_profile(m, "mention", top_k=SKEW_TOP_K)


def sql_mention_skew() -> str:
    return rf"""WITH {_mentions_cte()},
counts AS (
  SELECT CAST(mention AS VARCHAR) AS key, count(*) AS n
  FROM mentions WHERE mention IS NOT NULL GROUP BY mention
),
totals AS (
  SELECT sum(n) AS n_rows_total, count(*) AS n_keys_total FROM counts
),
top AS (
  SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rank,
         sum(n) OVER (ORDER BY n DESC, key
                      ROWS UNBOUNDED PRECEDING) AS cum_n
  FROM counts ORDER BY n DESC, key LIMIT {SKEW_TOP_K}
)
SELECT CAST(rank AS INT) AS rank, key, CAST(n AS BIGINT) AS n,
  CAST((n * 1000000) // n_rows_total AS BIGINT) AS share_ppm,
  CAST((cum_n * 1000000) // n_rows_total AS BIGINT) AS cum_share_ppm,
  CAST(n_rows_total AS BIGINT) AS n_rows_total,
  CAST(n_keys_total AS BIGINT) AS n_keys_total
FROM top CROSS JOIN totals"""


# ------------------------------------------- KG maintenance + graph density


def q_kg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG snapshot delta (operators/triples.py triple_diff): two overlapping
    snapshots of the materialized graph are diffed into (subj, pred, obj,
    change) with ONE shuffle — map-side presence tags + a single hash
    aggregation, instead of the two-anti-join EXCEPT formulation that
    shuffles both snapshots twice.  Snapshots are deterministic thirds of
    the full triple set (portable md5-based hash), so both directions of
    the diff are exercised.  The oracle derives the expected delta
    directly from the hash bucket — an independent computation path."""
    from nexus_forge_spark.operators.sketches import hash60
    from nexus_forge_spark.operators.triples import triple_diff

    trip = q_kg_triples(spark, sf_dir).localCheckpoint(eager=False)
    h = (
        hash60(
            F.concat_ws("\x1f", F.col("subj"), F.col("pred"), F.col("obj")),
            "kgdiff",
        )
        % 3
    )
    old = trip.where(h != 0)  # bucket 0 absent from old -> 'added'
    new = trip.where(h != 1)  # bucket 1 absent from new -> 'removed'
    return triple_diff(old, new)


def sql_kg_diff() -> str:
    from nexus_forge_spark.operators.sketches import sql_hash60

    h = sql_hash60("subj || chr(31) || pred || chr(31) || obj", "kgdiff")
    return f"""WITH trip AS (SELECT * FROM ({sql_kg_triples()})),
bucketed AS (SELECT subj, pred, obj, {h} % 3 AS h FROM trip)
SELECT subj, pred, obj,
       CASE WHEN h = 0 THEN 'added' ELSE 'removed' END AS change
FROM bucketed WHERE h IN (0, 1)"""


def q_entity_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-candidate generation (operators/graph.py
    cooccurrence_edges): exact-resolved entities that co-occur in a
    document become scored undirected edges — pair/marginal/corpus counts
    plus the integer cross-multiplied PMI>0 flag.  Pair generation is a
    map-side i<j expansion of each document's sorted distinct-entity set
    (never a self-join on doc_id), so a hub entity cannot quadratically
    explode the shuffle."""
    from nexus_forge_spark.operators.graph import cooccurrence_edges

    resolved = q_kg_exact(spark, sf_dir).select("doc_id", "entity_id")
    return cooccurrence_edges(
        resolved, group_col="doc_id", item_col="entity_id"
    )


def sql_entity_cooccurrence() -> str:
    return f"""WITH resolved AS (SELECT * FROM ({sql_kg_exact()})),
g AS (SELECT DISTINCT doc_id, entity_id FROM resolved),
ic AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS groups FROM g GROUP BY entity_id),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_groups FROM g),
pairs AS (
  SELECT x.entity_id AS entity_a, y.entity_id AS entity_b,
         CAST(count(*) AS BIGINT) AS pair_groups
  FROM g x JOIN g y ON x.doc_id = y.doc_id AND x.entity_id < y.entity_id
  GROUP BY x.entity_id, y.entity_id
)
SELECT p.entity_a, p.entity_b, p.pair_groups,
       ca.groups AS groups_a, cb.groups AS groups_b, n.n_groups,
       p.pair_groups * n.n_groups > ca.groups * cb.groups
         AS positively_associated
FROM pairs p
JOIN ic ca ON p.entity_a = ca.entity_id
JOIN ic cb ON p.entity_b = cb.entity_id
CROSS JOIN n"""


def q_kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Triples wire-format serialization (operators/triples.py
    to_ntriples) of the struct-materialized customer graph — the
    `forge.as_graph(...).serialize(format="ntriples")` analogue
    (conversions/rdf.py:275-312 + rdflib's ntserializer).  Zero shuffles,
    zero UDFs: curie/@vocab expansion and ECHAR literal escaping are one
    codegen projection; deterministic skolem blank labels make the lines
    stable across runs (rdflib's process-local bnode ids are not)."""
    from nexus_forge_spark.operators.triples import to_ntriples

    return to_ntriples(q_struct_triples(spark, sf_dir), _NT_PREFIXES, _NT_VOCAB)


def sql_kg_ntriples() -> str:
    from nexus_forge_spark.operators.triples import sql_nt_escape, sql_nt_iri

    s = sql_nt_iri("subj", _NT_PREFIXES, None)
    p = sql_nt_iri("pred", _NT_PREFIXES, _NT_VOCAB)
    oi = sql_nt_iri("obj", _NT_PREFIXES, _NT_VOCAB)
    dt = sql_nt_iri("obj_datatype", _NT_PREFIXES, None)
    lit = (
        f"'\"' || {sql_nt_escape('obj')} || '\"' || "
        f"CASE WHEN obj_datatype IS NOT NULL AND obj_datatype <> 'xsd:string' "
        f"THEN '^^' || {dt} ELSE '' END"
    )
    return f"""WITH t AS ({sql_struct_triples()})
SELECT {s} || ' ' || {p} || ' '
       || CASE WHEN obj_is_literal THEN {lit} ELSE {oi} END || ' .' AS line
FROM t"""


def q_kge_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic filtered negative sampling for KG-embedding training
    (operators/kge.py): K object-corrupted triples per positive, drawn by
    content hash from the ordered entity vocabulary; draws colliding with
    the true object or any positive are dropped, not resampled.  Vocabulary
    index is a broadcast join; the filtered anti-join against the positives
    is the single required shuffle."""
    from nexus_forge_spark.operators.kge import negative_samples

    pos = q_kg_triples(spark, sf_dir).where(F.col("pred") == "nsg:hasBody")
    return negative_samples(pos, k=_KGE_K, salt="kge")


def sql_kge_negatives() -> str:
    from nexus_forge_spark.operators.sketches import sql_hash60

    h = sql_hash60(
        "subj || chr(31) || pred || chr(31) || obj || chr(31) || "
        "CAST(slot AS VARCHAR)",
        "kge",
    )
    slots = ", ".join(str(j) for j in range(_KGE_K))
    return f"""WITH trip AS ({sql_kg_triples()}),
pos AS (SELECT subj, pred, obj FROM trip WHERE pred = 'nsg:hasBody'),
ents AS (SELECT DISTINCT obj AS entity_id FROM pos),
idx AS (SELECT entity_id, ROW_NUMBER() OVER (ORDER BY entity_id) AS rn FROM ents),
cand AS (
  SELECT subj, pred, obj, slot,
         ({h} % (SELECT count(*) FROM ents)) + 1 AS rn
  FROM pos CROSS JOIN (SELECT unnest([{slots}]) AS slot) js
)
SELECT c.subj, c.pred, i.entity_id AS obj_neg, CAST(c.slot AS INT) AS slot
FROM cand c JOIN idx i USING (rn)
WHERE i.entity_id <> c.obj
  AND NOT EXISTS (
    SELECT 1 FROM pos p2
    WHERE p2.subj = c.subj AND p2.pred = c.pred AND p2.obj = i.entity_id
  )"""


def q_mention_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-example packaging (operators/mentions.py
    mention_contexts): every exactly-resolved mention with its +-3-token
    context — the distant-supervision examples a relation-extraction or
    disambiguation trainer consumes from the KG loop's output.  One
    doc-keyed join + map-side clamped slices; rows == resolved
    mentions."""
    from nexus_forge_spark.operators.mentions import mention_contexts

    resolved = q_kg_exact(spark, sf_dir).select(
        "doc_id", "tok_idx", "n", "mention", "entity_id"
    )
    docs = load_table(spark, "documents", sf_dir)
    return mention_contexts(resolved, docs, window=_MC_WINDOW)


def sql_mention_contexts() -> str:
    w = _MC_WINDOW
    return rf"""WITH resolved AS ({sql_kg_exact()}),
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
)
SELECT r.doc_id, r.tok_idx, r.n, r.mention, r.entity_id,
  coalesce(array_to_string(
      t.t[greatest(r.tok_idx + 1 - {w}, 1) : r.tok_idx], ' '), '')
    AS left_context,
  coalesce(array_to_string(
      t.t[r.tok_idx + r.n + 1 : r.tok_idx + r.n + {w}], ' '), '')
    AS right_context
FROM resolved r JOIN toks t ON r.doc_id = t.doc_id"""


def q_kg_inverse_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL-lite inverse materialization (operators/triples.py
    infer_inverses): account owl:inverseOf accountOf entails one
    (account-node, accountOf, customer) triple per customer — the
    forward chaining that lets SPARQL patterns run in either direction.
    Literal objects structurally excluded from inversion."""
    from nexus_forge_spark.operators.triples import infer_inverses

    trip = q_struct_triples(spark, sf_dir)
    decls = spark.createDataFrame(
        [("account", "accountOf")], "pred string, inverse_pred string"
    )
    return infer_inverses(trip, decls, literal_col="obj_is_literal")


def sql_kg_inverse_triples() -> str:
    return f"""WITH trip AS ({sql_struct_triples()}),
decls(pred, inverse_pred) AS (VALUES ('account', 'accountOf')),
entailed AS (
  SELECT DISTINCT t.obj AS subj, d.inverse_pred AS pred, t.subj AS obj
  FROM trip t JOIN decls d ON t.pred = d.pred
  WHERE NOT t.obj_is_literal
)
SELECT e.subj, e.pred, e.obj,
       NOT EXISTS (
         SELECT 1 FROM trip a
         WHERE a.subj = e.subj AND a.pred = e.pred AND a.obj = e.obj
       ) AS novel
FROM entailed e"""


def q_kg_range_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-wide sh:class / rdfs:range conformance (operators/triples.py
    range_violations): every 7th customer's account node is deliberately
    re-typed Wallet, so its `account` edge violates the declared
    range Account — reported with the object's actual type set.
    Open-world: untyped objects are not judged."""
    from nexus_forge_spark.operators.triples import range_violations

    trip = q_struct_triples(spark, sf_dir).localCheckpoint(eager=False)
    custkey = F.substring(F.col("subj"), 10, 100).cast("long")
    retyped_nodes = (
        trip.where((F.col("pred") == "account") & (custkey % 7 == 0))
        .select(F.col("obj").alias("rt_subj"))
        .distinct()
    )
    retyped = (
        trip.join(
            F.broadcast(retyped_nodes),
            trip["subj"] == F.col("rt_subj"),
            "left",
        )
        .select(
            "subj",
            "pred",
            F.when(
                (F.col("pred") == "rdf:type") & F.col("rt_subj").isNotNull(),
                F.lit("Wallet"),
            )
            .otherwise(F.col("obj"))
            .alias("obj"),
            "obj_is_literal",
            "obj_datatype",
        )
    )
    decls = spark.createDataFrame(
        [("account", None, "Account")],
        "pred string, domain_class string, range_class string",
    )
    return range_violations(retyped, decls, literal_col="obj_is_literal")


def sql_kg_range_violations() -> str:
    return f"""WITH trip AS ({sql_struct_triples()}),
retyped_nodes AS (
  SELECT DISTINCT obj AS rt_subj FROM trip
  WHERE pred = 'account' AND CAST(substr(subj, 10) AS BIGINT) % 7 = 0
),
retyped AS (
  SELECT t.subj, t.pred,
    CASE WHEN t.pred = 'rdf:type'
          AND EXISTS (SELECT 1 FROM retyped_nodes r WHERE r.rt_subj = t.subj)
         THEN 'Wallet' ELSE t.obj END AS obj,
    t.obj_is_literal
  FROM trip t
),
decls(pred, range_class) AS (VALUES ('account', 'Account')),
types AS (
  SELECT subj AS ent, list_sort(list(DISTINCT obj)) AS actual_types
  FROM retyped WHERE pred = 'rdf:type' GROUP BY subj
),
facts AS (
  SELECT f.subj, f.pred, f.obj, d.range_class
  FROM retyped f JOIN decls d ON f.pred = d.pred
  WHERE f.pred <> 'rdf:type' AND NOT f.obj_is_literal
)
SELECT f.subj, f.pred, f.obj, f.range_class AS expected_class,
       t.actual_types
FROM facts f JOIN types t ON f.obj = t.ent
WHERE NOT list_contains(t.actual_types, f.range_class)"""


def q_kg_dangling_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG referential integrity (operators/triples.py dangling_refs): the
    struct graph is de-described of every 5th customer's account node
    (its rdf:type/balance/segment facts dropped), leaving the `account`
    edge pointing at an entity with no description — the foreign-key
    violation a KG quality gate must surface.  One anti-join against the
    subject set; literals and class terms excluded structurally."""
    from nexus_forge_spark.operators.triples import dangling_refs

    trip = q_struct_triples(spark, sf_dir).localCheckpoint(eager=False)
    custkey = F.substring(F.col("subj"), 10, 100).cast("long")
    dropped_accounts = (
        trip.where((F.col("pred") == "account") & (custkey % 5 == 0))
        .select(F.col("obj").alias("drop_subj"))
        .distinct()
    )
    incomplete = trip.join(
        F.broadcast(dropped_accounts),
        trip["subj"] == F.col("drop_subj"),
        "left_anti",
    )
    return dangling_refs(incomplete, literal_col="obj_is_literal")


def sql_kg_dangling_refs() -> str:
    return f"""WITH trip AS ({sql_struct_triples()}),
dropped AS (
  SELECT DISTINCT obj AS drop_subj FROM trip
  WHERE pred = 'account' AND CAST(substr(subj, 10) AS BIGINT) % 5 = 0
),
incomplete AS (
  SELECT t.* FROM trip t
  WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE t.subj = d.drop_subj)
),
subjects AS (SELECT DISTINCT subj AS ref FROM incomplete),
obj_refs AS (
  SELECT obj AS ref, pred FROM incomplete
  WHERE pred <> 'rdf:type' AND NOT obj_is_literal
)
SELECT o.ref, CAST(count(*) AS BIGINT) AS n_uses,
       min(o.pred) AS example_pred
FROM obj_refs o
WHERE NOT EXISTS (SELECT 1 FROM subjects s WHERE s.ref = o.ref)
GROUP BY o.ref"""


# --------------------------------------------------- KG schema induction


def q_kg_schema_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema induction (operators/triples.py schema_graph): the
    struct-materialized customer graph summarized to class-level shape
    edges (subj_type, pred, obj_type, n_triples) — mining the SHACL
    model the reference declares by hand from the instance data itself.
    Literal objects type as their datatype; untyped endpoints stay
    NULL."""
    from nexus_forge_spark.operators.triples import schema_graph

    trip = q_struct_triples(spark, sf_dir)
    return schema_graph(
        trip, literal_col="obj_is_literal", datatype_col="obj_datatype"
    )


def sql_kg_schema_graph() -> str:
    return f"""WITH trip AS ({sql_struct_triples()}),
types AS (
  SELECT DISTINCT subj AS ent, obj AS t FROM trip WHERE pred = 'rdf:type'
),
facts AS (SELECT * FROM trip WHERE pred <> 'rdf:type'),
typed AS (
  SELECT f.pred,
         ts.t AS subj_type,
         CASE WHEN f.obj_is_literal
              THEN coalesce(f.obj_datatype, 'xsd:string')
              ELSE tobj.t END AS obj_type
  FROM facts f
  LEFT JOIN types ts ON f.subj = ts.ent
  LEFT JOIN types tobj ON NOT f.obj_is_literal AND f.obj = tobj.ent
)
SELECT subj_type, pred, obj_type, CAST(count(*) AS BIGINT) AS n_triples
FROM typed GROUP BY subj_type, pred, obj_type"""


def q_kg_predicate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate cardinality profile (operators/triples.py
    predicate_profile): triple/subject/object counts, max objects per
    subject, and the functional-property flag (sh:maxCount 1 evidence)
    over the full extracted KG — vocabulary-sized output from two
    partial-combined aggregates."""
    from nexus_forge_spark.operators.triples import predicate_profile

    trip = q_kg_triples(spark, sf_dir).unionByName(
        q_struct_triples(spark, sf_dir).select("subj", "pred", "obj")
    )
    return predicate_profile(trip)


def sql_kg_predicate_profile() -> str:
    return f"""WITH trip AS (
  SELECT subj, pred, obj FROM ({sql_kg_triples()})
  UNION ALL
  SELECT subj, pred, obj FROM ({sql_struct_triples()})
),
per_subj AS (
  SELECT pred, subj, count(*) AS n FROM trip GROUP BY pred, subj
),
subj_stats AS (
  SELECT pred, CAST(sum(n) AS BIGINT) AS n_triples,
         CAST(count(*) AS BIGINT) AS n_subjects,
         CAST(max(n) AS BIGINT) AS max_per_subj
  FROM per_subj GROUP BY pred
),
obj_stats AS (
  SELECT pred, CAST(count(DISTINCT obj) AS BIGINT) AS n_objects
  FROM trip GROUP BY pred
)
SELECT s.pred, s.n_triples, s.n_subjects, o.n_objects, s.max_per_subj,
       s.max_per_subj = 1 AS is_functional
FROM subj_stats s JOIN obj_stats o ON s.pred = o.pred"""


def q_entity_fact_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity summarization (operators/triples.py rank_entity_facts):
    each subject's top-2 facts by predicate rarity — the LinkSUM-family
    heuristic with a pure integer ranking (pred frequency ASC, pred,
    obj), predicate table broadcast, window bounded by per-entity fact
    count."""
    from nexus_forge_spark.operators.triples import rank_entity_facts

    trip = q_kg_triples(spark, sf_dir).unionByName(
        q_struct_triples(spark, sf_dir).select("subj", "pred", "obj")
    )
    return rank_entity_facts(trip, top_k=_EFR_TOPK)


def sql_entity_fact_ranking() -> str:
    return f"""WITH trip AS (
  SELECT subj, pred, obj FROM ({sql_kg_triples()})
  UNION ALL
  SELECT subj, pred, obj FROM ({sql_struct_triples()})
),
freq AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS pred_triples
  FROM trip GROUP BY pred
),
ranked AS (
  SELECT t.subj, t.pred, t.obj, f.pred_triples,
         CAST(row_number() OVER (
           PARTITION BY t.subj
           ORDER BY f.pred_triples ASC, t.pred, t.obj
         ) AS INT) AS fact_rank
  FROM trip t JOIN freq f ON t.pred = f.pred
)
SELECT subj, pred, obj, pred_triples, fact_rank
FROM ranked WHERE fact_rank <= {_EFR_TOPK}"""


def q_kg_inferred_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS domain/range forward chaining (operators/triples.py
    infer_types, rdfs2+rdfs3): the struct-materialized customer graph is
    deliberately de-typed of its Account assertions, then every use of a
    declared property re-types its subject (domain) and IRI object
    (range); ``novel`` marks inferences the de-typed graph didn't already
    assert.  Schema decls broadcast; the fact side never shuffles for
    the rule joins."""
    from nexus_forge_spark.operators.triples import infer_types

    trip = q_struct_triples(spark, sf_dir).localCheckpoint(eager=False)
    incomplete = trip.where(
        ~((F.col("pred") == "rdf:type") & (F.col("obj") == "Account"))
    )
    decls = spark.createDataFrame(
        _IT_DECLS, "pred string, domain_class string, range_class string"
    )
    return infer_types(incomplete, decls, literal_col="obj_is_literal")


def sql_kg_inferred_types() -> str:
    from nexus_forge_spark.operators.triples import sql_infer_types

    inner = f"""SELECT * FROM ({sql_struct_triples()})
WHERE NOT (pred = 'rdf:type' AND obj = 'Account')"""
    return sql_infer_types(inner, _IT_DECLS, literal_col="obj_is_literal")


def q_ontology_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KB release alignment / rename detection (operators/er.py
    align_releases): release B of a term dictionary (part names standing
    in for ontology labels) re-ids every entity, renames every 3rd term
    (first word dropped) and deletes some others; stable labels cancel
    via anti-joins and the removed x added remainder aligns by trigram
    Jaccard — the gram equi-join IS both the block and the intersection
    count.  The maintenance query every curated-KB pipeline runs when an
    upstream vocabulary ships a new version with unstable ids."""
    from nexus_forge_spark.operators.er import align_releases

    part = load_table(spark, "part", sf_dir)
    # ontology-style unique labels: name + accession tail, GO/CHEBI style
    term = F.concat(F.lit(" (term:"), F.col("p_partkey").cast("string"), F.lit(")"))
    old = part.select(
        F.col("p_partkey").cast("long").alias("entity_id"),
        F.concat(F.col("p_name"), term).alias("label"),
    )
    new = (
        part.where((F.col("p_partkey") % 3 == 0) | (F.col("p_partkey") % 7 != 0))
        .select(
            (F.col("p_partkey") + 500000).cast("long").alias("entity_id"),
            F.concat(
                F.when(
                    F.col("p_partkey") % 3 == 0,
                    F.regexp_replace(F.col("p_name"), r"^\S+\s*", ""),
                ).otherwise(F.col("p_name")),
                term,
            ).alias("label"),
        )
    )
    # 640 splits measured sims cleanly at sf0.01: true renames >= 647,
    # best false matches <= 636 — detection recovers exactly the renames
    return align_releases(old, new, threshold_milli=640)


def sql_ontology_align() -> str:
    tri = (
        "CASE WHEN len({l}) >= 3 THEN "
        "list_distinct([substr({l}, i, 3) FOR i IN range(1, len({l}) - 1)]) "
        "ELSE [{l}] END"
    )
    return f"""WITH rel_old AS (
  SELECT CAST(p_partkey AS BIGINT) AS old_id,
         lower(p_name || ' (term:' || p_partkey || ')') AS old_label
  FROM part
),
rel_new AS (
  SELECT CAST(p_partkey + 500000 AS BIGINT) AS new_id,
    lower(CASE WHEN p_partkey % 3 = 0
               THEN regexp_replace(p_name, '^\\S+\\s*', '')
               ELSE p_name END || ' (term:' || p_partkey || ')') AS new_label
  FROM part WHERE p_partkey % 3 = 0 OR p_partkey % 7 <> 0
),
removed AS (
  SELECT o.*, len({tri.format(l='o.old_label')}) AS na,
         {tri.format(l='o.old_label')} AS ga
  FROM rel_old o LEFT JOIN rel_new n ON o.old_label = n.new_label
  WHERE n.new_label IS NULL
),
added AS (
  SELECT n.*, len({tri.format(l='n.new_label')}) AS nb,
         {tri.format(l='n.new_label')} AS gb
  FROM rel_new n LEFT JOIN rel_old o ON n.new_label = o.old_label
  WHERE o.old_label IS NULL
),
og AS (SELECT old_id, old_label, na, unnest(ga) AS g FROM removed),
ng AS (SELECT new_id, new_label, nb, unnest(gb) AS g FROM added),
pairs AS (
  SELECT old_id, old_label, na, new_id, new_label, nb,
         CAST(count(*) AS BIGINT) AS inter
  FROM og JOIN ng USING (g)
  GROUP BY old_id, old_label, na, new_id, new_label, nb
),
scored AS (
  SELECT *, CAST(inter * 1000 // (na + nb - inter) AS BIGINT) AS sim_milli
  FROM pairs
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY old_id ORDER BY sim_milli DESC, new_id) AS rn
  FROM scored WHERE sim_milli >= 640
)
SELECT old_id, old_label, new_id, new_label, sim_milli
FROM ranked WHERE rn = 1"""


def q_alias_ambiguity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolver-dictionary ambiguity audit: for every case-folded alias
    in the ontology and agent dictionaries, how many DISTINCT entities
    claim it?  Ambiguous aliases are exactly where EXACT/BEST strategies
    silently pick by (score, dict_idx) tie-break, so this is the
    dictionary-health report a KG team reviews before trusting resolver
    output.  Both dims unpivot through the graded build_alias_table;
    one alias-keyed hash aggregate."""
    onto = R.build_alias_table(
        dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS
    ).select(F.lit("ontology").alias("dict"), "entity_id",
             F.lower("alias").alias("alias_norm"))
    ag = R.build_alias_table(
        dims.agents_idx(spark), dims.AGENT_MATCH_PROPS
    ).select(F.lit("agents").alias("dict"), "entity_id",
             F.lower("alias").alias("alias_norm"))
    return (
        onto.unionByName(ag)
        .groupBy("dict", "alias_norm")
        .agg(
            F.countDistinct("entity_id").cast("long").alias("n_entities"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("entity_id").alias("first_entity"),
        )
        .select(
            "*", (F.col("n_entities") > 1).alias("ambiguous")
        )
    )


def sql_alias_ambiguity() -> str:
    def unpivot(dict_name, values_sql, props):
        coalesce = "coalesce(" + ", ".join(props) + ")"
        branches = [
            f"SELECT '{dict_name}' AS dict, id AS entity_id, "
            f"lower({p}) AS alias_norm "
            f"FROM {dict_name}_dim WHERE {p} IS NOT NULL AND NOT deprecated"
            for p in props
        ]
        return (
            f"{dict_name}_dim AS (SELECT * FROM {values_sql}),\n"
            f"{dict_name}_al AS (\n" + "\nUNION ALL\n".join(branches) + "\n)"
        )

    onto = unpivot(
        "ontology", dims.ontology_sql_values("d"), dims.ONTOLOGY_MATCH_PROPS
    )
    ag = unpivot("agents", dims.agents_sql_values("a"), dims.AGENT_MATCH_PROPS)
    return f"""WITH {onto},
{ag}
SELECT dict, alias_norm,
  CAST(count(DISTINCT entity_id) AS BIGINT) AS n_entities,
  CAST(count(*) AS BIGINT) AS n_rows,
  min(entity_id) AS first_entity,
  count(DISTINCT entity_id) > 1 AS ambiguous
FROM (SELECT * FROM ontology_al UNION ALL SELECT * FROM agents_al)
GROUP BY dict, alias_norm"""


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit-highlighting snippets (search.py search_snippets): for every
    doc containing a query term, the ±25-char window around the earliest
    case-insensitive match, ties on the term string — the presentation
    step after bm25/phrase retrieval.  Map-side explode over 3 terms +
    one doc-keyed argmin."""
    from nexus_forge_spark.operators.search import search_snippets

    return search_snippets(
        load_table(spark, "documents", sf_dir),
        SNIPPET_TERMS,
        radius=SNIPPET_RADIUS,
    )


def sql_search_snippets() -> str:
    terms = ", ".join(f"('{t}')" for t in SNIPPET_TERMS)
    r = SNIPPET_RADIUS
    return f"""WITH q(term) AS (VALUES {terms}),
hits AS (
  SELECT d.doc_id, d.text AS t, q.term,
    strpos(lower(d.text), q.term) AS pos
  FROM documents d, q
  WHERE strpos(lower(d.text), q.term) > 0
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY pos, term) AS rn
    FROM hits
  ) WHERE rn = 1
)
SELECT doc_id, term, CAST(pos AS BIGINT) AS pos,
  substr(t, greatest(pos - {r}, 1), {2 * r} + length(term)) AS snippet
FROM best"""


def q_kg_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collective entity disambiguation (resolve.py coherence_disambiguate;
    Cucerzan 2007-style): ambiguous mentions (several containment
    candidates in one doc) resolve toward the candidate co-occurring most
    with the doc's UNambiguous entities across the corpus — the linking
    pass the reference's isolated per-mention resolver cannot express.
    Candidates come from the same containment rule as the fuzzy ladder,
    factored through the distinct mention vocabulary."""
    m = _flat_mentions(spark, sf_dir).select("doc_id", "mention")
    vocab = m.select("mention").distinct().alias("m")
    a = F.broadcast(_alias(spark).alias("a"))
    cand_vocab = vocab.join(
        a,
        F.instr(F.lower(F.col("a.alias")), F.lower(F.col("m.mention"))) > 0,
    ).select("m.mention", "a.entity_id").distinct()
    cand = m.join(cand_vocab, "mention").select("doc_id", "mention", "entity_id")
    return R.coherence_disambiguate(cand)


def sql_kg_coherence() -> str:
    return f"""WITH dim AS (SELECT * FROM {dims.ontology_sql_values('d')}),
{_alias_cte()},
{_mentions_cte()},
cand AS (
  SELECT DISTINCT m.doc_id AS doc, m.mention AS men, al.entity_id AS ent
  FROM mentions m JOIN alias_t al
    ON contains(lower(al.alias), lower(m.mention))
),
ncand AS (
  SELECT doc, men, count(*) AS n_candidates FROM cand GROUP BY doc, men
),
cand2 AS (SELECT cand.*, n_candidates FROM cand JOIN ncand USING (doc, men)),
context AS (
  SELECT DISTINCT doc, ent FROM cand2 WHERE n_candidates = 1
),
cooc AS (
  SELECT x.ent AS e1, y.ent AS e2, count(*) AS cnt
  FROM context x JOIN context y ON x.doc = y.doc AND x.ent < y.ent
  GROUP BY x.ent, y.ent
),
amb AS (SELECT * FROM cand2 WHERE n_candidates >= 2),
votes AS (
  SELECT a.doc, a.men, a.ent, sum(c.cnt) AS coherence
  FROM amb a
  JOIN context k ON k.doc = a.doc AND k.ent <> a.ent
  JOIN cooc c ON c.e1 = least(a.ent, k.ent) AND c.e2 = greatest(a.ent, k.ent)
  GROUP BY a.doc, a.men, a.ent
),
scored AS (
  SELECT a.doc, a.men, a.ent, a.n_candidates,
    CAST(coalesce(v.coherence, 0) AS BIGINT) AS coherence
  FROM amb a LEFT JOIN votes v
    ON v.doc = a.doc AND v.men = a.men AND v.ent = a.ent
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc, men ORDER BY coherence DESC, ent) AS rn
  FROM scored
)
SELECT doc AS doc_id, men AS mention, ent AS entity_id, coherence,
  CAST(n_candidates AS BIGINT) AS n_candidates
FROM ranked WHERE rn = 1"""


def q_kg_entity_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NIL detection / entity discovery (resolve.py discover_entities):
    mentions matching NO ontology alias under the ladder's containment
    rule, frequent enough to matter, become candidate new entities with
    deterministically minted md5 ids — the complement of resolution the
    reference leaves as a silent None."""
    return R.discover_entities(
        _flat_mentions(spark, sf_dir),
        _alias(spark),
        min_count=KG_DISCOVER_MIN_COUNT,
        min_len=KG_DISCOVER_MIN_LEN,
    )


def sql_kg_entity_discovery() -> str:
    return f"""WITH dim AS (SELECT * FROM {dims.ontology_sql_values('d')}),
{_alias_cte()},
{_mentions_cte()},
occ AS (
  SELECT doc_id AS doc, mention AS men FROM mentions
  WHERE length(mention) >= {KG_DISCOVER_MIN_LEN}
),
vocab AS (SELECT DISTINCT men FROM occ),
unresolved AS (
  SELECT men FROM vocab v
  WHERE NOT EXISTS (
    SELECT 1 FROM (SELECT DISTINCT alias FROM alias_t) a
    WHERE contains(lower(a.alias), lower(v.men))
  )
),
stats AS (
  SELECT men, CAST(count(*) AS BIGINT) AS n_occurrences,
    CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
  FROM occ JOIN unresolved USING (men)
  GROUP BY men
  HAVING count(*) >= {KG_DISCOVER_MIN_COUNT}
)
SELECT men AS mention, n_occurrences, n_docs,
  'nsg:discovered/' || substr(md5(lower(men)), 1, 16) AS entity_id
FROM stats"""


def q_kg_discovery_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(delta) incremental entity discovery (resolve.py
    fold_discovery_stats): per-batch unresolved-mention stats fold by
    count addition, frequency floor applied at READ time (a mention
    below the floor in every batch can cross it in the union).  The
    corpus is split by doc parity into two 'ingest batches'; the oracle
    recomputes discovery from scratch on the whole corpus — hash==
    PROVES fold == full recompute, the same contract as incremental
    LSH/CDC/SCD2/MSF."""
    m = _flat_mentions(spark, sf_dir).select("doc_id", "mention")
    alias = _alias(spark)
    base = R.discovery_stats(
        m.where(F.col("doc_id") % 2 == 0), alias, min_len=KG_DISCOVER_MIN_LEN
    )
    delta = R.discovery_stats(
        m.where(F.col("doc_id") % 2 == 1), alias, min_len=KG_DISCOVER_MIN_LEN
    )
    folded = R.fold_discovery_stats(base, delta)
    return R.discovered_from_stats(folded, min_count=KG_DISCOVER_MIN_COUNT)


def q_kg_class_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS subClassOf closure + instance rollup (operators/ontology.py
    class_rollup, rdfs9/rdfs11): customers typed by nation, nations
    subClassOf regions, regions subClassOf geo:World, unioned with the
    embedded resolver ontology's own subClassOf edges (dims.py
    ONTOLOGY_ROWS — the reference's demo-resolver fixtures carry the same
    field).  Direct counts are ONE hash aggregate over the fact side;
    the iterative-doubling closure then rolls the per-class count table —
    O(classes) work after the single fact scan, zero-padded for classes
    with no instances (the dims classes)."""
    from nexus_forge_spark.operators.ontology import class_rollup

    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    inst = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).alias("instance"),
        F.concat(F.lit("nation:"), F.col("n_name")).alias("cls"),
    )
    geo_edges = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.concat(F.lit("nation:"), F.col("n_name")).alias("child"),
            F.concat(F.lit("region:"), F.col("r_name")).alias("parent"),
        )
        .unionByName(
            region.select(
                F.concat(F.lit("region:"), F.col("r_name")).alias("child"),
                F.lit("geo:World").alias("parent"),
            )
        )
    )
    dim_edges = (
        dims.ontology_terms(spark)
        .where(F.col("subClassOf").isNotNull())
        .select(F.col("id").alias("child"), F.col("subClassOf").alias("parent"))
    )
    return class_rollup(inst, geo_edges.unionByName(dim_edges))


def sql_kg_class_rollup() -> str:
    from nexus_forge_spark.operators.ontology import sql_class_rollup

    edges = f"""SELECT 'nation:' || n.n_name AS child, 'region:' || r.r_name AS parent
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
UNION ALL
SELECT 'region:' || r_name, 'geo:World' FROM region
UNION ALL
SELECT d.id, d.subClassOf FROM {dims.ontology_sql_values('d')}
WHERE d.subClassOf IS NOT NULL"""
    inst = """SELECT 'cust:' || c.c_custkey AS instance, 'nation:' || n.n_name AS cls
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"""
    return sql_class_rollup(edges, inst)


def q_kg_class_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wu-Palmer semantic similarity over the geo taxonomy
    (operators/ontology.py class_similarity): every unordered pair of
    nation/region classes scored by 2*d(lca)/(d(a)+d(b)) in integer ppm
    — same-region nations land at 666666 ppm (lca = their region),
    cross-region ones at 400000 (lca = geo:World), nation-vs-own-region
    at 800000; the candidate-class ranking signal an entity linker uses
    when a mention is ambiguous across taxonomy branches.  Taxonomy
    tables broadcast; the pair frame never shuffles."""
    from nexus_forge_spark.operators.ontology import class_similarity

    nation = load_table(spark, "nation", sf_dir).select("n_name", "n_regionkey")
    region = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    geo_edges = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.concat(F.lit("nation:"), F.col("n_name")).alias("child"),
            F.concat(F.lit("region:"), F.col("r_name")).alias("parent"),
        )
        .unionByName(
            region.select(
                F.concat(F.lit("region:"), F.col("r_name")).alias("child"),
                F.lit("geo:World").alias("parent"),
            )
        )
    )
    classes = (
        geo_edges.select(F.col("child").alias("c"))
        .unionByName(geo_edges.select(F.col("parent").alias("c")))
        .distinct()
    )
    right = classes.select(F.col("c").alias("b"))
    pairs = (
        classes.select(F.col("c").alias("a"))
        .join(F.broadcast(right), F.col("a") < F.col("b"))
    )
    return class_similarity(pairs, geo_edges).orderBy("a", "b")


def sql_kg_class_similarity() -> str:
    from nexus_forge_spark.operators.ontology import sql_class_similarity

    edges = """SELECT 'nation:' || n.n_name AS child, 'region:' || r.r_name AS parent
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
UNION ALL
SELECT 'region:' || r_name AS child, 'geo:World' AS parent FROM region"""
    pairs = f"""SELECT x.c AS a, y.c AS b FROM
(SELECT DISTINCT child AS c FROM ({edges})
 UNION SELECT DISTINCT parent FROM ({edges})) x,
(SELECT DISTINCT child AS c FROM ({edges})
 UNION SELECT DISTINCT parent FROM ({edges})) y
WHERE x.c < y.c"""
    return sql_class_similarity(edges, pairs) + " ORDER BY a, b"


def q_kg_list_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdf:first/rdf:rest list reassembly (operators/ontology.py
    flatten_rdf_lists): each order's lineitems become a cons chain
    (JSON-LD @list containers arrive exactly like this from the
    reference's rdflib graphs), then pointer-doubling recovers (head,
    pos, item) in ceil(log2 L) shuffle rounds — L is 13 here, so 4
    rounds instead of 13 sequential self-joins."""
    from pyspark.sql.window import Window

    from nexus_forge_spark.operators.ontology import flatten_rdf_lists

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber"
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    cells = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("l_orderkey")).alias("cnt"),
    )
    cell = F.concat(F.lit("cell:o"), F.col("ok").cast("string"), F.lit(":"), F.col("rn").cast("string"))
    first = cells.select(
        cell.alias("subj"),
        F.lit("rdf:first").alias("pred"),
        F.concat(
            F.lit("li:"), F.col("ok").cast("string"), F.lit(":"), F.col("ln").cast("string")
        ).alias("obj"),
    )
    rest = cells.select(
        cell.alias("subj"),
        F.lit("rdf:rest").alias("pred"),
        F.when(F.col("rn") == F.col("cnt") - 1, F.lit("rdf:nil"))
        .otherwise(
            F.concat(
                F.lit("cell:o"),
                F.col("ok").cast("string"),
                F.lit(":"),
                (F.col("rn") + 1).cast("string"),
            )
        )
        .alias("obj"),
    )
    return flatten_rdf_lists(first.unionByName(rest))


def sql_kg_list_flatten() -> str:
    from nexus_forge_spark.operators.ontology import sql_flatten_rdf_lists

    cells = """(SELECT l_orderkey AS ok, l_linenumber AS ln,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1 AS rn,
         count(*) OVER (PARTITION BY l_orderkey) AS cnt
  FROM lineitem)"""
    trips = f"""SELECT 'cell:o' || ok || ':' || rn AS subj, 'rdf:first' AS pred,
       'li:' || ok || ':' || ln AS obj
FROM {cells} cells_a
UNION ALL
SELECT 'cell:o' || ok || ':' || rn, 'rdf:rest',
       CASE WHEN rn = cnt - 1 THEN 'rdf:nil'
            ELSE 'cell:o' || ok || ':' || (rn + 1) END
FROM {cells} cells_b"""
    return sql_flatten_rdf_lists(trips)


def q_kg_truth_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conflicting-claim fusion (operators/fusion.py truth_discovery,
    TruthFinder-family reliability voting in integer ppm): every supplier
    asserts a returnflag value for each part it shipped — 2000/2000 parts
    receive conflicting values — and two reliability rounds elect one
    value per part, weighting sources by how often their claims agree
    with the consensus.  Each round is two map-side-combinable hash
    aggregates keyed on source resp. entity; duplicate assertions by one
    source are pre-collapsed so spam cannot double-vote."""
    from nexus_forge_spark.operators.fusion import truth_discovery

    claims = load_table(spark, "lineitem", sf_dir).select(
        F.concat(F.lit("sup:"), F.col("l_suppkey").cast("string")).alias("source"),
        F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("entity"),
        F.col("l_returnflag").alias("value"),
    )
    return truth_discovery(claims, rounds=_TD_ROUNDS)


def sql_kg_truth_discovery() -> str:
    from nexus_forge_spark.operators.fusion import sql_truth_discovery

    claims = """SELECT 'sup:' || l_suppkey AS source,
       'part:' || l_partkey AS entity, l_returnflag AS value
FROM lineitem"""
    return sql_truth_discovery(claims, rounds=_TD_ROUNDS)


def q_kg_property_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instance-based schema matching between two releases
    (operators/fusion.py align_properties): release B renames every
    predicate of the struct-materialized customer graph and loses ~1/8
    of its balance triples (md5-keyed deterministic drop), and the
    aligner recovers the rename map purely from (subj, obj) extension
    overlap — the complement of ontology_align's label-similarity
    matching.  Candidates come from an equi-join on the instance pair,
    so disjoint properties never meet."""
    from nexus_forge_spark.operators.fusion import align_properties

    left = q_struct_triples(spark, sf_dir).select("subj", "pred", "obj")
    rename = F.create_map(
        F.lit("rdf:type"), F.lit("ex:kind"),
        F.lit("name"), F.lit("ex:fullName"),
        F.lit("account"), F.lit("ex:hasAccount"),
        F.lit("balance"), F.lit("ex:amount"),
        F.lit("segment"), F.lit("ex:marketSegment"),
    )
    right = left.select(
        "subj", rename[F.col("pred")].alias("pred"), "obj"
    ).where(
        ~((F.col("pred") == "ex:amount") & F.substring(F.md5("subj"), 1, 1).isin("0", "1"))
    )
    return align_properties(left, right, min_overlap=2)


def sql_kg_property_align() -> str:
    from nexus_forge_spark.operators.fusion import sql_align_properties

    left = f"SELECT subj, pred, obj FROM ({sql_struct_triples()})"
    right = f"""SELECT subj,
  CASE pred WHEN 'rdf:type' THEN 'ex:kind' WHEN 'name' THEN 'ex:fullName'
            WHEN 'account' THEN 'ex:hasAccount' WHEN 'balance' THEN 'ex:amount'
            WHEN 'segment' THEN 'ex:marketSegment' END AS pred, obj
FROM ({sql_struct_triples()})
WHERE NOT (pred = 'balance' AND substr(md5(subj), 1, 1) IN ('0', '1'))"""
    return sql_align_properties(left, right, min_overlap=2)


def q_kg_rule_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-style chain-rule mining (operators/rules.py mine_chain_rules)
    over an 8-predicate KG slice: standard vs PCA confidence in integer
    ppm, hub-capped body join (nothing exceeds the cap on this slice —
    the guard is exercised, priced, and mirrored by the oracle)."""
    from nexus_forge_spark.operators.rules import mine_chain_rules

    return mine_chain_rules(
        _rule_mining_triples(spark, sf_dir),
        min_support=_RULE_MIN_SUPPORT,
        hub_cap=_RULE_HUB_CAP,
    )


def sql_kg_rule_mining() -> str:
    from nexus_forge_spark.operators.rules import sql_mine_chain_rules

    trips = """SELECT 'cust:' || o_custkey AS subj, 'placed' AS pred,
       'ord:' || o_orderkey AS obj FROM orders
UNION ALL
SELECT 'ord:' || l_orderkey, 'contains', 'part:' || l_partkey FROM lineitem
UNION ALL
SELECT 'cust:' || o.o_custkey, 'bought', 'part:' || l.l_partkey
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderdate < TIMESTAMP '1998-01-01'
UNION ALL
SELECT 'sup:' || s.s_suppkey, 'located_in', 'nat:' || n.n_name
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
UNION ALL
SELECT 'nat:' || n.n_name, 'part_of', 'reg:' || r.r_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
UNION ALL
SELECT 'sup:' || s.s_suppkey, 'operates_in', 'reg:' || r.r_name
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE n.n_nationkey % 2 = 0
UNION ALL
SELECT 'cust:' || c.c_custkey, 'from_nation', 'nat:' || n.n_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'cust:' || c.c_custkey, 'cust_region', 'reg:' || r.r_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_custkey % 4 <> 0"""
    return sql_mine_chain_rules(
        trips, min_support=_RULE_MIN_SUPPORT, hub_cap=_RULE_HUB_CAP
    )


def q_kg_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:FunctionalProperty audit (operators/ontology.py
    functional_violations): `from_nation` is declared functional; every
    customer asserts their own nation and customers with custkey % 97 == 0
    additionally assert the NEXT nation (deterministic injected extraction
    error) — the audit must return exactly those subjects with the sorted
    value list.  One predicate-pruned scan + one (subj, pred) hash agg."""
    from nexus_forge_spark.operators.ontology import functional_violations

    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    base = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    subj = F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))
    own = base.select(
        subj.alias("subj"),
        F.lit("from_nation").alias("pred"),
        F.concat(F.lit("nat:"), F.col("n_name")).alias("obj"),
    )
    extra = (
        cust.where(F.col("c_custkey") % 97 == 0)
        .join(
            F.broadcast(nation),
            (cust.c_nationkey + 1) % 25 == nation.n_nationkey,
        )
        .select(
            subj.alias("subj"),
            F.lit("from_nation").alias("pred"),
            F.concat(F.lit("nat:"), F.col("n_name")).alias("obj"),
        )
    )
    mkt = load_table(spark, "customer", sf_dir).select(
        subj.alias("subj"),
        F.lit("segment").alias("pred"),
        F.col("c_mktsegment").alias("obj"),
    )
    trips = own.unionByName(extra).unionByName(mkt)
    return functional_violations(trips, ["from_nation", "segment"])


def sql_kg_cardinality_audit() -> str:
    from nexus_forge_spark.operators.ontology import sql_functional_violations

    trips = """SELECT 'cust:' || c.c_custkey AS subj, 'from_nation' AS pred,
       'nat:' || n.n_name AS obj
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'cust:' || c.c_custkey, 'from_nation', 'nat:' || n.n_name
FROM customer c JOIN nation n ON (c.c_nationkey + 1) % 25 = n.n_nationkey
WHERE c.c_custkey % 97 = 0
UNION ALL
SELECT 'cust:' || c_custkey, 'segment', c_mktsegment FROM customer"""
    return sql_functional_violations(trips, ["from_nation", "segment"])


def q_kg_disjoint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:disjointWith audit under RDFS entailment (operators/ontology.py
    disjoint_violations): nation classes ⊑ region classes, all region
    pairs declared disjoint; customers typed by nation, and custkey % 101
    == 0 instances also typed by a rotated nation (+7 mod 25) — the
    violation exists only at the ENTAILED region level (and only when the
    rotation crosses regions), so a closure-free checker returns nothing."""
    from nexus_forge_spark.operators.ontology import disjoint_violations

    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    edges = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(
        F.concat(F.lit("nation:"), F.col("n_name")).alias("child"),
        F.concat(F.lit("region:"), F.col("r_name")).alias("parent"),
    )
    inst = F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))
    types = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            inst.alias("instance"),
            F.concat(F.lit("nation:"), F.col("n_name")).alias("cls"),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 101 == 0)
            .join(
                F.broadcast(nation),
                (cust.c_nationkey + 7) % 25 == nation.n_nationkey,
            )
            .select(
                inst.alias("instance"),
                F.concat(F.lit("nation:"), F.col("n_name")).alias("cls"),
            )
        )
    )
    r2 = region.select(F.col("r_name").alias("r2_name"))
    disjoint = (
        region.crossJoin(F.broadcast(r2))
        .where(F.col("r_name") < F.col("r2_name"))
        .select(
            F.concat(F.lit("region:"), F.col("r_name")).alias("a"),
            F.concat(F.lit("region:"), F.col("r2_name")).alias("b"),
        )
    )
    return disjoint_violations(types, edges, disjoint)


def sql_kg_disjoint_audit() -> str:
    from nexus_forge_spark.operators.ontology import sql_disjoint_violations

    types = """SELECT 'cust:' || c.c_custkey AS instance, 'nation:' || n.n_name AS cls
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'cust:' || c.c_custkey, 'nation:' || n.n_name
FROM customer c JOIN nation n ON (c.c_nationkey + 7) % 25 = n.n_nationkey
WHERE c.c_custkey % 101 = 0"""
    edges = """SELECT 'nation:' || n.n_name AS child, 'region:' || r.r_name AS parent
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey"""
    disjoint = """SELECT 'region:' || a.r_name AS a, 'region:' || b.r_name AS b
FROM region a JOIN region b ON a.r_name < b.r_name"""
    return sql_disjoint_violations(types, edges, disjoint)


def q_kg_skolemize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic blank-node skolemization via Weisfeiler-Leman color
    refinement (operators/ontology.py wl_colors/skolemize_bnodes, the
    URDNA2015 canonical-labeling idea as k rounds of dataflow): orders and
    customers are blank nodes (labels carry NO identity), parts / nations
    / status literals are named; after 3 rounds each bnode's color hashes
    its depth-3 unfolding, so structurally identical orders collapse to
    one skolem IRI and the nation signal reaches orders THROUGH the
    customer bnode.  The multiset combine is a (count, sum-of-hash60)
    accumulator — map-side partial-aggregable, hub-safe at 10^12 edges."""
    from nexus_forge_spark.operators.ontology import skolemize_bnodes

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    osub = F.concat(F.lit("_:ord"), F.col("o_orderkey").cast("string"))
    trips = (
        orders.select(
            osub.alias("subj"),
            F.lit("status").alias("pred"),
            F.concat(F.lit("st:"), F.col("o_orderstatus")).alias("obj"),
        )
        .unionByName(
            orders.select(
                osub.alias("subj"),
                F.lit("prio").alias("pred"),
                F.concat(F.lit("pr:"), F.col("o_orderpriority")).alias("obj"),
            )
        )
        .unionByName(
            li.select(
                F.concat(F.lit("_:ord"), F.col("l_orderkey").cast("string")).alias(
                    "subj"
                ),
                F.lit("contains").alias("pred"),
                F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias(
                    "obj"
                ),
            )
        )
        .unionByName(
            orders.select(
                osub.alias("subj"),
                F.lit("by").alias("pred"),
                F.concat(F.lit("_:cust"), F.col("o_custkey").cast("string")).alias(
                    "obj"
                ),
            )
        )
        .unionByName(
            cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .select(
                F.concat(F.lit("_:cust"), F.col("c_custkey").cast("string")).alias(
                    "subj"
                ),
                F.lit("in_nation").alias("pred"),
                F.concat(F.lit("nat:"), F.col("n_name")).alias("obj"),
            )
        )
    )
    return skolemize_bnodes(trips, rounds=_WL_ROUNDS)


def sql_kg_skolemize() -> str:
    from nexus_forge_spark.operators.ontology import sql_wl_colors

    colors = sql_wl_colors(_skolem_triples_sql(), rounds=_WL_ROUNDS)
    return f"""SELECT node,
       CASE WHEN starts_with(node, '_:') THEN 'sk:' || color ELSE node END AS skolem
FROM ({colors})"""


def q_kg_merge_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-canonicalization merge audit: after sameAs connected components
    fuse co-referent entities, any per-property disagreement INSIDE a
    canonical cluster is evidence of an over-merge (or a source conflict
    golden_records would vote away) — the quality gate between
    canonicalize and golden-record election.  Composition: the SAME CC
    mapping the north-rule pipeline uses, then each cluster-property pair
    is treated as a functional predicate and audited with
    functional_violations (operators/ontology.py) — one rewrite join +
    one hash agg, no new machinery."""
    from nexus_forge_spark.operators.ontology import functional_violations

    alias = _alias(spark)
    mapping = CC.connected_components(
        CC.sameas_edges(alias), alias.select("entity_id").distinct()
    )
    vals = (
        alias.join(mapping, "entity_id", "left")
        .select(
            F.coalesce("canonical_id", "entity_id").alias("subj"),
            F.concat(F.lit("prop"), F.col("prop_order").cast("string")).alias("pred"),
            F.col("alias").alias("obj"),
        )
    )
    preds = [f"prop{i}" for i in range(4)]
    return functional_violations(vals, preds)


def sql_kg_merge_conflicts() -> str:
    from nexus_forge_spark.operators.ontology import sql_functional_violations

    preds = [f"prop{i}" for i in range(4)]
    inner = sql_functional_violations("SELECT subj, pred, obj FROM vals", preds)
    return f"""WITH RECURSIVE dim AS (SELECT * FROM {dims.ontology_sql_values('d')}),
{_alias_cte()},
edges AS (
  SELECT DISTINCT a.entity_id AS a, b.entity_id AS b
  FROM alias_t a JOIN alias_t b ON a.alias = b.alias AND a.entity_id <> b.entity_id
),
reach(src, dst) AS (
  SELECT entity_id, entity_id FROM (SELECT DISTINCT entity_id FROM alias_t)
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
mapping AS (SELECT src AS entity_id, min(dst) AS canonical_id FROM reach GROUP BY src),
vals AS (
  SELECT coalesce(m.canonical_id, a.entity_id) AS subj,
         'prop' || CAST(a.prop_order AS VARCHAR) AS pred, a.alias AS obj
  FROM alias_t a LEFT JOIN mapping m ON a.entity_id = m.entity_id
)
{inner}"""


def q_kg_ifp_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:InverseFunctionalProperty equality chain end-to-end
    (operators/canonicalize.py ifp_sameas_edges + connected_components):
    customers sharing a minted email (custkey DIV 3 -> ~3-entity blocks)
    are the same entity; a 'phone'='unknown' junk block (custkey % 50)
    exceeds max_block and is dropped — the dirty-data hub that would emit
    k^2 bogus sameAs edges contributes NOTHING.  Star replacement keeps
    the derived edge set O(k) per value block while preserving the
    components exactly."""
    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    subj = F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))
    email = cust.select(
        subj.alias("subj"),
        F.lit("email").alias("pred"),
        F.concat(F.lit("mb:"), F.expr("c_custkey DIV 3").cast("string")).alias("obj"),
    )
    phone = cust.where(F.col("c_custkey") % 50 == 0).select(
        subj.alias("subj"),
        F.lit("phone").alias("pred"),
        F.lit("unknown").alias("obj"),
    )
    trips = email.unionByName(phone)
    edges = CC.ifp_sameas_edges(trips, ["email", "phone"], max_block=_IFP_MAX_BLOCK)
    nodes = trips.select(F.col("subj").alias("entity_id")).distinct()
    return CC.connected_components(edges, nodes)


def sql_kg_ifp_canonical() -> str:
    # the star CTEs are inlined at top level: DuckDB mis-scopes a nested
    # WITH block inside a WITH RECURSIVE prologue (same gotcha class as
    # the SPARQL compiler's tr-CTE splice, see _splice notes above)
    return f"""WITH RECURSIVE claims AS MATERIALIZED (
  SELECT DISTINCT pred, obj, subj AS entity FROM (
    SELECT 'cust:' || c_custkey AS subj, 'email' AS pred,
           'mb:' || (c_custkey // 3) AS obj FROM customer
    UNION ALL
    SELECT 'cust:' || c_custkey, 'phone', 'unknown' FROM customer
    WHERE c_custkey % 50 = 0
  )
),
groups AS (
  SELECT pred, obj, min(entity) AS root, count(*) AS k
  FROM claims GROUP BY pred, obj
),
star AS (
  SELECT DISTINCT g.root AS a, c.entity AS b
  FROM claims c JOIN groups g ON c.pred = g.pred AND c.obj = g.obj
  WHERE g.k > 1 AND k <= {_IFP_MAX_BLOCK} AND c.entity <> g.root
),
e AS MATERIALIZED (
  SELECT a, b FROM star UNION ALL SELECT b, a FROM star
),
nodes AS (SELECT DISTINCT 'cust:' || c_custkey AS entity_id FROM customer),
reach(src, dst) AS (
  SELECT entity_id, entity_id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
)
SELECT src AS entity_id, min(dst) AS canonical_id FROM reach GROUP BY src"""


def q_kg_disjoint_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical disjointness induction (operators/ontology.py
    mine_disjointness): customers carry a segment class and a region
    class (plus % 101 injected second-region noise); at 3% co-typing
    tolerance the miner proposes exactly the segment-segment and
    region-region pairs (each customer has one of each, noise absorbed)
    and rejects every segment x region pair (massive overlap)."""
    from nexus_forge_spark.operators.ontology import mine_disjointness

    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_regionkey")
    region = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    inst = F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))
    seg = cust.select(
        inst.alias("instance"),
        F.concat(F.lit("seg:"), F.col("c_mktsegment")).alias("cls"),
    )
    creg = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select(
            inst.alias("instance"),
            F.concat(F.lit("reg:"), F.col("r_name")).alias("cls"),
        )
    )
    noise = (
        cust.where(F.col("c_custkey") % 101 == 0)
        .join(
            F.broadcast(nation),
            (cust.c_nationkey + 7) % 25 == nation.n_nationkey,
        )
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select(
            inst.alias("instance"),
            F.concat(F.lit("reg:"), F.col("r_name")).alias("cls"),
        )
    )
    types = seg.unionByName(creg).unionByName(noise)
    return mine_disjointness(types, min_support=20, max_overlap_ppm=30_000)


def sql_kg_disjoint_mining() -> str:
    from nexus_forge_spark.operators.ontology import sql_mine_disjointness

    types = """SELECT 'cust:' || c_custkey AS instance,
       'seg:' || c_mktsegment AS cls FROM customer
UNION ALL
SELECT 'cust:' || c.c_custkey, 'reg:' || r.r_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
UNION ALL
SELECT 'cust:' || c.c_custkey, 'reg:' || r.r_name
FROM customer c JOIN nation n ON (c.c_nationkey + 7) % 25 = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_custkey % 101 = 0"""
    return sql_mine_disjointness(types, min_support=20, max_overlap_ppm=30_000)


def q_kg_r2rml_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2RML-style declarative relational->RDF mapping
    (operators/r2rml.py compile_triples_maps; W3C R2RML subject
    templates, column/template/constant predicate-object maps, and
    rr:parentTriplesMap equi-joins): four TriplesMaps over
    customer/nation/region/orders compile to ONE union plan whose scans
    are column-pruned to exactly the referenced columns — the relational
    twin of the reference's DictionaryMapper (dictionaries.py:31-62),
    with zero per-row evaluation."""
    from nexus_forge_spark.operators.r2rml import compile_triples_maps

    return compile_triples_maps(
        spark, _R2RML_MAPS, lambda t: load_table(spark, t, sf_dir)
    )


def sql_kg_r2rml_map() -> str:
    from nexus_forge_spark.operators.r2rml import sql_compile_triples_maps

    return sql_compile_triples_maps(_R2RML_MAPS)


def q_sparql_seq_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure over a SEQUENCE property path — '(p1/p2)+' (S5 extension,
    closing the VERDICT r2 'nested property-path grammar' gap): the
    compiler builds the composite step edge as ONE self-join CTE and
    recurses over it (functions/sparql.py _seq_edge_cte/_closure_cte);
    Spark executes its UNION ALL recursive CTE + DISTINCT wrapper, DuckDB
    its set-semantics recursion — the contract gate IS the two-engine
    differential."""
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    _seqclo_triples(spark, sf_dir).createOrReplaceTempView("seqclo_triples_v")
    return spark.sql(
        sparql_to_sql(SPARQL_SEQCLO_TEXT, table="seqclo_triples_v", dialect="spark")
    )


def sql_sparql_seq_closure() -> str:
    from nexus_forge_spark.functions.sparql import sparql_to_sql

    tr = """SELECT 'cust:' || c_custkey AS subj, 'ex:own' AS pred,
       'acct:' || c_custkey AS obj FROM customer
UNION ALL
SELECT 'acct:' || c_custkey, 'ex:link', 'cust:' || (c_custkey + s.step)
FROM customer, (SELECT greatest(500, max(c_custkey) // 20) AS step,
                       max(c_custkey) AS maxk FROM customer) s
WHERE c_custkey + s.step <= s.maxk"""
    inner = sparql_to_sql(SPARQL_SEQCLO_TEXT, table="tr", dialect="duckdb")
    return _wrap_triples_cte(tr, inner)


def q_kg_bnode_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diff up to blank-node renaming (operators/ontology.py
    diff_bnode_invariant): the NEW snapshot relabels EVERY order bnode
    (_:o -> _:n, exactly what a re-serialization does) and really changes
    two small slices (status flip on %211, dropped prio edge on %401) —
    a label-sensitive diff would report all ~750k triples changed; the
    WL-skolemized diff reports only the truly edited islands.  Named
    nodes keep frozen colors (URDNA2015 ground-term semantics), so an
    edit cannot echo into unrelated islands through a shared part/status
    hub."""
    from nexus_forge_spark.operators.ontology import diff_bnode_invariant

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")

    def side(tag: str, flip: bool) -> DataFrame:
        sub = F.concat(F.lit(f"_:{tag}"), F.col("o_orderkey").cast("string"))
        status_obj = F.concat(F.lit("st:"), F.col("o_orderstatus"))
        if flip:
            status_obj = F.when(
                F.col("o_orderkey") % 211 == 0, F.lit("st:FLIPPED")
            ).otherwise(status_obj)
        status = orders.select(
            sub.alias("subj"), F.lit("status").alias("pred"), status_obj.alias("obj")
        )
        prio = orders.select(
            sub.alias("subj"),
            F.lit("prio").alias("pred"),
            F.concat(F.lit("pr:"), F.col("o_orderpriority")).alias("obj"),
        )
        if flip:
            prio = prio.where(
                F.expr("CAST(substring(subj, 4) AS BIGINT) % 401 <> 0")
            )
        contains = li.select(
            F.concat(F.lit(f"_:{tag}"), F.col("l_orderkey").cast("string")).alias(
                "subj"
            ),
            F.lit("contains").alias("pred"),
            F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("obj"),
        )
        return status.unionByName(prio).unionByName(contains)

    return diff_bnode_invariant(side("o", False), side("n", True), rounds=2)


def sql_kg_bnode_diff() -> str:
    from nexus_forge_spark.operators.ontology import sql_diff_bnode_invariant

    old, new = _bnode_diff_sides_sql()
    return sql_diff_bnode_invariant(old, new, rounds=2)


def q_kge_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction quality measured by the filtered ranking protocol
    (operators/kge.py ranking_eval over operators/graph.py
    link_prediction): co-purchase edges are split by ORDER (train = 7/8
    of orders, no pair leakage), candidates scored by the
    resource-allocation index on the TRAIN graph only, and each held-out
    pair's true partner is ranked among the scored candidates with train
    positives excluded — MRR/Hits@k in integer ppm, no per-query sort
    anywhere (Hits@k needs only the count of candidates beating the true
    one)."""
    from nexus_forge_spark.operators.graph import link_prediction
    from nexus_forge_spark.operators.kge import ranking_eval

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    train_e = li.where(F.col("l_orderkey") % 8 != 0).select(
        F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("item"),
        F.concat(F.lit("ord:"), F.col("l_orderkey").cast("string")).alias("via"),
    )
    scored = link_prediction(train_e, max_via_degree=_KGE_EVAL_MAX_VIA).select(
        F.col("a").alias("q"), F.col("b").alias("cand"),
        F.col("ra_scaled").alias("score"),
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_orderkey").alias("ok"),
            F.concat(F.lit("part:"), F.col("x.l_partkey").cast("string")).alias("q"),
            F.concat(F.lit("part:"), F.col("y.l_partkey").cast("string")).alias(
                "cand"
            ),
        )
    )
    train_pairs = pairs.where(F.col("ok") % 8 != 0).select("q", "cand").distinct()
    test_pairs = (
        pairs.where(F.col("ok") % 8 == 0)
        .select("q", F.col("cand").alias("true_cand"))
        .distinct()
        .join(
            train_pairs.select("q", F.col("cand").alias("true_cand")),
            ["q", "true_cand"],
            "left_anti",
        )
    )
    return ranking_eval(scored, test_pairs, train_pairs)


def sql_kge_ranking_eval() -> str:
    from nexus_forge_spark.operators.kge import sql_ranking_eval

    # the RA-scored candidate table: shared-order neighbors over TRAIN
    # orders with the same max_via_degree hub guard and integer div
    scored = f"""WITH g AS (
  SELECT DISTINCT 'part:' || l_partkey AS item, 'ord:' || l_orderkey AS via
  FROM lineitem WHERE l_orderkey % 8 <> 0
),
deg AS (
  SELECT via, count(*) AS deg FROM g GROUP BY via
  HAVING count(*) <= {_KGE_EVAL_MAX_VIA}
),
contrib AS (
  SELECT g.via, g.item, 1000000 // d.deg AS contrib
  FROM g JOIN deg d ON g.via = d.via
)
SELECT x.item AS q, y.item AS cand,
       CAST(sum(x.contrib) AS BIGINT) AS score
FROM contrib x JOIN contrib y ON x.via = y.via AND x.item < y.item
GROUP BY x.item, y.item"""
    pairs = """SELECT x.l_orderkey AS ok,
       'part:' || x.l_partkey AS q, 'part:' || y.l_partkey AS cand
FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
WHERE x.l_partkey < y.l_partkey"""
    train = f"SELECT DISTINCT q, cand FROM ({pairs}) WHERE ok % 8 <> 0"
    test = f"""SELECT q, true_cand FROM (
  SELECT DISTINCT q, cand AS true_cand FROM ({pairs}) WHERE ok % 8 = 0
) h
WHERE NOT EXISTS (
  SELECT 1 FROM ({train}) tr WHERE tr.q = h.q AND tr.cand = h.true_cand
)"""
    return sql_ranking_eval(scored, test, train)


def q_kg_rdfs_entailment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full RDFS materialization (operators/ontology.py rdfs_entailment,
    rdfs2/3/5/7/9/11): order placements become ord:placed triples whose
    subPropertyOf chain (placed < participatedIn < relatedTo) entails two
    more predicates per fact, domains/ranges type both endpoints, asserted
    :PremiumCustomer types (acctbal > 5000) roll up the class hierarchy.
    The schema closes via two iterative-doubling joins over the tiny
    (child, parent) tables; every rule is then ONE broadcast join against
    the fact side — the 10^12-triple posture is fact-scan x rule count,
    no fact re-shuffle.  Reference analogue: RdfModel validates against
    RDFS-entailed shapes (kgforge/specializations/models/rdf_model.py)
    but never materializes entailment."""
    from nexus_forge_spark.operators.ontology import rdfs_entailment

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_acctbal")
    facts = orders.select(
        F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")).alias("subj"),
        F.lit("ord:placed").alias("pred"),
        F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")).alias("obj"),
    ).unionByName(
        cust.where(F.col("c_acctbal") > 5000).select(
            F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.lit(":PremiumCustomer").alias("obj"),
        )
    )
    subclass = spark.createDataFrame(
        [
            (":PremiumCustomer", ":Customer"),
            (":Customer", ":Agent"),
            (":Agent", ":Entity"),
            (":Order", ":Artifact"),
            (":Artifact", ":Entity"),
        ],
        "child string, parent string",
    )
    subprop = spark.createDataFrame(
        [("ord:placed", "ord:participatedIn"), ("ord:participatedIn", "ord:relatedTo")],
        "child string, parent string",
    )
    domains = spark.createDataFrame(
        [("ord:placed", ":Customer"), ("ord:participatedIn", ":Agent")],
        "pred string, cls string",
    )
    ranges = spark.createDataFrame([("ord:placed", ":Order")], "pred string, cls string")
    return rdfs_entailment(facts, subclass, subprop, domains, ranges)


def sql_kg_rdfs_entailment() -> str:
    from nexus_forge_spark.operators.ontology import sql_rdfs_entailment

    facts = """SELECT 'cust:' || o_custkey AS subj, 'ord:placed' AS pred,
       'order:' || o_orderkey AS obj FROM orders
UNION ALL
SELECT 'cust:' || c_custkey, 'rdf:type', ':PremiumCustomer'
FROM customer WHERE c_acctbal > 5000"""
    subclass = """SELECT * FROM (VALUES
  (':PremiumCustomer', ':Customer'), (':Customer', ':Agent'),
  (':Agent', ':Entity'), (':Order', ':Artifact'),
  (':Artifact', ':Entity')) AS t(child, parent)"""
    subprop = """SELECT * FROM (VALUES
  ('ord:placed', 'ord:participatedIn'),
  ('ord:participatedIn', 'ord:relatedTo')) AS t(child, parent)"""
    domains = """SELECT * FROM (VALUES
  ('ord:placed', ':Customer'),
  ('ord:participatedIn', ':Agent')) AS t(pred, cls)"""
    ranges = "SELECT * FROM (VALUES ('ord:placed', ':Order')) AS t(pred, cls)"
    return sql_rdfs_entailment(facts, subclass, subprop, domains, ranges)


def q_kg_transitive_entail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:TransitiveProperty entailment (operators/ontology.py
    owl_transitive_entail): per-customer order chains (each order
    ord:precedes the customer's next order by date) and the geo
    containment chain (nation geo:within region geo:within geo:World)
    close TOGETHER in one iterative-doubling plan — the pred is part of
    the join key, so the deepest chain (~10 orders per customer) sets
    the round count (ceil log2) and the 2-deep geo chain rides along."""
    from pyspark.sql.window import Window

    from nexus_forge_spark.operators.ontology import owl_transitive_entail

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    precedes = orders.select(
        F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")).alias("subj"),
        F.lit("ord:precedes").alias("pred"),
        F.lead(F.concat(F.lit("order:"), F.col("o_orderkey").cast("string"))).over(w).alias("obj"),
    ).where(F.col("obj").isNotNull())
    nation = load_table(spark, "nation", sf_dir).select("n_name", "n_regionkey")
    region = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    geo = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.concat(F.lit("nation:"), F.col("n_name")).alias("subj"),
            F.lit("geo:within").alias("pred"),
            F.concat(F.lit("region:"), F.col("r_name")).alias("obj"),
        )
        .unionByName(
            region.select(
                F.concat(F.lit("region:"), F.col("r_name")).alias("subj"),
                F.lit("geo:within").alias("pred"),
                F.lit("geo:World").alias("obj"),
            )
        )
    )
    return owl_transitive_entail(
        precedes.unionByName(geo), ["ord:precedes", "geo:within"]
    )


def sql_kg_transitive_entail() -> str:
    from nexus_forge_spark.operators.ontology import sql_owl_transitive_entail

    triples = """SELECT subj, pred, obj FROM (
  SELECT 'order:' || o_orderkey AS subj, 'ord:precedes' AS pred,
         'order:' || lead(o_orderkey) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS obj
  FROM orders
) WHERE obj IS NOT NULL
UNION ALL
SELECT 'nation:' || n.n_name, 'geo:within', 'region:' || r.r_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
UNION ALL
SELECT 'region:' || r_name, 'geo:within', 'geo:World' FROM region"""
    return sql_owl_transitive_entail(triples, ["ord:precedes", "geo:within"])


def q_fastrp_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastRP structural node embeddings (operators/graph.py
    fastrp_embeddings) over the undirected customer-part co-purchase
    graph: sparse md5-signed random projections propagated through two
    rounds of integer mean-aggregation, combined 1:1.  Per round: one
    neighbor-keyed shuffle join + one (node, dim) aggregate over an
    O(nodes x dims) localCheckpointed iterate — at 10^12 edges the cost
    is rounds x one edge scan, and the signed BIGINT arithmetic makes
    the DuckDB unrolled recurrence match hash-for-hash (Spark DIV and
    DuckDB // both truncate toward zero)."""
    from nexus_forge_spark.operators.graph import fastrp_embeddings

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("node"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("nbr"),
        )
        .distinct()
    )
    both = fwd.unionByName(
        fwd.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    )
    return fastrp_embeddings(both, dims=8, rounds=2)


def sql_fastrp_embeddings() -> str:
    from nexus_forge_spark.operators.graph import sql_fastrp_embeddings

    edges = f"""SELECT node, nbr FROM (
  SELECT DISTINCT o.o_custkey AS node, {PART_NODE_OFFSET} + l.l_partkey AS nbr
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
UNION ALL
SELECT nbr, node FROM (
  SELECT DISTINCT o.o_custkey AS node, {PART_NODE_OFFSET} + l.l_partkey AS nbr
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)"""
    return sql_fastrp_embeddings(edges, dims=8, rounds=2)


def q_kg_asof_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time KG reconstruction + snapshot delta (operators/
    triples.py asof_triples + triple_diff): the user-property graph as
    of Jan 15 vs Jan 25 (last-writer-wins per (subj, pred) on exact
    epoch-micros order — no calendar function, so no TZ hazard by
    construction), diffed with the one-shuffle presence aggregate.
    This is the KG-maintenance loop a re-crawl pipeline runs daily:
    reconstruct yesterday's state, reconstruct today's, ship the delta."""
    from nexus_forge_spark.operators.triples import asof_triples, triple_diff

    a = _event_assertions(spark, sf_dir)
    return triple_diff(asof_triples(a, _ASOF_T1), asof_triples(a, _ASOF_T2))


def sql_kg_asof_diff() -> str:
    from nexus_forge_spark.operators.triples import sql_asof_triples

    s1 = sql_asof_triples(_EVENT_ASSERTIONS_SQL, _ASOF_T1)
    s2 = sql_asof_triples(_EVENT_ASSERTIONS_SQL, _ASOF_T2)
    return f"""WITH presence AS (
  SELECT subj, pred, obj, max(in_old) AS in_old, max(in_new) AS in_new FROM (
    SELECT subj, pred, obj, 1 AS in_old, 0 AS in_new FROM ({s1})
    UNION ALL
    SELECT subj, pred, obj, 0, 1 FROM ({s2})
  ) GROUP BY subj, pred, obj
)
SELECT subj, pred, obj,
       CASE WHEN in_old = 1 THEN 'removed' ELSE 'added' END AS change
FROM presence WHERE in_old <> in_new"""


def q_kg_property_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:propertyChainAxiom entailment (operators/ontology.py
    property_chain_entail): placed . contains => purchased (customer
    buys part) and contains . brandOf => stocksBrand (order carries
    brand), BOTH axioms in one broadcast-axiom self-join — the fact
    scan is predicate-pruned to the mentioned slices and shuffles once
    on the chain midpoint."""
    from nexus_forge_spark.operators.ontology import property_chain_entail

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    trips = (
        orders.select(
            F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")).alias("subj"),
            F.lit("ord:placed").alias("pred"),
            F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")).alias("obj"),
        )
        .unionByName(
            li.select(
                F.concat(F.lit("order:"), F.col("l_orderkey").cast("string")).alias("subj"),
                F.lit("ord:contains").alias("pred"),
                F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("obj"),
            )
        )
        .unionByName(
            part.select(
                F.concat(F.lit("part:"), F.col("p_partkey").cast("string")).alias("subj"),
                F.lit("part:brandOf").alias("pred"),
                F.concat(F.lit("brand:"), F.col("p_brand")).alias("obj"),
            )
        )
    )
    return property_chain_entail(trips, _CHAIN_AXIOMS)


def sql_kg_property_chain() -> str:
    from nexus_forge_spark.operators.ontology import sql_property_chain_entail

    trips = """SELECT 'cust:' || o_custkey AS subj, 'ord:placed' AS pred,
       'order:' || o_orderkey AS obj FROM orders
UNION ALL
SELECT 'order:' || l_orderkey, 'ord:contains', 'part:' || l_partkey FROM lineitem
UNION ALL
SELECT 'part:' || p_partkey, 'part:brandOf', 'brand:' || p_brand FROM part"""
    return sql_property_chain_entail(trips, _CHAIN_AXIOMS)


def q_kg_unreify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reification flattening (operators/ontology.py unreify): order
    placements arrive as rdf:Statement nodes (the shape rdflib emits
    for statement-level provenance); 1-in-97 statements lack their
    rdf:object edge (malformed, dropped), 1-in-5 carry no annotations
    (flattened with a NULL annotation row).  Three predicate-pruned
    slices join on the statement id — one shuffle key reused."""
    from nexus_forge_spark.operators.ontology import unreify

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    st = F.concat(F.lit("stmt:"), F.col("o_orderkey").cast("string"))
    trips = (
        orders.select(
            st.alias("subj"), F.lit("rdf:type").alias("pred"),
            F.lit("rdf:Statement").alias("obj"),
        )
        .unionByName(
            orders.select(
                st.alias("subj"), F.lit("rdf:subject").alias("pred"),
                F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")).alias("obj"),
            )
        )
        .unionByName(
            orders.select(
                st.alias("subj"), F.lit("rdf:predicate").alias("pred"),
                F.lit("ord:placed").alias("obj"),
            )
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 97 != 0).select(
                st.alias("subj"), F.lit("rdf:object").alias("pred"),
                F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")).alias("obj"),
            )
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 5 != 0).select(
                st.alias("subj"), F.lit("prov:priority").alias("pred"),
                F.col("o_orderpriority").alias("obj"),
            )
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 10 == 7).select(
                st.alias("subj"), F.lit("prov:cents").alias("pred"),
                F.floor(F.col("o_totalprice") * 100).cast("long").cast("string").alias("obj"),
            )
        )
    )
    return unreify(trips)


def sql_kg_unreify() -> str:
    from nexus_forge_spark.operators.ontology import sql_unreify

    trips = """SELECT 'stmt:' || o_orderkey AS subj, 'rdf:type' AS pred,
       'rdf:Statement' AS obj FROM orders
UNION ALL
SELECT 'stmt:' || o_orderkey, 'rdf:subject', 'cust:' || o_custkey FROM orders
UNION ALL
SELECT 'stmt:' || o_orderkey, 'rdf:predicate', 'ord:placed' FROM orders
UNION ALL
SELECT 'stmt:' || o_orderkey, 'rdf:object', 'order:' || o_orderkey
FROM orders WHERE o_orderkey % 97 <> 0
UNION ALL
SELECT 'stmt:' || o_orderkey, 'prov:priority', o_orderpriority
FROM orders WHERE o_orderkey % 5 <> 0
UNION ALL
SELECT 'stmt:' || o_orderkey, 'prov:cents',
       CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)
FROM orders WHERE o_orderkey % 10 = 7"""
    return sql_unreify(trips)


def q_kg_closure_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental transitive-closure maintenance (operators/ontology.py
    transitive_closure_incremental): 1-in-8 chain edges arrive as a
    delta batch; the old closure (built from the other 7/8) is seeded
    with the delta and re-doubled — converging in ceil(log2(k+1))
    rounds for k delta edges per path instead of log(depth) from
    scratch.  Graded against the full-recompute oracle (recursive CTE
    over ALL edges): hash equality IS the fold==recompute invariant
    this repo's incremental family shares."""
    from nexus_forge_spark.operators.ontology import (
        transitive_closure,
        transitive_closure_incremental,
    )
    from nexus_forge_spark.operators.sketches import hash60

    edges = _chain_edges(spark, sf_dir)
    is_delta = (
        hash60(F.concat(F.col("child"), F.lit("|"), F.col("parent")), "cdelta") % 8
    ) == 0
    old = edges.where(~is_delta)
    delta = edges.where(is_delta)
    closure_old = transitive_closure(old)
    return transitive_closure_incremental(closure_old, delta)


def sql_kg_closure_incremental() -> str:
    return f"""WITH RECURSIVE e AS MATERIALIZED ({_CHAIN_EDGES_SQL}),
reach(node, anc) AS (
  SELECT child, parent FROM e WHERE child <> parent
  UNION
  SELECT r.node, e2.parent FROM reach r JOIN e e2 ON r.anc = e2.child
  WHERE r.node <> e2.parent
)
SELECT node, anc FROM reach"""


def q_kg_catalog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate catalog statistics (ANALYZE for the triple store):
    triple count plus HLL distinct-subject and distinct-object
    estimates per predicate — the stats a SPARQL join planner needs to
    order triple patterns.  Three partial-combined aggregates over one
    fact scan lineage; the HLL sketches reduce every partition to at
    most 2^p rows before the shuffle (operators/sketches.py), so the
    catalog costs O(preds x 128) shuffled rows at any corpus size."""
    from nexus_forge_spark.operators.sketches import hll_estimate, hll_sketch

    t = _catalog_triples(spark, sf_dir)
    n = t.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n_triples"))
    s_est = hll_estimate(
        hll_sketch(t, "subj", ["pred"], salt="cat_s"), ["pred"]
    ).select("pred", F.col("est_distinct").alias("subj_ndv_est"))
    o_est = hll_estimate(
        hll_sketch(t, "obj", ["pred"], salt="cat_o"), ["pred"]
    ).select("pred", F.col("est_distinct").alias("obj_ndv_est"))
    return n.join(s_est, "pred").join(o_est, "pred").select(
        "pred", "n_triples", "subj_ndv_est", "obj_ndv_est"
    )


def sql_kg_catalog_stats() -> str:
    from nexus_forge_spark.operators.sketches import sql_hll_estimate

    s = sql_hll_estimate(_CATALOG_TRIPLES_SQL, "subj", ["pred"], salt="cat_s")
    o = sql_hll_estimate(_CATALOG_TRIPLES_SQL, "obj", ["pred"], salt="cat_o")
    return f"""WITH t AS MATERIALIZED ({_CATALOG_TRIPLES_SQL}),
n AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_triples FROM t GROUP BY pred),
se AS (SELECT pred, est_distinct AS subj_ndv_est FROM ({s})),
oe AS (SELECT pred, est_distinct AS obj_ndv_est FROM ({o}))
SELECT n.pred, n.n_triples, se.subj_ndv_est, oe.obj_ndv_est
FROM n JOIN se ON n.pred = se.pred JOIN oe ON n.pred = oe.pred"""


def q_kg_asof_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental as-of state maintenance (operators/triples.py
    fold_asof_state): the assertion stream arrives as three
    event_id%3 batches folded in sequence — per fold one union + one
    (subj, pred) struct-max aggregate, state bounded by live keys.
    Graded against the FULL-recompute oracle (sql_asof_triples over
    the whole history): hash equality proves the fold is
    order-insensitive and resumable, the same invariant as the
    incremental LSH / CC / MSF / CDC family."""
    from nexus_forge_spark.operators.triples import fold_asof_state

    a = _event_assertions(spark, sf_dir).where(
        F.col("ts_micros") <= F.lit(_ASOF_T2)
    )
    state = None
    for i in range(3):
        state = fold_asof_state(state, a.where(F.col("seq") % 3 == i))
    return state.select("subj", "pred", "obj")


def sql_kg_asof_incremental() -> str:
    from nexus_forge_spark.operators.triples import sql_asof_triples

    return sql_asof_triples(_EVENT_ASSERTIONS_SQL, _ASOF_T2)


def q_kg_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution report between two KG releases (operators/
    triples.py schema_drift): predicate_profile each release (fact scan
    once per release), then a full-outer join of the two
    vocabulary-sized profiles classifies added / removed / kept and
    flags the silent killer — a property's functional (sh:maxCount 1)
    contract flipping (cust:segment goes multi-valued in release B)."""
    from nexus_forge_spark.operators.triples import predicate_profile, schema_drift

    po = predicate_profile(_catalog_triples(spark, sf_dir))
    pn = predicate_profile(_catalog_triples_v2(spark, sf_dir))
    return schema_drift(po, pn)


def sql_kg_schema_drift() -> str:
    from nexus_forge_spark.operators.triples import sql_schema_drift

    return sql_schema_drift(_CATALOG_TRIPLES_SQL, _CATALOG_TRIPLES_V2_SQL)


def q_kg_ntriples_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Triples ingest (operators/triples.py from_ntriples): parse the
    serializer's own output back to triples.  The oracle is the
    NORMALIZED ORIGINAL graph (curies expanded, xsd:string folded to
    plain) computed WITHOUT serializing — so hash equality proves the
    serialize->parse loop is lossless, incl. the ECHAR escape/unescape
    inverse.  Parser is one regexp+replace codegen projection."""
    from nexus_forge_spark.operators.triples import from_ntriples, to_ntriples

    lines = to_ntriples(q_struct_triples(spark, sf_dir), _NT_PREFIXES, _NT_VOCAB)
    return from_ntriples(lines)


def sql_kg_ntriples_roundtrip() -> str:
    from nexus_forge_spark.operators.triples import sql_nt_iri

    def unwrap(expr: str) -> str:
        return (
            f"CASE WHEN substr({expr}, 1, 1) = '<' "
            f"THEN substr({expr}, 2, length({expr}) - 2) ELSE {expr} END"
        )

    s = unwrap(sql_nt_iri("subj", _NT_PREFIXES, None))
    p = unwrap(sql_nt_iri("pred", _NT_PREFIXES, _NT_VOCAB))
    oi = unwrap(sql_nt_iri("obj", _NT_PREFIXES, _NT_VOCAB))
    dt = unwrap(sql_nt_iri("obj_datatype", _NT_PREFIXES, None))
    return f"""WITH t AS ({sql_struct_triples()})
SELECT {s} AS subj, {p} AS pred,
       CASE WHEN obj_is_literal THEN obj ELSE {oi} END AS obj,
       obj_is_literal,
       CASE WHEN obj_is_literal AND obj_datatype IS NOT NULL
                 AND obj_datatype <> 'xsd:string'
            THEN {dt} ELSE NULL END AS obj_datatype
FROM t"""


def q_kg_rdfs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental RDFS materialization: with a STATIC schema every
    rdfs2/3/7/9 rule is per-single-triple, so entailment distributes
    over batches — entail(b1) UNION entail(b2) (distinct) equals
    entail(all), and THAT equality is the graded contract (oracle =
    the full-recompute entailment).  The property a streaming KG
    pipeline relies on to entail only the delta per micro-batch; the
    schema-closure triples overlap across batches and collapse in the
    distinct, exactly as in a real incremental run."""
    from nexus_forge_spark.operators.ontology import rdfs_entailment

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_acctbal")
    facts = orders.select(
        F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")).alias("subj"),
        F.lit("ord:placed").alias("pred"),
        F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")).alias("obj"),
        (F.col("o_orderkey") % 2).alias("batch"),
    ).unionByName(
        cust.where(F.col("c_acctbal") > 5000).select(
            F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.lit(":PremiumCustomer").alias("obj"),
            (F.col("c_custkey") % 2).alias("batch"),
        )
    )
    subclass = spark.createDataFrame(
        [
            (":PremiumCustomer", ":Customer"),
            (":Customer", ":Agent"),
            (":Agent", ":Entity"),
            (":Order", ":Artifact"),
            (":Artifact", ":Entity"),
        ],
        "child string, parent string",
    )
    subprop = spark.createDataFrame(
        [("ord:placed", "ord:participatedIn"), ("ord:participatedIn", "ord:relatedTo")],
        "child string, parent string",
    )
    domains = spark.createDataFrame(
        [("ord:placed", ":Customer"), ("ord:participatedIn", ":Agent")],
        "pred string, cls string",
    )
    ranges = spark.createDataFrame([("ord:placed", ":Order")], "pred string, cls string")
    parts = [
        rdfs_entailment(
            facts.where(F.col("batch") == b).drop("batch"),
            subclass, subprop, domains, ranges,
        )
        for b in (0, 1)
    ]
    return parts[0].unionByName(parts[1]).distinct()


def q_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 UPDATE subset (functions/sparql.py
    sparql_update_to_sql): DELETE WHERE — which reuses the CONSTRUCT
    compiler, so multi-pattern joins work in deletions too — strips
    every hasBody annotation (type triples survive), then INSERT DATA adds
    release provenance; each update is ONE declarative statement (scan
    + anti-join / distinct union), chained through temp views exactly
    as a batch maintenance job would run them — no driver-side
    mutation loop."""
    from nexus_forge_spark.functions.sparql import sparql_update_to_sql

    triples = q_kg_triples(spark, sf_dir).localCheckpoint(eager=True)
    triples.createOrReplaceTempView("upd_triples_v0")
    step1 = spark.sql(
        sparql_update_to_sql(_SPARQL_DELETE_TEXT, table="upd_triples_v0", dialect="spark")
    )
    step1.createOrReplaceTempView("upd_triples_v1")
    return spark.sql(
        sparql_update_to_sql(_SPARQL_INSERT_TEXT, table="upd_triples_v1", dialect="spark")
    )


def sql_sparql_update() -> str:
    from nexus_forge_spark.functions.sparql import sparql_update_to_sql

    s1 = sparql_update_to_sql(_SPARQL_DELETE_TEXT, table="tr0", dialect="duckdb")
    s2 = sparql_update_to_sql(_SPARQL_INSERT_TEXT, table="tr1", dialect="duckdb")
    return f"WITH tr0 AS ({sql_kg_triples()}), tr1 AS ({s1}) {s2}"


def q_sparql_rule_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule materialization via SPARQL UPDATE (functions/sparql.py
    sparql_update_to_sql, INSERT {T} WHERE {P} — the standard way KGs
    encode entailment rules): the placed/contains join derives
    purchased edges and the graph grows by their distinct union, all in
    ONE declarative statement riding the CONSTRUCT compiler."""
    from nexus_forge_spark.functions.sparql import sparql_update_to_sql

    triples = _catalog_triples(spark, sf_dir).localCheckpoint(eager=True)
    triples.createOrReplaceTempView("rule_triples_v")
    return spark.sql(
        sparql_update_to_sql(_SPARQL_RULE_TEXT, table="rule_triples_v", dialect="spark")
    )


def sql_sparql_rule_insert() -> str:
    from nexus_forge_spark.functions.sparql import sparql_update_to_sql

    inner = sparql_update_to_sql(_SPARQL_RULE_TEXT, table="tr", dialect="duckdb")
    return f"WITH tr AS ({_CATALOG_TRIPLES_SQL}) {inner}"


def q_kg_void_description(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3C VoID dataset description emitted AS TRIPLES (operators/
    triples.py void_description): overall counts + property partitions
    + class partitions — the metadata a SPARQL endpoint publishes for
    federated query planning.  Three aggregates over one scan lineage;
    output is vocabulary-sized."""
    from nexus_forge_spark.operators.triples import void_description

    return void_description(_typed_catalog_triples(spark, sf_dir), "kg:dataset")


def sql_kg_void_description() -> str:
    from nexus_forge_spark.operators.triples import sql_void_description

    return sql_void_description(_TYPED_CATALOG_SQL, "kg:dataset")


def q_kg_shacl_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL shape induction (operators/triples.py shacl_induction):
    learn sh:property / sh:minCount / sh:maxCount constraints per
    (class, predicate) from typed instance data — cust:segment and
    part:brandOf induce minCount 1 AND maxCount 1 (total functional),
    ord:placed/ord:contains stay multi-valued.  The statistics-to-
    constraints inverse of the validator, which only CONSUMES shapes."""
    from nexus_forge_spark.operators.triples import shacl_induction

    return shacl_induction(_typed_catalog_triples(spark, sf_dir))


def sql_kg_shacl_induction() -> str:
    from nexus_forge_spark.operators.triples import sql_shacl_induction

    return sql_shacl_induction(_TYPED_CATALOG_SQL)


def q_kg_bisim_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward 2-bisimulation quotient summary (operators/ontology.py
    bisim_summary, the A(k)-index of Kaushik et al. 2002) of the
    skolemization triple graph: namespace-initialized blocks split by
    outgoing (pred, block) multisets, then the block-level quotient
    edges with sizes — the structure index / one-screen schema of the
    graph.  Same hub-safe (count, hash-sum) multiset algebra as
    wl_colors, forward-only."""
    from nexus_forge_spark.operators.ontology import bisim_summary

    return bisim_summary(_skolem_triples_df(spark, sf_dir), rounds=2)


def sql_kg_bisim_summary() -> str:
    from nexus_forge_spark.operators.ontology import sql_bisim_summary

    return sql_bisim_summary(_skolem_triples_sql(), rounds=2)


def q_kg_qualified_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL qualified-cardinality audit (operators/ontology.py
    qualified_cardinality_audit): Order SubClassOf >=2 and <=4
    contains.Part, where only even partkeys are TYPED Part — the
    qualified count differs from raw fan-out exactly where the filler
    type matters.  Left join keeps zero-filler orders (min
    violations raw edge aggregation cannot see)."""
    from nexus_forge_spark.operators.ontology import qualified_cardinality_audit

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    types = (
        orders.select(
            F.concat(F.lit("ord:"), F.col("o_orderkey").cast("string")).alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.lit("Order").alias("obj"),
        )
        .unionByName(
            li.where(F.col("l_partkey") % 2 == 0)
            .select(
                F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias(
                    "subj"
                ),
                F.lit("rdf:type").alias("pred"),
                F.lit("Part").alias("obj"),
            )
            .distinct()
        )
    )
    contains = li.select(
        F.concat(F.lit("ord:"), F.col("l_orderkey").cast("string")).alias("subj"),
        F.lit("contains").alias("pred"),
        F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("obj"),
    ).distinct()
    trips = types.unionByName(contains)
    return qualified_cardinality_audit(
        trips, "Order", "contains", "Part", min_q=2, max_q=4
    )


def sql_kg_qualified_cardinality() -> str:
    from nexus_forge_spark.operators.ontology import (
        sql_qualified_cardinality_audit,
    )

    trips = """SELECT 'ord:' || o_orderkey AS subj, 'rdf:type' AS pred, 'Order' AS obj
FROM orders
UNION ALL
SELECT DISTINCT 'part:' || l_partkey, 'rdf:type', 'Part'
FROM lineitem WHERE l_partkey % 2 = 0
UNION ALL
SELECT DISTINCT 'ord:' || l_orderkey, 'contains', 'part:' || l_partkey
FROM lineitem"""
    return sql_qualified_cardinality_audit(
        trips, "Order", "contains", "Part", min_q=2, max_q=4
    )


def q_kg_sameas_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conflict-aware sameAs refinement (operators/canonicalize.py
    refine_sameas_components, the erroneous-identity-link cut): the
    MinHash near-dup sameAs graph refined against 'source' as
    functional provenance evidence — cross-source identity edges are
    cut, components re-form, and every entity reports its before/
    after canonical so over-merges are auditable."""
    from nexus_forge_spark.operators.canonicalize import (
        refine_sameas_components,
    )

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    props = (
        src.select(
            F.col("doc_id").alias("entity_id"),
            F.lit("source").alias("pred"),
            F.col("source").alias("value"),
        )
        .unionByName(
            src.select(
                (F.col("doc_id") + 1000000).alias("entity_id"),
                F.lit("source").alias("pred"),
                F.col("source").alias("value"),
            )
        )
    )
    return refine_sameas_components(pairs, props)


def sql_kg_sameas_refinement() -> str:
    from nexus_forge_spark.operators.canonicalize import (
        sql_refine_sameas_components,
    )

    edges = f"SELECT a, b FROM ({sql_dedup_minhash()})"
    props = """SELECT doc_id AS entity_id, 'source' AS pred, source AS value
FROM documents
UNION ALL
SELECT doc_id + 1000000, 'source', source FROM documents"""
    return sql_refine_sameas_components(edges, props)


def q_kg_temporal_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-at-every-instant audit (operators/triples.py
    temporal_functional_conflicts): each order asserts its customer's
    status for a 30-day validity window; overlapping windows with
    DIFFERENT statuses are temporal functional violations.  Same-
    object intervals coalesce first (so any surviving overlap is a
    real conflict), then two window passes over one Exchange+Sort —
    no self-join anywhere."""
    from nexus_forge_spark.operators.triples import (
        temporal_functional_conflicts,
    )

    month_us = 30 * 86_400_000_000
    orders = load_table(spark, "orders", sf_dir).select(
        F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")).alias("subj"),
        F.lit("status").alias("pred"),
        F.concat(F.lit("st:"), F.col("o_orderstatus")).alias("obj"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("start_us"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            + F.lit(month_us)
        ).alias("end_us"),
    )
    return temporal_functional_conflicts(orders)


def sql_kg_temporal_conflicts() -> str:
    from nexus_forge_spark.operators.triples import (
        sql_temporal_functional_conflicts,
    )

    src = """SELECT 'cust:' || o_custkey AS subj, 'status' AS pred,
       'st:' || o_orderstatus AS obj,
       epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS start_us,
       epoch_us(CAST(o_orderdate AS TIMESTAMP)) + 2592000000000 AS end_us
FROM orders"""
    return sql_temporal_functional_conflicts(src)


def q_kg_characteristics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL property-characteristics audit (operators/ontology.py
    property_characteristics_audit — symmetric / asymmetric /
    irreflexive, completing the axiom-audit family beside the
    disjointness, functional and qualified-cardinality audits).  Edges
    come from co-supply facts per order: `cost:near_cost_of` (declared
    symmetric — a one-directional near-cost edge is a missing-inverse
    entailment gap), `supply:more_qty_than` (declared asymmetric —
    supplier pairs mutually ahead on DIFFERENT lineitems contradict the
    axiom), `mkt:competes_with` (declared irreflexive — a supplier
    appearing twice in one order competes with itself).  Declarations
    broadcast; each check is one reversed-key self join."""
    from nexus_forge_spark.operators.ontology import (
        property_characteristics_audit,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        F.concat(F.lit("supplier:"), F.col("l_suppkey")).alias("sup"),
        (F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    a, b = li.alias("a"), li.alias("b")
    same_order = F.col("a.l_orderkey") == F.col("b.l_orderkey")
    pairs = a.join(b, same_order).select(
        F.col("a.sup").alias("subj"),
        F.col("b.sup").alias("obj"),
        F.col("a.cents").alias("ca"),
        F.col("b.cents").alias("cb"),
        F.col("a.qty").alias("qa"),
        F.col("b.qty").alias("qb"),
    )
    near_cost = (
        pairs.where(
            (F.col("subj") != F.col("obj"))
            & (F.col("ca") >= F.col("cb"))
            & (F.col("ca") - F.col("cb") <= 1000000)
        )
        .select(F.lit("cost:near_cost_of").alias("pred"), "subj", "obj")
    )
    more_qty = (
        pairs.where(
            (F.col("subj") != F.col("obj")) & (F.col("qa") > F.col("qb"))
        )
        .select(F.lit("supply:more_qty_than").alias("pred"), "subj", "obj")
    )
    competes = pairs.select(
        F.lit("mkt:competes_with").alias("pred"), "subj", "obj"
    )
    triples = near_cost.unionByName(more_qty).unionByName(competes)
    decls = spark.createDataFrame(
        [
            ("cost:near_cost_of", "symmetric"),
            ("supply:more_qty_than", "asymmetric"),
            ("mkt:competes_with", "irreflexive"),
        ],
        "pred string, characteristic string",
    )
    return property_characteristics_audit(triples, decls)


def sql_kg_characteristics_audit() -> str:
    from nexus_forge_spark.operators.ontology import (
        sql_property_characteristics_audit,
    )

    triples = """WITH li AS (
  SELECT l_orderkey, 'supplier:' || l_suppkey AS sup,
         CAST(l_extendedprice * 100 AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
pairs AS (
  SELECT a.sup AS subj, b.sup AS obj, a.cents AS ca, b.cents AS cb,
         a.qty AS qa, b.qty AS qb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
)
SELECT 'cost:near_cost_of' AS pred, subj, obj FROM pairs
WHERE subj <> obj AND ca >= cb AND ca - cb <= 1000000
UNION ALL
SELECT 'supply:more_qty_than' AS pred, subj, obj FROM pairs
WHERE subj <> obj AND qa > qb
UNION ALL
SELECT 'mkt:competes_with' AS pred, subj, obj FROM pairs"""
    decls = """SELECT * FROM (VALUES
  ('cost:near_cost_of', 'symmetric'),
  ('supply:more_qty_than', 'asymmetric'),
  ('mkt:competes_with', 'irreflexive')) AS d(pred, characteristic)"""
    return sql_property_characteristics_audit(triples, decls)
