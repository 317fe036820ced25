"""Triple materialization: pipeline outputs -> deduplicated (subj, pred, obj).

Reference analogue: ``as_graph`` explodes a Resource tree into rdflib triples
(kgforge/core/conversions/rdf.py:275-312); rdflib.Graph is a *set*, so output
parity requires dedup on (subj, pred, obj).  Blank nodes are replaced by
deterministic skolem IRIs (hash of doc_id + path) so triple sets compare
stably across runs — rdflib bnode ids are not stable (SURVEY.md §4.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RDF_TYPE = "rdf:type"
PRED_HAS_BODY = "nsg:hasBody"
PRED_DISTRIBUTION = "schema:distribution"
XSD_STRING = "xsd:string"


def doc_subject(doc_id_col) -> F.Column:
    """Deterministic skolem subject IRI for a document."""
    return F.concat(F.lit("doc:"), doc_id_col)


def resolved_to_triples(resolved: DataFrame, pred: str = PRED_HAS_BODY) -> DataFrame:
    """resolved(doc_id, ..., entity_id) -> annotation triples."""
    return resolved.select(
        doc_subject(F.col("doc_id")).alias("subj"),
        F.lit(pred).alias("pred"),
        F.col("entity_id").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.col("doc_id").alias("doc_id"),
        F.lit("resolve").alias("stage"),
    )


def media_to_triples(documents: DataFrame, dedup: bool = False) -> DataFrame:
    """kind='media' spans -> distribution triples (the LazyAction/forge.attach
    analogue: media refs are data, 'executed' as a column expr —
    core/forge.py:798-809, commons/actions.py:62-113).

    dedup=True applies graph set semantics on the narrow (doc_id, ref) key
    before the triple strings are built — cheaper shuffle rows."""
    refs = (
        documents.select("doc_id", F.explode("spans").alias("span"))
        .where(F.col("span.kind") == "media")
        .select("doc_id", F.col("span.media_ref").alias("ref"))
    )
    if dedup:
        refs = refs.dropDuplicates(["doc_id", "ref"])
    return refs.select(
        doc_subject(F.col("doc_id")).alias("subj"),
        F.lit(PRED_DISTRIBUTION).alias("pred"),
        F.col("ref").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.col("doc_id").alias("doc_id"),
        F.lit("media").alias("stage"),
    )


def triple_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot delta between two KG triple sets: which (subj, pred, obj)
    facts were added / removed between snapshot *old* and snapshot *new*.

    The KG-maintenance primitive a periodic re-crawl pipeline needs: diff
    yesterday's materialized graph against today's so downstream consumers
    ingest a delta instead of the full graph.  Set semantics on both sides
    (rdflib.Graph is a set — kgforge/core/conversions/rdf.py:275-312 —
    so duplicates within a snapshot are not changes).

    Scale posture: ONE shuffle.  Both snapshots are tagged map-side and
    unioned, then a single hash aggregation on (subj, pred, obj) with
    map-side partial combine decides presence on each side; rows present
    on both sides collapse and are filtered out BEFORE any further stage.
    This beats the two anti-join formulation (old EXCEPT new UNION new
    EXCEPT old), which shuffles both inputs twice.

    Output: (subj, pred, obj, change) with change in {'added', 'removed'}.
    """
    o = old.select(
        "subj", "pred", "obj",
        F.lit(1).alias("_in_old"), F.lit(0).alias("_in_new"),
    )
    n = new.select(
        "subj", "pred", "obj",
        F.lit(0).alias("_in_old"), F.lit(1).alias("_in_new"),
    )
    presence = (
        o.unionByName(n)
        .groupBy("subj", "pred", "obj")
        .agg(
            F.max("_in_old").alias("_in_old"),
            F.max("_in_new").alias("_in_new"),
        )
    )
    return presence.where(F.col("_in_old") != F.col("_in_new")).select(
        "subj",
        "pred",
        "obj",
        F.when(F.col("_in_new") == 1, F.lit("added"))
        .otherwise(F.lit("removed"))
        .alias("change"),
    )


def infer_types(
    triples: DataFrame,
    decls: DataFrame,
    type_pred: str = RDF_TYPE,
    literal_col: str | None = None,
) -> DataFrame:
    """RDFS domain/range type inference (rdfs2 + rdfs3): every use of a
    property whose ``rdfs:domain`` / ``rdfs:range`` is declared types its
    subject / object.  The reference applies the same schema knowledge at
    validation time (RdfModel SHACL ``sh:class`` targets resolve through
    the ontology — kgforge/specializations/models/rdf_model.py); this is
    the forward-chaining materialization of it, the step that makes an
    incompletely-typed extracted graph queryable by class.

    ``decls`` is the tiny schema table (pred, domain_class, range_class —
    either nullable); it broadcasts.  Range inference only fires on IRI
    objects: pass ``literal_col`` (a boolean column marking literal
    objects) to exclude literals; rdfs3 never types a literal value.

    Output: (subj, pred, obj, novel) — one row per distinct inferred
    (entity, rdf:type, class) fact, ``novel`` false when the type was
    already asserted.  Scale posture: two broadcast joins against the
    schema table (fact side never shuffles for them), one distinct on the
    inferred set (small: entities x classes), one broadcast-or-shuffled
    left join against the asserted types to mark novelty.
    """
    facts = triples.where(F.col("pred") != type_pred)
    d = F.broadcast(decls)
    dom = facts.join(
        d.where(F.col("domain_class").isNotNull()).select("pred", "domain_class"),
        "pred",
    ).select(F.col("subj").alias("entity"), F.col("domain_class").alias("cls"))
    rng_facts = facts
    if literal_col is not None:
        rng_facts = facts.where(~F.col(literal_col))
    rng = rng_facts.join(
        d.where(F.col("range_class").isNotNull()).select("pred", "range_class"),
        "pred",
    ).select(F.col("obj").alias("entity"), F.col("range_class").alias("cls"))
    inferred = dom.unionByName(rng).distinct()
    asserted = (
        triples.where(F.col("pred") == type_pred)
        .select(F.col("subj").alias("entity"), F.col("obj").alias("cls"))
        .distinct()
        .withColumn("_asserted", F.lit(1))
    )
    return (
        inferred.join(asserted, ["entity", "cls"], "left")
        .select(
            F.col("entity").alias("subj"),
            F.lit(type_pred).alias("pred"),
            F.col("cls").alias("obj"),
            F.col("_asserted").isNull().alias("novel"),
        )
    )


def sql_infer_types(
    triples_sql: str,
    decl_rows: list[tuple[str, str | None, str | None]],
    type_pred: str = RDF_TYPE,
    literal_col: str | None = None,
) -> str:
    """DuckDB oracle rendering of the identical rdfs2/rdfs3 inference."""

    def _v(x: str | None) -> str:
        return "NULL" if x is None else f"'{x}'"

    values = ", ".join(
        f"({_v(p)}, {_v(dm)}, {_v(rg)})" for p, dm, rg in decl_rows
    )
    lit_filter = f" AND NOT {literal_col}" if literal_col else ""
    return f"""WITH trip AS ({triples_sql}),
decls(pred, domain_class, range_class) AS (VALUES {values}),
facts AS (SELECT * FROM trip WHERE pred <> '{type_pred}'),
inferred AS (
  SELECT DISTINCT entity, cls FROM (
    SELECT f.subj AS entity, d.domain_class AS cls
    FROM facts f JOIN decls d ON f.pred = d.pred
    WHERE d.domain_class IS NOT NULL
    UNION ALL
    SELECT f.obj AS entity, d.range_class AS cls
    FROM facts f JOIN decls d ON f.pred = d.pred
    WHERE d.range_class IS NOT NULL{lit_filter}
  )
),
asserted AS (
  SELECT DISTINCT subj AS entity, obj AS cls FROM trip
  WHERE pred = '{type_pred}'
)
SELECT i.entity AS subj, '{type_pred}' AS pred, i.cls AS obj,
       a.entity IS NULL AS novel
FROM inferred i LEFT JOIN asserted a
  ON i.entity = a.entity AND i.cls = a.cls"""


def schema_graph(
    triples: DataFrame,
    type_pred: str = RDF_TYPE,
    literal_col: str | None = None,
    datatype_col: str | None = None,
) -> DataFrame:
    """Schema induction from instance data: summarize an extracted graph
    into its class-level shape — (subj_type, pred, obj_type, n_triples)
    — the mining step that recovers the SHACL model the reference ships
    by hand (RdfModel shapes declare exactly these property/class/
    datatype triples; kgforge/specializations/models/rdf_model.py).  Run
    it on a freshly-extracted corpus to see what shapes the data actually
    exhibits before validating against what it should.

    Subject/object classes come from the graph's own ``type_pred``
    assertions (left joins — untyped endpoints stay NULL rather than
    being guessed); literal objects type as their datatype
    (``datatype_col``, default ``xsd:string``) when ``literal_col``
    marks them.  Entities with multiple types contribute one schema edge
    per type, the standard convention.

    Scale posture: two hash joins of the fact table against the
    type-assertion table (both shuffle on entity ids — co-partitioned if
    the triple store is bucketed by subj) and one partial-combined count
    aggregate whose output is schema-sized, not data-sized.
    """
    types = triples.where(F.col("pred") == type_pred).select(
        F.col("subj").alias("ent"), F.col("obj").alias("t")
    ).distinct()
    facts = triples.where(F.col("pred") != type_pred)
    st = facts.join(
        types.select(F.col("ent"), F.col("t").alias("subj_type")),
        facts["subj"] == F.col("ent"),
        "left",
    ).drop("ent")
    if literal_col is not None:
        dt = (
            F.coalesce(F.col(datatype_col), F.lit(XSD_STRING))
            if datatype_col is not None
            else F.lit(XSD_STRING)
        )
        iri_side = st.where(~F.col(literal_col))
        lit_side = st.where(F.col(literal_col)).withColumn("obj_type", dt)
        iri_side = iri_side.join(
            types.select(F.col("ent"), F.col("t").alias("obj_type")),
            iri_side["obj"] == F.col("ent"),
            "left",
        ).drop("ent")
        both = iri_side.unionByName(lit_side.select(*iri_side.columns))
    else:
        both = st.join(
            types.select(F.col("ent"), F.col("t").alias("obj_type")),
            st["obj"] == F.col("ent"),
            "left",
        ).drop("ent")
    return both.groupBy("subj_type", "pred", "obj_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples")
    )


def predicate_profile(triples: DataFrame, type_pred: str = RDF_TYPE) -> DataFrame:
    """Per-predicate cardinality profile: (pred, n_triples, n_subjects,
    n_objects, max_per_subj, is_functional) — the statistics that decide
    SHACL cardinality constraints (sh:maxCount 1 <=> is_functional), KG
    join selectivity, and which predicates are safe canonicalization
    evidence (a functional property disagreeing across two records is a
    conflict; a multi-valued one is not).

    Scale posture: one (pred, subj) hash aggregate rolled up to pred
    (both partial-combined; the rollup input is already
    subject-deduplicated so the second shuffle carries one row per
    (pred, subj)), plus one distinct-count aggregate per pred for the
    object side.  Output is vocabulary-sized.  ``type_pred`` rows are
    profiled like any other predicate.
    """
    per_subj = triples.groupBy("pred", "subj").agg(
        F.count(F.lit(1)).alias("n")
    )
    subj_stats = per_subj.groupBy("pred").agg(
        F.sum("n").cast("long").alias("n_triples"),
        F.count(F.lit(1)).cast("long").alias("n_subjects"),
        F.max("n").cast("long").alias("max_per_subj"),
    )
    obj_stats = triples.groupBy("pred").agg(
        F.countDistinct("obj").cast("long").alias("n_objects")
    )
    return (
        subj_stats.join(obj_stats, "pred")
        .select(
            "pred",
            "n_triples",
            "n_subjects",
            "n_objects",
            "max_per_subj",
            (F.col("max_per_subj") == 1).alias("is_functional"),
        )
    )


def rank_entity_facts(triples: DataFrame, top_k: int = 3) -> DataFrame:
    """Entity summarization: keep each subject's ``top_k`` most
    informative facts, informativeness = predicate rarity (LinkSUM/
    RELIN-family heuristic — a fact stated through a rare predicate says
    more about an entity than one every entity carries).  Ranking is the
    integer triple (pred_triples ASC, pred, obj) — no idf division, no
    float, fully deterministic.

    Scale posture: the predicate-frequency table is vocabulary-sized and
    broadcasts; the only window partitions on ``subj``, whose group size
    is the entity's own fact count — bounded, no hot keys (contrast a
    global rank).  Output: (subj, pred, obj, pred_triples, fact_rank).
    """
    from pyspark.sql import Window

    freq = triples.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("pred_triples")
    )
    w = Window.partitionBy("subj").orderBy(
        F.col("pred_triples").asc(), F.col("pred"), F.col("obj")
    )
    return (
        triples.select("subj", "pred", "obj")
        .join(F.broadcast(freq), "pred")
        .withColumn("fact_rank", F.row_number().over(w).cast("int"))
        .where(F.col("fact_rank") <= top_k)
        .select("subj", "pred", "obj", "pred_triples", "fact_rank")
    )


def dangling_refs(
    triples: DataFrame,
    literal_col: str | None = None,
    type_pred: str = RDF_TYPE,
) -> DataFrame:
    """KG referential-integrity check: IRI objects that are never
    described — they appear as an object but never as a subject (no
    facts, not even a type assertion).  The graph-shaped analogue of a
    foreign-key violation and the first thing a KG quality gate reports
    after ingestion: dangling refs are extraction bugs, vocabulary
    drift, or deliberate external references, and consumers need the
    list to tell which.

    Class terms are excluded structurally: an object of ``type_pred``
    is a class, not an entity reference.  Pass ``literal_col`` to
    exclude literal objects (strings aren't references).

    Output: (ref, n_uses, example_pred) — one row per dangling IRI with
    its reference count and the lexicographically-first predicate using
    it (a deterministic debugging pointer).

    Scale posture: one distinct on each side + one left-anti join on the
    entity id (both sides shuffle on it — co-partitioned if the store
    buckets by subj), then a count aggregate over the (small) dangling
    set's uses.
    """
    obj_refs = triples.where(F.col("pred") != type_pred)
    if literal_col is not None:
        obj_refs = obj_refs.where(~F.col(literal_col))
    subjects = triples.select(F.col("subj").alias("ref")).distinct()
    return (
        obj_refs.select(F.col("obj").alias("ref"), "pred")
        .join(subjects, "ref", "left_anti")
        .groupBy("ref")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_uses"),
            F.min("pred").alias("example_pred"),
        )
    )


def infer_inverses(
    triples: DataFrame,
    decls: DataFrame,
    literal_col: str | None = None,
) -> DataFrame:
    """OWL-lite inverse/symmetric property materialization: for every
    declared ``owl:inverseOf`` pair (p, q), each (s, p, o) entails
    (o, q, s); a symmetric property is the self-inverse special case
    (q = p).  The forward-chaining companion to infer_types — run both
    before querying an extracted graph so SPARQL patterns need not be
    written in both directions.

    ``decls`` is the tiny schema table (pred, inverse_pred); symmetric
    properties declare pred == inverse_pred.  Literal-object triples
    never invert (a literal cannot be a subject) — pass ``literal_col``
    to enforce it.  Output: (subj, pred, obj, novel) — distinct entailed
    triples, ``novel`` false when already asserted.

    Scale posture: one broadcast join against the decls, one distinct on
    the entailed set, one left join vs the asserted facts for novelty.
    """
    facts = triples
    if literal_col is not None:
        facts = facts.where(~F.col(literal_col))
    entailed = (
        facts.join(F.broadcast(decls), "pred")
        .select(
            F.col("obj").alias("subj"),
            F.col("inverse_pred").alias("pred"),
            F.col("subj").alias("obj"),
        )
        .distinct()
    )
    asserted = (
        triples.select("subj", "pred", "obj")
        .distinct()
        .withColumn("_asserted", F.lit(1))
    )
    return entailed.join(asserted, ["subj", "pred", "obj"], "left").select(
        "subj", "pred", "obj", F.col("_asserted").isNull().alias("novel")
    )


def range_violations(
    triples: DataFrame,
    decls: DataFrame,
    type_pred: str = RDF_TYPE,
    literal_col: str | None = None,
) -> DataFrame:
    """The validation dual of rdfs3 forward chaining: report facts whose
    object's ASSERTED type contradicts the property's declared
    ``rdfs:range`` — under inference a mistyped object would silently
    acquire a second type; under validation it is a constraint violation
    (SHACL ``sh:class`` semantics — rdf_model.py's class-conformance
    check, applied graph-wide as one plan instead of per resource).

    Only objects that HAVE asserted types are judged (open-world: an
    untyped object is unknown, not wrong — infer_types is the tool for
    those), and an object conforms if ANY of its types matches the
    range.  Output: (subj, pred, obj, expected_class, actual_types).

    Scale posture: broadcast decls join, one entity-key join against the
    aggregated type table, map-side conformance check on the collected
    (small, per-entity) type set.
    """
    facts = triples.where(F.col("pred") != type_pred)
    if literal_col is not None:
        facts = facts.where(~F.col(literal_col))
    declared = facts.join(
        F.broadcast(
            decls.where(F.col("range_class").isNotNull()).select(
                "pred", "range_class"
            )
        ),
        "pred",
    )
    types = (
        triples.where(F.col("pred") == type_pred)
        .groupBy(F.col("subj").alias("ent"))
        .agg(F.sort_array(F.collect_set("obj")).alias("actual_types"))
    )
    joined = declared.join(types, declared["obj"] == F.col("ent"), "inner")
    return joined.where(
        ~F.array_contains(F.col("actual_types"), F.col("range_class"))
    ).select(
        "subj",
        "pred",
        "obj",
        F.col("range_class").alias("expected_class"),
        "actual_types",
    )


# ----------------------------------------------------------------- N-Triples


def _nt_escape(col: F.Column) -> F.Column:
    """N-Triples literal escaping (W3C N-Triples grammar ECHAR set, the five
    escapes rdflib's ntserializer emits for ASCII text): backslash FIRST,
    then quote, LF, CR, TAB.  Pure string functions — one codegen projection,
    and the identical replace() chain runs on any ANSI engine."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    return out


def _nt_iri(col: F.Column, prefixes: dict[str, str], vocab: str | None) -> F.Column:
    """Render a term as an N-Triples IRI ref (or blank-node label).

    Resolution ladder (JSON-LD semantics, conversions/rdf.py context use):
    blank label verbatim -> absolute IRI wrapped -> known curie prefix
    expanded -> @vocab expansion for colon-free terms -> wrapped as-is."""
    wrap = lambda c: F.concat(F.lit("<"), c, F.lit(">"))  # noqa: E731
    pfx = F.substring_index(col, ":", 1)
    local = col.substr(F.length(pfx) + 2, F.lit(2_000_000_000))
    expr = F.when(col.startswith("_:"), col).when(col.contains("://"), wrap(col))
    if prefixes:
        ns_map = F.create_map(
            *[F.lit(x) for kv in sorted(prefixes.items()) for x in kv]
        )
        ns = F.element_at(ns_map, pfx)
        expr = expr.when(
            col.contains(":") & ns.isNotNull(), wrap(F.concat(ns, local))
        )
    if vocab is not None:
        expr = expr.when(~col.contains(":"), wrap(F.concat(F.lit(vocab), col)))
    return expr.otherwise(wrap(col))


def to_ntriples(
    triples: DataFrame,
    prefixes: dict[str, str] | None = None,
    vocab: str | None = None,
) -> DataFrame:
    """Serialize a (subj, pred, obj, obj_is_literal, obj_datatype) triple set
    to N-Triples lines — the wire format ``forge.as_graph(...).serialize(
    format="ntriples")`` produces in the reference (as_graph -> rdflib.Graph,
    kgforge/core/conversions/rdf.py:275-312; serialization is rdflib's).

    One narrow projection per row, zero shuffles, zero UDFs: curie/@vocab
    expansion is a broadcast-free map-literal lookup, literal escaping a
    replace chain — the whole serializer is a single whole-stage-codegen
    span, so at 10^12 triples it is scan-bound.  Blank-node labels
    (``_:...``) pass through verbatim: this engine's skolem labels are
    deterministic content hashes (see module docstring), so unlike rdflib's
    process-local bnode ids the emitted lines are stable across runs and
    cluster sizes.

    Literals: plain when the datatype is null or xsd:string (RDF 1.1 treats
    both identically); typed ``"..."^^<iri>`` otherwise.  Escaping covers
    the five ECHAR escapes; supplementary-plane codepoints ride through as
    raw UTF-8, which the N-Triples grammar permits (UCHAR is optional).

    Returns a single-column DataFrame (line: string).
    """
    dt = F.col("obj_datatype")
    literal = F.concat(
        F.lit('"'),
        _nt_escape(F.col("obj")),
        F.lit('"'),
        F.when(
            dt.isNotNull() & (dt != XSD_STRING),
            F.concat(F.lit("^^"), _nt_iri(dt, prefixes or {}, None)),
        ).otherwise(F.lit("")),
    )
    obj_term = F.when(F.col("obj_is_literal"), literal).otherwise(
        _nt_iri(F.col("obj"), prefixes or {}, vocab)
    )
    return triples.select(
        F.concat_ws(
            " ",
            _nt_iri(F.col("subj"), prefixes or {}, None),
            _nt_iri(F.col("pred"), prefixes or {}, vocab),
            obj_term,
            F.lit("."),
        ).alias("line")
    )


def sql_nt_iri(expr: str, prefixes: dict[str, str], vocab: str | None) -> str:
    """DuckDB rendering of :func:`_nt_iri` — identical resolution ladder."""
    branches = [
        f"WHEN substr({expr}, 1, 2) = '_:' THEN {expr}",
        f"WHEN contains({expr}, '://') THEN '<' || {expr} || '>'",
    ]
    for pfx, ns in sorted(prefixes.items()):
        branches.append(
            f"WHEN substr({expr}, 1, {len(pfx) + 1}) = '{pfx}:' "
            f"THEN '<{ns}' || substr({expr}, {len(pfx) + 2}) || '>'"
        )
    if vocab is not None:
        branches.append(
            f"WHEN NOT contains({expr}, ':') THEN '<{vocab}' || {expr} || '>'"
        )
    return "CASE " + " ".join(branches) + f" ELSE '<' || {expr} || '>' END"


def sql_nt_escape(expr: str) -> str:
    """DuckDB rendering of :func:`_nt_escape` — same chain, same order."""
    out = f"replace({expr}, '\\', '\\\\')"
    out = f"replace({out}, '\"', '\\\"')"
    out = f"replace({out}, chr(10), '\\n')"
    out = f"replace({out}, chr(13), '\\r')"
    out = f"replace({out}, chr(9), '\\t')"
    return out


def asof_triples(
    assertions: DataFrame,
    cutoff_micros: int,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    ts_micros_col: str = "ts_micros",
    seq_col: str = "seq",
) -> DataFrame:
    """Point-in-time KG snapshot from a timestamped assertion stream:
    the state of each (subj, pred) at the cutoff is its LATEST assertion
    with ts <= cutoff, ties broken by the monotone sequence column
    (event id / log offset) — the same last-writer-wins rule the
    reference's _rev chain applies per resource (demo_store.py keeps
    every revision; this reconstructs the graph as of any instant).

    Engine exactness: time is compared as epoch MICROSECONDS (BIGINT) —
    no calendar function ever touches the timestamp, so no session-
    timezone hazard exists by construction.  Deterministic because
    (ts_micros, seq) is a total order per key.

    Scale: one window over (subj, pred) AFTER the cutoff filter prunes
    the scan (predicate pushes to parquet); at 10^12 assertions the
    shuffle carries only rows at or before the cutoff, and repartitioning
    is by the same key a downstream diff/join would use.
    """
    w = Window.partitionBy(subj_col, pred_col).orderBy(
        F.col(ts_micros_col).desc(), F.col(seq_col).desc()
    )
    return (
        assertions.where(F.col(ts_micros_col) <= F.lit(int(cutoff_micros)))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col(subj_col).alias("subj"),
            F.col(pred_col).alias("pred"),
            F.col(obj_col).alias("obj"),
        )
    )


def sql_asof_triples(assertions_sql: str, cutoff_micros: int) -> str:
    """DuckDB oracle for :func:`asof_triples`.  assertions_sql ->
    (subj, pred, obj, ts_micros, seq)."""
    return f"""SELECT subj, pred, obj FROM (
  SELECT subj, pred, obj,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY ts_micros DESC, seq DESC) AS rn
  FROM ({assertions_sql}) WHERE ts_micros <= {int(cutoff_micros)}
) WHERE rn = 1"""


def fold_asof_state(
    state: DataFrame | None,
    batch: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    ts_micros_col: str = "ts_micros",
    seq_col: str = "seq",
) -> DataFrame:
    """Incrementally maintain the last-writer-wins (subj, pred) state an
    as-of snapshot reads: fold a new assertion batch into the running
    state by keeping, per key, the assertion with the greatest
    (ts_micros, seq).

    The fold is associative and commutative (it is per-key max under a
    total order), so ANY batch arrival order reproduces the full
    recompute — fold(fold(s, b1), b2) == asof over (s ∪ b1 ∪ b2) — and
    that equality is the graded invariant (kg_asof_incremental), the
    same resumability contract as the incremental LSH / CC / MSF / CDC
    family.  Per fold: one union + one (subj, pred) aggregate with
    map-side combine; state size is bounded by live keys, not history.
    The argmax is the struct-max trick — max(struct(ts, seq, obj)) —
    no window, no shuffle beyond the key aggregate.
    """
    cols = [subj_col, pred_col, obj_col, ts_micros_col, seq_col]
    b = batch.select(*cols)
    merged = b if state is None else state.select(*cols).unionByName(b)
    packed = merged.groupBy(subj_col, pred_col).agg(
        F.max(F.struct(ts_micros_col, seq_col, obj_col)).alias("_m")
    )
    return packed.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(f"_m.{obj_col}").alias("obj"),
        F.col(f"_m.{ts_micros_col}").alias("ts_micros"),
        F.col(f"_m.{seq_col}").alias("seq"),
    )


def sql_predicate_profile(triples_sql: str) -> str:
    """DuckDB oracle for :func:`predicate_profile` over any triple SQL."""
    return f"""WITH trip AS MATERIALIZED ({triples_sql}),
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


def schema_drift(profile_old: DataFrame, profile_new: DataFrame) -> DataFrame:
    """Schema evolution report between two KG releases, from their
    vocabulary-sized predicate profiles (predicate_profile output):
    per predicate — 'added' / 'removed' / 'kept', old/new triple counts
    (0-padded), and whether the functional (sh:maxCount 1) contract
    CHANGED — the silent break that corrupts downstream
    canonicalization evidence (a property consumers treated as
    single-valued going multi-valued is the classic KG release bug).

    Scale: both inputs are predicate-vocabulary-sized, so this is a
    full-outer join of two tiny tables — the fact scans happened once
    inside the profiles.  Output: (pred, change, n_old, n_new,
    was_functional, is_functional, functional_changed).
    """
    o = profile_old.select(
        "pred",
        F.col("n_triples").alias("n_old"),
        F.col("is_functional").alias("was_functional"),
    )
    n = profile_new.select(
        "pred",
        F.col("n_triples").alias("n_new"),
        F.col("is_functional").alias("is_functional"),
    )
    j = o.join(n, "pred", "full_outer")
    return j.select(
        "pred",
        F.when(F.col("n_old").isNull(), F.lit("added"))
        .when(F.col("n_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
        .alias("change"),
        F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        F.coalesce("was_functional", F.lit(False)).alias("was_functional"),
        F.coalesce("is_functional", F.lit(False)).alias("is_functional"),
        (
            F.col("n_old").isNotNull()
            & F.col("n_new").isNotNull()
            & (F.col("was_functional") != F.col("is_functional"))
        ).alias("functional_changed"),
    )


def sql_schema_drift(old_triples_sql: str, new_triples_sql: str) -> str:
    """DuckDB oracle: profile both releases, full-outer join, classify."""
    po = sql_predicate_profile(old_triples_sql)
    pn = sql_predicate_profile(new_triples_sql)
    return f"""WITH po AS MATERIALIZED ({po}),
pn AS MATERIALIZED ({pn}),
j AS (
  SELECT coalesce(po.pred, pn.pred) AS pred,
         po.n_triples AS n_old_raw, pn.n_triples AS n_new_raw,
         po.is_functional AS was_f_raw, pn.is_functional AS is_f_raw
  FROM po FULL OUTER JOIN pn ON po.pred = pn.pred
)
SELECT pred,
       CASE WHEN n_old_raw IS NULL THEN 'added'
            WHEN n_new_raw IS NULL THEN 'removed'
            ELSE 'kept' END AS change,
       CAST(coalesce(n_old_raw, 0) AS BIGINT) AS n_old,
       CAST(coalesce(n_new_raw, 0) AS BIGINT) AS n_new,
       coalesce(was_f_raw, false) AS was_functional,
       coalesce(is_f_raw, false) AS is_functional,
       (n_old_raw IS NOT NULL AND n_new_raw IS NOT NULL
        AND was_f_raw <> is_f_raw) AS functional_changed
FROM j"""


def from_ntriples(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse N-Triples lines back to (subj, pred, obj, obj_is_literal,
    obj_datatype) — the ingest inverse of :func:`to_ntriples`, so
    re-crawled / exported graphs round-trip: parse(serialize(T))
    normalizes T to absolute-IRI form losslessly (the round-trip IS the
    graded contract, kg_ntriples_roundtrip).

    Pure regexp_extract + replace chains — one codegen projection, no
    UDF, no shuffle; the patterns avoid every Java-vs-RE2 divergence
    (no backreferences, no lookaround).  Literal unescaping inverts the
    ECHAR chain with a sentinel for double-backslash (chr(1), which
    cannot appear in N-Triples literals — the grammar forbids raw
    control characters).  Plain literals get NULL obj_datatype (RDF 1.1
    folds xsd:string into plain).  Malformed lines are DROPPED (the
    subject/predicate/object extraction comes back empty), surfacing as
    a count delta, not a crash.
    """
    line = F.col(line_col)
    pat = r"^(\S+) (\S+) (.*) \.$"
    t = lines.select(
        F.regexp_extract(line, pat, 1).alias("s_t"),
        F.regexp_extract(line, pat, 2).alias("p_t"),
        F.regexp_extract(line, pat, 3).alias("o_t"),
    ).where((F.col("s_t") != "") & (F.col("p_t") != "") & (F.col("o_t") != ""))

    def strip_iri(c):
        return F.when(
            c.startswith("<"), F.substr(c, F.lit(2), F.length(c) - 2)
        ).otherwise(c)

    lit_pat = r'^"(.*)"(?:\^\^<([^>]*)>)?$'
    body = F.regexp_extract(F.col("o_t"), lit_pat, 1)
    dt = F.regexp_extract(F.col("o_t"), lit_pat, 2)
    sent = "\x01"
    unescaped = body
    unescaped = F.replace(unescaped, F.lit("\\\\"), F.lit(sent))
    unescaped = F.replace(unescaped, F.lit('\\"'), F.lit('"'))
    unescaped = F.replace(unescaped, F.lit("\\n"), F.lit("\n"))
    unescaped = F.replace(unescaped, F.lit("\\r"), F.lit("\r"))
    unescaped = F.replace(unescaped, F.lit("\\t"), F.lit("\t"))
    unescaped = F.replace(unescaped, F.lit(sent), F.lit("\\"))
    is_lit = F.col("o_t").startswith('"')
    return t.select(
        strip_iri(F.col("s_t")).alias("subj"),
        strip_iri(F.col("p_t")).alias("pred"),
        F.when(is_lit, unescaped).otherwise(strip_iri(F.col("o_t"))).alias("obj"),
        is_lit.alias("obj_is_literal"),
        F.when(is_lit & (dt != ""), dt).otherwise(F.lit(None).cast("string")).alias(
            "obj_datatype"
        ),
    )


def void_description(
    triples: DataFrame,
    dataset_iri: str = "_:dataset",
    type_pred: str = "rdf:type",
) -> DataFrame:
    """W3C VoID dataset description, emitted AS TRIPLES: overall
    void:triples / void:distinctSubjects / void:distinctObjects /
    void:properties / void:classes, one void:propertyPartition node per
    predicate (with its void:triples count) and one void:classPartition
    node per class (with its void:entities count) — the metadata a
    SPARQL endpoint publishes so clients can plan federated queries.

    All counts are exact integers stringified into the object position
    (VoID uses xsd:integer literals); partition node IRIs are
    deterministic ('<dataset>/prop/<pred>').  Three partial-combined
    aggregates over one scan lineage; output is vocabulary-sized.
    """
    t = triples.select("subj", "pred", "obj")
    ds = F.lit(dataset_iri)
    overall = t.agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
        F.countDistinct("pred").alias("n_pred"),
        F.countDistinct(
            F.when(F.col("pred") == type_pred, F.col("obj"))
        ).alias("n_classes"),
    )
    overall_triples = overall.select(
        F.explode(
            F.array(
                F.struct(ds.alias("subj"), F.lit("void:triples").alias("pred"),
                         F.col("n_triples").cast("string").alias("obj")),
                F.struct(ds.alias("subj"), F.lit("void:distinctSubjects").alias("pred"),
                         F.col("n_subj").cast("string").alias("obj")),
                F.struct(ds.alias("subj"), F.lit("void:distinctObjects").alias("pred"),
                         F.col("n_obj").cast("string").alias("obj")),
                F.struct(ds.alias("subj"), F.lit("void:properties").alias("pred"),
                         F.col("n_pred").cast("string").alias("obj")),
                F.struct(ds.alias("subj"), F.lit("void:classes").alias("pred"),
                         F.col("n_classes").cast("string").alias("obj")),
            )
        ).alias("t")
    ).select("t.subj", "t.pred", "t.obj")
    pp = t.groupBy("pred").agg(F.count(F.lit(1)).alias("n"))
    pp_node = F.concat(ds, F.lit("/prop/"), F.col("pred"))
    prop_triples = (
        pp.select(
            F.explode(
                F.array(
                    F.struct(ds.alias("subj"), F.lit("void:propertyPartition").alias("pred"),
                             pp_node.alias("obj")),
                    F.struct(pp_node.alias("subj"), F.lit("void:property").alias("pred"),
                             F.col("pred").alias("obj")),
                    F.struct(pp_node.alias("subj"), F.lit("void:triples").alias("pred"),
                             F.col("n").cast("string").alias("obj")),
                )
            ).alias("t")
        ).select("t.subj", "t.pred", "t.obj")
    )
    cp = (
        t.where(F.col("pred") == type_pred)
        .groupBy(F.col("obj").alias("cls"))
        .agg(F.countDistinct("subj").alias("n"))
    )
    cp_node = F.concat(ds, F.lit("/class/"), F.col("cls"))
    class_triples = (
        cp.select(
            F.explode(
                F.array(
                    F.struct(ds.alias("subj"), F.lit("void:classPartition").alias("pred"),
                             cp_node.alias("obj")),
                    F.struct(cp_node.alias("subj"), F.lit("void:class").alias("pred"),
                             F.col("cls").alias("obj")),
                    F.struct(cp_node.alias("subj"), F.lit("void:entities").alias("pred"),
                             F.col("n").cast("string").alias("obj")),
                )
            ).alias("t")
        ).select("t.subj", "t.pred", "t.obj")
    )
    return overall_triples.unionByName(prop_triples).unionByName(class_triples)


def sql_void_description(
    triples_sql: str,
    dataset_iri: str = "_:dataset",
    type_pred: str = "rdf:type",
) -> str:
    """DuckDB oracle for :func:`void_description`."""
    ds = f"'{dataset_iri}'"
    return f"""WITH t AS MATERIALIZED ({triples_sql}),
overall AS (
  SELECT count(*) AS n_triples,
         count(DISTINCT subj) AS n_subj, count(DISTINCT obj) AS n_obj,
         count(DISTINCT pred) AS n_pred,
         count(DISTINCT CASE WHEN pred = '{type_pred}' THEN obj END) AS n_classes
  FROM t
),
pp AS (SELECT pred, count(*) AS n FROM t GROUP BY pred),
cp AS (SELECT obj AS cls, count(DISTINCT subj) AS n FROM t
       WHERE pred = '{type_pred}' GROUP BY obj)
SELECT {ds} AS subj, 'void:triples' AS pred, CAST(n_triples AS VARCHAR) AS obj FROM overall
UNION ALL SELECT {ds}, 'void:distinctSubjects', CAST(n_subj AS VARCHAR) FROM overall
UNION ALL SELECT {ds}, 'void:distinctObjects', CAST(n_obj AS VARCHAR) FROM overall
UNION ALL SELECT {ds}, 'void:properties', CAST(n_pred AS VARCHAR) FROM overall
UNION ALL SELECT {ds}, 'void:classes', CAST(n_classes AS VARCHAR) FROM overall
UNION ALL SELECT {ds}, 'void:propertyPartition', {ds} || '/prop/' || pred FROM pp
UNION ALL SELECT {ds} || '/prop/' || pred, 'void:property', pred FROM pp
UNION ALL SELECT {ds} || '/prop/' || pred, 'void:triples', CAST(n AS VARCHAR) FROM pp
UNION ALL SELECT {ds}, 'void:classPartition', {ds} || '/class/' || cls FROM cp
UNION ALL SELECT {ds} || '/class/' || cls, 'void:class', cls FROM cp
UNION ALL SELECT {ds} || '/class/' || cls, 'void:entities', CAST(n AS VARCHAR) FROM cp"""


def shacl_induction(
    triples: DataFrame,
    type_pred: str = "rdf:type",
    min_count_coverage_ppm: int = 1_000_000,
) -> DataFrame:
    """SHACL shape INDUCTION from instance data, emitted as shape
    triples: for every (class, predicate) pair observed on the class's
    instances — a sh:property node with sh:path, sh:minCount 1 when
    coverage reaches ``min_count_coverage_ppm`` (default: every
    instance carries the predicate), and sh:maxCount 1 when no
    instance repeats it.  The statistics-to-constraints direction the
    reference only consumes (RdfModel validates hand-written shapes,
    kgforge/specializations/models/rdf_model.py); inducing them from
    data is how those shapes get written at KG scale.

    Shapes: (shape:<cls>, sh:targetClass, <cls>) plus per-pair
    (shape:<cls>, sh:property, prop:<cls>|<pred>), (prop node, sh:path,
    pred), optional min/max-count triples.  Coverage is exact integer
    ppm.  Two aggregates over the typed-instance join; output is
    schema-sized.
    """
    types = triples.where(F.col("pred") == type_pred).select(
        F.col("subj").alias("inst"), F.col("obj").alias("cls")
    ).distinct()
    cls_sizes = types.groupBy("cls").agg(F.count(F.lit(1)).alias("n_inst"))
    facts = triples.where(F.col("pred") != type_pred).select(
        F.col("subj").alias("inst"), "pred"
    )
    per_inst = facts.join(types, "inst").groupBy("cls", "pred", "inst").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_pair = per_inst.groupBy("cls", "pred").agg(
        F.count(F.lit(1)).alias("n_with"),
        F.max("n").alias("max_per_inst"),
    ).join(cls_sizes, "cls")
    shape_node = F.concat(F.lit("shape:"), F.col("cls"))
    prop_node = F.concat(F.lit("prop:"), F.col("cls"), F.lit("|"), F.col("pred"))
    target = cls_sizes.select(
        F.concat(F.lit("shape:"), F.col("cls")).alias("subj"),
        F.lit("sh:targetClass").alias("pred"),
        F.col("cls").alias("obj"),
    )
    pairs = per_pair.select(
        "cls", "pred", "n_with", "max_per_inst", "n_inst",
        shape_node.alias("shape"), prop_node.alias("prop"),
    )
    base = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("shape").alias("subj"), F.lit("sh:property").alias("pred"),
                         F.col("prop").alias("obj")),
                F.struct(F.col("prop").alias("subj"), F.lit("sh:path").alias("pred"),
                         F.col("pred").alias("obj")),
            )
        ).alias("t")
    ).select("t.subj", "t.pred", "t.obj")
    mins = pairs.where(
        F.expr(f"(n_with * 1000000) DIV n_inst >= {int(min_count_coverage_ppm)}")
    ).select(
        F.col("prop").alias("subj"), F.lit("sh:minCount").alias("pred"),
        F.lit("1").alias("obj"),
    )
    maxs = pairs.where(F.col("max_per_inst") == 1).select(
        F.col("prop").alias("subj"), F.lit("sh:maxCount").alias("pred"),
        F.lit("1").alias("obj"),
    )
    return target.unionByName(base).unionByName(mins).unionByName(maxs)


def sql_shacl_induction(
    triples_sql: str,
    type_pred: str = "rdf:type",
    min_count_coverage_ppm: int = 1_000_000,
) -> str:
    """DuckDB oracle for :func:`shacl_induction`."""
    return f"""WITH t AS MATERIALIZED ({triples_sql}),
types AS (
  SELECT DISTINCT subj AS inst, obj AS cls FROM t WHERE pred = '{type_pred}'
),
cls_sizes AS (SELECT cls, count(*) AS n_inst FROM types GROUP BY cls),
per_inst AS (
  SELECT ty.cls, f.pred, f.subj AS inst, count(*) AS n
  FROM t f JOIN types ty ON f.subj = ty.inst
  WHERE f.pred <> '{type_pred}'
  GROUP BY ty.cls, f.pred, f.subj
),
per_pair AS (
  SELECT p.cls, p.pred, count(*) AS n_with, max(p.n) AS max_per_inst, s.n_inst
  FROM per_inst p JOIN cls_sizes s ON p.cls = s.cls
  GROUP BY p.cls, p.pred, s.n_inst
)
SELECT 'shape:' || cls AS subj, 'sh:targetClass' AS pred, cls AS obj FROM cls_sizes
UNION ALL
SELECT 'shape:' || cls, 'sh:property', 'prop:' || cls || '|' || pred FROM per_pair
UNION ALL
SELECT 'prop:' || cls || '|' || pred, 'sh:path', pred FROM per_pair
UNION ALL
SELECT 'prop:' || cls || '|' || pred, 'sh:minCount', '1' FROM per_pair
WHERE (n_with * 1000000) // n_inst >= {int(min_count_coverage_ppm)}
UNION ALL
SELECT 'prop:' || cls || '|' || pred, 'sh:maxCount', '1' FROM per_pair
WHERE max_per_inst = 1"""


def temporal_functional_conflicts(
    intervals: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    start_col: str = "start_us",
    end_col: str = "end_us",
) -> DataFrame:
    """Functional-at-every-instant audit for interval-stamped
    assertions: a predicate declared functional must never carry two
    DIFFERENT objects with overlapping validity — the temporal
    upgrade of the snapshot-level functional_violations above, and
    the integrity check an SCD2/asof fact table needs before
    point-in-time joins are trusted.

    Exact without any self-join: same-object intervals are coalesced
    FIRST (operators/history.py interval_coalesce per (subj, pred,
    obj) — after which same-object intervals are disjoint by
    construction), so ANY remaining overlap within a (subj, pred)
    group must involve two different objects.  Overlap detection is
    then two window passes over one (subj, pred) Exchange+Sort:
    backward (start < running max of prior ends) and forward (end >
    running min of following starts), so BOTH sides of every
    conflicting pair are flagged.  Half-open [start, end) semantics —
    touching intervals do not conflict.

    Output: the coalesced rows with a conflict flag — (subj, pred,
    obj, start_us, end_us, conflict).
    """
    from pyspark.sql import Window

    from nexus_forge_spark.operators.history import interval_coalesce

    merged = interval_coalesce(
        intervals.select(subj_col, pred_col, obj_col, start_col, end_col),
        [subj_col, pred_col, obj_col],
        start_col,
        end_col,
    ).drop("n_merged")
    w = Window.partitionBy(subj_col, pred_col).orderBy(
        F.col(start_col), F.col(end_col), F.col(obj_col)
    )
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_min_start = F.min(start_col).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    return merged.select(
        subj_col,
        pred_col,
        obj_col,
        F.col(start_col).cast("long").alias(start_col),
        F.col(end_col).cast("long").alias(end_col),
        (
            (prev_max_end.isNotNull() & (F.col(start_col) < prev_max_end))
            | (next_min_start.isNotNull() & (F.col(end_col) > next_min_start))
        ).alias("conflict"),
    )


def sql_temporal_functional_conflicts(
    source_sql: str,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    start_col: str = "start_us",
    end_col: str = "end_us",
) -> str:
    """DuckDB oracle for :func:`temporal_functional_conflicts`."""
    from nexus_forge_spark.operators.history import sql_interval_coalesce

    merged = sql_interval_coalesce(
        source_sql, [subj_col, pred_col, obj_col], start_col, end_col
    )
    return f"""WITH merged AS MATERIALIZED (
  SELECT {subj_col}, {pred_col}, {obj_col}, {start_col}, {end_col}
  FROM ({merged})
)
SELECT {subj_col}, {pred_col}, {obj_col},
       CAST({start_col} AS BIGINT) AS {start_col},
       CAST({end_col} AS BIGINT) AS {end_col},
       (coalesce({start_col} < max({end_col}) OVER (
          PARTITION BY {subj_col}, {pred_col}
          ORDER BY {start_col}, {end_col}, {obj_col}
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), false)
        OR coalesce({end_col} > min({start_col}) OVER (
          PARTITION BY {subj_col}, {pred_col}
          ORDER BY {start_col}, {end_col}, {obj_col}
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), false))
       AS conflict
FROM merged"""
