"""Conversions: Resource-struct <-> triples / flat DataFrame / JSON-LD keys.

Reference: kgforge/core/conversions/ — ``as_graph`` explodes a Resource into
rdflib triples via expanded JSON-LD (rdf.py:275-312), ``as_dataframe``
flattens to dot-named columns (dataframe.py:25-48), ``from_dataframe``
deflattens (dataframe.py:51-108), JSON-LD context maps terms to IRIs
(commons/context.py:22-71).

Spark-first re-expression:
* struct_to_triples — ONE generated array column per row holding all the
  row's triples, then a single explode.  Nested structs become skolem
  subjects (md5 of parent subject + path: deterministic, unlike rdflib
  bnode ids — SURVEY.md §4.6); arrays emit one triple per element.
* triples_to_resources — groupBy(subj) + collect_list reassembly (the
  CONSTRUCT-result path, sparql_query_builder.py:204-238).
* expand/compact — broadcast-free driver-side context application (contexts
  are small dicts; column names are plan metadata, not data).
* flatten/deflatten — dotted column select / struct regrouping.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

XSD = {
    T.StringType: "xsd:string",
    T.BooleanType: "xsd:boolean",
    T.IntegerType: "xsd:integer",
    T.LongType: "xsd:integer",
    T.ShortType: "xsd:integer",
    T.DoubleType: "xsd:double",
    T.FloatType: "xsd:float",
    T.DateType: "xsd:date",
    T.TimestampType: "xsd:dateTime",
}

TRIPLE_STRUCT = "struct<subj:string,pred:string,obj:string,obj_is_literal:boolean,obj_datatype:string>"


def _xsd_of(dtype: T.DataType) -> str | None:
    return XSD.get(type(dtype))


def expand_term(term: str, context: dict | None) -> str:
    """JSON-LD-ish term expansion: context term -> IRI; 'prefix:local' ->
    IRI via prefix entry; else unchanged (commons/context.py:22-71)."""
    if not context:
        return term
    v = context.get(term)
    if isinstance(v, dict):
        v = v.get("@id")
    if isinstance(v, str):
        return v
    if ":" in term:
        prefix, local = term.split(":", 1)
        base = context.get(prefix)
        if isinstance(base, str):
            return base + local
    return term


def _triple(subj: Column, pred: str, obj: Column, literal: bool, datatype: str | None) -> Column:
    return F.struct(
        subj.alias("subj"),
        F.lit(pred).alias("pred"),
        obj.cast("string").alias("obj"),
        F.lit(literal).alias("obj_is_literal"),
        F.lit(datatype).cast("string").alias("obj_datatype"),
    )


def _node_triples(
    subj: Column,
    node: Column,
    schema: T.StructType,
    context: dict | None,
    path: str,
    id_field: str,
    type_field: str,
) -> list[Column]:
    """All triples of one (possibly nested) struct node, as array columns to
    be concatenated.  Each returned Column is array<TRIPLE_STRUCT>."""
    parts: list[Column] = []
    empty = F.array().cast(f"array<{TRIPLE_STRUCT}>")

    def arr(one: Column, guard: Column) -> Column:
        return F.when(guard, F.array(one)).otherwise(empty)

    for field in schema.fields:
        name = field.name
        if name.startswith("_"):
            continue  # store metadata rides outside the graph (json.py:45-50)
        col = node.getField(name) if node is not None else F.col(f"`{name}`")
        if name == id_field:
            continue  # subject, not a property
        pred = expand_term(name, context)
        dtype = field.dataType
        if name == type_field:
            # rdf:type; object IRIs expand through the context (values of
            # @type:'@id' terms expand in as_jsonld — rdf.py:199-272)
            def expand_obj(e: Column) -> Column:
                if not context:
                    return e
                pairs = [
                    (k, v if isinstance(v, str) else v.get("@id"))
                    for k, v in context.items()
                    if isinstance(v, str) or (isinstance(v, dict) and v.get("@id"))
                ]
                if not pairs:
                    return e
                m = F.create_map(*[F.lit(x) for kv in pairs for x in kv])
                return F.coalesce(m[e], e)

            if isinstance(dtype, T.ArrayType):
                parts.append(
                    F.when(
                        col.isNotNull(),
                        F.transform(
                            col, lambda e: _triple(subj, "rdf:type", expand_obj(e), False, None)
                        ),
                    ).otherwise(empty)
                )
            else:
                parts.append(
                    arr(_triple(subj, "rdf:type", expand_obj(col), False, None), col.isNotNull())
                )
            continue
        if isinstance(dtype, T.StructType):
            child_subj = F.concat(F.lit("_:"), F.md5(F.concat(subj, F.lit(f"/{path}{name}"))))
            child_id = (
                col.getField(id_field)
                if id_field in dtype.fieldNames()
                else F.lit(None).cast("string")
            )
            eff_subj = F.coalesce(child_id, child_subj)
            parts.append(arr(_triple(subj, pred, eff_subj, False, None), col.isNotNull()))
            child_parts = _node_triples(
                eff_subj, col, dtype, context, f"{path}{name}.", id_field, type_field
            )
            for cp in child_parts:
                parts.append(F.when(col.isNotNull(), cp).otherwise(empty))
        elif isinstance(dtype, T.ArrayType):
            elem = dtype.elementType
            if isinstance(elem, T.StructType):
                def elem_triples(e: Column, i: Column) -> Column:
                    e_subj_skolem = F.concat(
                        F.lit("_:"),
                        F.md5(F.concat(subj, F.lit(f"/{path}{name}/"), i.cast("string"))),
                    )
                    e_id = (
                        e.getField(id_field)
                        if id_field in elem.fieldNames()
                        else F.lit(None).cast("string")
                    )
                    e_subj = F.coalesce(e_id, e_subj_skolem)
                    inner = _node_triples(
                        e_subj, e, elem, context, f"{path}{name}[]", id_field, type_field
                    )
                    combined = F.concat(
                        F.array(_triple(subj, pred, e_subj, False, None)), *inner
                    ) if inner else F.array(_triple(subj, pred, e_subj, False, None))
                    return combined

                parts.append(
                    F.when(
                        col.isNotNull(), F.flatten(F.transform(col, elem_triples))
                    ).otherwise(empty)
                )
            else:
                dt = _xsd_of(elem)
                parts.append(
                    F.when(
                        col.isNotNull(),
                        F.transform(col, lambda e: _triple(subj, pred, e, True, dt)),
                    ).otherwise(empty)
                )
        else:
            dt = _xsd_of(dtype)
            parts.append(arr(_triple(subj, pred, col, True, dt), col.isNotNull()))
    return parts


def struct_to_triples(
    df: DataFrame,
    id_col: str = "id",
    type_col: str = "type",
    context: dict | None = None,
) -> DataFrame:
    """Generic Resource-tree -> (subj, pred, obj, obj_is_literal, obj_datatype).

    The whole row's triples are built as one array column and exploded once —
    map-side until the final dedup shuffle (graph set semantics, required for
    parity with rdflib.Graph — SURVEY.md §2.6)."""
    subj = F.col(id_col).cast("string")
    parts = _node_triples(subj, None, df.schema, context, "", id_col, type_col)
    all_triples = F.concat(*parts) if parts else F.array()
    out = df.select(F.explode(all_triples).alias("t")).select(
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        F.col("t.obj_is_literal").alias("obj_is_literal"),
        F.col("t.obj_datatype").alias("obj_datatype"),
    )
    return out.dropDuplicates(["subj", "pred", "obj"])


def triples_to_resources(triples: DataFrame) -> DataFrame:
    """Group-by-subject reassembly (CONSTRUCT-result -> resources,
    sparql_query_builder.py:204-238): one row per subject with its rdf:type
    values and a pred->values map."""
    props = (
        triples.groupBy("subj", "pred")
        .agg(F.sort_array(F.collect_list("obj")).alias("objs"))
        .groupBy("subj")
        .agg(F.map_from_entries(F.sort_array(F.collect_list(F.struct("pred", "objs")))).alias("properties"))
    )
    return props.select(
        "subj",
        F.coalesce(F.col("properties")["rdf:type"], F.array().cast("array<string>")).alias("types"),
        "properties",
    )


# ------------------------------------------------------------- flat <-> tree

def flatten(df: DataFrame, sep: str = ".") -> DataFrame:
    """as_dataframe: nested structs -> dot-named scalar columns, depth-first
    field order (conversions/dataframe.py:25-48)."""
    cols: list[Column] = []

    def walk(prefix: str, col: Column, dtype: T.DataType) -> None:
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                walk(f"{prefix}{sep}{f.name}", col.getField(f.name), f.dataType)
        else:
            cols.append(col.alias(prefix))

    for f in df.schema.fields:
        walk(f.name, F.col(f"`{f.name}`"), f.dataType)
    return df.select(*cols)


def deflatten(df: DataFrame, sep: str = ".") -> DataFrame:
    """from_dataframe: dotted columns -> nested structs
    (conversions/dataframe.py:51-108).  Mixed nesting (a scalar column named
    'x' next to 'x.y') is an error, as in the reference."""
    tree: dict = {}
    for name in df.columns:
        parts = name.split(sep)
        node = tree
        for p in parts[:-1]:
            node = node.setdefault(p, {})
            if not isinstance(node, dict):
                raise ValueError(f"mixed nesting at {name!r}")
        if parts[-1] in node and isinstance(node[parts[-1]], dict):
            raise ValueError(f"mixed nesting at {name!r}")
        node[parts[-1]] = name

    def build(node, prefix: str = "") -> list[Column]:
        out = []
        for k, v in node.items():
            if isinstance(v, dict):
                out.append(F.struct(*build(v)).alias(k))
            else:
                out.append(F.col(f"`{v}`").alias(k))
        return out

    return df.select(*build(tree))


# ------------------------------------------------------- JSON-LD contexts
#
# The context is a small driver-side dict; every per-VALUE rewrite it
# implies (IRI<->curie, curie->IRI) is generated as a bounded chain of
# Column expressions — all JVM-side, nothing per-row in Python.  Key
# renames are pure schema operations (plan metadata).


def _context_entries(context: dict | None) -> dict[str, str]:
    """term -> @id string (expanded-term dicts collapse to their @id)."""
    if not context:
        return {}
    ctx = context.get("@context", context)
    out = {}
    for k, v in ctx.items():
        if k.startswith("@"):
            continue
        if isinstance(v, dict):
            v = v.get("@id")
        if isinstance(v, str):
            out[k] = v
    return out


def _prefix_map(context: dict | None) -> dict[str, str]:
    """prefix -> namespace IRI (string-valued entries ending in / or #)."""
    return {
        k: v
        for k, v in _context_entries(context).items()
        if v.endswith(("/", "#")) and "://" in v
    }


def expand_iri(term: str, context: dict | None) -> str:
    """term/curie -> full IRI via the context (Context.expand semantics,
    commons/context.py): term definitions chase until fixpoint, then a
    known prefix expands, then @vocab applies to bare names."""
    entries = _context_entries(context)
    ctx = (context or {}).get("@context", context or {})
    seen = set()
    while term in entries and term not in seen:
        seen.add(term)
        term = entries[term]
    if "://" in term:
        return term
    if ":" in term:
        pfx, local = term.split(":", 1)
        if pfx in entries:
            return expand_iri(pfx, context) + local
    vocab = ctx.get("@vocab") if isinstance(ctx, dict) else None
    if vocab and ":" not in term:
        return vocab + term
    return term


def _id_typed_terms(context: dict | None) -> set[str]:
    """Terms declared {"@type": "@id"} — their string values are IRIs."""
    if not context:
        return set()
    ctx = context.get("@context", context)
    return {
        k
        for k, v in ctx.items()
        if isinstance(v, dict) and v.get("@type") == "@id"
    }


def _term_datatype(context: dict | None, term: str) -> str | None:
    """Expanded datatype IRI of a term's @type (non-@id), if declared."""
    if not context:
        return None
    ctx = context.get("@context", context)
    v = ctx.get(term)
    if isinstance(v, dict):
        t = v.get("@type")
        if t and t != "@id":
            return expand_iri(t, context)
    return None


def _list_terms(context: dict | None) -> set[str]:
    """Terms declared {"@container": "@list"} — their values expand to the
    ordered-list form [{"@list": [...]}]."""
    if not context:
        return set()
    ctx = context.get("@context", context)
    return {
        k
        for k, v in ctx.items()
        if isinstance(v, dict) and v.get("@container") == "@list"
    }


_LANG_UNSET = object()


def _term_language(context: dict | None, term: str):
    """Effective @language for a term's string literals: a term-level
    "@language" wins (null cancels), else the context root default, else
    None.  Returns None when no language tagging applies."""
    if not context:
        return None
    ctx = context.get("@context", context)
    v = ctx.get(term)
    if isinstance(v, dict) and "@language" in v:
        return v["@language"]  # may be None (explicit cancel)
    if isinstance(v, dict) and v.get("@type") is not None:
        return None  # typed literals never carry @language
    root = ctx.get("@language", _LANG_UNSET)
    return None if root is _LANG_UNSET else root


def shrink_iri_col(col: Column, context: dict | None) -> Column:
    """Full IRI -> curie via the longest matching prefix namespace
    (Context.shrink_iri, used by _remove_ld_keys for @id-typed terms,
    rdf.py:519-522).  Chained when() over the bounded prefix map."""
    # shortest namespace first: the LAST when() built is the OUTERMOST
    # branch, so the longest (most specific) prefix must be built last
    prefixes = sorted(_prefix_map(context).items(), key=lambda kv: len(kv[1]))
    out = col
    for pfx, ns in prefixes:
        hit = col.startswith(ns)
        out = F.when(hit & col.isNotNull(),
                     F.concat(F.lit(pfx + ":"), F.substring(col, len(ns) + 1, 2**30))
                     ).otherwise(out)
    return out


def resolve_iri_col(col: Column, context: dict | None) -> Column:
    """curie / relative id -> full IRI (_resolve_iri via Context.resolve,
    rdf.py:470-487): absolute IRIs pass through, known-prefix curies
    expand, bare names resolve against @base (else @vocab)."""
    entries = _prefix_map(context)
    ctx = (context or {}).get("@context", context or {})
    base = ctx.get("@base") if isinstance(ctx, dict) else None
    vocab = ctx.get("@vocab") if isinstance(ctx, dict) else None
    out = col
    if base or vocab:
        out = F.when(
            col.isNotNull() & ~col.contains(":"),
            F.concat(F.lit(base or vocab), col),
        ).otherwise(out)
    for pfx, ns in sorted(entries.items(), key=lambda kv: -len(kv[0])):
        out = F.when(
            col.startswith(pfx + ":"),
            F.concat(F.lit(expand_iri(pfx, context)), F.substring(col, len(pfx) + 2, 2**30)),
        ).otherwise(out)
    return F.when(col.contains("://"), col).otherwise(out)


def _rewrite_node(
    col: Column | None,
    dtype: T.DataType,
    direction: str,
    context: dict | None,
    field_name: str | None = None,
) -> Column:
    """Recursive id/type <-> @id/@type key rewrite + @id-typed value
    shrink/resolve over an arbitrarily nested struct/array column."""
    add = direction == "add"
    key_map = {"id": "@id", "type": "@type"} if add else {"@id": "id", "@type": "type"}
    id_terms = _id_typed_terms(context)
    if isinstance(dtype, T.StructType):
        fields = []
        for f in dtype.fields:
            child = _rewrite_node(
                col.getField(f.name), f.dataType, direction, context, f.name
            )
            fields.append(child.alias(key_map.get(f.name, f.name)))
        return F.struct(*fields)
    if isinstance(dtype, T.ArrayType):
        return F.transform(
            col, lambda x: _rewrite_node(x, dtype.elementType, direction, context, field_name)
        )
    if isinstance(dtype, T.StringType):
        if not add and field_name in ("@id",):
            return resolve_iri_col(col, context)  # _remove_ld_keys @id resolve
        if not add and field_name in id_terms:
            return shrink_iri_col(col, context)  # @id-typed term compaction
        return col
    return col


def apply_ld_keys(
    df: DataFrame, direction: str = "add", context: dict | None = None
) -> DataFrame:
    """Compacted JSON-LD key rewriting at EVERY nesting level: id/type <->
    @id/@type through structs and arrays (rdf.py:61-89 _add_ld_keys /
    :489-527 _remove_ld_keys).  With a context, direction='remove' also
    resolves @id values to full IRIs and shrinks @id-typed term values to
    curies, matching _resolve_iri / shrink_iri."""
    add = direction == "add"
    key_map = {"id": "@id", "type": "@type"} if add else {"@id": "id", "@type": "type"}
    id_terms = _id_typed_terms(context)
    cols = []
    for f in df.schema.fields:
        col = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.StructType, T.ArrayType)):
            col = _rewrite_node(col, f.dataType, direction, context, f.name)
        elif isinstance(f.dataType, T.StringType):
            if not add and f.name == "@id":
                col = resolve_iri_col(col, context)
            elif not add and f.name in id_terms:
                col = shrink_iri_col(col, context)
        cols.append(col.alias(key_map.get(f.name, f.name)))
    return df.select(*cols)


def as_jsonld_expanded(
    df: DataFrame, context: dict | None, out_col: str = "jsonld"
) -> DataFrame:
    """Expanded JSON-LD form as one JSON string per row (as_jsonld
    form='expanded', rdf.py:199-272 via pyld jsonld.expand):

    * property keys expand to full IRIs,
    * literal values wrap as [{"@value": v}] (plus the term's expanded
      @type datatype when declared),
    * @id-typed term values wrap as [{"@id": <resolved iri>}],
    * nested structs/arrays expand recursively,
    * id -> "@id" (kept verbatim), type -> "@type": [expanded IRIs],
    * {"@container": "@list"} terms keep order as [{"@list": [...]}],
    * string literals of terms with an effective @language (term-level
      or context-root default; term-level null cancels) expand to
      {"@language": lang, "@value": v}.

    The whole document is ONE generated nested-struct expression fed to
    to_json — per-row work is entirely JVM-side; null fields drop like
    pyld omits absent properties."""
    id_terms = _id_typed_terms(context)

    def expand_obj(col: Column | None, schema: T.StructType) -> Column:
        fields: list[Column] = []
        for f in sorted(schema.fields, key=lambda x: x.name):
            name = f.name
            if name.startswith("_"):
                continue
            child = col.getField(name) if col is not None else F.col(f"`{name}`")
            if name in ("id", "@id"):
                fields.append(child.alias("@id"))
                continue
            if name in ("type", "@type"):
                if isinstance(f.dataType, T.ArrayType):
                    types = F.transform(
                        child, lambda t: _expand_iri_col(t, context)
                    )
                else:
                    types = F.array(_expand_iri_col(child, context))
                fields.append(types.alias("@type"))
                continue
            key = expand_iri(name, context)
            fields.append(expand_value(child, f.dataType, name).alias(key))
        return F.struct(*fields)

    list_terms = _list_terms(context)

    def expand_value(child: Column, dtype: T.DataType, term: str) -> Column:
        if term in list_terms:
            if isinstance(dtype, T.ArrayType):
                inner = F.transform(
                    child, lambda x: _one_value(x, dtype.elementType, term)
                )
            else:
                inner = F.array(_one_value(child, dtype, term))
            return F.array(F.struct(inner.alias("@list")))
        if isinstance(dtype, T.StructType):
            return F.array(expand_obj(child, dtype))
        if isinstance(dtype, T.ArrayType):
            return F.transform(
                child, lambda x: _one_value(x, dtype.elementType, term)
            )
        return F.array(_one_value(child, dtype, term))

    def _one_value(child: Column, dtype: T.DataType, term: str) -> Column:
        if isinstance(dtype, T.StructType):
            return expand_obj(child, dtype)
        if term in id_terms:
            return F.struct(resolve_iri_col(child, context).alias("@id"))
        dt = _term_datatype(context, term)
        if dt:
            # native JSON value rides through unchanged (pyld keeps the
            # author's literal; only the @type annotation is added)
            return F.struct(F.lit(dt).alias("@type"), child.alias("@value"))
        lang = _term_language(context, term)
        if lang and isinstance(dtype, T.StringType):
            # alphabetical field order (@language < @value) matches the
            # sorted-key serialization the goldens use
            return F.struct(
                F.lit(lang).alias("@language"), child.alias("@value")
            )
        return F.struct(child.alias("@value"))

    doc = expand_obj(None, df.schema)
    return df.select(F.to_json(doc).alias(out_col))


def _expand_iri_col(col: Column, context: dict | None) -> Column:
    """Column version of expand_iri: chained when() over the bounded set of
    context terms + prefixes (type-object IRIs are data, not metadata)."""
    entries = _context_entries(context)
    out = col
    # term definitions first (one chase step materialized; contexts in the
    # fixture corpus are one level deep after _context_entries collapses)
    for term, _v in entries.items():
        out = F.when(col == term, F.lit(expand_iri(term, context))).otherwise(out)
    for pfx, _ns in sorted(_prefix_map(context).items(), key=lambda kv: -len(kv[0])):
        out = F.when(
            col.startswith(pfx + ":"),
            F.concat(F.lit(expand_iri(pfx, context)), F.substring(col, len(pfx) + 2, 2**30)),
        ).otherwise(out)
    return out
