"""Mention extraction: documents -> candidate mentions.

Reference analogue: ``forge.resolve`` is called per free-text value pulled
out of a Resource property (kgforge/core/archetypes/resolver.py:74-103);
the set-oriented version extracts *all* candidate mentions from every text
span in one pass: explode spans, filter kind='text', emit unigram + bigram
token windows as candidates.  All native Column exprs — stays inside
whole-stage codegen, no Python in the hot path.

Mention identity: (doc_id, span_idx, tok_idx, n) where span_idx is the span
``offset`` (array order == offset order per the input invariant) and tok_idx
the 0-based token position inside the span.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _candidates(tokens: Column, max_n: int = 2) -> Column:
    """array<string> tokens -> array<struct<tok_idx,n,mention>> of unigram..max_n-gram windows."""
    parts = [
        F.transform(
            tokens,
            lambda w, i: F.struct(
                i.cast("int").alias("tok_idx"), F.lit(1).alias("n"), w.alias("mention")
            ),
        )
    ]
    def ngram_lambda(n: int):
        # NB: a plain `lambda i, n=n` would be treated by F.transform as the
        # two-arg (element, index) form and bind the array index to n.
        def fn(i: Column) -> Column:
            return F.struct(
                i.cast("int").alias("tok_idx"),
                F.lit(n).alias("n"),
                F.array_join(F.slice(tokens, i + 1, n), " ").alias("mention"),
            )

        return fn

    for n in range(2, max_n + 1):
        parts.append(
            F.when(
                F.size(tokens) >= n,
                F.transform(F.sequence(F.lit(0), F.size(tokens) - n), ngram_lambda(n)),
            ).otherwise(F.array().cast("array<struct<tok_idx:int,n:int,mention:string>>")
            )
        )
    return F.concat(*parts)


def _gram_strings(tokens: Column, max_n: int = 2) -> Column:
    """array<string> tokens -> array<string> of unigram..max_n-gram windows.

    The string-only sibling of _candidates for consumers that never read the
    (tok_idx, n) position fields: no struct wrapping, and each n-gram is a
    direct concat of token slots (F.get) instead of slice+array_join — far
    fewer allocations per exploded row, which matters because the explode
    stages are the memory-bandwidth-bound hot path of construct_kg."""
    parts = [tokens]

    def gram_fn(n: int):
        # NB: factory to keep the lambda single-arg (see ngram_lambda above).
        def fn(i: Column) -> Column:
            return F.concat_ws(" ", *[F.get(tokens, i + j) for j in range(n)])

        return fn

    for n in range(2, max_n + 1):
        parts.append(
            F.when(
                F.size(tokens) >= n,
                F.transform(F.sequence(F.lit(0), F.size(tokens) - n), gram_fn(n)),
            ).otherwise(F.array().cast("array<string>"))
        )
    return F.concat(*parts)


def extract_mention_occurrences(documents: DataFrame, max_n: int = 2) -> DataFrame:
    """Interleaved documents -> narrow (doc_id, mention) occurrence stream.

    For plans that only need doc-level mention presence — construct_kg
    dedups annotations on (doc_id, entity_id), so span/token positions are
    dead columns there.  Same candidate set as extract_mentions projected to
    (doc_id, mention), with repeated mentions within a span collapsed
    map-side (array_distinct before the explode) so duplicates never
    become rows at all.  Still zero-shuffle."""
    spans = documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).where(F.col("span.kind") == "text")
    toks = spans.select(
        "doc_id", F.split(F.col("span.text"), " ").alias("tokens")
    )
    grams = F.array_distinct(_gram_strings(F.col("tokens"), max_n))
    return toks.select("doc_id", F.explode(grams).alias("mention"))


def extract_mentions(documents: DataFrame, max_n: int = 2) -> DataFrame:
    """Interleaved documents(doc_id, spans) -> mentions.

    Plan shape: scan -> generate(explode spans) -> filter(kind='text') ->
    generate(explode token windows).  No shuffle at all — mention extraction
    is map-side, so it scales linearly with input splits.
    """
    spans = documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).where(F.col("span.kind") == "text")
    toks = spans.select(
        "doc_id",
        F.col("span.offset").alias("span_idx"),
        F.split(F.col("span.text"), " ").alias("tokens"),
    )
    return toks.select(
        "doc_id",
        "span_idx",
        F.explode(_candidates(F.col("tokens"), max_n)).alias("c"),
    ).select(
        "doc_id",
        "span_idx",
        F.col("c.tok_idx").alias("tok_idx"),
        F.col("c.n").alias("n"),
        F.col("c.mention").alias("mention"),
    )


def mentions_from_flat(flat_docs: DataFrame, max_n: int = 2) -> DataFrame:
    """Driver-testdata flat documents(doc_id bigint, text) -> mentions with
    span_idx=0 and tok_idx = token position in the whole text (the
    DuckDB-oracle-checkable variant)."""
    toks = flat_docs.select("doc_id", F.split(F.col("text"), " ").alias("tokens"))
    return toks.select(
        "doc_id", F.explode(_candidates(F.col("tokens"), max_n)).alias("c")
    ).select(
        "doc_id",
        F.lit(0).alias("span_idx"),
        F.col("c.tok_idx").alias("tok_idx"),
        F.col("c.n").alias("n"),
        F.col("c.mention").alias("mention"),
    )


def mention_contexts(
    resolved: DataFrame,
    documents: DataFrame,
    window: int = 3,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Relation-extraction / KGE training-example generation: for every
    RESOLVED mention, slice the +-``window``-token context around it —
    the (left context, mention, right context, entity) examples a
    distant-supervision RE trainer or entity-disambiguation model
    consumes.  The natural consumer of the resolver's output: resolve
    links mentions to entities; this packages the evidence.

    ``resolved`` needs (doc_id, tok_idx, n, mention, entity_id) — the
    resolver output shape.  Context never crosses the document boundary
    (clamped slices, no padding).

    Scale posture: one join of the resolved table onto the tokenized
    documents (shuffle on doc_id — co-partitioned with every other
    doc-keyed stage), then pure map-side array slices; no explode, no
    per-token shuffle, output rows == resolved mentions.
    """
    toks = documents.select(
        F.col(doc_col),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__toks"),
    )
    j = resolved.join(toks, doc_col)
    i = F.col("tok_idx")
    left_start = F.greatest(i - window + 1, F.lit(1))
    left = F.slice(F.col("__toks"), left_start, i + 1 - left_start)
    right = F.slice(
        F.col("__toks"),
        i + F.col("n") + 1,
        F.least(
            F.lit(window),
            F.greatest(F.size("__toks") - (i + F.col("n")), F.lit(0)),
        ),
    )
    return j.select(
        doc_col,
        "tok_idx",
        "n",
        "mention",
        "entity_id",
        F.array_join(left, " ").alias("left_context"),
        F.array_join(right, " ").alias("right_context"),
    )
