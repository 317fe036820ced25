"""End-to-end KG construction plan: documents -> mentions -> resolve ->
triples, the Spark re-expression of the reference's
map -> resolve -> validate -> register loop (SURVEY.md §3).

Mentions resolve through the reference's strategy ladder, "try
EXACT_MATCH, fall back to BEST_MATCH" (e.g. the Example.hjson ternary with
resolve fallback), in ONE scan of the corpus: ``resolve_ladder_inline``
joins the occurrence stream against a broadcast index that already holds
each key's best exact and best fuzzy candidate.  The index over an
in-memory dictionary (the default ontology alias table is one) is frozen:
built once per session and dictionary into ``LocalRelation``s, so a
repeated call broadcasts it without re-running its aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexus_forge_spark import dims
from nexus_forge_spark.operators import mentions as M
from nexus_forge_spark.operators import resolve as R
from nexus_forge_spark.operators import triples as T


def construct_kg(
    documents: DataFrame,
    alias_table: DataFrame | None = None,
) -> DataFrame:
    """Interleaved documents -> deduplicated annotation + media triples."""
    spark = documents.sparkSession
    if alias_table is None:
        alias_table = R.build_alias_table(
            dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS
        )

    # NOTE on two measured non-wins (BENCH.md "Round-2 pipeline probes"):
    # (a) a lossless alias-trigram prefilter on the mention stream: this
    #     synthetic corpus draws its text FROM the dictionary vocabulary,
    #     so it dropped only 33% and measured wall-neutral — and the inline
    #     ladder's broadcast inner join on the substring index already drops
    #     every n-gram that matches no alias in the same map-side stage;
    # (b) checkpointing the mention stream to avoid the double explode
    #     (vocab branch + join-back branch): materializing 42M rows costs
    #     MORE than re-running the map-side explode (25.4s -> 32.0s at
    #     local[8]) — recompute beats spill for cheap map-side lineage.
    # Narrow occurrence stream: the annotation output dedups on
    # (doc_id, entity_id), so token/span positions are dead columns — the
    # string-only extractor halves the bytes materialized per exploded row
    # (no position structs, concat_ws n-grams instead of slice+array_join,
    # per-span array_distinct before the explode).
    occ = M.extract_mention_occurrences(documents)
    # ONE corpus scan, ZERO corpus-side aggregation: the ladder argmin
    # is pre-reduced into the broadcast index (fuzzy-best per substring
    # key, exact-best per verbatim alias), so the corpus side is two
    # broadcast hash joins + a projection (resolve_ladder_inline).
    # Replaces the round-1 shape (distinct-vocab branch + NLJ ladder +
    # join-back, 2x corpus scans) and the mid-round-2 packed-min
    # per-(doc,mention) aggregate (~20s reduce time at 1M docs).  The
    # dim here is broadcast-sized; at a 10^6-term dictionary switch to
    # resolve_ladder_blocked (trigram blocking).
    resolved = R.resolve_ladder_inline(occ, alias_table, keys=["doc_id", "mention"])

    # graph set semantics, enforced BEFORE string materialization: the two
    # stages emit disjoint predicates, and within a stage (subj,pred,obj) is
    # 1:1 with the narrow key — so dedup shuffles (doc_id, id) longs/shorts
    # instead of 2x as many fully-built triple strings, and the final
    # dropDuplicates pass disappears.
    ann = resolved.select("doc_id", "entity_id").dropDuplicates(["doc_id", "entity_id"])
    return T.resolved_to_triples(ann).unionByName(
        T.media_to_triples(documents, dedup=True)
    )


def write_triples(triples: DataFrame, path: str, partitions: int | None = None) -> None:
    """Materialize to parquet partitioned by predicate; on a cluster this is
    an Iceberg `writeTo(...).append()` — predicate partitioning gives
    partition pruning for per-predicate consumers."""
    out = triples
    if partitions:
        out = out.repartitionByRange(partitions, "doc_id")
    out.write.mode("overwrite").partitionBy("stage").parquet(path)
