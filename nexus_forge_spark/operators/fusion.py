"""Claim fusion for KG construction: truth discovery over conflicting
multi-source claims, and instance-based property alignment between two
graph releases.

The reference's construction loop takes whatever each source asserts
(forge.map output is per-source; kgforge/core/forge.py map/register) and
leaves conflicts to the store.  At 10^12-document scale the same entity
attribute arrives from many extractors/sources with disagreeing values —
fusing them needs source-reliability weighting (TruthFinder/Latent-
Credibility family, Yin et al. KDD'07 — public algorithm, re-derived
here as integer fixed-point so Spark and any oracle engine agree
bit-for-bit).

Scale shape: every round is two hash aggregates (per-source agreement,
per-(entity,value) weight sum) + one argmax — all map-side combinable,
keyed on source resp. entity, no windows, no driver collection — and
one eager checkpoint job that pins the round's consensus.  Claims
are first reduced to distinct (source, entity, value), so repeated
assertions by one source count once (a spammy source cannot vote twice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexus_forge_spark.functions.itermetrics import iterate

PPM = 1_000_000


def _consensus(weighted: DataFrame) -> DataFrame:
    """(entity, value, w) -> one winner per entity: max weight, then the
    lexicographically smallest value (deterministic tie-break).  Two hash
    aggregates — the struct-max trick keeps it window-free: max on
    (w, NEG(value)) would need numeric values, so instead take max(w)
    then min(value) among rows attaining it."""
    best = weighted.groupBy("entity").agg(F.max("w").alias("w"))
    return (
        weighted.join(best, ["entity", "w"])
        .groupBy("entity", "w")
        .agg(F.min("value").alias("value"))
        .select("entity", "value", F.col("w").alias("support"))
    )


def truth_discovery(claims: DataFrame, rounds: int = 2) -> DataFrame:
    """claims(source, entity, value) -> (entity, value, support_ppm,
    n_sources, n_values, changed) after ``rounds`` reliability iterations.

    Round 0: consensus = per-entity majority of distinct source votes
    (weight 1e6 per source).  Each later round: source reliability =
    ppm share of the source's claims that agree with the current
    consensus; new consensus = per-entity argmax of summed source
    reliabilities.  All arithmetic is integer ppm (BIGINT) — engine-exact.
    ``changed`` flags entities whose winner differs from the round-0
    majority (the iteration's added signal); ``n_sources``/``n_values``
    are per-entity claim stats.
    """
    c = claims.select("source", "entity", "value").distinct().localCheckpoint(
        eager=False
    )
    votes0 = c.groupBy("entity", "value").agg(
        (F.count(F.lit(1)) * PPM).alias("w")
    )
    consensus0 = _consensus(votes0).localCheckpoint(eager=False)

    def reweigh(consensus: DataFrame, rnd) -> DataFrame:
        agree = (
            c.join(
                consensus.select("entity", F.col("value").alias("win")), "entity"
            )
            .groupBy("source")
            .agg(
                F.sum(F.when(F.col("value") == F.col("win"), 1).otherwise(0)).alias(
                    "n_agree"
                ),
                F.count(F.lit(1)).alias("n_claims"),
            )
            .select(
                "source",
                # integer DIV, not double-divide-then-cast: floor semantics
                # must match the oracle's `//` bit-for-bit at any magnitude
                F.expr(f"(n_agree * {PPM}) DIV n_claims").alias("rel_ppm"),
            )
        )
        weighted = (
            c.join(agree, "source")
            .groupBy("entity", "value")
            .agg(F.sum("rel_ppm").alias("w"))
        )
        return rnd.checkpoint(_consensus(weighted))

    consensus = iterate(reweigh, consensus0, rounds)
    stats = c.groupBy("entity").agg(
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("value").alias("n_values"),
    )
    return (
        consensus.join(stats, "entity")
        .join(consensus0.select("entity", F.col("value").alias("maj_value")), "entity")
        .select(
            "entity",
            "value",
            F.col("support").cast("long").alias("support_ppm"),
            F.col("n_sources").cast("long").alias("n_sources"),
            F.col("n_values").cast("long").alias("n_values"),
            (F.col("value") != F.col("maj_value")).alias("changed"),
        )
    )


def sql_truth_discovery(claims_sql: str, rounds: int = 2) -> str:
    """DuckDB oracle: the identical recurrence unrolled to MATERIALIZED
    CTEs.  claims_sql -> (source, entity, value)."""
    consensus_tpl = """{name} AS MATERIALIZED (
  SELECT entity, min(value) AS value, w AS support FROM (
    SELECT entity, value, w, max(w) OVER (PARTITION BY entity) AS mw
    FROM {votes}
  ) WHERE w = mw GROUP BY entity, w
)"""
    ctes = [
        f"c AS MATERIALIZED (SELECT DISTINCT source, entity, value FROM ({claims_sql}))",
        f"votes0 AS (SELECT entity, value, count(*) * {PPM} AS w FROM c GROUP BY entity, value)",
        consensus_tpl.format(name="cons0", votes="votes0"),
    ]
    prev = "cons0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"""agree{r} AS MATERIALIZED (
  SELECT source,
    CAST(sum(CASE WHEN c.value = p.value THEN 1 ELSE 0 END) * {PPM} // count(*) AS BIGINT) AS rel_ppm
  FROM c JOIN {prev} p USING (entity) GROUP BY source
)"""
        )
        ctes.append(
            f"""votes{r} AS (
  SELECT entity, value, sum(rel_ppm) AS w
  FROM c JOIN agree{r} USING (source) GROUP BY entity, value
)"""
        )
        ctes.append(consensus_tpl.format(name=f"cons{r}", votes=f"votes{r}"))
        prev = f"cons{r}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
stats AS (
  SELECT entity, count(DISTINCT source) AS n_sources,
         count(DISTINCT value) AS n_values
  FROM c GROUP BY entity
)
SELECT f.entity, f.value, CAST(f.support AS BIGINT) AS support_ppm,
       CAST(s.n_sources AS BIGINT) AS n_sources,
       CAST(s.n_values AS BIGINT) AS n_values,
       f.value <> m.value AS changed
FROM {prev} f JOIN stats s ON f.entity = s.entity
JOIN cons0 m ON f.entity = m.entity"""
    )


def align_properties(
    left: DataFrame, right: DataFrame, min_overlap: int = 2
) -> DataFrame:
    """Instance-based schema matching between two triple releases:
    property pairs scored by Jaccard of their (subj, obj) instance sets,
    in integer ppm.

    Candidates come from an equi-join on the (subj, obj) pair — property
    pairs sharing zero instances never meet (no all-pairs blowup; the
    join key is the instance pair, so the shuffle is keyed on data, not
    on the property cross product).  Complements er.align_releases,
    which matches by LABEL similarity; this matches by EXTENSION —
    renamed predicates with identical instance data score 1e6.
    """
    l = left.select(
        F.col("pred").alias("pred_l"), "subj", "obj"
    ).distinct()
    r = right.select(
        F.col("pred").alias("pred_r"), "subj", "obj"
    ).distinct()
    inter = (
        l.join(r, ["subj", "obj"])
        .groupBy("pred_l", "pred_r")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .where(F.col("n_inter") >= min_overlap)
    )
    nl = l.groupBy("pred_l").agg(F.count(F.lit(1)).alias("n_l"))
    nr = r.groupBy("pred_r").agg(F.count(F.lit(1)).alias("n_r"))
    return (
        inter.join(nl, "pred_l")
        .join(nr, "pred_r")
        .select(
            "pred_l",
            "pred_r",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_l").cast("long").alias("n_l"),
            F.col("n_r").cast("long").alias("n_r"),
            F.expr(f"(n_inter * {PPM}) DIV (n_l + n_r - n_inter)").alias(
                "jaccard_ppm"
            ),
        )
    )


def sql_align_properties(left_sql: str, right_sql: str, min_overlap: int = 2) -> str:
    """DuckDB oracle for align_properties.  Each side -> (subj, pred, obj)."""
    return f"""WITH l AS MATERIALIZED (SELECT DISTINCT pred AS pred_l, subj, obj FROM ({left_sql})),
r AS MATERIALIZED (SELECT DISTINCT pred AS pred_r, subj, obj FROM ({right_sql})),
inter AS (
  SELECT pred_l, pred_r, count(*) AS n_inter
  FROM l JOIN r USING (subj, obj) GROUP BY pred_l, pred_r
  HAVING count(*) >= {min_overlap}
),
nl AS (SELECT pred_l, count(*) AS n_l FROM l GROUP BY pred_l),
nr AS (SELECT pred_r, count(*) AS n_r FROM r GROUP BY pred_r)
SELECT i.pred_l, i.pred_r, CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(nl.n_l AS BIGINT) AS n_l, CAST(nr.n_r AS BIGINT) AS n_r,
       CAST(i.n_inter * {PPM} // (nl.n_l + nr.n_r - i.n_inter) AS BIGINT) AS jaccard_ppm
FROM inter i JOIN nl USING (pred_l) JOIN nr USING (pred_r)"""
