"""Ontology-structure operators: subClassOf transitive closure, instance
rollup up the class hierarchy, and rdf:first/rdf:rest list flattening.

The reference ships class hierarchies in its resolver fixtures (demo
resolver targets carry a ``subClassOf`` field, tests/data/demo-resolver/
*.json; our embedded dims mirror it, nexus_forge_spark/dims.py
ONTOLOGY_ROWS) and its RDF service materializes rdflib graphs where
containers arrive as rdf:first/rdf:rest cons chains
(kgforge/specializations/stores/nexus/service.py json-ld handling).  It
never *computes* over the hierarchy at scale — these operators add the
batch semantics a KG-construction pipeline needs: RDFS entailment-style
ancestor closure (rdfs11 subClassOf transitivity) and ordered list
reassembly.

Scale design: both closures are ITERATIVE-DOUBLING joins — depth-d
hierarchies and length-L lists converge in O(log) rounds, not d/L
rounds; each round joins on the hop node, with ``localCheckpoint``
truncating lineage.  The pair closures (:func:`transitive_closure`,
:func:`transitive_closure_incremental`, :func:`owl_transitive_entail`)
share one doubling loop, :func:`_close_by_doubling`.  Each pair carries
its shortest hop count, and the loop stops once the longest one falls
short of twice the previous round's: floor(log2 d) + 1 rounds, with no
trailing round that adds nothing unless d is a power of two.  The
checkpoint job itself observes that bound, the pair count and the
state's bytes, so no round pays a separate count job, and a state that
fits the broadcast threshold is broadcast as the next round's hop side
instead of shuffling both join sides.
Ontology class universes are 10^2..10^6 rows (always broadcastable
against a 10^12-instance fact side), and rdf lists cost O(L log L) rows
via Wyllie list ranking — never an O(L^2) pair closure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexus_forge_spark.functions.itermetrics import (
    checkpoint_observed,
    iterate,
    unchanged,
)


class ClosureError(RuntimeError):
    """Transitive closure did not converge within max_rounds."""


def _row_bytes(df: DataFrame) -> Column:
    """A row's payload bytes: ``octet_length`` of each string or binary
    column, the type's fixed width for the others."""
    fixed, var = 0, []
    for f in df._jdf.schema().fields():
        t = f.dataType()
        if t.typeName().startswith("string") or t.typeName() == "binary":
            var.append(F.coalesce(F.octet_length(F.col(f.name())), F.lit(0)))
        else:
            fixed += t.defaultSize()
    return sum(var, F.lit(fixed))


def _close_by_doubling(
    seed: DataFrame,
    op: str,
    max_rounds: int,
    src: str = "node",
    dst: str = "anc",
    keys: tuple[str, ...] = (),
    irreflexive: bool = True,
) -> DataFrame:
    """Iterative doubling reach_{k+1} = reach_k UNION (reach_k JOIN
    reach_k ON (keys, dst = src)) from ``seed``'s (src, keys, dst) pairs,
    dropping src = dst pairs when ``irreflexive``.

    Each pair carries ``_d``, the fewest seed pairs found to chain it
    (``min`` in place of ``distinct``), so after round i reach holds
    exactly the pairs at most 2^(i+1) seed hops apart, each with its
    shortest hop count.  A prefix of a shortest path is a shortest path,
    so a pair farther apart implies one exactly 2^(i+1) apart: once the
    longest ``_d`` falls short of twice the previous round's, reach is
    closed (per key, and for cycles too).  A depth-L input so stops after
    floor(log2 L) + 1 rounds; an unchanged pair count (empty input) also
    stops.  Each round is one checkpoint job that also observes the pair
    count, the longest ``_d`` and the state's payload bytes; the next
    round broadcasts its hop side when those bytes fit the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (a checkpoint's size
    estimate is that of its lazy plan, a self-join's product, so the
    planner alone would shuffle both sides).  Raises ClosureError past
    max_rounds."""
    limit = seed.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    cols = [src, *keys, dst]

    def shortest(df: DataFrame) -> DataFrame:
        df = df.where(F.col(src) != F.col(dst)) if irreflexive else df
        return df.groupBy(*cols).agg(F.min("_d").alias("_d"))

    start = shortest(seed.select(*cols, F.lit(1).alias("_d")))
    seen_aggs = {
        "pairs": F.count(F.lit(1)),
        "longest": F.max("_d"),
        "bytes": F.sum(_row_bytes(start)),
    }

    def double(reach: DataFrame, rnd) -> DataFrame:
        hop = reach.select(*keys, F.col(src).alias("_j"), dst, F.col("_d").alias("_h"))
        if (rnd.prev["bytes"] or 0) <= limit:  # -1: never
            hop = F.broadcast(hop)
        step = reach.select(*keys, src, F.col(dst).alias("_j"), "_d").join(
            hop, [*keys, "_j"]
        )
        step = step.select(*cols, (F.col("_d") + F.col("_h")).alias("_d"))
        return rnd.checkpoint(shortest(reach.unionByName(step)), **seen_aggs)

    reach, seen = checkpoint_observed(start, **seen_aggs)
    return iterate(
        double, reach, max_rounds, prev=seen,
        until=lambda prev, cur: cur["pairs"] == prev["pairs"]
        or cur["longest"] < 2 * prev["longest"],
        error=lambda _: ClosureError(f"{op}: not converged in {max_rounds} rounds"),
        op=op, report=lambda prev, cur: {
            "pairs": cur["pairs"], "new_pairs": cur["pairs"] - prev["pairs"],
            "longest": cur["longest"],
        },
    ).drop("_d")


def transitive_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_rounds: int = 20,
) -> DataFrame:
    """(child, parent) edges -> all (node, ancestor) pairs, node <> ancestor.

    Iterative doubling: reach_{k+1} = reach_k UNION (reach_k JOIN reach_k),
    so a depth-d DAG closes in floor(log2 d) + 1 rounds: the loop stops
    once the longest shortest path found falls short of twice the previous
    round's, so the default ``max_rounds=20`` covers depth <= 2^20 - 1.  A
    cyclic input still converges (the closure of a finite graph is finite)
    and surfaces as mutual (a, b)/(b, a) ancestor pairs the caller can
    detect.  Raises ClosureError past max_rounds.
    """
    seed = edges.select(
        F.col(child_col).alias("node"), F.col(parent_col).alias("anc")
    )
    return _close_by_doubling(seed, "transitive_closure", max_rounds)


def class_rollup(
    instances: DataFrame,
    subclass: DataFrame,
    instance_col: str = "instance",
    class_col: str = "cls",
    child_col: str = "child",
    parent_col: str = "parent",
) -> DataFrame:
    """Instance counts rolled up the class hierarchy (rdfs9/rdfs11).

    instances(instance, cls) + subclass(child, parent) ->
    (cls, direct_cnt, subtree_cnt) for EVERY class in the universe
    (edge endpoints union typed classes), zero-padded.  subtree_cnt
    counts instances typed at the class or any descendant — the RDFS
    entailment "x rdf:type C, C subClassOf* D => x rdf:type D" as one
    aggregate instead of materializing entailed type triples.

    Shape: direct counts are ONE hash aggregate over the fact side; the
    closure join then touches only the (small) per-class count table,
    never re-shuffling instances — at 10^12 facts the hierarchy algebra
    costs O(classes), not O(rows).
    """
    direct = instances.groupBy(F.col(class_col).alias("cls")).agg(
        F.count(F.lit(1)).alias("direct_cnt")
    )
    closure = transitive_closure(subclass, child_col, parent_col)
    rolled = direct.join(
        closure, direct.cls == closure.node, "inner"
    ).select(F.col("anc").alias("cls"), F.col("direct_cnt"))
    subtree = (
        direct.select("cls", "direct_cnt")
        .unionByName(rolled)
        .groupBy("cls")
        .agg(F.sum("direct_cnt").alias("subtree_cnt"))
    )
    universe = (
        subclass.select(F.col(child_col).alias("cls"))
        .unionByName(subclass.select(F.col(parent_col).alias("cls")))
        .unionByName(instances.select(F.col(class_col).alias("cls")))
        .distinct()
    )
    return (
        universe.join(direct, "cls", "left")
        .join(subtree, "cls", "left")
        .select(
            "cls",
            F.coalesce("direct_cnt", F.lit(0)).cast("long").alias("direct_cnt"),
            F.coalesce("subtree_cnt", F.lit(0)).cast("long").alias("subtree_cnt"),
        )
    )


# the recursive ancestor closure of a CTE ``edges(child, parent)``, shared by
# the closure oracles (WITH RECURSIVE)
_SQL_REACH = """reach(node, anc) AS (
  SELECT child, parent FROM edges WHERE child <> parent
  UNION
  SELECT r.node, e.parent FROM reach r JOIN edges e ON r.anc = e.child
  WHERE r.node <> e.parent
)"""


def sql_class_rollup(edges_sql: str, inst_sql: str) -> str:
    """DuckDB oracle: recursive-CTE ancestor closure + the same two
    aggregates.  edges_sql -> (child, parent); inst_sql -> (instance, cls)."""
    return f"""WITH RECURSIVE edges AS MATERIALIZED ({edges_sql}),
inst AS MATERIALIZED ({inst_sql}),
{_SQL_REACH},
direct AS (SELECT cls, count(*) AS direct_cnt FROM inst GROUP BY cls),
universe AS (
  -- DISTINCT over UNION ALL, not bare UNION: inside a WITH RECURSIVE
  -- block DuckDB does NOT dedup a non-recursive CTE's UNION arms.
  SELECT DISTINCT cls FROM (
    SELECT child AS cls FROM edges UNION ALL SELECT parent FROM edges
    UNION ALL SELECT cls FROM inst
  )
),
subtree AS (
  SELECT cls, sum(direct_cnt) AS subtree_cnt FROM (
    SELECT cls, direct_cnt FROM direct
    UNION ALL
    SELECT r.anc AS cls, d.direct_cnt FROM direct d JOIN reach r ON d.cls = r.node
  ) GROUP BY cls
)
SELECT u.cls,
       CAST(coalesce(d.direct_cnt, 0) AS BIGINT) AS direct_cnt,
       CAST(coalesce(s.subtree_cnt, 0) AS BIGINT) AS subtree_cnt
FROM universe u
LEFT JOIN direct d ON u.cls = d.cls
LEFT JOIN subtree s ON u.cls = s.cls"""


def class_similarity(
    pairs: DataFrame,
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    child_col: str = "child",
    parent_col: str = "parent",
) -> DataFrame:
    """Wu-Palmer taxonomy similarity (Wu & Palmer, ACL 1994) between
    class pairs, in integer ppm — the semantic-similarity measure entity
    linkers and ontology aligners rank candidate classes with:

        wup(a, b) = 2 * depth(lca) / (depth(a) + depth(b))

    with depth(c) = |ancestors-or-self(c)| (root depth 1) — exact for
    tree-shaped taxonomies (rdfs subClassOf hierarchies here; on a DAG
    this is the ancestor-count depth variant, still deterministic), and
    lca = the deepest common ancestor-or-self.  Ties between equally
    deep common ancestors don't matter (only the DEPTH enters the
    formula), so the output is tie-order-free.

    Pairs whose endpoints are not in the hierarchy drop (inner-join
    semantics — the caller decides a default for unknown classes).

    Scale posture: the taxonomy is SCHEMA-sized, so the closure /
    ancestor-or-self / depth tables are broadcast to the pair side —
    per-pair cost is |anc(a)| rows, the pair frame never shuffles.
    Output: (a, b, d_a, d_b, d_lca, wup_ppm).
    """
    closure = transitive_closure(edges, child_col, parent_col)
    universe = (
        edges.select(F.col(child_col).alias("node"))
        .unionByName(edges.select(F.col(parent_col).alias("node")))
        .distinct()
    )
    aos = closure.unionByName(
        universe.select("node", F.col("node").alias("anc"))
    ).localCheckpoint(eager=True)
    depth = aos.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    common = pairs.join(
        F.broadcast(aos.select(F.col("node").alias(a_col), "anc")), a_col
    ).join(
        F.broadcast(aos.select(F.col("node").alias(b_col), "anc")),
        [b_col, "anc"],
    )
    lca = (
        common.join(
            F.broadcast(
                depth.select(F.col("node").alias("anc"), F.col("d").alias("dl"))
            ),
            "anc",
        )
        .groupBy(a_col, b_col)
        .agg(F.max("dl").cast("long").alias("d_lca"))
    )
    return (
        lca.join(
            F.broadcast(
                depth.select(F.col("node").alias(a_col), F.col("d").alias("d_a"))
            ),
            a_col,
        )
        .join(
            F.broadcast(
                depth.select(F.col("node").alias(b_col), F.col("d").alias("d_b"))
            ),
            b_col,
        )
        .select(
            a_col,
            b_col,
            "d_a",
            "d_b",
            "d_lca",
            F.expr("CAST(2 * d_lca * 1000000 DIV (d_a + d_b) AS BIGINT)").alias(
                "wup_ppm"
            ),
        )
    )


def sql_class_similarity(edges_sql: str, pairs_sql: str) -> str:
    """DuckDB oracle for :func:`class_similarity` — recursive-CTE
    closure, identical depth/lca/ppm algebra."""
    return f"""WITH RECURSIVE edges AS MATERIALIZED ({edges_sql}),
pairs AS MATERIALIZED ({pairs_sql}),
{_SQL_REACH},
universe AS (
  SELECT DISTINCT node FROM (
    SELECT child AS node FROM edges UNION ALL SELECT parent FROM edges
  )
),
aos AS (
  SELECT node, anc FROM reach UNION ALL SELECT node, node AS anc FROM universe
),
depth AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM aos GROUP BY node),
common AS (
  SELECT p.a, p.b, x.anc
  FROM pairs p
  JOIN aos x ON x.node = p.a
  JOIN aos y ON y.node = p.b AND y.anc = x.anc
),
lca AS (
  SELECT c.a, c.b, CAST(max(dd.d) AS BIGINT) AS d_lca
  FROM common c JOIN depth dd ON dd.node = c.anc
  GROUP BY c.a, c.b
)
SELECT l.a, l.b, da.d AS d_a, db.d AS d_b, l.d_lca,
  CAST(2 * l.d_lca * 1000000 // (da.d + db.d) AS BIGINT) AS wup_ppm
FROM lca l
JOIN depth da ON da.node = l.a
JOIN depth db ON db.node = l.b"""


def flatten_rdf_lists(
    triples: DataFrame,
    first_pred: str = "rdf:first",
    rest_pred: str = "rdf:rest",
    nil: str = "rdf:nil",
    max_rounds: int = 20,
) -> DataFrame:
    """rdf:first/rdf:rest cons chains -> (head, pos, item), pos 0-based.

    Heads are cons cells no rest-edge points to.  Positions come from
    Wyllie list ranking: a per-node jump table (2^k-th successor +
    distance, saturating at the chain end) is squared each round while a
    per-head "known positions" set doubles by shifting itself through the
    jump table.  Both sides stay O(nodes) rows per round — the full
    (src, dst) closure the previous design materialized was O(L^2) per
    list — so a length-L list costs ceil(log2 L) shuffle-join rounds and
    O(L log L) total rows.  Shared tails stay correct because every
    extension follows real successor pointers (a node in one list's
    exclusive prefix is never attributed to another head).  Cells with a
    dangling rest target (neither a cell nor nil) terminate their chain
    at that cell — malformed tails surface as a shorter list, not an
    error.
    """
    first = triples.where(F.col("pred") == first_pred).select(
        F.col("subj").alias("cell"), F.col("obj").alias("item")
    )
    rest = triples.where(
        (F.col("pred") == rest_pred) & (F.col("obj") != nil)
    ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))

    cells = first.select(F.col("cell").alias("src")).distinct()
    nodes = cells.unionByName(rest.select(F.col("dst").alias("src"))).distinct()
    jump = (
        nodes.join(rest, "src", "left")
        .select(
            "src",
            F.coalesce("dst", F.col("src")).alias("j"),
            F.when(F.col("dst").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("d"),
        )
        .localCheckpoint(eager=True)
    )
    heads = cells.join(
        rest.select(F.col("dst").alias("src")).distinct(), "src", "left_anti"
    )
    rows = F.count(F.lit(1))
    known, seen = checkpoint_observed(
        heads.select(
            F.col("src").alias("head"),
            F.col("src").alias("node"),
            F.lit(0).alias("pos"),
        ),
        rows=rows,
    )

    def extend(state: tuple, rnd) -> tuple:
        known, jump = state
        if rnd.index:  # square the jump table the previous round used
            sq = jump.select(F.col("src").alias("j"), F.col("j").alias("j2"), F.col("d").alias("d2"))
            jump = rnd.checkpoint(
                jump.join(sq, "j")
                .select("src", F.col("j2").alias("j"), (F.col("d") + F.col("d2")).alias("d"))
            )
        shifted = known.join(
            jump.select(F.col("src").alias("node"), "j", "d"), "node"
        ).select(
            "head", F.col("j").alias("node"), (F.col("pos") + F.col("d")).alias("pos")
        )
        return rnd.checkpoint(known.unionByName(shifted).distinct(), rows=rows), jump

    known, _ = iterate(
        extend, (known, jump), max_rounds, prev=seen, until=unchanged("rows"),
        error=lambda _: ClosureError(
            f"flatten_rdf_lists: not converged in {max_rounds} rounds"
        ),
    )

    return known.join(first, known.node == first.cell).select(
        F.col("head"), F.col("pos").cast("long").alias("pos"), F.col("item")
    )


def sql_flatten_rdf_lists(
    triples_sql: str,
    first_pred: str = "rdf:first",
    rest_pred: str = "rdf:rest",
    nil: str = "rdf:nil",
) -> str:
    """DuckDB oracle: a recursive walk from each head down its rest chain.
    triples_sql -> (subj, pred, obj)."""
    return f"""WITH RECURSIVE trip AS MATERIALIZED ({triples_sql}),
first_e AS (SELECT subj AS cell, obj AS item FROM trip WHERE pred = '{first_pred}'),
rest_e AS (SELECT subj AS src, obj AS dst FROM trip
           WHERE pred = '{rest_pred}' AND obj <> '{nil}'),
heads AS (
  SELECT DISTINCT cell AS head FROM first_e
  WHERE cell NOT IN (SELECT dst FROM rest_e)
),
walk(head, cell, pos) AS (
  SELECT head, head, CAST(0 AS BIGINT) FROM heads
  UNION ALL
  SELECT w.head, r.dst, w.pos + 1 FROM walk w JOIN rest_e r ON w.cell = r.src
)
SELECT w.head, w.pos, f.item
FROM walk w JOIN first_e f ON w.cell = f.cell"""


def functional_violations(
    triples: DataFrame, functional_preds: list[str]
) -> DataFrame:
    """owl:FunctionalProperty audit: subjects asserting MORE than one
    distinct object for a declared-functional predicate.

    -> (subj, pred, n_values, values) where ``values`` is the sorted
    '|'-joined distinct object list (deterministic across engines; the
    audit surfaces merge/extraction errors BEFORE canonicalization fuses
    entities on bad evidence).  ONE hash aggregate keyed on (subj, pred)
    after a predicate-pushdown filter — the functional predicate list is
    a literal IN, so the scan prunes to the audited predicates.
    """
    return (
        triples.where(F.col("pred").isin(functional_preds))
        .groupBy("subj", "pred")
        .agg(F.collect_set("obj").alias("objs"))
        .where(F.size("objs") > 1)
        .select(
            "subj",
            "pred",
            F.size("objs").cast("long").alias("n_values"),
            F.concat_ws("|", F.sort_array("objs")).alias("values"),
        )
    )


def sql_functional_violations(triples_sql: str, functional_preds: list[str]) -> str:
    """DuckDB oracle for functional_violations."""
    preds = ", ".join(f"'{p}'" for p in functional_preds)
    return f"""SELECT subj, pred,
       CAST(count(DISTINCT obj) AS BIGINT) AS n_values,
       list_aggregate(list_sort(list(DISTINCT obj)), 'string_agg', '|') AS "values"
FROM ({triples_sql})
WHERE pred IN ({preds})
GROUP BY subj, pred
HAVING count(DISTINCT obj) > 1"""


def disjoint_violations(
    types: DataFrame,
    subclass: DataFrame,
    disjoint: DataFrame,
    instance_col: str = "instance",
    class_col: str = "cls",
    child_col: str = "child",
    parent_col: str = "parent",
) -> DataFrame:
    """owl:disjointWith audit UNDER RDFS entailment: instances whose
    closure-entailed type set contains both sides of a declared-disjoint
    class pair (rdfs9/rdfs11 first, then the pairwise check — a direct
    check misses every violation expressed through subclasses).

    types(instance, cls) + subclass(child, parent) + disjoint(a, b,
    unordered) -> distinct (instance, cls_a, cls_b), cls_a < cls_b.
    Shape: the closure and disjoint tables are class-vocabulary-sized
    (broadcastable); the fact side is touched by exactly one entailment
    join and one self-join keyed on instance restricted to the (tiny)
    disjoint class set — the pre-filter keeps the self-join off the
    10^12-row typed universe.
    """
    closure = transitive_closure(subclass, child_col, parent_col)
    base = types.select(
        F.col(instance_col).alias("instance"), F.col(class_col).alias("cls")
    )
    entailed = (
        base.unionByName(
            base.join(closure, base.cls == closure.node).select(
                "instance", F.col("anc").alias("cls")
            )
        )
        .distinct()
    )
    pairs = disjoint.select(
        F.least("a", "b").alias("cls_a"), F.greatest("a", "b").alias("cls_b")
    ).distinct()
    flat = pairs.select(F.col("cls_a").alias("cls")).unionByName(
        pairs.select(F.col("cls_b").alias("cls"))
    ).distinct()
    hot = entailed.join(F.broadcast(flat), "cls")
    lhs = hot.select("instance", F.col("cls").alias("cls_a"))
    rhs = hot.select("instance", F.col("cls").alias("cls_b"))
    return (
        lhs.join(rhs, "instance")
        .join(F.broadcast(pairs), ["cls_a", "cls_b"])
        .select("instance", "cls_a", "cls_b")
        .distinct()
    )


def sql_disjoint_violations(
    types_sql: str, edges_sql: str, disjoint_sql: str
) -> str:
    """DuckDB oracle: recursive-CTE closure + the same entailment and
    pairwise joins.  types_sql -> (instance, cls); edges_sql -> (child,
    parent); disjoint_sql -> (a, b)."""
    return f"""WITH RECURSIVE edges AS MATERIALIZED ({edges_sql}),
types_t AS MATERIALIZED ({types_sql}),
{_SQL_REACH},
entailed AS (
  SELECT DISTINCT instance, cls FROM (
    SELECT instance, cls FROM types_t
    UNION ALL
    SELECT t.instance, r.anc FROM types_t t JOIN reach r ON t.cls = r.node
  )
),
pairs AS (
  SELECT DISTINCT least(a, b) AS cls_a, greatest(a, b) AS cls_b
  FROM ({disjoint_sql})
)
SELECT DISTINCT l.instance, p.cls_a, p.cls_b
FROM pairs p
JOIN entailed l ON l.cls = p.cls_a
JOIN entailed r ON r.cls = p.cls_b AND r.instance = l.instance"""


def _refine_colors(
    t: DataFrame,
    init: Column,
    edges: DataFrame,
    rounds: int,
    salt: str,
    op: str,
    refines: Column | None = None,
) -> DataFrame:
    """``rounds`` rounds of multiset color refinement, the shared loop of
    :func:`wl_colors` and :func:`bisim_summary`: every subj/obj node of
    ``t`` starts at color ``init``, and each round's new color is
    md5(color # deg:esum) over the node's ``edges(node, label, nbr)``
    rows, with esum the exact DECIMAL sum of hash60(label|nbr color).
    Nodes where ``refines`` is false keep their color.  One join, one
    hash aggregate and one checkpoint job per round; rounds record as ``op``."""
    from nexus_forge_spark.operators.sketches import hash60

    color = (
        t.select(F.col("subj").alias("node"))
        .unionByName(t.select(F.col("obj").alias("node")))
        .distinct()
        .select("node", init.alias("color"))
        .localCheckpoint(eager=False)
    )

    def refine(color: DataFrame, rnd) -> DataFrame:
        nbr_color = color.select(
            F.col("node").alias("nbr"), F.col("color").alias("nbr_color")
        )
        msig = (
            edges.join(nbr_color, "nbr")
            .select(
                "node",
                hash60(F.concat_ws("|", F.col("label"), F.col("nbr_color")), salt)
                .cast("decimal(38,0)")
                .alias("esig"),
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"), F.sum("esig").alias("esum"))
            .select(
                "node",
                F.concat_ws(
                    ":", F.col("deg").cast("string"), F.col("esum").cast("string")
                ).alias("msig"),
            )
        )
        refined = F.md5(
            F.concat(F.col("color"), F.lit("#"), F.coalesce("msig", F.lit("")))
        )
        if refines is not None:
            refined = F.when(refines, refined).otherwise(F.col("color"))
        return rnd.checkpoint(
            color.join(msig, "node", "left").select("node", refined.alias("color"))
        )

    return iterate(refine, color, rounds, op=op)


def wl_colors(
    triples: DataFrame,
    rounds: int = 3,
    bnode_prefix: str = "_:",
    freeze_named: bool = True,
) -> DataFrame:
    """Weisfeiler-Leman color refinement over the triple graph -> one
    structural signature per node: the deterministic skolemization /
    graph-canonicalization primitive (URDNA2015's hash-first-degree-quads
    idea, re-derived as k rounds of WL refinement — public algorithms).

    Blank nodes start with a UNIFORM color (their label carries no
    identity, exactly the RDF semantics); named nodes start from their
    IRI hash.  Each round rehashes every node over the MULTISET of its
    in- and out-edge contributions hash60(dir|pred|neighbor_color),
    combined as (count, exact integer sum) — a commutative multiset hash,
    so after k rounds two blank nodes share a color iff their depth-k
    neighborhood unfolds identically (up to 60-bit hash-sum collision;
    negligible for non-adversarial graphs and engine-exact on both
    sides).

    ``freeze_named`` (the default, URDNA2015's ground-term semantics):
    named nodes keep their CONSTANT IRI-hash color across rounds —
    identity flows from ground terms INTO blank nodes, never the other
    way, so an edit in one bnode island can never relabel a different
    island through a shared named hub (degree changes at nat:FR don't
    echo back into every customer).  freeze_named=False is pure WL over
    the whole graph (named nodes refine too) — the canonical-form /
    isomorphism-signature mode.

    Scale shape: one edge-table self-design — (node, dir, pred, nbr) both
    directions — then per round ONE join (neighbor color lookup, keyed on
    nbr) + ONE hash aggregate keyed on node.  The sum-combine is the
    point at 10^12 edges: it is map-side partial-aggregable and a
    10^8-degree celebrity node costs one accumulator, where the textbook
    sorted-concat multiset would collect_list a multi-GB string on one
    executor.  The sum is exact DECIMAL(38,0)/HUGEINT (no float, no
    overflow below 10^20 edges per node x 2^60).  rounds is a small
    constant (diameter of the bnode islands, 2-4 in practice), and each
    round's colors are pinned by one eager checkpoint job
    (:func:`_refine_colors`).  No windows, no driver state.
    """
    t = triples.select("subj", "pred", "obj")
    bnode = F.col("node").startswith(bnode_prefix)
    # label = dir|pred: the hashed label|nbr_color is dir|pred|nbr_color
    edges = t.select(
        F.col("subj").alias("node"),
        F.concat_ws("|", F.lit("o"), "pred").alias("label"),
        F.col("obj").alias("nbr"),
    ).unionByName(
        t.select(
            F.col("obj").alias("node"),
            F.concat_ws("|", F.lit("i"), "pred").alias("label"),
            F.col("subj").alias("nbr"),
        )
    )
    if freeze_named:
        # frozen nodes never consume their multiset — drop their
        # contributions up front: the 10^5-degree named hub (st:F,
        # part:4711) costs ZERO aggregate work per round instead of
        # re-summing its whole neighborhood for a color that can't change
        edges = edges.where(bnode)
    return _refine_colors(
        t,
        F.when(bnode, F.md5(F.lit(""))).otherwise(F.md5(F.col("node"))),
        edges.localCheckpoint(eager=False),
        rounds,
        "wl",
        "wl_colors",
        bnode if freeze_named else None,
    )


def skolemize_bnodes(
    triples: DataFrame, rounds: int = 3, bnode_prefix: str = "_:"
) -> DataFrame:
    """Blank node -> deterministic skolem IRI 'sk:<wl color>'.  Two bnodes
    with identical depth-``rounds`` structure receive the SAME skolem IRI
    (structural dedup across documents/engines/runs); named nodes pass
    through.  -> (node, skolem)."""
    colors = wl_colors(triples, rounds=rounds, bnode_prefix=bnode_prefix)
    return colors.select(
        "node",
        F.when(
            F.col("node").startswith(bnode_prefix),
            F.concat(F.lit("sk:"), F.col("color")),
        )
        .otherwise(F.col("node"))
        .alias("skolem"),
    )


def _sql_refine_colors(
    init: str, edges: str, rounds: int, salt: str, refines: str | None = None
) -> str:
    """DuckDB twin of :func:`_refine_colors`: CTEs ``nodes``, ``c0`` (color
    ``init`` of every subj/obj of a CTE ``t``) and the ``rounds`` refined
    colorings c1..c{rounds} over the (node, label, nbr) relation ``edges``."""
    from nexus_forge_spark.operators.sketches import sql_hash60

    esig = sql_hash60("e.label || '|' || c.color", salt)
    refined = "md5(p.color || '#' || coalesce(a.msig, ''))"
    if refines is not None:
        refined = f"CASE WHEN {refines} THEN {refined} ELSE p.color END"
    ctes = [
        """nodes AS (
  SELECT DISTINCT node FROM (
    SELECT subj AS node FROM t UNION ALL SELECT obj FROM t
  )
)""",
        f"c0 AS (SELECT node, {init} AS color FROM nodes)",
    ]
    for k in range(rounds):
        ctes.append(f"""c{k + 1} AS MATERIALIZED (
  SELECT p.node, {refined} AS color
  FROM c{k} p LEFT JOIN (
    SELECT e.node,
           CAST(count(*) AS VARCHAR) || ':' ||
           CAST(sum(CAST({esig} AS HUGEINT)) AS VARCHAR) AS msig
    FROM {edges} e JOIN c{k} c ON e.nbr = c.node
    GROUP BY e.node
  ) a ON p.node = a.node
)""")
    return ",\n".join(ctes)


def sql_wl_colors(
    triples_sql: str,
    rounds: int = 3,
    bnode_prefix: str = "_:",
    freeze_named: bool = True,
) -> str:
    """DuckDB oracle: the identical refinement unrolled to ``rounds``
    chained CTEs ((count, hash-sum) multiset combine)."""
    bnode = f"starts_with(node, '{bnode_prefix}')"
    return f"""WITH t AS MATERIALIZED (SELECT subj, pred, obj FROM ({triples_sql})),
edges AS MATERIALIZED (
  SELECT * FROM (
    SELECT subj AS node, 'o|' || pred AS label, obj AS nbr FROM t
    UNION ALL
    SELECT obj, 'i|' || pred, subj FROM t
  ) {"WHERE " + bnode if freeze_named else ""}
),
{_sql_refine_colors(
    f"CASE WHEN {bnode} THEN md5('') ELSE md5(node) END",
    "edges",
    rounds,
    "wl",
    "starts_with(p.node, '" + bnode_prefix + "')" if freeze_named else None,
)}
SELECT node, color FROM c{rounds}"""


def mine_disjointness(
    types: DataFrame,
    min_support: int = 10,
    max_overlap_ppm: int = 0,
    instance_col: str = "instance",
    class_col: str = "cls",
) -> DataFrame:
    """Negative-constraint mining: propose owl:disjointWith candidates
    from instance data (the discovery inverse of disjoint_violations;
    Völker/Niepert's statistical schema induction, public method,
    re-derived as integer-ppm dataflow).

    A class pair (A, B) is a candidate when both have >= min_support
    instances and their observed co-typing rate is <= max_overlap_ppm of
    the SMALLER class (0 = strictly never co-typed; a small tolerance
    absorbs extraction noise in real KGs).  -> (cls_a, cls_b, n_a, n_b,
    n_overlap, overlap_ppm), cls_a < cls_b.

    Shape: per-class counts are ONE fact-side hash agg; observed overlaps
    come from an instance-keyed self-join whose fan-out is bounded by
    types-per-instance squared (single digits), NEVER class-pair count;
    the candidate grid itself is built from the class-COUNT table
    (vocabulary-sized, broadcast cross join after the support filter) so
    unobserved pairs cost zero fact-side work.  Callers with 10^5+
    qualifying classes should raise min_support — the grid is
    O(classes^2) rows of counts, not of instances.
    """
    base = types.select(
        F.col(instance_col).alias("instance"), F.col(class_col).alias("cls")
    ).distinct()
    counts = base.groupBy("cls").agg(F.count(F.lit(1)).alias("n")).where(
        F.col("n") >= F.lit(min_support)
    )
    lhs = base.select("instance", F.col("cls").alias("cls_a"))
    rhs = base.select("instance", F.col("cls").alias("cls_b"))
    overlap = (
        lhs.join(rhs, "instance")
        .where(F.col("cls_a") < F.col("cls_b"))
        .groupBy("cls_a", "cls_b")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    ca = counts.select(F.col("cls").alias("cls_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("cls").alias("cls_b"), F.col("n").alias("n_b"))
    grid = ca.crossJoin(F.broadcast(cb)).where(F.col("cls_a") < F.col("cls_b"))
    return (
        grid.join(overlap, ["cls_a", "cls_b"], "left")
        .select(
            "cls_a",
            "cls_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.expr(
                "coalesce(n_overlap, 0) * 1000000 DIV least(n_a, n_b)"
            ).cast("long").alias("overlap_ppm"),
        )
        .where(F.col("overlap_ppm") <= F.lit(max_overlap_ppm))
    )


def sql_mine_disjointness(
    types_sql: str, min_support: int = 10, max_overlap_ppm: int = 0
) -> str:
    """DuckDB oracle for mine_disjointness."""
    return f"""WITH base AS MATERIALIZED (
  SELECT DISTINCT instance, cls FROM ({types_sql})
),
counts AS (
  SELECT cls, count(*) AS n FROM base GROUP BY cls HAVING count(*) >= {min_support}
),
overlap AS (
  SELECT l.cls AS cls_a, r.cls AS cls_b, count(*) AS n_overlap
  FROM base l JOIN base r ON l.instance = r.instance AND l.cls < r.cls
  GROUP BY l.cls, r.cls
)
SELECT g.cls_a, g.cls_b,
       CAST(g.n_a AS BIGINT) AS n_a, CAST(g.n_b AS BIGINT) AS n_b,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(coalesce(o.n_overlap, 0) * 1000000 // least(g.n_a, g.n_b) AS BIGINT)
         AS overlap_ppm
FROM (
  SELECT a.cls AS cls_a, b.cls AS cls_b, a.n AS n_a, b.n AS n_b
  FROM counts a JOIN counts b ON a.cls < b.cls
) g
LEFT JOIN overlap o ON g.cls_a = o.cls_a AND g.cls_b = o.cls_b
WHERE coalesce(o.n_overlap, 0) * 1000000 // least(g.n_a, g.n_b) <= {max_overlap_ppm}"""


def diff_bnode_invariant(
    old: DataFrame, new: DataFrame, rounds: int = 3, bnode_prefix: str = "_:"
) -> DataFrame:
    """Graph diff UP TO BLANK-NODE RENAMING: skolemize both snapshots with
    WL colors, rewrite each triple through its own skolem map, then set-
    diff (triples.triple_diff's one-shuffle presence aggregate).

    A plain diff of two rdflib serializations reports EVERY bnode-touching
    triple as changed whenever the serializer re-labels (_:b0 today is
    _:b17 tomorrow) — at re-crawl scale that drowns the real delta.  WL
    skolem IRIs depend only on depth-``rounds`` structure, so re-labeled
    but structurally identical islands cancel and the diff carries the
    REAL changes (plus, for a changed island, its relabeled neighborhood
    up to the WL horizon — the honest resolution limit of a k-round
    refinement).  Output: (subj, pred, obj, change) over skolemized terms.
    """
    rewritten = []
    for g in (old, new):
        sk = skolemize_bnodes(g, rounds=rounds, bnode_prefix=bnode_prefix)
        s_map = sk.select(F.col("node").alias("subj"), F.col("skolem").alias("_ssk"))
        o_map = sk.select(F.col("node").alias("obj"), F.col("skolem").alias("_osk"))
        rewritten.append(
            g.join(s_map, "subj")
            .join(o_map, "obj")
            .select(
                F.col("_ssk").alias("subj"),
                "pred",
                F.col("_osk").alias("obj"),
            )
        )
    from nexus_forge_spark.operators.triples import triple_diff

    return triple_diff(rewritten[0], rewritten[1])


def sql_diff_bnode_invariant(
    old_sql: str, new_sql: str, rounds: int = 3, bnode_prefix: str = "_:"
) -> str:
    """DuckDB oracle: skolemize each side with the WL oracle, rewrite,
    then the same presence-aggregate diff."""
    sides = []
    for tag, src in (("o", old_sql), ("n", new_sql)):
        colors = sql_wl_colors(src, rounds=rounds, bnode_prefix=bnode_prefix)
        sides.append(f"""{tag}_g AS MATERIALIZED ({src}),
{tag}_sk AS MATERIALIZED (
  SELECT node,
         CASE WHEN starts_with(node, '{bnode_prefix}') THEN 'sk:' || color
              ELSE node END AS skolem
  FROM ({colors})
),
{tag}_rw AS (
  SELECT s.skolem AS subj, g.pred, o.skolem AS obj
  FROM {tag}_g g JOIN {tag}_sk s ON g.subj = s.node
  JOIN {tag}_sk o ON g.obj = o.node
)""")
    return f"""WITH {sides[0]},
{sides[1]}
SELECT subj, pred, obj,
       CASE WHEN in_new = 1 THEN 'added' ELSE 'removed' END AS change
FROM (
  SELECT subj, pred, obj, max(in_old) AS in_old, max(in_new) AS in_new
  FROM (
    SELECT DISTINCT subj, pred, obj, 1 AS in_old, 0 AS in_new FROM o_rw
    UNION ALL
    SELECT DISTINCT subj, pred, obj, 0, 1 FROM n_rw
  ) GROUP BY subj, pred, obj
) WHERE in_old <> in_new"""


def rdfs_entailment(
    triples: DataFrame,
    subclass: DataFrame,
    subprop: DataFrame,
    domains: DataFrame,
    ranges: DataFrame,
    type_pred: str = "rdf:type",
    subclass_pred: str = "rdfs:subClassOf",
    subprop_pred: str = "rdfs:subPropertyOf",
    max_rounds: int = 20,
) -> DataFrame:
    """Full RDFS materialization over the rdfs2/3/5/7/9/11 fragment.

    Inputs: data triples (subj, pred, obj) — rows whose pred equals
    ``type_pred`` are treated as asserted types; schema tables
    subclass/subprop as (child, parent), domains/ranges as (pred, cls).
    Output: the DISTINCT entailed graph — property triples closed under
    subPropertyOf (rdfs7), rdf:type triples from asserted types plus
    domain (rdfs2) and range (rdfs3) typing of the CLOSED property
    triples, rolled up the subClassOf closure (rdfs9/11), plus the
    schema closure itself emitted as subClassOf/subPropertyOf triples
    (rdfs5/11).

    The RDFS fragment stratifies — subPropertyOf closure feeds rdfs7,
    whose output feeds rdfs2/3, whose output feeds rdfs9 — so NO
    global fixpoint loop is needed: two iterative-doubling closures
    over the (tiny, broadcastable) schema plus three broadcast joins
    against the fact side, each fact partition touched once per rule.
    At 10^12 triples every rule is map-side: the schema closures are
    O(schema^2) rows at worst and broadcast, the fact side never
    re-shuffles.  Reference analogue: nexus-forge validates against
    RDFS-entailed shapes (kgforge/specializations/models/rdf_model.py
    imports + sh:node flattening) but never materializes entailment at
    scale.
    """
    spc = transitive_closure(subprop, max_rounds=max_rounds)
    scc = transitive_closure(subclass, max_rounds=max_rounds)

    data = triples.select("subj", "pred", "obj")
    props = data.where(F.col("pred") != type_pred)
    # rdfs7: p subPropertyOf* q, (s p o) => (s q o)
    prop_ent = props.unionByName(
        props.join(F.broadcast(spc), props.pred == spc.node).select(
            "subj", F.col("anc").alias("pred"), "obj"
        )
    )
    dom = domains.select(F.col("pred").alias("_p"), F.col("cls"))
    rng = ranges.select(F.col("pred").alias("_p"), F.col("cls"))
    types0 = (
        data.where(F.col("pred") == type_pred)
        .select(F.col("subj").alias("inst"), F.col("obj").alias("cls"))
        .unionByName(
            prop_ent.join(F.broadcast(dom), prop_ent.pred == dom._p).select(
                F.col("subj").alias("inst"), "cls"
            )
        )
        .unionByName(
            prop_ent.join(F.broadcast(rng), prop_ent.pred == rng._p).select(
                F.col("obj").alias("inst"), "cls"
            )
        )
    )
    types_all = types0.unionByName(
        types0.join(F.broadcast(scc), types0.cls == scc.node).select(
            "inst", F.col("anc").alias("cls")
        )
    )
    schema = (
        subclass.select(
            F.col("child").alias("subj"),
            F.lit(subclass_pred).alias("pred"),
            F.col("parent").alias("obj"),
        )
        .where(F.col("subj") != F.col("obj"))
        .unionByName(
            scc.select(
                F.col("node").alias("subj"),
                F.lit(subclass_pred).alias("pred"),
                F.col("anc").alias("obj"),
            )
        )
        .unionByName(
            subprop.select(
                F.col("child").alias("subj"),
                F.lit(subprop_pred).alias("pred"),
                F.col("parent").alias("obj"),
            ).where(F.col("subj") != F.col("obj"))
        )
        .unionByName(
            spc.select(
                F.col("node").alias("subj"),
                F.lit(subprop_pred).alias("pred"),
                F.col("anc").alias("obj"),
            )
        )
    )
    return (
        prop_ent.unionByName(
            types_all.select(
                F.col("inst").alias("subj"),
                F.lit(type_pred).alias("pred"),
                F.col("cls").alias("obj"),
            )
        )
        .unionByName(schema)
        .distinct()
    )


def sql_rdfs_entailment(
    triples_sql: str,
    subclass_sql: str,
    subprop_sql: str,
    domains_sql: str,
    ranges_sql: str,
    type_pred: str = "rdf:type",
    subclass_pred: str = "rdfs:subClassOf",
    subprop_pred: str = "rdfs:subPropertyOf",
) -> str:
    """DuckDB oracle: recursive-CTE schema closures + the same stratified
    rule joins.  triples_sql -> (subj, pred, obj); subclass/subprop ->
    (child, parent); domains/ranges -> (pred, cls)."""
    return f"""WITH RECURSIVE trip AS MATERIALIZED ({triples_sql}),
sub_c AS MATERIALIZED ({subclass_sql}),
sub_p AS MATERIALIZED ({subprop_sql}),
dom AS MATERIALIZED ({domains_sql}),
rng AS MATERIALIZED ({ranges_sql}),
spc(node, anc) AS (
  SELECT child, parent FROM sub_p WHERE child <> parent
  UNION
  SELECT s.node, p.parent FROM spc s JOIN sub_p p ON s.anc = p.child
  WHERE s.node <> p.parent
),
scc(node, anc) AS (
  SELECT child, parent FROM sub_c WHERE child <> parent
  UNION
  SELECT s.node, p.parent FROM scc s JOIN sub_c p ON s.anc = p.child
  WHERE s.node <> p.parent
),
prop_ent AS (
  SELECT subj, pred, obj FROM trip WHERE pred <> '{type_pred}'
  UNION ALL
  SELECT t.subj, s.anc AS pred, t.obj FROM trip t JOIN spc s ON t.pred = s.node
  WHERE t.pred <> '{type_pred}'
),
types0 AS (
  SELECT subj AS inst, obj AS cls FROM trip WHERE pred = '{type_pred}'
  UNION ALL
  SELECT p.subj, d.cls FROM prop_ent p JOIN dom d ON p.pred = d.pred
  UNION ALL
  SELECT p.obj, r.cls FROM prop_ent p JOIN rng r ON p.pred = r.pred
),
types_all AS (
  SELECT inst, cls FROM types0
  UNION ALL
  SELECT t.inst, c.anc FROM types0 t JOIN scc c ON t.cls = c.node
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT subj, pred, obj FROM prop_ent
  UNION ALL
  SELECT inst, '{type_pred}', cls FROM types_all
  UNION ALL
  SELECT child, '{subclass_pred}', parent FROM sub_c WHERE child <> parent
  UNION ALL
  SELECT node, '{subclass_pred}', anc FROM scc
  UNION ALL
  SELECT child, '{subprop_pred}', parent FROM sub_p WHERE child <> parent
  UNION ALL
  SELECT node, '{subprop_pred}', anc FROM spc
)"""


def owl_transitive_entail(
    triples: DataFrame,
    trans_preds: list[str],
    max_rounds: int = 20,
) -> DataFrame:
    """owl:TransitiveProperty entailment: for each pred declared
    transitive, the full closure (s p o), (o p o2) => (s p o2),
    self-loops included when cycles entail them.

    ALL listed predicates close in ONE plan: the pred is part of the
    join key, so iterative doubling reach_{k+1} = reach_k UNION
    (reach_k JOIN reach_k ON (pred, node)) converges in floor(log2 d) + 1
    rounds where d is the longest shortest path across all preds —
    shallow predicates ride along at no extra rounds.  The closure of a
    chain is inherently O(L^2) pairs; callers bound L by construction
    (provenance chains, containment hierarchies), not the operator.
    """
    seed = triples.where(F.col("pred").isin(list(trans_preds))).select(
        "subj", "pred", "obj"
    )
    return _close_by_doubling(
        seed, "owl_transitive_entail", max_rounds,
        src="subj", dst="obj", keys=("pred",), irreflexive=False,
    )


def sql_owl_transitive_entail(triples_sql: str, trans_preds: list[str]) -> str:
    """DuckDB oracle: linear recursive closure keyed by pred."""
    preds = ", ".join(f"'{p}'" for p in trans_preds)
    return f"""WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj FROM ({triples_sql}) WHERE pred IN ({preds})
),
cl(subj, pred, obj) AS (
  SELECT subj, pred, obj FROM e
  UNION
  SELECT c.subj, c.pred, e.obj FROM cl c JOIN e ON c.pred = e.pred AND c.obj = e.subj
)
SELECT subj, pred, obj FROM cl"""


def property_chain_entail(
    triples: DataFrame,
    chains: list[tuple[str, str, str]],
) -> DataFrame:
    """owl:propertyChainAxiom entailment for length-2 chains: for each
    axiom (p1, p2, r), (s p1 m), (m p2 o) => (s r o).

    ONE plan for all axioms: the fact side is filtered to the predicates
    any axiom mentions (predicate pushdown prunes the scan), then a
    single self-equi-join on (mid) keyed by the axiom table — the axiom
    list is a broadcast literal, so at 10^12 triples the cost is one
    shuffle of the two pruned predicate slices.  Output is the DISTINCT
    entailed triples only (callers union with the base graph).
    """
    if not chains:
        raise ValueError("chains must be non-empty")
    firsts = {p1 for p1, _, _ in chains}
    seconds = {p2 for _, p2, _ in chains}
    left = triples.where(F.col("pred").isin(sorted(firsts))).select(
        F.col("subj").alias("s"), F.col("pred").alias("p1"), F.col("obj").alias("m")
    )
    right = triples.where(F.col("pred").isin(sorted(seconds))).select(
        F.col("subj").alias("m"), F.col("pred").alias("p2"), F.col("obj").alias("o")
    )
    axioms = left.sparkSession.createDataFrame(
        list(chains), "p1 string, p2 string, r string"
    )
    return (
        left.join(right, "m")
        .join(F.broadcast(axioms), ["p1", "p2"])
        .select(
            F.col("s").alias("subj"),
            F.col("r").alias("pred"),
            F.col("o").alias("obj"),
        )
        .distinct()
    )


def sql_property_chain_entail(
    triples_sql: str, chains: list[tuple[str, str, str]]
) -> str:
    """DuckDB oracle for :func:`property_chain_entail`."""
    ax = ", ".join(f"('{a}', '{b}', '{c}')" for a, b, c in chains)
    return f"""WITH trip AS MATERIALIZED ({triples_sql}),
axioms AS (SELECT * FROM (VALUES {ax}) AS t(p1, p2, r))
SELECT DISTINCT l.subj, a.r AS pred, rr.obj
FROM trip l
JOIN trip rr ON l.obj = rr.subj
JOIN axioms a ON l.pred = a.p1 AND rr.pred = a.p2"""


def unreify(
    triples: DataFrame,
    subject_pred: str = "rdf:subject",
    predicate_pred: str = "rdf:predicate",
    object_pred: str = "rdf:object",
    statement_type: str = "rdf:Statement",
) -> DataFrame:
    """RDF reification flattening: statement nodes carrying
    rdf:subject/rdf:predicate/rdf:object become plain (subj, pred, obj)
    triples, and every OTHER property of the statement node becomes an
    annotation row attached to the flattened triple.

    Output: (subj, pred, obj, ann_pred, ann_obj) — one row per
    annotation, plus one row with NULL ann_pred/ann_obj for bare
    statements (so the flattened triple itself always survives).
    Statements missing any of the three role edges are dropped
    (malformed reification), and rdf:type rdf:Statement rows are
    consumed, not emitted as annotations.

    Scale: three predicate-pruned slices of one scan joined on the
    statement id (same key, one shuffle partitioning reused), then a
    left join for annotations — never a per-statement collect.  The
    reference materializes reified provenance through rdflib graphs
    (kgforge/core/conversions/rdf.py); this is the batch inverse.
    """
    stmt = triples
    subs = stmt.where(F.col("pred") == subject_pred).select(
        F.col("subj").alias("stid"), F.col("obj").alias("t_subj")
    )
    preds = stmt.where(F.col("pred") == predicate_pred).select(
        F.col("subj").alias("stid"), F.col("obj").alias("t_pred")
    )
    objs = stmt.where(F.col("pred") == object_pred).select(
        F.col("subj").alias("stid"), F.col("obj").alias("t_obj")
    )
    core = subs.join(preds, "stid").join(objs, "stid")
    anns = stmt.where(
        (~F.col("pred").isin([subject_pred, predicate_pred, object_pred]))
        & ~((F.col("pred") == "rdf:type") & (F.col("obj") == statement_type))
    ).select(
        F.col("subj").alias("stid"),
        F.col("pred").alias("ann_pred"),
        F.col("obj").alias("ann_obj"),
    )
    return core.join(anns, "stid", "left").select(
        F.col("t_subj").alias("subj"),
        F.col("t_pred").alias("pred"),
        F.col("t_obj").alias("obj"),
        "ann_pred",
        "ann_obj",
    )


def sql_unreify(
    triples_sql: str,
    subject_pred: str = "rdf:subject",
    predicate_pred: str = "rdf:predicate",
    object_pred: str = "rdf:object",
    statement_type: str = "rdf:Statement",
) -> str:
    """DuckDB oracle for :func:`unreify`."""
    return f"""WITH trip AS MATERIALIZED ({triples_sql}),
core AS (
  SELECT s.subj AS stid, s.obj AS t_subj, p.obj AS t_pred, o.obj AS t_obj
  FROM trip s
  JOIN trip p ON s.subj = p.subj AND p.pred = '{predicate_pred}'
  JOIN trip o ON s.subj = o.subj AND o.pred = '{object_pred}'
  WHERE s.pred = '{subject_pred}'
),
anns AS (
  SELECT subj AS stid, pred AS ann_pred, obj AS ann_obj FROM trip
  WHERE pred NOT IN ('{subject_pred}', '{predicate_pred}', '{object_pred}')
    AND NOT (pred = 'rdf:type' AND obj = '{statement_type}')
)
SELECT c.t_subj AS subj, c.t_pred AS pred, c.t_obj AS obj,
       a.ann_pred, a.ann_obj
FROM core c LEFT JOIN anns a ON c.stid = a.stid"""


def transitive_closure_incremental(
    closure_old: DataFrame,
    delta_edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_rounds: int = 20,
) -> DataFrame:
    """Maintain a transitive closure under edge INSERTS without
    recomputing from the base edges: seed the iterative-doubling loop
    with (old closure UNION delta edges).  The old side is already
    closed, so every genuinely new pair threads through at least one
    delta edge, and its shortest chain over the seed pairs alternates old
    pairs and delta edges: at most 2k + 1 pairs, where k is the MAXIMUM
    number of delta edges on any new path.  The loop so stops within
    floor(log2(2k + 1)) + 1 rounds — O(1) rounds for a typical ingest
    batch, versus floor(log2 depth) + 1 for the full rebuild.  Same
    output contract as :func:`transitive_closure`
    (all (node, anc) pairs, node <> anc); equality with the full
    recompute is the graded invariant (the resumable-pipeline contract
    this repo's incremental family shares).
    """
    seed = (
        closure_old.select(
            F.col("node") if "node" in closure_old.columns else F.col(child_col),
            F.col("anc") if "anc" in closure_old.columns else F.col(parent_col),
        )
        .toDF("node", "anc")
        .unionByName(
            delta_edges.select(
                F.col(child_col).alias("node"), F.col(parent_col).alias("anc")
            )
        )
    )
    return _close_by_doubling(seed, "transitive_closure_incremental", max_rounds)


def bisim_summary(triples: DataFrame, rounds: int = 2, salt: str = "bs") -> DataFrame:
    """Forward k-bisimulation structural summary (the A(k)-index of
    Kaushik et al., ICDE 2002, as used by RDF structural indexes /
    quotient summaries): nodes start partitioned by their namespace
    (the label prefix before ':'), and each round splits blocks by the
    MULTISET of (pred, block(obj)) over outgoing edges, so after k
    rounds two nodes share a block iff their outgoing k-unfoldings are
    label-isomorphic.  The result is the quotient graph — the
    compile-time structure index a SPARQL planner prunes against, and
    the one-screen schema summary of a 10^12-triple graph.

    Same scale algebra as wl_colors: the block-refinement multiset is a
    (count, exact DECIMAL(38,0)/HUGEINT hash60-sum) accumulator —
    map-side partial-aggregable, one join + one hash aggregate per
    round, hub-safe (a 10^8-degree node costs one accumulator, not a
    collected list), one eager checkpoint job per round — the same
    :func:`_refine_colors` loop.  Forward-only edges
    (bisimulation is directional; wl_colors is the symmetric variant).

    Output: one row per quotient edge — (src_color, pred, dst_color,
    n_triples, src_block_size, dst_block_size).
    """
    t = triples.select("subj", "pred", "obj")
    out_e = t.select(
        F.col("subj").alias("node"), F.col("pred").alias("label"), F.col("obj").alias("nbr")
    ).localCheckpoint(eager=False)
    color = _refine_colors(
        t, F.md5(F.substring_index(F.col("node"), ":", 1)), out_e, rounds, salt,
        "bisim_summary",
    )
    blocks = color.groupBy("color").agg(F.count(F.lit(1)).alias("n_nodes"))
    qe = (
        t.join(color.select(F.col("node").alias("subj"), F.col("color").alias("src_color")), "subj")
        .join(color.select(F.col("node").alias("obj"), F.col("color").alias("dst_color")), "obj")
        .groupBy("src_color", "pred", "dst_color")
        .agg(F.count(F.lit(1)).alias("n_triples"))
    )
    return (
        qe.join(
            blocks.select(
                F.col("color").alias("src_color"), F.col("n_nodes").alias("src_block_size")
            ),
            "src_color",
        )
        .join(
            blocks.select(
                F.col("color").alias("dst_color"), F.col("n_nodes").alias("dst_block_size")
            ),
            "dst_color",
        )
        .select(
            "src_color", "pred", "dst_color", "n_triples",
            "src_block_size", "dst_block_size",
        )
    )


def sql_bisim_summary(triples_sql: str, rounds: int = 2, salt: str = "bs") -> str:
    """DuckDB oracle for :func:`bisim_summary`: identical refinement
    unrolled."""
    parts = [
        f"t AS MATERIALIZED (SELECT subj, pred, obj FROM ({triples_sql}))",
        _sql_refine_colors(
            "md5(split_part(node, ':', 1))",
            "(SELECT subj AS node, pred AS label, obj AS nbr FROM t)",
            rounds,
            salt,
        ),
    ]
    parts.append(
        f"blocks AS (SELECT color, CAST(count(*) AS BIGINT) AS n_nodes "
        f"FROM c{rounds} GROUP BY color)"
    )
    parts.append(
        f"""qe AS (
  SELECT cs.color AS src_color, t.pred, co.color AS dst_color,
         CAST(count(*) AS BIGINT) AS n_triples
  FROM t JOIN c{rounds} cs ON cs.node = t.subj
       JOIN c{rounds} co ON co.node = t.obj
  GROUP BY cs.color, t.pred, co.color)"""
    )
    return (
        "WITH " + ",\n".join(parts)
        + """
SELECT qe.src_color, qe.pred, qe.dst_color, qe.n_triples,
       bs.n_nodes AS src_block_size, bd.n_nodes AS dst_block_size
FROM qe JOIN blocks bs ON bs.color = qe.src_color
     JOIN blocks bd ON bd.color = qe.dst_color"""
    )


def qualified_cardinality_audit(
    triples: DataFrame,
    subject_class: str,
    pred: str,
    filler_class: str,
    min_q: int | None = None,
    max_q: int | None = None,
    type_pred: str = "rdf:type",
) -> DataFrame:
    """OWL qualified-cardinality restriction audit — the shape check
    SHACL's sh:qualifiedMinCount/sh:qualifiedMaxCount express and
    OWL 2 writes as ``C SubClassOf (>= n p.Q)``: every instance of
    ``subject_class`` must have between ``min_q`` and ``max_q``
    DISTINCT ``pred``-objects that are typed ``filler_class``.
    Unqualified cardinality (functional_violations above) counts all
    objects; the qualified form only counts fillers of the right
    class — the difference that catches "order has 6 line REFERENCES
    but only 1 typed Part" extraction bugs.

    Plan: instances and filler types are predicate-pruned scans of the
    type relation; the audited edge set predicate-prunes to ``pred``;
    one (subj)-keyed distinct-count aggregate; a LEFT join back onto
    the instance set keeps zero-filler subjects (a min violation the
    edge-side aggregate alone cannot see).  Output: violating rows
    only — (subj, n_qualified, violation in {'min','max'}).
    """
    if min_q is None and max_q is None:
        raise ValueError("qualified_cardinality_audit: set min_q and/or max_q")
    t = triples.select("subj", "pred", "obj")
    instances = (
        t.where((F.col("pred") == type_pred) & (F.col("obj") == subject_class))
        .select(F.col("subj"))
        .distinct()
    )
    fillers = (
        t.where((F.col("pred") == type_pred) & (F.col("obj") == filler_class))
        .select(F.col("subj").alias("obj"))
        .distinct()
    )
    qualified = (
        t.where(F.col("pred") == pred)
        .join(fillers, "obj", "leftsemi")
        .groupBy("subj")
        .agg(F.count_distinct("obj").alias("n_qualified"))
    )
    counted = instances.join(qualified, "subj", "left").select(
        "subj", F.coalesce("n_qualified", F.lit(0)).cast("long").alias("n_qualified")
    )
    viol = F.when(
        F.lit(min_q is not None) & (F.col("n_qualified") < F.lit(min_q or 0)),
        F.lit("min"),
    ).otherwise(
        F.when(
            F.lit(max_q is not None) & (F.col("n_qualified") > F.lit(max_q or 0)),
            F.lit("max"),
        )
    )
    return (
        counted.withColumn("violation", viol)
        .where(F.col("violation").isNotNull())
        .select("subj", "n_qualified", "violation")
    )


def sql_qualified_cardinality_audit(
    triples_sql: str,
    subject_class: str,
    pred: str,
    filler_class: str,
    min_q: int | None = None,
    max_q: int | None = None,
    type_pred: str = "rdf:type",
) -> str:
    """DuckDB oracle for :func:`qualified_cardinality_audit`."""
    conds = []
    if min_q is not None:
        conds.append(f"WHEN n_qualified < {min_q} THEN 'min'")
    if max_q is not None:
        conds.append(f"WHEN n_qualified > {max_q} THEN 'max'")
    case = "CASE " + " ".join(conds) + " END"
    return f"""WITH t AS MATERIALIZED (SELECT subj, pred, obj FROM ({triples_sql})),
instances AS (
  SELECT DISTINCT subj FROM t
  WHERE pred = '{type_pred}' AND obj = '{subject_class}'
),
fillers AS (
  SELECT DISTINCT subj AS obj FROM t
  WHERE pred = '{type_pred}' AND obj = '{filler_class}'
),
qualified AS (
  SELECT e.subj, CAST(count(DISTINCT e.obj) AS BIGINT) AS n_qualified
  FROM t e JOIN fillers f ON f.obj = e.obj
  WHERE e.pred = '{pred}'
  GROUP BY e.subj
),
counted AS (
  SELECT i.subj, coalesce(q.n_qualified, 0) AS n_qualified
  FROM instances i LEFT JOIN qualified q ON q.subj = i.subj
)
SELECT subj, CAST(n_qualified AS BIGINT) AS n_qualified, {case} AS violation
FROM counted
WHERE {case} IS NOT NULL"""


def property_characteristics_audit(
    triples: DataFrame, declarations: DataFrame
) -> DataFrame:
    """OWL property-characteristics audit (round-4; completes the audit
    family beside disjoint_violations / functional_violations /
    qualified_cardinality_audit): given (subj, pred, obj) assertions and
    (pred, characteristic) declarations with characteristic in
    {'symmetric', 'asymmetric', 'irreflexive'}, report every violating
    assertion —

      symmetric   p: (a p b) asserted but (b p a) absent — the entailment
                  gap a repair pass would materialize (OWL2 SymmetricProperty);
      asymmetric  p: both (a p b) and (b p a) asserted (AsymmetricProperty
                  contradiction; self-loops double as violations);
      irreflexive p: (a p a) asserted (IrreflexiveProperty).

    Reference analogue: the reference validates SHACL shapes per resource
    (kgforge/specializations/models/rdf_model.py) but has no graph-level
    property-axiom audit; this is the batch form a KG-construction
    pipeline runs before publishing.

    Scale shape: declarations broadcast (schema-sized); symmetric and
    asymmetric checks are ONE self equi-join each on the reversed key
    (anti for the gap, semi for the contradiction) — the fact side
    shuffles once per characteristic on (pred, subj, obj); irreflexive
    is a map-side filter.  Output: (pred, subj, obj, violation).
    """
    t = triples.select("subj", "pred", "obj").distinct()
    d = F.broadcast(declarations.select("pred", "characteristic").distinct())
    sym = t.join(
        d.where(F.col("characteristic") == "symmetric").select("pred"), "pred"
    )
    rev = sym.select(
        F.col("pred"),
        F.col("obj").alias("subj"),
        F.col("subj").alias("obj"),
    )
    missing_rev = sym.join(rev, ["pred", "subj", "obj"], "left_anti").select(
        "pred", "subj", "obj", F.lit("missing_inverse").alias("violation")
    )
    asym = t.join(
        d.where(F.col("characteristic") == "asymmetric").select("pred"), "pred"
    )
    arev = asym.select(
        F.col("pred"),
        F.col("obj").alias("subj"),
        F.col("subj").alias("obj"),
    )
    mutual = asym.join(arev, ["pred", "subj", "obj"], "left_semi").select(
        "pred", "subj", "obj", F.lit("mutual_asymmetric").alias("violation")
    )
    irr = (
        t.join(
            d.where(F.col("characteristic") == "irreflexive").select("pred"),
            "pred",
        )
        .where(F.col("subj") == F.col("obj"))
        .select("pred", "subj", "obj", F.lit("self_loop").alias("violation"))
    )
    return missing_rev.unionByName(mutual).unionByName(irr)


def sql_property_characteristics_audit(
    triples_sql: str, decls_sql: str
) -> str:
    """DuckDB oracle for :func:`property_characteristics_audit`."""
    return f"""WITH t AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj FROM ({triples_sql})
),
d AS MATERIALIZED (SELECT DISTINCT pred, characteristic FROM ({decls_sql})),
sym AS (
  SELECT t.pred, t.subj, t.obj FROM t
  JOIN d ON d.pred = t.pred AND d.characteristic = 'symmetric'
),
missing_rev AS (
  SELECT s.pred, s.subj, s.obj, 'missing_inverse' AS violation
  FROM sym s
  WHERE NOT EXISTS (
    SELECT 1 FROM sym r
    WHERE r.pred = s.pred AND r.subj = s.obj AND r.obj = s.subj
  )
),
asym AS (
  SELECT t.pred, t.subj, t.obj FROM t
  JOIN d ON d.pred = t.pred AND d.characteristic = 'asymmetric'
),
mutual AS (
  SELECT a.pred, a.subj, a.obj, 'mutual_asymmetric' AS violation
  FROM asym a
  WHERE EXISTS (
    SELECT 1 FROM asym r
    WHERE r.pred = a.pred AND r.subj = a.obj AND r.obj = a.subj
  )
),
irr AS (
  SELECT t.pred, t.subj, t.obj, 'self_loop' AS violation FROM t
  JOIN d ON d.pred = t.pred AND d.characteristic = 'irreflexive'
  WHERE t.subj = t.obj
)
SELECT * FROM missing_rev
UNION ALL SELECT * FROM mutual
UNION ALL SELECT * FROM irr"""
