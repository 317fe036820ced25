"""Canonicalization: connected components over sameAs edges.

The reference resolves each mention independently to one canonical ontology
id; co-reference is "same resolved id" (SURVEY.md R17).  Entities that share
an alias value (e.g. MergeJoin altLabel 'sort merge join' == SortMergeJoin
label) are the sameAs edge set; canonical id = min(id) of the connected
component.

Algorithm: alternating large-star/small-star style min-label propagation on
DataFrames (no GraphFrames dependency).  Each iteration is one shuffle-join
keyed on entity id; components converge in O(log n) iterations for real
graphs.  Per-iteration ``localCheckpoint`` truncates the lineage so the plan
does not grow unboundedly at 10^9-edge scale (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexus_forge_spark.functions.itermetrics import emptied, iterate


def sameas_edges(alias_table: DataFrame) -> DataFrame:
    """Entities sharing an alias string -> symmetric (a, b) edge set."""
    l = alias_table.select(F.col("alias"), F.col("entity_id").alias("a")).alias("l")
    r = alias_table.select(F.col("alias"), F.col("entity_id").alias("b")).alias("r")
    return (
        l.join(r, F.col("l.alias") == F.col("r.alias"))
        .where(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )


def connected_components(
    edges: DataFrame, nodes: DataFrame | None = None, max_iter: int = 25
) -> DataFrame:
    """edges(a, b) [+ optional nodes(entity_id)] -> (entity_id, canonical_id).

    Alternating large-star/small-star (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14 — public algorithm, re-implemented):

      large-star: every node points its LARGER neighbours at the minimum of
                  its neighbourhood (incl. itself);
      small-star: every node and its smaller neighbours collapse onto that
                  minimum.

    Converges in O(log^2 n) rounds regardless of graph DIAMETER — min-label
    propagation (connected_components_propagation below) needs O(diameter)
    rounds, which at 10^9-edge scale is fatal for chain-shaped sameAs graphs
    (each round is a full shuffle of the edge set).  Each round here is two
    groupBy-join shuffles on node ids; localCheckpoint truncates lineage.
    """
    sym0 = edges.where(F.col("a") != F.col("b"))
    e = (
        sym0.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(e: DataFrame, rnd) -> DataFrame:
        # ---- large-star over the symmetric closure
        sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.min("b").alias("m"))
        mins = mins.select("a", F.least("m", F.col("a")).alias("m"))
        e1 = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star over (larger -> smaller) edges
        o = e1.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        mins2 = o.groupBy("a").agg(F.min("b").alias("m"))
        to_min = o.join(mins2, "a").select(F.col("b").alias("a"), F.col("m").alias("b"))
        self_min = mins2.select(F.col("a"), F.col("m").alias("b"))
        e2 = rnd.checkpoint(
            to_min.unionByName(self_min)
            .where(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
            .distinct()
        )
        # exact stop test, a job of its own (a count or hash could miss a
        # change): the symmetric difference, stopped at its first row
        # (both sets are distinct-normalized so exceptAll == except)
        rnd.seen["settled"] = e2.exceptAll(e).unionByName(e.exceptAll(e2)).isEmpty()
        return e2

    # a spent budget raises: labels derived from a non-fixpoint edge set
    # are NOT a star decomposition, so canonical ids could be wrong with
    # no signal
    e = iterate(
        star, e, max_iter,
        until=lambda _, cur: cur["settled"],
        error=lambda _: RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds; raise max_iter (expected "
            "O(log^2 n) rounds)"
        ),
    )
    # fixpoint edges form stars: (member, component_min)
    labels = e.select(F.col("a").alias("entity_id"), F.col("b").alias("canonical_id"))
    roots = e.select(F.col("b").alias("entity_id")).distinct().select(
        "entity_id", F.col("entity_id").alias("canonical_id")
    )
    out = labels.unionByName(roots)
    if nodes is not None:
        isolated = nodes.join(
            out.select("entity_id"), "entity_id", "left_anti"
        ).select("entity_id", F.col("entity_id").alias("canonical_id"))
        out = out.unionByName(isolated)
    return out.distinct()


def connected_components_propagation(
    edges: DataFrame, nodes: DataFrame | None = None, max_iter: int = 20
) -> DataFrame:
    """edges(a, b) [+ optional nodes(entity_id)] -> (entity_id, canonical_id).

    Min-label propagation: comp(v) starts at v; each round takes the min of
    the neighbourhood's current labels; stops when no label changes.  Kept
    as the differential oracle for connected_components (and the better
    plan for tiny/low-diameter graphs: one shuffle per round).  Each node
    keeps its old label beside the new one, so the round's checkpoint job
    counts the labels that moved; a spent budget raises.
    """
    sym = edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.distinct().localCheckpoint(eager=True)

    if nodes is None:
        nodes = sym.select(F.col("a").alias("entity_id")).distinct()
    labels = nodes.select("entity_id", F.col("entity_id").alias("canonical_id"))
    labels = labels.localCheckpoint(eager=True)

    def propagate(labels: DataFrame, rnd) -> DataFrame:
        # candidate label for each node = min(own, min over neighbours' labels)
        nbr = (
            sym.join(labels, sym["b"] == labels["entity_id"])
            .select(F.col("a").alias("entity_id"), "canonical_id", F.lit(None).alias("old"))
        )
        return rnd.checkpoint(
            labels.select("entity_id", "canonical_id", F.col("canonical_id").alias("old"))
            .unionByName(nbr)
            .groupBy("entity_id")
            .agg(F.min("canonical_id").alias("canonical_id"), F.min("old").alias("old")),
            moved=F.count_if(~F.col("canonical_id").eqNullSafe(F.col("old"))),
        )

    labels = iterate(
        propagate, labels, max_iter,
        until=emptied("moved"),
        error=lambda _: RuntimeError(
            f"connected_components_propagation did not converge in {max_iter} "
            "rounds; raise max_iter (expected O(diameter) rounds)"
        ),
    )
    return labels.select("entity_id", "canonical_id")


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj to canonical ids via two left joins (broadcast: the
    mapping is entity-count-sized, tiny next to the triple set)."""
    m_obj = F.broadcast(
        mapping.select(F.col("entity_id").alias("_o"), F.col("canonical_id").alias("_oc"))
    )
    m_subj = F.broadcast(
        mapping.select(F.col("entity_id").alias("_s"), F.col("canonical_id").alias("_sc"))
    )
    return (
        triples.join(m_obj, triples["obj"] == F.col("_o"), "left")
        .join(m_subj, triples["subj"] == F.col("_s"), "left")
        .withColumn("obj", F.coalesce(F.col("_oc"), F.col("obj")))
        .withColumn("subj", F.coalesce(F.col("_sc"), F.col("subj")))
        .drop("_o", "_oc", "_s", "_sc")
    )


def golden_records(
    values: DataFrame,
    mapping: DataFrame,
    attr_col: str = "attr",
    value_col: str = "value",
    key: str = "entity_id",
) -> DataFrame:
    """Entity consolidation after canonicalization: elect ONE value per
    (canonical entity, attribute) from the co-referent members' values —
    majority vote, ties broken by minimum value, so the golden record is
    deterministic under any edge/batch order.

    Both phases are hash aggregations with map-side partial combine (vote
    counting, then min_by over a (-votes, value) struct) — no window, so
    nothing funnels through per-group sorts; entities unknown to the
    mapping keep their own id (left join + coalesce).  `support` is the
    winning value's vote count.
    """
    v = values.join(mapping, key, "left").select(
        F.coalesce("canonical_id", F.col(key)).alias("canonical_id"),
        attr_col,
        value_col,
    )
    counted = v.groupBy("canonical_id", attr_col, value_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counted.groupBy("canonical_id", attr_col).agg(
        F.min_by(
            value_col,
            F.struct(
                (-F.col("cnt")).alias("neg_votes"),
                F.col(value_col).alias("v"),
            ),
        ).alias(value_col),
        F.max("cnt").alias("support"),
    )


def incremental_components(
    mapping: DataFrame, new_edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Incremental canonicalization: fold a batch of NEW sameAs edges into
    an existing (entity_id, canonical_id) mapping without recomputing the
    whole graph.

    Connected components are closed under star-replacement: the components
    of (star(old components) ∪ new_edges) equal those of
    (old_edges ∪ new_edges).  So only the components the delta touches are
    re-solved:

      1. touched roots = old canonical ids of the delta's endpoints
         (endpoints unknown to the mapping are new singleton roots);
      2. affected = full membership of those components (semi-join of the
         mapping on its canonical_id against the BROADCAST root set — the
         delta neighbourhood is small by assumption, so the big mapping
         never shuffles);
      3. re-run large-star/small-star on (affected star edges ∪ delta);
      4. splice: untouched mapping rows pass through via an anti-join.

    At 10^12-document scale this turns nightly re-canonicalization from
    O(corpus) into O(delta neighbourhood): the only full-table operations
    are one broadcast semi-join and one broadcast anti-join, both
    map-side.  Equality with a full recompute is pinned by a randomized
    differential test (test_canonicalize_star.py).
    """
    touched = (
        new_edges.select(F.col("a").alias("entity_id"))
        .unionByName(new_edges.select(F.col("b").alias("entity_id")))
        .distinct()
    )
    touched_roots = (
        touched.join(mapping, "entity_id", "left")
        .select(F.coalesce("canonical_id", "entity_id").alias("root"))
        .distinct()
    )
    affected = mapping.join(
        F.broadcast(touched_roots),
        mapping["canonical_id"] == touched_roots["root"],
        "left_semi",
    ).localCheckpoint(eager=True)
    star = affected.where(F.col("entity_id") != F.col("canonical_id")).select(
        F.col("entity_id").alias("a"), F.col("canonical_id").alias("b")
    )
    sub_nodes = affected.select("entity_id").unionByName(touched).distinct()
    relabeled = connected_components(
        star.unionByName(new_edges.select("a", "b")), sub_nodes, max_iter
    )
    untouched = mapping.join(
        F.broadcast(relabeled.select("entity_id")), "entity_id", "left_anti"
    )
    return untouched.unionByName(relabeled)


def ifp_sameas_edges(
    triples: DataFrame,
    ifp_preds: list[str],
    max_block: int | None = None,
) -> DataFrame:
    """owl:InverseFunctionalProperty entity-equality derivation: two
    subjects asserting the SAME object on an IFP (mbox, ISBN, DOI, ORCID)
    denote the same entity -> sameAs edges feeding connected_components.

    Scale shape — STAR REPLACEMENT, not cliques: k entities sharing one
    value logically form a k-clique of sameAs edges (O(k^2)); for
    connected-components purposes the clique is equivalent to a star on
    the group's MIN entity (O(k)), so this emits (min_entity, member)
    pairs from one (pred, obj)-keyed aggregate + one join back — a
    10^6-entity shared-value block (the classic dirty-data "value is
    'unknown'" hub) costs 10^6 edges, not 10^12.  ``max_block`` drops
    value blocks larger than the cap entirely (junk values shared by too
    many entities carry no identity signal — the CCNet/ER blocking
    discipline); dropped blocks are a recall trade the caller prices, and
    the oracle applies the identical cap.  Output is symmetric (a, b)
    both directions, a <> b, matching sameas_edges' contract.
    """
    claims = (
        triples.where(F.col("pred").isin(ifp_preds))
        .select("pred", "obj", F.col("subj").alias("entity"))
        .distinct()
    )
    groups = claims.groupBy("pred", "obj").agg(
        F.min("entity").alias("root"), F.count(F.lit(1)).alias("k")
    )
    if max_block is not None:
        groups = groups.where(F.col("k") <= F.lit(max_block))
    star = (
        claims.join(groups.where(F.col("k") > 1), ["pred", "obj"])
        .where(F.col("entity") != F.col("root"))
        .select(F.col("root").alias("a"), F.col("entity").alias("b"))
        .distinct()
    )
    return star.unionByName(
        star.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )


def sql_ifp_sameas_edges(
    triples_sql: str, ifp_preds: list[str], max_block: int | None = None
) -> str:
    """DuckDB oracle for ifp_sameas_edges."""
    preds = ", ".join(f"'{p}'" for p in ifp_preds)
    cap = f"AND k <= {max_block}" if max_block is not None else ""
    return f"""WITH claims AS MATERIALIZED (
  SELECT DISTINCT pred, obj, subj AS entity FROM ({triples_sql})
  WHERE pred IN ({preds})
),
groups AS (
  SELECT pred, obj, min(entity) AS root, count(*) AS k
  FROM claims GROUP BY pred, obj
),
star AS (
  SELECT DISTINCT g.root AS a, c.entity AS b
  FROM claims c JOIN groups g ON c.pred = g.pred AND c.obj = g.obj
  WHERE g.k > 1 {cap} AND c.entity <> g.root
)
SELECT a, b FROM star
UNION ALL
SELECT b, a FROM star"""


def refine_sameas_components(
    edges: DataFrame,
    properties: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Conflict-aware refinement of sameAs components (the Raad-
    Pernelle-Saïs 2018 erroneous-identity-link idea, re-rendered as
    set algebra): an identity edge whose endpoints carry DIFFERENT
    values for any functional property is evidence of an over-merge —
    cut those edges, re-run connected components, and report each
    entity's before/after canonical ids so the splits are auditable.

    ``properties`` is (entity_id, pred, value) functional evidence;
    multiple values per (entity, pred) are reduced to the MIN value
    first (deterministic; a multi-valued input would otherwise make
    "conflict" depend on row order).  Conflict detection is two hash
    joins of the normalized edge set onto the property table keyed on
    (entity, pred) — no neighborhood expansion, hub-safe — and both
    component passes are the O(log^2 n) large-star/small-star CC.

    Output: (entity_id, canonical_raw, canonical_refined) — rows where
    the two differ are members of clusters that were split.
    """
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    props = (
        properties.groupBy(
            F.col("entity_id"), F.col("pred")
        )
        .agg(F.min("value").alias("value"))
    )
    pa = props.select(
        F.col("entity_id").alias("a"), "pred", F.col("value").alias("va")
    )
    pb = props.select(
        F.col("entity_id").alias("b"), "pred", F.col("value").alias("vb")
    )
    conflicting = (
        e.join(pa, "a")
        .join(pb, ["b", "pred"])
        .where(F.col("va") != F.col("vb"))
        .select("a", "b")
        .distinct()
    )
    clean = e.join(conflicting, ["a", "b"], "leftanti")
    nodes = (
        e.select(F.col("a").alias("entity_id"))
        .unionByName(e.select(F.col("b").alias("entity_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    before = connected_components(e, nodes).withColumnRenamed(
        "canonical_id", "canonical_raw"
    )
    after = connected_components(clean, nodes).withColumnRenamed(
        "canonical_id", "canonical_refined"
    )
    return before.join(after, "entity_id").select(
        "entity_id", "canonical_raw", "canonical_refined"
    )


def sql_refine_sameas_components(edges_sql: str, properties_sql: str) -> str:
    """DuckDB oracle for :func:`refine_sameas_components` (recursive
    reachability for both component passes)."""
    return f"""WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM ({edges_sql}) WHERE a <> b
),
props AS MATERIALIZED (
  SELECT entity_id, pred, min(value) AS value
  FROM ({properties_sql}) GROUP BY entity_id, pred
),
conflicting AS MATERIALIZED (
  SELECT DISTINCT e.a, e.b
  FROM e
  JOIN props pa ON pa.entity_id = e.a
  JOIN props pb ON pb.entity_id = e.b AND pb.pred = pa.pred
  WHERE pa.value <> pb.value
),
clean AS MATERIALIZED (
  SELECT a, b FROM e
  WHERE NOT EXISTS (
    SELECT 1 FROM conflicting c WHERE c.a = e.a AND c.b = e.b)
),
nodes AS MATERIALIZED (
  SELECT a AS node FROM e UNION SELECT b FROM e
),
sym_e AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
sym_c AS (SELECT a, b FROM clean UNION ALL SELECT b, a FROM clean),
reach_e(src, dst) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.src, s.b FROM reach_e r JOIN sym_e s ON s.a = r.dst
),
reach_c(src, dst) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.src, s.b FROM reach_c r JOIN sym_c s ON s.a = r.dst
),
before_m AS (SELECT src AS entity_id, min(dst) AS canonical_raw
             FROM reach_e GROUP BY src),
after_m AS (SELECT src AS entity_id, min(dst) AS canonical_refined
            FROM reach_c GROUP BY src)
SELECT b.entity_id, b.canonical_raw, a.canonical_refined
FROM before_m b JOIN after_m a ON a.entity_id = b.entity_id"""
