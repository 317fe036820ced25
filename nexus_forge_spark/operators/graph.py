"""Graph analytics over materialized KG edge sets: ranking, paths,
communities, cores, sketches and embeddings.

Complements canonicalize.py's connected components: once triples are
materialized, these are the standard "which entities matter / how dense
is this neighborhood" queries a KG serving layer runs.

Frame layouts.  Every operator reads one fixed column layout; a caller
with other names renames before the call:

* directed edges ``(src, dst)`` — pagerank, personalized_pagerank,
  khop_distances, harmonic_centrality, betweenness_sampled, hits_scores,
  random_walks, hyperball_nf, hyperball_closeness; sssp reads
  ``(src, dst, w)`` and earliest_arrival ``(src, dst, ts_micros)``;
* undirected edges ``(a, b)`` — label_propagation, kcore, ktruss,
  coreness, louvain_moves, scan_clusters, jp_coloring, densest_subgraph,
  clustering_coefficients, degree_assortativity, community_quality;
  boruvka_msf and disparity_backbone read ``(a, b, w)``;
* seed / source sets ``(node)``; a community assignment
  ``(node, community)``;
* link_prediction reads ``(item, via)``, fastrp_embeddings
  ``(node, nbr)`` and butterfly_counts the bipartite ``(l, r)``.

oriented_edges, triangle_counts and cooccurrence_edges take their
column names as arguments, since callers pass other ones.

Each DuckDB twin ``sql_X`` reads the same layout from its SQL source,
and shares its hash salts (``WALK_SALT``, ``HB_SALT``, ``JP_SALT``),
fixed-point scale (``PPM``), damping and round budget with ``X``
through the module constants below.

Engine-exactness: PageRank runs entirely in BIGINT micro-probability
arithmetic (rank sums to ~1e6) with truncating integer division, so a
fixed-iteration run is bit-identical across engines — no float
accumulation-order hazard.  Triangle counting is exact set logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nexus_forge_spark.functions.itermetrics import (
    checkpoint_observed,
    emptied,
    fits_one_task,
    iterate,
    row_bytes,
    unchanged,
)

PPM = 1_000_000
DAMPING_PCT = 85
WALK_SALT = "walk"
HB_SALT = "hb"
JP_SALT = "jp"
CORENESS_ROUNDS = 24
MSF_ROUNDS = 20


def pagerank(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Fixed-iteration PageRank in integer micro-probabilities over
    ``(src, dst)`` edges, with d = ``DAMPING_PCT``:

    rank_0(v)   = PPM div n
    rank_i+1(v) = (PPM * (100 - d)) div (100 * n)
                  + d * sum_{u->v}(rank_i(u) div outdeg(u)) div 100

    Dangling mass (nodes with no out-edges) is dropped, not redistributed
    — the simple public formulation; document, don't hide.  All terms are
    BIGINT with truncating division, so a DuckDB oracle unrolling the same
    recurrence matches bit-for-bit.

    Scale posture: per iteration, one join of ranks onto edges (shuffle on
    the node key both sides — on a real cluster bucket the edge table by
    src once so every iteration reuses the layout) and one partial-agg
    groupBy on dst.  Ranks stay (node, BIGINT) — 16 bytes/node.
    localCheckpoint per iteration truncates the 5-deep lineage.
    """
    # materialize the loop-invariant frames once: every iteration reads the
    # edge set and out-degrees, and without a barrier Catalyst re-derives
    # them (including whatever join/distinct produced the edges) per round
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    base = (PPM * (100 - DAMPING_PCT)) // (100 * n)
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", F.lit(PPM // n).cast("long").alias("rank_micro"))

    def propagate(ranks: DataFrame, rnd) -> DataFrame:
        contribs = _rank_inflow(e, deg, ranks)
        # the previous ranks cover the node set, so they drive the join and,
        # when a recording() block reads them, ride along: `changed` stalling at a
        # high plateau = oscillation/skew, `mass_micro` decaying = dangling
        # drain growing
        prev = [F.col("rank_micro").alias("prev_micro")] if rnd.observe else []
        return rnd.checkpoint(
            ranks.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"{DAMPING_PCT} * coalesce(s, 0) div 100")
                ).cast("long").alias("rank_micro"),
                *prev,
            ),
            changed=F.sum((F.col("rank_micro") != F.col("prev_micro")).cast("long")),
            mass_micro=F.sum("rank_micro"),
        )

    return iterate(
        propagate, ranks, iterations, report=lambda _, cur: {**cur, "nodes": n},
    ).select("node", "rank_micro")


def _rank_inflow(e: DataFrame, deg: DataFrame, ranks: DataFrame) -> DataFrame:
    """(node, s): one iteration's rank inflow of :func:`pagerank` and
    :func:`personalized_pagerank`, the sum over a node's in-edges of
    ``rank_micro div outdeg`` of the source."""
    return (
        e.join(ranks.select(F.col("node").alias("src"), "rank_micro"), "src")
        .join(deg, "src")
        .select(
            F.col("dst").alias("node"),
            F.expr("rank_micro div outdeg").alias("c"),
        )
        .groupBy("node")
        .agg(F.sum("c").alias("s"))
    )


def _undirected(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct undirected edges (p, q) with p = greatest(a, b) > q;
    self-loops dropped."""
    return (
        edges.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .where(F.col(a) != F.col(b))
        .select(F.greatest("x", "y").alias("p"), F.least("x", "y").alias("q"))
        .distinct()
    )


def _symmetric(und: DataFrame) -> DataFrame:
    """(p, q) edges plus their (q, p) mirror images."""
    return und.unionByName(und.select(F.col("q").alias("p"), F.col("p").alias("q")))


def oriented_edges(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Orient an undirected edge set by (degree, id): each edge points from
    its lower-(degree, id) endpoint to the higher one.  This is the
    standard skew cap for triangle enumeration — a hub of degree d only
    ever appears as the SOURCE of edges toward higher-degree nodes, so the
    two-path join fans out by sqrt(m)-ish, never by d^2 on a hot key.
    Output: (lo, hi) distinct, self-loops dropped.
    """
    # the normalized edge set feeds the degree count AND both sides of the
    # orientation join; checkpoint so an expensive upstream edge producer
    # (e.g. a MinHash near-dup join) runs once, not once per branch
    und = _undirected(edges, a, b).localCheckpoint(eager=True)
    sym = _symmetric(und)
    deg = sym.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ranked = (
        sym.join(deg, "p")
        .withColumnRenamed("d", "dp")
        .join(
            deg.select(F.col("p").alias("q"), F.col("d").alias("dq")), "q"
        )
    )
    return (
        ranked.where(
            (F.col("dp") < F.col("dq"))
            | ((F.col("dp") == F.col("dq")) & (F.col("p") < F.col("q")))
        )
        .select(F.col("p").alias("lo"), F.col("q").alias("hi"))
    )


def triangle_counts(
    edges: DataFrame, a: str = "a", b: str = "b"
) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge set.

    Degree-ordered orientation, then the two-join enumeration: wedges
    (u->v, v->w) closed by the oriented edge (u->w).  Each triangle is
    produced exactly once; per-node counts explode its three corners.
    Distinct + orientation happen before any join, so the join keys are
    skew-capped (see oriented_edges).  Nodes in no triangle are emitted
    with count 0 so the output covers every node of the edge set.
    """
    o = oriented_edges(edges, a, b).localCheckpoint(eager=True)
    e12 = o.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    e23 = o.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    e13 = o.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    tris = e12.join(e23, "v").join(e13, ["u", "w"])
    corners = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("v").alias("node")))
        .unionAll(tris.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    nodes = (
        o.select(F.col("lo").alias("node"))
        .unionByName(o.select(F.col("hi").alias("node")))
        .distinct()
    )
    return nodes.join(corners, "node", "left").select(
        "node",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )


def khop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Minimum-hop BFS distances over ``(src, dst)`` edges from a
    ``(node)`` seed set, capped at ``max_hops``: returns (node, dist) with
    dist = min #edges from any seed (seeds at 0).

    Level-synchronous frontier expansion: each hop is one equi-join of the
    frontier onto the edge table (shuffle on the node key — bucket the
    edge table by src on a real cluster so every hop reuses the layout)
    plus a left-anti join against the visited set, so a node is expanded
    exactly once no matter how many paths reach it — the work per hop is
    O(edges touched), never O(paths).  localCheckpoint per hop truncates
    the growing lineage (the round-N plan would otherwise re-derive every
    earlier frontier), and that checkpoint job also counts the new
    frontier: the loop returns at the first empty one, since every later
    hop would add nothing.
    """
    frontier = seeds.select("node").distinct().withColumn(
        "dist", F.lit(0).cast("int")
    )
    e = edges.select("src", "dst")
    return _bfs(frontier.localCheckpoint(eager=True), e, max_hops, "khop_distances")


def _bfs(
    start: DataFrame,
    e: DataFrame,
    max_hops: int,
    op: str,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The level-synchronous BFS of :func:`khop_distances` and
    :func:`harmonic_centrality`: from the checkpointed ``start`` rows
    (*keys, node, dist=0) over ``e`` (src, dst), every (*keys, node)
    reached within ``max_hops`` with its minimum dist.  Each hop's
    checkpoint job counts the new frontier, and the loop returns at the
    first empty one; rounds record under the caller's name ``op``."""

    def hop(state: tuple, rnd) -> tuple:
        frontier, visited = state
        nxt = rnd.checkpoint(
            frontier.join(e, frontier["node"] == e["src"])
            .select(*keys, F.col("dst").alias("node"))
            .distinct()
            .join(visited.select(*keys, "node"), [*keys, "node"], "left_anti")
            .withColumn("dist", F.lit(rnd.index + 1).cast("int")),
            new=F.count(F.lit(1)),
        )
        return nxt, rnd.checkpoint(visited.unionByName(nxt))

    return iterate(hop, (start, start), max_hops, until=emptied("new"), op=op)[1]


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) over undirected ``(a, b)`` edges, made fully deterministic so a
    fixed-iteration run is engine-exact:

    label_0(v)   = v
    label_i+1(v) = the label most frequent among v's neighbours' round-i
                   labels, ties broken by the SMALLEST label

    Classic LPA breaks ties randomly and updates asynchronously; both
    choices are non-reproducible across cluster sizes, so this variant
    pins (count DESC, label ASC) argmax and synchronous rounds — the same
    determinism discipline as :func:`pagerank`'s integer arithmetic.
    Returns (node, community) after ``iterations`` rounds; isolated
    nodes (none exist in a symmetrized edge set) would keep their own id.

    Scale posture: each round is two partial-combined aggregates —
    ballot counts on (node, label) hash-aggregate; the argmax via
    ``min_by`` over a (-count, label) struct plans as SortAggregate
    (struct buffers are not hash-aggregable) whose sort is mapper-local
    over pre-combined ballot rows — still NO window function, so a
    10^6-degree hub never funnels through one task.  (A sort-free
    3-stage chained-hash form exists — see events.funnel — but trades
    the local sort for an extra shuffle; not worth it per round here.)  Labels stay
    (node, long); the per-round state is 16 bytes/node.  On a real
    cluster, bucket the edge table by node so every round reuses the
    layout; localCheckpoint truncates the growing lineage here.
    """
    und = _undirected(edges, "a", "b").localCheckpoint(eager=True)
    sym = _symmetric(und).select(F.col("p").alias("node"), F.col("q").alias("nbr"))
    labels = (
        sym.select("node")
        .distinct()
        .select("node", F.col("node").alias("community"))
    )

    def vote(labels: DataFrame) -> DataFrame:
        ballots = (
            sym.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("community").alias("lbl")
                ),
                "nbr",
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("votes"))
        )
        return ballots.groupBy("node").agg(
            F.min_by(
                "lbl", F.struct((-F.col("votes")).alias("nv"), F.col("lbl"))
            ).alias("community")
        )

    return iterate(
        lambda labels, rnd: rnd.checkpoint(vote(labels)),
        labels.localCheckpoint(eager=True),
        iterations,
    )


def cooccurrence_edges(
    memberships: DataFrame,
    group_col: str = "doc_id",
    item_col: str = "entity_id",
) -> DataFrame:
    """Relation-candidate generation: co-occurrence edges between resolved
    entities that appear in the same document, with exact association
    statistics.

    The reference's KG loop stops at per-mention annotation triples
    (forge.map + forge.resolve); the natural next stage of KG construction
    is proposing *relations* between the entities a document links — the
    classic distant-supervision candidate generator.  This emits one edge
    per unordered entity pair with the counts needed for PMI/lift scoring:

    (entity_a, entity_b, pair_groups, groups_a, groups_b, n_groups,
     positively_associated)

    ``positively_associated`` is the exact integer cross-multiplication
    ``pair_groups * n_groups > groups_a * groups_b`` (i.e. PMI > 0) — no
    log, no float, engine-exact.  Consumers that want the real PMI value
    compute ``ln(pair*n / (ca*cb))`` from the emitted integers.

    Scale posture: the pair generation NEVER self-joins the membership
    table on the group key.  Distinct items are collected per group (one
    hash aggregate; per-document entity sets are small and bounded by
    document length) and the i<j pairs are generated map-side from the
    sorted array — a hub entity appearing in 10^9 documents costs 10^9
    short array rows, not a 10^18-row join.  Pair counting and item
    counting are partial-combined hash aggregates; the two count
    dictionaries (bounded by the resolver vocabulary) broadcast onto the
    pair table.  At 10^12-group scale the cross-multiplication operands
    exceed BIGINT — cast the comparison to DECIMAL(38,0) there; the
    emitted counts themselves stay exact.
    """
    g = (
        memberships.select(
            F.col(group_col).alias("g"), F.col(item_col).alias("item")
        )
        .where(F.col(item_col).isNotNull())
        .distinct()
    )
    item_counts = g.groupBy("item").agg(F.count(F.lit(1)).alias("groups"))
    n_groups = g.select(F.countDistinct("g").alias("n_groups"))

    sets = g.groupBy("g").agg(F.sort_array(F.collect_set("item")).alias("items"))
    pair_gen = F.flatten(
        F.expr(
            "transform(items, (x, i) -> "
            "transform(slice(items, i + 2, size(items)), "
            "y -> struct(x AS a, y AS b)))"
        )
    )
    pairs = (
        sets.select(F.explode(pair_gen).alias("p"))
        .select(F.col("p.a").alias("entity_a"), F.col("p.b").alias("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_groups"))
    )
    ca = item_counts.select(
        F.col("item").alias("entity_a"), F.col("groups").alias("groups_a")
    )
    cb = item_counts.select(
        F.col("item").alias("entity_b"), F.col("groups").alias("groups_b")
    )
    return (
        pairs.join(F.broadcast(ca), "entity_a")
        .join(F.broadcast(cb), "entity_b")
        .join(F.broadcast(n_groups))
        .select(
            "entity_a",
            "entity_b",
            F.col("pair_groups").cast("long").alias("pair_groups"),
            F.col("groups_a").cast("long").alias("groups_a"),
            F.col("groups_b").cast("long").alias("groups_b"),
            F.col("n_groups").cast("long").alias("n_groups"),
            (
                F.col("pair_groups") * F.col("n_groups")
                > F.col("groups_a") * F.col("groups_b")
            ).alias("positively_associated"),
        )
    )


def kcore(edges: DataFrame, k: int, max_iter: int = 16) -> DataFrame:
    """The k-core of an undirected ``(a, b)`` graph: iteratively peel
    nodes of degree < k until every surviving node has >= k surviving
    neighbours.  The
    standard KG / dedup-cluster density filter — "keep entities embedded
    in a dense neighborhood, discard stragglers" — and the classic
    preprocessing step before community detection or triangle counting.

    Deterministic by construction (peeling has a unique fixpoint,
    independent of removal order), so any two engines that run peeling to
    convergence agree exactly.

    Scale posture: each round is one partial-combined degree aggregate
    over the surviving symmetric edge list plus a broadcast-eligible
    semi-join of edges against surviving nodes (AQE turns the node-set
    side into a broadcast once it shrinks below threshold).  The edge set
    only ever shrinks; ``localCheckpoint`` pins each round so lineage
    stays flat, and that job also counts the surviving edges: an
    unchanged count is the fixpoint.  Converges in O(degeneracy) rounds;
    raises if ``max_iter`` is exhausted first (same honesty contract as
    canonicalize.connected_components).

    Returns (node, degree) for nodes in the k-core, with their in-core
    degree.
    """
    und, seen = checkpoint_observed(_undirected(edges, "a", "b"), edges=F.count(F.lit(1)))

    def peel(und: DataFrame, rnd) -> DataFrame:
        deg = _symmetric(und).groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
        survivors = deg.where(F.col("deg") >= k).select("p")
        return rnd.checkpoint(
            und.join(survivors.select(F.col("p").alias("_sp")),
                     F.col("p") == F.col("_sp"), "left_semi")
            .join(survivors.select(F.col("p").alias("_sq")),
                  F.col("q") == F.col("_sq"), "left_semi"),
            edges=F.count(F.lit(1)),
        )

    # fixpoint: no edge was dropped this round
    und = iterate(
        peel, und, max_iter, prev=seen,
        until=unchanged("edges"),
        error=lambda _: RuntimeError(
            f"kcore did not converge in {max_iter} peeling rounds; "
            "raise max_iter (expected O(degeneracy) rounds)"
        ),
        report=lambda prev, cur: {
            "edges": cur["edges"], "peeled": prev["edges"] - cur["edges"]
        },
    )
    return _symmetric(und).groupBy(F.col("p").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
) -> DataFrame:
    """Multi-seed single-source shortest paths over positively-weighted
    ``(src, dst, w)`` edges from a ``(node)`` seed set, by synchronous
    Bellman-Ford relaxation — hop-weighted
    reachability for KG neighborhoods where edge cost matters (khop is
    the unit-weight special case, but its visited-set pruning cannot
    carry weights: a later path with MORE hops can be CHEAPER).

    Each round relaxes every edge out of the current distance table and
    folds the candidates back with one min-aggregate:

        dist_{r+1}(v) = min(dist_r(v), min over (u,v,w) of dist_r(u)+w)

    Fixed ``rounds`` (= max path length in edges, like kcore's bound)
    keeps the recurrence engine-exact: an unrolled SQL oracle running the
    identical algebra matches hash-for-hash, and rounds past convergence
    are no-ops.  Weights must be non-negative integers (BIGINT adds, no
    float accumulation order to diverge on).

    Scale posture: each round is one shuffle-join of the distance table
    onto the edge list (bucket edges by src on a real cluster so every
    round reuses the layout) plus one partial-combined min-aggregate;
    localCheckpoint per round keeps lineage flat.  The distance table
    only grows up to reachable-set size — at 10^12 edges, rounds stream;
    nothing collects to the driver.

    Returns (node, dist) for every node reachable within ``rounds`` edges.
    """
    e = edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    dist = seeds.select("node").distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )

    def relax(dist: DataFrame, rnd) -> DataFrame:
        relaxed = dist.join(e, dist["node"] == e["src"]).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return rnd.checkpoint(
            dist.unionByName(relaxed).groupBy("node").agg(F.min("dist").alias("dist")),
            reached=F.count(F.lit(1)),
        )

    # reached-set growth per round: a frontier that stops growing while
    # rounds remain = converged (later rounds no-op); a round whose growth
    # stalls without converging = skew signal
    return iterate(
        relax, dist.localCheckpoint(eager=True), rounds,
        report=lambda prev, cur: {
            "reached": cur["reached"],
            "grew": cur["reached"] - prev.get("reached", 0),
        },
    )


def sql_sssp(edges_sql: str, seeds_sql: str, rounds: int) -> str:
    """DuckDB oracle rendering of the identical Bellman-Ford recurrence,
    unrolled to ``rounds`` MATERIALIZED CTEs (plain CTEs inline
    exponentially — the BPE lesson)."""
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        f"d0 AS MATERIALIZED (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM ({seeds_sql}))",
    ]
    for r in range(1, rounds + 1):
        p = f"d{r - 1}"
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {p}
    UNION ALL
    SELECT e.dst AS node, p.dist + e.w AS dist
    FROM {p} p JOIN e ON p.node = e.src
  ) GROUP BY node
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, dist FROM d{rounds}"


def link_prediction(
    edges: DataFrame,
    max_via_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-overlap link prediction over ``(item, via)`` edges:
    score unlinked item pairs by
    their shared neighbors — common-neighbor count plus the
    resource-allocation index (Zhou/Lu/Zhang 2009), each shared neighbor
    contributing 1/degree so promiscuous neighbors say little.  In a KG
    this proposes missing sameAs/relatedTo edges from co-reference
    structure; in a recommender, co-purchase affinity.

    Engine-exactness: RA is carried as ``sum(PPM div degree)`` —
    truncating INTEGER division per shared neighbor, then a BIGINT sum,
    so no float ordering can diverge (the 1e-6 truncation error is far
    below any ranking granularity that matters).

    Scale posture: the same map-side i<j expansion as cooccurrence_edges
    — shared neighbors are grouped once, each group emits its sorted
    item pairs from an array transform (never an equi-self-join on the
    neighbor key), and one partial-combined hash aggregate sums both
    scores.  ``max_via_degree`` drops hub neighbors BEFORE expansion:
    the standard guard (a neighbor shared by 10^6 items would emit
    ~10^12 pairs while contributing PPM/10^6 ~ 1 each — cost without
    signal).  The filter is part of the operator's contract, applied
    identically by the SQL oracle.

    Returns (a, b, common_via, ra_scaled) for unordered pairs a < b.
    """
    g = (
        edges.select("item", "via")
        .where(F.col("item").isNotNull() & F.col("via").isNotNull())
        .distinct()
    )
    deg = g.groupBy("via").agg(F.count(F.lit(1)).alias("deg"))
    if max_via_degree is not None:
        deg = deg.where(F.col("deg") <= max_via_degree)
    contrib = g.join(F.broadcast(deg), "via").select(
        "via", "item", F.expr(f"{PPM} div deg").cast("long").alias("contrib")
    )
    sets = contrib.groupBy("via", "contrib").agg(
        F.sort_array(F.collect_set("item")).alias("items")
    )
    pair_gen = F.flatten(
        F.expr(
            "transform(items, (x, i) -> "
            "transform(slice(items, i + 2, size(items)), "
            "y -> struct(x AS a, y AS b)))"
        )
    )
    return (
        sets.select(F.col("contrib"), F.explode(pair_gen).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_via"),
            F.sum("contrib").cast("long").alias("ra_scaled"),
        )
    )


def sql_link_prediction(
    edges_sql: str,
    max_via_degree: int | None = None,
) -> str:
    """DuckDB oracle for link_prediction (join-based pair generation —
    an independent computation path from the array expansion)."""
    deg_filter = (
        f"HAVING count(*) <= {max_via_degree}" if max_via_degree is not None else ""
    )
    return f"""WITH g AS (
  SELECT DISTINCT item, via FROM ({edges_sql})
  WHERE item IS NOT NULL AND via IS NOT NULL
),
deg AS (SELECT via, count(*) AS deg FROM g GROUP BY via {deg_filter}),
contrib AS (
  SELECT g.via, g.item, {PPM} // d.deg AS contrib
  FROM g JOIN deg d ON g.via = d.via
)
SELECT x.item AS a, y.item AS b,
       CAST(count(*) AS BIGINT) AS common_via,
       CAST(sum(x.contrib) AS BIGINT) AS ra_scaled
FROM contrib x JOIN contrib y
  ON x.via = y.via AND x.item < y.item
GROUP BY x.item, y.item"""


def random_walks(
    edges: DataFrame,
    num_walks: int,
    walk_length: int,
    starts: DataFrame | None = None,
) -> DataFrame:
    """Deterministic random-walk corpus generation (the DeepWalk /
    node2vec p=q=1 sampling stage) over ``(src, dst)`` edges:
    ``num_walks`` walks of up to ``walk_length`` steps from every start
    node (the ``(node)`` rows of ``starts``, by default every source),
    emitted long-format as
    (start, rep, step, node) with step 0 = the start itself — ready to
    window into skip-gram pairs for embedding training (the corpus that
    feeds the same KGE loop kge.negative_samples serves).

    Determinism instead of RNG state: the step draw is the portable
    60-bit content hash of (start, rep, step, WALK_SALT) modulo the current
    node's degree, indexing its SORTED neighbor list — every engine (and
    every retry of a failed stage: Spark task re-execution included)
    reproduces the identical corpus, which is what makes the walks
    checkpointable and oracle-checkable at all.  Statistically this is a
    fixed pseudo-random function of the walk coordinates — exactly what
    seeded RNG walks are, minus the partition-order dependence.

    Scale posture: the adjacency table (one sorted collect_set per
    node) builds once and each step is one shuffle-join of the frontier
    onto it (bucket adjacency by node on a real cluster so all
    ``walk_length`` joins reuse the layout); localCheckpoint per step
    keeps lineage flat.  Walks ending on a dangling node (no out-edges)
    truncate — inner join, no padding.  Hub rows cost O(degree) once in
    the adjacency build, never per-walk.
    """
    from nexus_forge_spark.operators.sketches import hash60

    adj = (
        edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .distinct()
        .groupBy("node")
        .agg(F.sort_array(F.collect_set("nbr")).alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    base = starts if starts is not None else edges.select(
        F.col("src").alias("node")
    ).distinct()
    cur = base.select(F.col("node").alias("start")).distinct().select(
        "start",
        F.explode(F.sequence(F.lit(0), F.lit(num_walks - 1))).alias("rep"),
        F.col("start").alias("node"),
    )
    out = cur.select(
        "start", "rep", F.lit(0).cast("int").alias("step"), "node"
    ).localCheckpoint(eager=True)

    def walk(state: tuple, rnd) -> tuple:
        cur, out = state
        step = rnd.index + 1
        draw = hash60(
            F.concat_ws("\x1f", F.col("start"), F.col("rep"), F.lit(step)),
            WALK_SALT,
        )
        stepped = rnd.checkpoint(
            cur.join(adj, "node").select(
                "start",
                "rep",
                F.element_at(
                    F.col("nbrs"), (draw % F.size("nbrs") + 1).cast("int")
                ).alias("node"),
            )
        )
        return stepped, out.unionByName(
            stepped.select(
                "start", "rep", F.lit(step).cast("int").alias("step"), "node"
            )
        )

    return iterate(walk, (cur.localCheckpoint(eager=True), out), walk_length)[1]


def sql_random_walks(
    edges_sql: str,
    num_walks: int,
    walk_length: int,
    starts_sql: str | None = None,
) -> str:
    """DuckDB oracle rendering of the identical hash-seeded walk
    recurrence, one MATERIALIZED CTE per step."""
    from nexus_forge_spark.operators.sketches import sql_hash60

    reps = ", ".join(str(r) for r in range(num_walks))
    base = (
        f"SELECT DISTINCT node FROM ({starts_sql})"
        if starts_sql is not None
        else f"SELECT DISTINCT src AS node FROM ({edges_sql})"
    )
    ctes = [
        f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "adj AS MATERIALIZED (SELECT src AS node, list(DISTINCT dst ORDER BY dst) AS nbrs FROM e GROUP BY src)",
        f"""w0 AS MATERIALIZED (
  SELECT node AS start, CAST(rep AS BIGINT) AS rep, node
  FROM ({base}) CROSS JOIN (SELECT unnest([{reps}]) AS rep)
)""",
    ]
    for step in range(1, walk_length + 1):
        h = sql_hash60(
            f"CAST(w.start AS VARCHAR) || chr(31) || CAST(w.rep AS VARCHAR) "
            f"|| chr(31) || '{step}'",
            WALK_SALT,
        )
        ctes.append(
            f"""w{step} AS MATERIALIZED (
  SELECT w.start, w.rep, a.nbrs[CAST({h} % len(a.nbrs) AS INT) + 1] AS node
  FROM w{step - 1} w JOIN adj a ON w.node = a.node
)"""
        )
    selects = [
        f"SELECT start, rep, CAST({s} AS INT) AS step, node FROM w{s}"
        for s in range(walk_length + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
) -> DataFrame:
    """Personalized PageRank in integer micro-probabilities over
    ``(src, dst)`` edges from a ``(node)`` seed set S: the teleport
    mass returns to the SEED set instead of spreading uniformly, so the
    stationary scores measure relevance *to the seeds* — the standard KG
    neighborhood-relevance / recommendation primitive (seed = a user's
    entities, scores = what else matters to them).

        rank_0(v)   = [v in S] * (PPM div |S|)
        rank_i+1(v) = [v in S] * (PPM * (100-d)) div (100 * |S|)
                      + d * sum_{u->v}(rank_i(u) div outdeg(u)) div 100

    with d = ``DAMPING_PCT``.

    Same engine-exactness discipline as pagerank: BIGINT state,
    truncating division, dangling mass dropped (documented, not hidden)
    — a DuckDB oracle unrolling the identical recurrence matches
    bit-for-bit.

    Scale posture: identical to pagerank — per iteration one ranks-onto-
    edges shuffle join plus one partial-combined dst aggregate; the seed
    base term is a broadcast left join (seed sets are small by
    definition).  localCheckpoint truncates per-iteration lineage.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    s = seeds.select("node").distinct().localCheckpoint(eager=True)
    n_seeds = s.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    base = (PPM * (100 - DAMPING_PCT)) // (100 * n_seeds)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(s)
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    seed_mark = s.withColumn("_is_seed", F.lit(1))
    ranks = (
        nodes.join(F.broadcast(seed_mark), "node", "left")
        .select(
            "node",
            F.when(F.col("_is_seed").isNotNull(), F.lit(PPM // n_seeds))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rank_micro"),
        )
    )

    def propagate(ranks: DataFrame, rnd) -> DataFrame:
        contribs = _rank_inflow(e, deg, ranks)
        return rnd.checkpoint(
            nodes.join(contribs, "node", "left")
            .join(F.broadcast(seed_mark), "node", "left")
            .select(
                "node",
                (
                    F.when(F.col("_is_seed").isNotNull(), F.lit(base)).otherwise(
                        F.lit(0)
                    )
                    + F.expr(f"{DAMPING_PCT} * coalesce(s, 0) div 100")
                ).cast("long").alias("rank_micro"),
            )
        )

    return iterate(propagate, ranks, iterations)


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Sampled-source harmonic centrality over ``(src, dst)`` edges from
    ``(node)`` sources: H(v) = sum over sampled
    sources s of 1/d(s,v), distances truncated at ``max_hops`` — the
    standard scalable centrality estimate (exact closeness needs
    all-pairs distances; sampling sources + bounding the radius is how
    Eppstein-Wang-style estimators make it tractable at graph scale, and
    harmonic handles disconnected graphs where closeness breaks).

    Contributions are INTEGER ``PPM div dist`` (per-source unit-hop
    distances), summed as BIGINTs — engine-exact, no float harmonic sums
    whose order could diverge.  Returns (node, harmonic_micro,
    n_sources_reached); the source set is part of the contract (pass a
    deterministic sample).

    Scale posture: one level-synchronous BFS carrying the (seed, node)
    key — per hop one frontier-onto-edges shuffle join plus one
    (seed, node) anti-join against the visited set, so state is
    O(reached pairs), work per hop O(edges touched x seeds reaching
    them); localCheckpoint per hop keeps lineage flat, and the loop
    returns at the first hop that reaches no new pair.  Seeds scale the
    cost linearly — that is the sampling dial.
    """
    e = edges.select("src", "dst")
    frontier = (
        sources.select(F.col("node").alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).cast("int").alias("dist"))
        .localCheckpoint(eager=True)
    )
    visited = _bfs(frontier, e, max_hops, "harmonic_centrality", keys=("seed",))
    return (
        visited.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.sum(F.expr(f"{PPM} div dist")).cast("long").alias("harmonic_micro"),
            F.count(F.lit(1)).cast("long").alias("n_sources_reached"),
        )
    )


def sql_harmonic_centrality(edges_sql: str, sources_sql: str, max_hops: int) -> str:
    """DuckDB oracle: unit-weight Bellman-Ford per (seed, node) — min
    distance within k hops equals BFS first-reach depth, an independent
    computation path from the frontier/anti-join formulation."""
    ctes = [
        f"e AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}))",
        f"""d0 AS MATERIALIZED (
  SELECT DISTINCT node AS seed, node, 0 AS dist FROM ({sources_sql})
)""",
    ]
    for k in range(1, max_hops + 1):
        p = f"d{k - 1}"
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT seed, node, min(dist) AS dist FROM (
    SELECT seed, node, dist FROM {p}
    UNION ALL
    SELECT d.seed, e.dst AS node, d.dist + 1 AS dist
    FROM {p} d JOIN e ON d.node = e.src
  ) GROUP BY seed, node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, CAST(sum({PPM} // dist) AS BIGINT) AS harmonic_micro,
       CAST(count(*) AS BIGINT) AS n_sources_reached
FROM d{max_hops} WHERE dist > 0
GROUP BY node"""
    )


def ktruss(edges: DataFrame, k: int, max_iter: int = 16) -> DataFrame:
    """The k-truss of an undirected ``(a, b)`` graph: iteratively drop edges in
    fewer than k-2 triangles until every surviving edge has >= k-2
    surviving triangles — the edge-level density filter (strictly
    stronger than k-core's node degrees) that keeps cohesive duplicate/
    community clusters and sheds spurious bridge edges.  Like k-core,
    the fixpoint is unique and removal-order-independent, so any two
    engines that peel to convergence agree exactly.

    Triangles are enumerated once per round on value-ordered edges
    (lo < hi; wedges (u,v)+(v,w) closed by (u,w)) — the orientation the
    SQL oracle mirrors verbatim.  For hub-skewed graphs the degree-
    ordered orientation (:func:`oriented_edges`) caps wedge fan-out;
    value order keeps engine parity and the near-dup graphs this runs
    on are degree-capped by LSH banding already.

    Scale posture: per round, one self-join pair for triangles (equi
    keys, AQE-skew-handled), one edge-keyed support aggregate
    (map-side-combined), one filter; the edge set only shrinks and each
    round is pinned with localCheckpoint so lineage stays flat; that job
    also counts the surviving edges, the fixpoint test.
    Converges in O(peeling depth) rounds; raises on max_iter exhaustion
    (the kcore/connected_components honesty contract).

    Returns the surviving edges as (lo, hi, support).

    ``k`` must be >= 3: the 2-truss is by definition the whole graph,
    but this peeling derives support from the triangle table, where
    triangle-free edges never appear — silently returning only triangle
    edges for k <= 2 would be wrong (round-2 ADVICE finding), so we
    refuse instead.
    """
    if k < 3:
        raise ValueError(
            f"ktruss requires k >= 3 (got k={k}); the {k}-truss is the "
            "whole graph — use the edge set directly"
        )
    und = (
        edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("x", "y").alias("lo"), F.greatest("x", "y").alias("hi"))
        .distinct()
    )
    und, seen = checkpoint_observed(und, edges=F.count(F.lit(1)))

    def peel(und: DataFrame, rnd) -> DataFrame:
        e12 = und.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        e23 = und.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
        e13 = und.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
        tris = e12.join(e23, "v").join(e13, ["u", "w"])
        return rnd.checkpoint(
            tris.select(F.col("u").alias("lo"), F.col("v").alias("hi"))
            .unionAll(tris.select(F.col("v").alias("lo"), F.col("w").alias("hi")))
            .unionAll(tris.select(F.col("u").alias("lo"), F.col("w").alias("hi")))
            .groupBy("lo", "hi")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .where(F.col("support") >= k - 2),
            edges=F.count(F.lit(1)),
        )

    return iterate(
        peel, und, max_iter, prev=seen,
        until=lambda prev, cur: cur["edges"] in (prev["edges"], 0),
        error=lambda _: RuntimeError(
            f"ktruss did not converge in {max_iter} peeling rounds; "
            "raise max_iter (expected O(peeling depth) rounds)"
        ),
    )


def boruvka_msf(edges: DataFrame) -> DataFrame:
    """Minimum spanning forest of weighted ``(a, b, w)`` edges by
    Borůvka's algorithm — the backbone of
    single-linkage clustering at scale (cut the MSF at a distance
    threshold and the components ARE the single-linkage clusters, no
    sequential dendrogram needed).

    Edges are totally ordered by (w, lo, hi), which makes the MSF UNIQUE
    (distinct keys -> every cut has one minimum edge), so any two
    engines agree exactly; the oracle checks the same forest through the
    cycle property instead of replaying rounds.

    Per round every component elects its minimum outgoing edge (the cut
    property guarantees all elected edges belong to the MSF), the
    elected edges merge components, and the component count at least
    halves — O(log n) rounds.  Merging uses the graded
    large-star/small-star connected components on the COMPONENT graph,
    which is at most half the size of the previous round's.

    Scale posture: each round is two broadcast-eligible comp-mapping
    joins + one component-keyed min aggregate (SortAggregate from the
    struct min — mapper-local sort, partial-combined) + CC on the
    shrinking component graph; every round's state is
    localCheckpoint-pinned.  Raises after ``MSF_ROUNDS`` rounds (the
    kcore/ktruss honesty contract).
    """
    from nexus_forge_spark.operators.canonicalize import connected_components

    e = (
        edges.where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("lo"),
            F.greatest("a", "b").alias("hi"),
            F.col("w").cast("long").alias("w"),
        )
        .groupBy("lo", "hi")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    comp = (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )

    def merge_and_elect(state: tuple, rnd) -> tuple:
        comp, sel, msf = state
        if sel is not None:  # merge the components last round elected
            picked = sel.select("lo", "hi", "w")
            msf = picked if msf is None else rnd.checkpoint(msf.unionByName(picked))
            mapping = connected_components(
                sel.select(F.col("cl").alias("a"), F.col("ch").alias("b"))
            )
            comp = rnd.checkpoint(
                comp.join(
                    mapping.select(
                        F.col("entity_id").alias("comp"),
                        F.col("canonical_id").alias("__new"),
                    ),
                    "comp",
                    "left",
                ).select("node", F.coalesce("__new", "comp").alias("comp"))
            )
        ec = (
            e.join(
                comp.select(F.col("node").alias("lo"), F.col("comp").alias("cl")),
                "lo",
            )
            .join(
                comp.select(F.col("node").alias("hi"), F.col("comp").alias("ch")),
                "hi",
            )
            .where(F.col("cl") != F.col("ch"))
        )
        key = F.struct("w", "lo", "hi", "cl", "ch")
        cand = ec.select(F.col("cl").alias("c"), key.alias("k")).unionAll(
            ec.select(F.col("ch").alias("c"), key.alias("k"))
        )
        sel = rnd.checkpoint(
            cand.groupBy("c").agg(F.min("k").alias("k")).select("k.*").distinct(),
            elected=F.count(F.lit(1)),
        )
        return comp, sel, msf

    _, _, msf = iterate(
        merge_and_elect, (comp, None, None), MSF_ROUNDS,
        until=emptied("elected"),
        error=lambda _: RuntimeError(
            f"boruvka_msf did not converge in {MSF_ROUNDS} rounds "
            "(components at least halve per round)"
        ),
    )
    if msf is None:
        return e.where(F.lit(False)).select("lo", "hi", "w")
    return msf


def fastrp_embeddings(
    edges: DataFrame,
    dims: int = 8,
    rounds: int = 2,
) -> DataFrame:
    """FastRP node embeddings (Chen et al. 2019) over ``(node, nbr)``
    edges in exact signed fixed-point: very sparse random projection
    init (+-PPM at density 1/3, signs from the portable 60-bit md5 hash)
    iterated through the mean-aggregation operator x_t(v) = sum_{u in
    N(v)} x_{t-1}(u) DIV deg(v), output = sum_t x_t per (node, dim).

    Engine-exactness: every value is BIGINT; Spark ``DIV`` and DuckDB
    ``//`` BOTH truncate toward zero on negatives (verified), so the
    signed means match hash-for-hash — no float matmul, no libm.

    Scale: one shuffle join (edges x current iterate, keyed on the
    neighbor) plus one (node, dim) hash aggregate per round; the
    iterate is O(nodes x dims) rows and localCheckpointed so round r
    never recomputes round r-1.  deg joins on the same (node) key the
    aggregate just produced.  Nodes with no out-neighbors hold value 0
    for that iterate (they still feed others' means).  Pass both edge
    directions for an undirected graph.
    """
    from nexus_forge_spark.operators.sketches import hash60

    if rounds < 1:
        raise ValueError("fastrp_embeddings needs rounds >= 1")
    e = edges.select("node", "nbr")
    nodes = (
        e.select("node")
        .unionByName(e.select(F.col("nbr").alias("node")))
        .distinct()
    )
    deg = e.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    init = nodes.select(
        "node", F.explode(F.sequence(F.lit(0), F.lit(dims - 1))).alias("dim")
    )
    h = (
        hash60(
            F.concat(
                F.col("node").cast("string"), F.lit("|"), F.col("dim").cast("string")
            ),
            "fastrp",
        )
        % 6
    )
    x = init.select(
        "node",
        "dim",
        F.when(h == 0, F.lit(PPM))
        .when(h == 1, F.lit(-PPM))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("v"),
    ).localCheckpoint(eager=True)

    def mean_step(state: tuple, rnd) -> tuple:
        x, acc = state
        nbsum = (
            e.join(x.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node", "dim")
            .agg(F.sum("v").alias("s"))
            .join(deg, "node")
            .select("node", "dim", F.expr("s DIV deg").alias("v"))
        )
        # nodes without out-neighbors: value 0 this iterate
        x = rnd.checkpoint(
            init.join(nbsum, ["node", "dim"], "left")
            .select("node", "dim", F.coalesce("v", F.lit(0)).cast("long").alias("v"))
        )
        contrib = x.select("node", "dim", F.col("v").alias("c"))
        return x, contrib if acc is None else acc.unionByName(contrib)

    _, acc = iterate(mean_step, (x, None), rounds)
    return (
        acc.groupBy("node", "dim")
        .agg(F.sum("c").cast("long").alias("val"))
        .select("node", "dim", "val")
    )


def sql_fastrp_embeddings(edges_sql: str, dims: int = 8, rounds: int = 2) -> str:
    """DuckDB oracle: the same signed fixed-point iteration unrolled.
    edges_sql -> (node, nbr)."""
    sign = (
        "CASE (('0x' || substr(md5(CAST(n.node AS VARCHAR) || '|' || "
        "CAST(d.dim AS VARCHAR) || ':fastrp'), 1, 15))::BIGINT % 6) "
        f"WHEN 0 THEN {PPM} WHEN 1 THEN -{PPM} ELSE 0 END"
    )
    parts = [
        f"e AS MATERIALIZED ({edges_sql})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT node FROM e UNION ALL SELECT nbr FROM e))",
        "deg AS (SELECT node, count(*) AS deg FROM e GROUP BY node)",
        f"dims AS (SELECT * FROM generate_series(0, {dims - 1}) AS t(dim))",
        f"x0 AS (SELECT n.node, d.dim, CAST({sign} AS BIGINT) AS v "
        "FROM nodes n CROSS JOIN dims d)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""s{t} AS (
  SELECT e.node, x.dim, sum(x.v) AS s
  FROM e JOIN x{t - 1} x ON e.nbr = x.node GROUP BY e.node, x.dim)"""
        )
        parts.append(
            f"""x{t} AS (
  SELECT i.node, i.dim,
         CAST(coalesce(s.s // g.deg, 0) AS BIGINT) AS v
  FROM (SELECT n.node, d.dim FROM nodes n CROSS JOIN dims d) i
  LEFT JOIN s{t} s ON i.node = s.node AND i.dim = s.dim
  LEFT JOIN deg g ON i.node = g.node)"""
        )
    combo = " UNION ALL ".join(
        f"SELECT node, dim, v AS c FROM x{t}" for t in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, dim, CAST(sum(c) AS BIGINT) AS val
FROM ({combo}) GROUP BY node, dim"""
    )


def hits_scores(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over ``(src, dst)`` edges
    in exact integer arithmetic: a(v) = sum of incoming hubs, h(u) = sum
    of outgoing
    authorities, each vector renormalized by its MAX (not the L2 norm —
    max-normalization keeps every step a BIGINT multiply + truncating
    DIV, and converges to the same principal direction).

    Per round: two shuffle joins (edges x current vector) + two hash
    aggregates + one 1-row max — no float, no sqrt, so the unrolled
    DuckDB recurrence matches hash-for-hash.  Nodes without in-edges
    hold authority 0, without out-edges hub 0 (kept via the node
    universe).  Output: (node, hub_ppm, auth_ppm) after ``rounds``.
    """
    # the edge set is loop-invariant and read six times across the
    # rounds plus twice in the epilogue — pin it, or Catalyst re-derives
    # the upstream edge producer (e.g. a distinct co-purchase join) on
    # every single join
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = nodes.select("node", F.lit(PPM).cast("long").alias("v"))

    def hub_auth(state: tuple, rnd) -> tuple:
        h, _ = state
        a_raw = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("v").alias("raw"))
        )
        a = rnd.checkpoint(_max_normalize(a_raw))
        h_raw = (
            e.join(a.withColumnRenamed("node", "dst").withColumnRenamed("v", "av"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("av").alias("raw"))
        )
        return rnd.checkpoint(_max_normalize(h_raw)), a

    h, a = iterate(hub_auth, (h, None), rounds)
    return (
        nodes.join(h.withColumnRenamed("v", "hub_ppm"), "node", "left")
        .join(a.withColumnRenamed("v", "auth_ppm"), "node", "left")
        .select(
            "node",
            F.coalesce("hub_ppm", F.lit(0)).cast("long").alias("hub_ppm"),
            F.coalesce("auth_ppm", F.lit(0)).cast("long").alias("auth_ppm"),
        )
    )


def _max_normalize(raw: DataFrame) -> DataFrame:
    """(node, raw) -> (node, v) with v = raw*PPM DIV max(raw).  max is a
    1-row aggregate broadcast back.  The vector stays SPARSE between
    rounds — zero/absent entries contribute nothing to the next round's
    sums, so padding the node universe per round would be 6 wasted
    joins; the epilogue zero-pads once."""
    mx = raw.agg(F.max("raw").alias("mx"))
    return raw.crossJoin(F.broadcast(mx)).select(
        "node",
        F.when(F.col("mx") == 0, F.lit(0))
        .otherwise(F.expr(f"(raw * {PPM}) DIV mx"))
        .cast("long")
        .alias("v"),
    )


def sql_hits_scores(edges_sql: str, rounds: int = 3) -> str:
    """DuckDB oracle: the identical max-normalized recurrence unrolled."""
    parts = [
        f"e AS MATERIALIZED ({edges_sql})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        f"h0 AS (SELECT node, CAST({PPM} AS BIGINT) AS v FROM nodes)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""ar{r} AS (
  SELECT e.dst AS node, sum(h.v) AS raw
  FROM e JOIN h{r - 1} h ON e.src = h.node GROUP BY e.dst)"""
        )
        parts.append(
            f"""a{r} AS (
  SELECT n.node,
         CAST(CASE WHEN m.mx IS NULL OR m.mx = 0 THEN 0
              ELSE (coalesce(r.raw, 0) * {PPM}) // m.mx END AS BIGINT) AS v
  FROM nodes n
  LEFT JOIN ar{r} r ON n.node = r.node
  CROSS JOIN (SELECT max(raw) AS mx FROM ar{r}) m)"""
        )
        parts.append(
            f"""hr{r} AS (
  SELECT e.src AS node, sum(a.v) AS raw
  FROM e JOIN a{r} a ON e.dst = a.node GROUP BY e.src)"""
        )
        parts.append(
            f"""h{r} AS (
  SELECT n.node,
         CAST(CASE WHEN m.mx IS NULL OR m.mx = 0 THEN 0
              ELSE (coalesce(r.raw, 0) * {PPM}) // m.mx END AS BIGINT) AS v
  FROM nodes n
  LEFT JOIN hr{r} r ON n.node = r.node
  CROSS JOIN (SELECT max(raw) AS mx FROM hr{r}) m)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT n.node, h.v AS hub_ppm, a.v AS auth_ppm
FROM nodes n
JOIN h{rounds} h ON n.node = h.node
JOIN a{rounds} a ON n.node = a.node"""
    )


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Sampled-source betweenness centrality (Brandes 2001, the
    level-synchronous distributed rendering) over ``(src, dst)`` edges
    from ``(node)`` sources: forward BFS from each
    sampled seed accumulates shortest-path COUNTS sigma per (seed,
    node, level); the backward sweep then folds dependencies level by
    level — delta(v) = sum over successors w of (sigma_v/sigma_w) *
    (1 + delta_w) — and betweenness(v) is the delta sum over seeds,
    seeds themselves excluded.  Radius truncated at ``max_hops`` and
    seeds sampled: the standard way betweenness stays tractable at
    graph scale (exact needs all-pairs).

    Engine exactness: sigma values are exact BIGINT path counts; the
    dependency ratio is fixed-point ppm with truncating division at
    the TWO documented points (sigma_v*PPM DIV sigma_w, then
    *(PPM+delta_w) DIV PPM) — sigma_v <= sigma_w by construction so
    the ratio never exceeds PPM, and both engines truncate toward
    zero.  Ordering effects cannot exist: every step is a sum.

    Scale: forward = one frontier-edges shuffle + one (seed, node)
    aggregate + one anti-join per hop (the harmonic_centrality shape
    plus the sigma sum), returning at the first hop that reaches no new
    pair; backward = one join per LEVEL the forward pass produced, each
    touching only that level's pairs.  Seeds dial cost
    linearly.  Output: (node, betweenness_ppm, n_seed_paths).
    """
    e = edges.select("src", "dst")
    frontier = (
        sources.select(F.col("node").alias("seed"))
        .distinct()
        .select(
            "seed",
            F.col("seed").alias("node"),
            F.lit(1).cast("long").alias("sigma"),
        )
        .localCheckpoint(eager=True)
    )

    def forward(state: tuple, rnd) -> tuple:
        levels, visited = state
        nxt = rnd.checkpoint(
            levels[-1]
            .join(e, levels[-1]["node"] == e["src"])
            .select("seed", F.col("dst").alias("node"), "sigma")
            .join(visited, ["seed", "node"], "left_anti")
            .groupBy("seed", "node")
            .agg(F.sum("sigma").alias("sigma")),
            new=F.count(F.lit(1)),
        )
        if rnd.seen["new"] == 0:  # the stopping round: no level to sweep back
            return state
        return [*levels, nxt], rnd.checkpoint(
            visited.unionByName(nxt.select("seed", "node"))
        )

    levels, _ = iterate(
        forward, ([frontier], frontier.select("seed", "node")), max_hops,
        until=emptied("new"),
    )

    def backward(state: tuple, rnd) -> tuple:
        # delta: (seed, node, delta_ppm) at the level below the cursor
        delta, acc = state
        lvl = len(levels) - 1 - rnd.index
        down = levels[lvl].select(
            "seed", F.col("node").alias("w"), F.col("sigma").alias("sigma_w")
        )
        if delta is not None:
            down = down.join(
                delta.select("seed", F.col("node").alias("w"), F.col("delta_ppm").alias("dw")),
                ["seed", "w"],
                "left",
            ).select("seed", "w", "sigma_w", F.coalesce("dw", F.lit(0)).alias("dw"))
        else:
            down = down.select("seed", "w", "sigma_w", F.lit(0).cast("long").alias("dw"))
        up = levels[lvl - 1]
        contrib = (
            up.join(e, up["node"] == e["src"])
            .select("seed", "node", "sigma", F.col("dst").alias("w"))
            .join(down, ["seed", "w"])
            .select(
                "seed",
                "node",
                F.expr(
                    f"((sigma * {PPM}) DIV sigma_w) * ({PPM} + dw) DIV {PPM}"
                ).alias("c"),
            )
        )
        delta = rnd.checkpoint(
            contrib.groupBy("seed", "node")
            .agg(F.sum("c").cast("long").alias("delta_ppm")),
            rows=F.count(F.lit(1)),
        )
        if lvl - 1 > 0:
            acc = delta if acc is None else acc.unionByName(delta)
        return delta, acc

    _, acc = iterate(
        backward, (None, None), len(levels) - 1, op="betweenness_sampled.backward"
    )
    if acc is None:
        return frontier.select(
            F.col("node"),
            F.lit(0).cast("long").alias("betweenness_ppm"),
            F.lit(0).cast("long").alias("n_seed_paths"),
        ).where(F.lit(False))
    return acc.groupBy("node").agg(
        F.sum("delta_ppm").cast("long").alias("betweenness_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_seed_paths"),
    )


def sql_betweenness_sampled(edges_sql: str, sources_sql: str, max_hops: int) -> str:
    """DuckDB oracle: forward levels f0..fH then backward deltas, same
    fixed-point algebra unrolled."""
    parts = [
        f"e AS MATERIALIZED ({edges_sql})",
        f"seeds AS (SELECT DISTINCT node AS seed FROM ({sources_sql}))",
        "f0 AS (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma FROM seeds)",
        "v0 AS (SELECT seed, node FROM f0)",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"""f{h} AS (
  SELECT f.seed, e.dst AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
  FROM f{h - 1} f JOIN e ON f.node = e.src
  WHERE NOT EXISTS (
    SELECT 1 FROM v{h - 1} v WHERE v.seed = f.seed AND v.node = e.dst)
  GROUP BY f.seed, e.dst)"""
        )
        parts.append(
            f"v{h} AS (SELECT seed, node FROM v{h - 1} "
            f"UNION ALL SELECT seed, node FROM f{h})"
        )
    # backward: d{H} derives from f{H} with dw=0; each d{l} from f{l}+d{l+1}
    parts.append(
        f"""d{max_hops} AS (
  SELECT u.seed, u.node,
         CAST(sum(((u.sigma * {PPM}) // w.sigma) * {PPM} // {PPM}) AS BIGINT)
         AS delta_ppm
  FROM f{max_hops - 1} u
  JOIN e ON u.node = e.src
  JOIN f{max_hops} w ON w.seed = u.seed AND w.node = e.dst
  GROUP BY u.seed, u.node)"""
    )
    for lvl in range(max_hops - 1, 0, -1):
        parts.append(
            f"""d{lvl} AS (
  SELECT u.seed, u.node,
         CAST(sum(((u.sigma * {PPM}) // w.sigma) * ({PPM} + coalesce(d.delta_ppm, 0)) // {PPM}) AS BIGINT)
         AS delta_ppm
  FROM f{lvl - 1} u
  JOIN e ON u.node = e.src
  JOIN f{lvl} w ON w.seed = u.seed AND w.node = e.dst
  LEFT JOIN d{lvl + 1} d ON d.seed = u.seed AND d.node = w.node
  GROUP BY u.seed, u.node)"""
        )
    # d{l} holds deltas of nodes at LEVEL l-1; level-0 nodes are the seeds
    # themselves and are excluded (Brandes sums delta over v != s), so the
    # union starts at d2.
    union = " UNION ALL ".join(
        f"SELECT seed, node, delta_ppm FROM d{l}" for l in range(2, max_hops + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, CAST(sum(delta_ppm) AS BIGINT) AS betweenness_ppm,
       CAST(count(*) AS BIGINT) AS n_seed_paths
FROM ({union})
GROUP BY node"""
    )


def community_quality(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Partition-quality metrics for a ``(node, community)`` assignment
    of the nodes of undirected ``(a, b)`` edges: per
    community — size, volume (degree sum), internal-edge count, cut
    size, CONDUCTANCE (cut / min(vol, 2m - vol)) and the community's
    Newman MODULARITY contribution (e_c/m - (vol_c/2m)^2), both in
    integer ppm.  The evaluation every community detector (LPA, CC,
    Louvain-style) needs before its output is trusted downstream.

    Exact integer algebra: conductance_ppm = (cut * PPM) DIV
    min(vol, 2m - vol); the modularity contribution quantizes in a
    DOCUMENTED order that keeps every operand in BIGINT at 10^12
    edges: part1_ppm = (e_c * 1e6) DIV m, r_milli = (vol_c * 1e3) DIV
    (2m), contribution = part1_ppm - r_milli^2 (quantize the ratio
    FIRST, then square — the spec both engines run; error vs the real
    quotient is < 2e-3 absolute, constant across engines).

    Scale: edges normalize + dedup once; degrees, volumes, internal
    counts are three partial-combined aggregates; the per-community
    algebra runs on the community-sized table.  Nodes in ``assignment``
    with no edges contribute size only.
    """
    e = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
    )
    asg = assignment.select(
        F.col("node").alias("n"), F.col("community").alias("c")
    ).distinct()
    m_df = e.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        e.select(F.col("x").alias("n"))
        .unionByName(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    node_stats = asg.join(deg, "n", "left").select(
        "n", "c", F.coalesce("deg", F.lit(0)).alias("deg")
    )
    per_c = node_stats.groupBy("c").agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("deg").alias("vol")
    )
    ex = e.join(asg.withColumnRenamed("n", "x").withColumnRenamed("c", "cx"), "x").join(
        asg.withColumnRenamed("n", "y").withColumnRenamed("c", "cy"), "y"
    )
    internal = (
        ex.where(F.col("cx") == F.col("cy"))
        .groupBy(F.col("cx").alias("c"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    j = (
        per_c.join(internal, "c", "left")
        .select("c", "n_nodes", "vol", F.coalesce("e_in", F.lit(0)).alias("e_in"))
        .crossJoin(F.broadcast(m_df))
    )
    cut = F.col("vol") - 2 * F.col("e_in")
    denom = F.least(F.col("vol"), 2 * F.col("m") - F.col("vol"))
    part1 = F.expr(f"(e_in * {PPM}) DIV m")
    r_milli = F.expr("(vol * 1000) DIV (2 * m)")
    return j.select(
        F.col("c").alias("community"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("vol").cast("long").alias("vol"),
        F.col("e_in").cast("long").alias("e_in"),
        cut.cast("long").alias("cut"),
        F.when(denom == 0, F.lit(0))
        .otherwise(F.expr(f"((vol - 2 * e_in) * {PPM}) DIV least(vol, 2 * m - vol)"))
        .cast("long")
        .alias("conductance_ppm"),
        (part1 - r_milli * r_milli).cast("long").alias("modularity_contrib_ppm"),
    )


def sql_community_quality(edges_sql: str, assignment_sql: str) -> str:
    """DuckDB oracle for :func:`community_quality`.  edges_sql -> (a, b);
    assignment_sql -> (node, community)."""
    return f"""WITH e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM ({edges_sql}) WHERE a <> b
),
asg AS MATERIALIZED (
  SELECT DISTINCT node AS n, community AS c FROM ({assignment_sql})
),
m_t AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT x AS n FROM e UNION ALL SELECT y FROM e
  ) GROUP BY n
),
node_stats AS (
  SELECT a.n, a.c, coalesce(d.deg, 0) AS deg
  FROM asg a LEFT JOIN deg d ON a.n = d.n
),
per_c AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_nodes, CAST(sum(deg) AS BIGINT) AS vol
  FROM node_stats GROUP BY c
),
internal AS (
  SELECT ax.c, CAST(count(*) AS BIGINT) AS e_in
  FROM e
  JOIN asg ax ON e.x = ax.n
  JOIN asg ay ON e.y = ay.n
  WHERE ax.c = ay.c
  GROUP BY ax.c
)
SELECT p.c AS community, p.n_nodes, p.vol,
       coalesce(i.e_in, 0) AS e_in,
       p.vol - 2 * coalesce(i.e_in, 0) AS cut,
       CAST(CASE WHEN least(p.vol, 2 * t.m - p.vol) = 0 THEN 0
            ELSE ((p.vol - 2 * coalesce(i.e_in, 0)) * {PPM})
                 // least(p.vol, 2 * t.m - p.vol) END AS BIGINT) AS conductance_ppm,
       CAST((coalesce(i.e_in, 0) * {PPM}) // t.m
            - ((p.vol * 1000) // (2 * t.m)) * ((p.vol * 1000) // (2 * t.m))
            AS BIGINT) AS modularity_contrib_ppm
FROM per_c p LEFT JOIN internal i ON p.c = i.c, m_t t"""


def earliest_arrival(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Time-respecting earliest-arrival reachability (Wu et al., VLDB
    2014) over timestamped ``(src, dst, ts_micros)`` edges: from each
    ``(node)`` source, the earliest time every node can be reached
    along paths whose edge timestamps are NON-DECREASING — the temporal
    analogue of BFS, and what static reachability gets WRONG on
    temporal graphs (a late edge cannot feed an earlier one).  Seeds
    start at arrival 0, so every outgoing edge of a seed is usable.

    Exact integer label-correcting rounds: frontier (seed, node, arr)
    joins edges with ts >= arr, candidate arrival = ts; one (seed, dst)
    min-aggregate; a candidate survives only if it IMPROVES the best
    known arrival (anti-join by comparison), so each round's frontier
    carries only improved labels and the loop is monotone — at most
    ``max_hops`` rounds, each one shuffle join + one aggregate +
    one improvement join, state localCheckpointed; the loop returns at
    the first round that improves no label.  All epoch-micros
    BIGINT, no calendar functions (no TZ hazard by construction).

    Output: (seed, node, arrival_micros, hops) — hops = round that
    first achieved the arrival; seeds themselves are omitted.
    """
    e = edges.select("src", "dst", F.col("ts_micros").cast("long").alias("ts"))
    best = (
        sources.select(F.col("node").alias("seed"))
        .distinct()
        .select(
            "seed",
            F.col("seed").alias("node"),
            F.lit(0).cast("long").alias("arr"),
            F.lit(0).cast("int").alias("hops"),
        )
        .localCheckpoint(eager=True)
    )

    def relax(state: tuple, rnd) -> tuple:
        frontier, best = state
        cand = (
            frontier.join(e, frontier["node"] == e["src"])
            .where(F.col("ts") >= F.col("arr"))
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.min("ts").alias("arr"))
        )
        improved = rnd.checkpoint(
            cand.join(
                best.select("seed", "node", F.col("arr").alias("old_arr")),
                ["seed", "node"],
                "left",
            )
            .where(F.col("old_arr").isNull() | (F.col("arr") < F.col("old_arr")))
            .select("seed", "node", "arr", F.lit(rnd.index + 1).cast("int").alias("hops")),
            new=F.count(F.lit(1)),
        )
        return improved, rnd.checkpoint(
            best.join(improved.select("seed", "node"), ["seed", "node"], "left_anti")
            .unionByName(improved)
        )

    _, best = iterate(relax, (best, best), max_hops, until=emptied("new"))
    return best.where(F.col("hops") > 0).select(
        "seed", "node", F.col("arr").alias("arrival_micros"), "hops"
    )


def sql_earliest_arrival(
    edges_sql: str, sources_sql: str, max_hops: int
) -> str:
    """DuckDB oracle: the same label-correcting rounds unrolled.
    edges_sql -> (src, dst, ts_micros); sources_sql -> (node)."""
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst, CAST(ts_micros AS BIGINT) AS ts FROM ({edges_sql}))",
        "b0 AS (SELECT DISTINCT node AS seed, node, CAST(0 AS BIGINT) AS arr, "
        f"0 AS hops FROM ({sources_sql}))",
        "f0 AS (SELECT * FROM b0)",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"""c{h} AS (
  SELECT f.seed, e.dst AS node, min(e.ts) AS arr
  FROM f{h - 1} f JOIN e ON f.node = e.src AND e.ts >= f.arr
  GROUP BY f.seed, e.dst)"""
        )
        parts.append(
            f"""i{h} AS (
  SELECT c.seed, c.node, c.arr, {h} AS hops
  FROM c{h} c LEFT JOIN b{h - 1} b ON c.seed = b.seed AND c.node = b.node
  WHERE b.arr IS NULL OR c.arr < b.arr)"""
        )
        parts.append(
            f"""b{h} AS (
  SELECT b.* FROM b{h - 1} b
  WHERE NOT EXISTS (SELECT 1 FROM i{h} i WHERE i.seed = b.seed AND i.node = b.node)
  UNION ALL SELECT * FROM i{h})"""
        )
        parts.append(f"f{h} AS (SELECT * FROM i{h})")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT seed, node, arr AS arrival_micros, hops
FROM b{max_hops} WHERE hops > 0"""
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over undirected ``(a, b)`` edges — positive = hubs
    attach to
    hubs (social nets), negative = hubs attach to leaves (the typical
    KG/co-purchase shape).  The one-number structure diagnostic that
    decides whether hub-mitigation (salting, star replacement) is the
    binding concern.

    Determinism contract: all five correlation sums are EXACT
    DECIMAL(38,0)/HUGEINT (each edge contributes its degree pair in
    both orientations, the standard undirected convention); the final
    r = num / sqrt(dx * dy) runs as a short chain of IEEE
    correctly-rounded double ops on those exact integers (cast, one
    multiply, sqrt, one divide, one multiply, floor) — identical on any
    engine, same sanctioned-float contract as neyman_allocation.
    Output: one row (n_edges, r_milli).
    """
    e = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = (
        e.select(F.col("x").alias("n"))
        .unionByName(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    pairs = (
        e.join(deg.withColumnRenamed("n", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("n", "y").withColumnRenamed("deg", "dy"), "y")
        .select("dx", "dy")
    )
    both = pairs.unionByName(
        pairs.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")
    agg = both.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(d("dx")).alias("sx"),
        F.sum(d("dy")).alias("sy"),
        F.sum(d("dx") * d("dy")).alias("sxy"),
        F.sum(d("dx") * d("dx")).alias("sxx"),
        F.sum(d("dy") * d("dy")).alias("syy"),
    )
    num = F.col("m2").cast("decimal(38,0)") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("m2").cast("decimal(38,0)") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("m2").cast("decimal(38,0)") * F.col("syy") - F.col("sy") * F.col("sy")
    r = num.cast("double") / F.sqrt(den_x.cast("double") * den_y.cast("double"))
    return agg.select(
        F.expr("m2 DIV 2").cast("long").alias("n_edges"),
        F.when(
            (den_x == 0) | (den_y == 0), F.lit(0)
        ).otherwise(F.floor(r * 1000)).cast("long").alias("r_milli"),
    )


def sql_degree_assortativity(edges_sql: str) -> str:
    """DuckDB oracle for :func:`degree_assortativity`."""
    return f"""WITH e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM ({edges_sql}) WHERE a <> b
),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT x AS n FROM e UNION ALL SELECT y FROM e
  ) GROUP BY n
),
pairs AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM e JOIN deg dx ON e.x = dx.n JOIN deg dy ON e.y = dy.n
),
bo AS (
  SELECT dx, dy FROM pairs UNION ALL SELECT dy, dx FROM pairs
),
agg AS (
  SELECT CAST(count(*) AS HUGEINT) AS m2,
         CAST(sum(CAST(dx AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(dy AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy,
         CAST(sum(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
         CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy
  FROM bo
)
SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
       CAST(CASE WHEN (m2 * sxx - sx * sx) = 0 OR (m2 * syy - sy * sy) = 0 THEN 0
            ELSE floor(CAST(m2 * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE)
                        * CAST(m2 * syy - sy * sy AS DOUBLE)) * 1000) END AS BIGINT)
       AS r_milli
FROM agg"""


def louvain_moves(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """One-level Louvain-style community refinement over undirected
    ``(a, b)`` edges, SYNCHRONOUS and
    deterministic: every round each node evaluates moving to the
    community of a neighbor by exact integer modularity gain — score
    S(v, c) = 2m * e_{v,c} - deg_v * vol'_c, where vol'_c excludes v
    itself when c is v's current community — and nodes apply their
    argmax move (S desc, community asc tie-break) at once, but only
    HALF the nodes are eligible per round (md5-parity alternation; the
    round's parity selects the class) — the standard distributed-
    Louvain fix for synchronous oscillation: two adjacent singletons
    would otherwise swap communities forever, and the two-coloring
    breaks the symmetry deterministically.  Classic Louvain is
    sequential and visit-order-dependent (results change with
    partitioning); this rendering trades convergence speed for
    ENGINE-EXACT determinism, the same trade label_propagation makes.
    Nodes start in singleton communities.

    Per round: one neighbor-community aggregate (v, c) -> e_vc, one
    community volume rollup, one per-node argmax (two hash aggregates,
    window-free), all shuffles on the node/community keys,
    localCheckpoint per round.  Fixed ``rounds`` on both engines.
    Output: (node, community) after the last round.
    """
    e = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = e.unionByName(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    deg = und.groupBy(F.col("x").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    m2 = e.count() * 2  # 2m, a driver scalar (one count action)
    from nexus_forge_spark.operators.sketches import hash60

    comm = deg.select("node", F.col("node").alias("community")).localCheckpoint(
        eager=True
    )

    def move(comm: DataFrame, rnd) -> DataFrame:
        cu = comm.select(F.col("node").alias("y"), F.col("community").alias("c_u"))
        evc = (
            und.join(cu, "y")
            .groupBy(F.col("x").alias("node"), F.col("c_u").alias("cand"))
            .agg(F.count(F.lit(1)).alias("e_vc"))
        )
        vol = (
            comm.join(deg, "node")
            .groupBy("community")
            .agg(F.sum("deg").alias("vol"))
            .select(F.col("community").alias("cand"), "vol")
        )
        own = comm.select("node", F.col("community").alias("own"))
        scored = (
            evc.join(vol, "cand")
            .join(own, "node")
            .join(deg, "node")
            .select(
                "node",
                "cand",
                (
                    F.lit(m2) * F.col("e_vc")
                    - F.col("deg")
                    * F.when(
                        F.col("cand") == F.col("own"), F.col("vol") - F.col("deg")
                    ).otherwise(F.col("vol"))
                ).alias("s"),
                "own",
            )
        )
        # the stay option must exist even when v has no edge into its own
        # community (e_vc row absent): union an explicit stay row
        stay = (
            own.join(vol.withColumnRenamed("cand", "own"), "own")
            .join(deg, "node")
            .select(
                "node",
                F.col("own").alias("cand"),
                (-F.col("deg") * (F.col("vol") - F.col("deg"))).alias("s"),
                "own",
            )
        )
        cand_all = scored.unionByName(stay).groupBy("node", "cand", "own").agg(
            F.max("s").alias("s")
        )
        best_s = cand_all.groupBy("node").agg(F.max("s").alias("s"))
        best = (
            cand_all.join(best_s, ["node", "s"])
            .groupBy("node", "s")
            .agg(F.min("cand").alias("community"))
        )
        eligible = (hash60(F.col("node"), "lv") % 2) == (rnd.index % 2)
        return rnd.checkpoint(
            best.select("node", F.col("community").alias("new_c"))
            .join(comm.select("node", F.col("community").alias("old_c")), "node")
            .select(
                "node",
                F.when(eligible, F.col("new_c")).otherwise(F.col("old_c")).alias(
                    "community"
                ),
            )
        )

    return iterate(move, comm, rounds)


def sql_louvain_moves(edges_sql: str, rounds: int = 3) -> str:
    """DuckDB oracle: the identical synchronous rounds unrolled."""
    parts = [
        f"""e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM ({edges_sql}) WHERE a <> b)""",
        "und AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e)",
        "deg AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY x)",
        "m2_t AS (SELECT CAST(2 * count(*) AS BIGINT) AS m2 FROM e)",
        "c0 AS (SELECT node, node AS community FROM deg)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""evc{r} AS (
  SELECT u.x AS node, c.community AS cand, CAST(count(*) AS BIGINT) AS e_vc
  FROM und u JOIN c{p} c ON u.y = c.node
  GROUP BY u.x, c.community)"""
        )
        parts.append(
            f"""vol{r} AS (
  SELECT c.community AS cand, CAST(sum(d.deg) AS BIGINT) AS vol
  FROM c{p} c JOIN deg d ON c.node = d.node GROUP BY c.community)"""
        )
        parts.append(
            f"""sc{r} AS (
  SELECT s.node, s.cand, s.own, max(s.s) AS s FROM (
    SELECT e.node, e.cand, o.community AS own,
           t.m2 * e.e_vc - d.deg *
             (CASE WHEN e.cand = o.community THEN v.vol - d.deg ELSE v.vol END) AS s
    FROM evc{r} e
    JOIN vol{r} v ON e.cand = v.cand
    JOIN c{p} o ON e.node = o.node
    JOIN deg d ON e.node = d.node, m2_t t
    UNION ALL
    SELECT o.node, o.community, o.community,
           -d.deg * (v.vol - d.deg)
    FROM c{p} o JOIN vol{r} v ON o.community = v.cand
    JOIN deg d ON o.node = d.node
  ) s GROUP BY s.node, s.cand, s.own)"""
        )
        parts.append(
            f"""bst{r} AS (
  SELECT s.node, min(s.cand) AS new_c
  FROM sc{r} s
  JOIN (SELECT node, max(s) AS s FROM sc{r} GROUP BY node) b
    ON s.node = b.node AND s.s = b.s
  GROUP BY s.node)"""
        )
        parts.append(
            f"""c{r} AS (
  SELECT b.node,
         CASE WHEN (('0x' || substr(md5(CAST(b.node AS VARCHAR) || ':lv'), 1, 15))::BIGINT % 2) = {(r - 1) % 2}
              THEN b.new_c ELSE o.community END AS community
  FROM bst{r} b JOIN c{p} o ON b.node = o.node)"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT node, community FROM c{rounds}"
    )


def hyperball_nf(
    edges: DataFrame,
    rounds: int = 3,
    precision: int = 6,
) -> DataFrame:
    """HyperBall neighborhood function (Boldi & Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall", 2013) over
    ``(src, dst)`` edges: each
    node carries an HLL counter of the nodes within t hops; round t
    unions every node's counter with its out-neighbors' counters, so
    after t rounds counter(v) estimates |ball(v, t)|.  The per-round
    sum over nodes is the neighborhood function N(t) — the curve whose
    90%-crossing is the effective diameter, the standard
    one-pass-per-hop diameter estimate for graphs too large for exact
    BFS from every node.

    Scale shape: state is at most ``2^precision`` rows per node (the
    mergeable register representation from operators/sketches.py), the
    per-round step is one equi-join on ``dst`` plus one map-side
    combining ``max(rho)`` aggregate — exactly the published systolic
    sketch-merge, O(log diameter)-ish rounds, no frontier explosion.
    State is localCheckpoint-pinned per round.

    Determinism contract: registers/rho are pure integer algebra on the
    portable 60-bit md5 hash; each per-node estimate is the sanctioned
    one-chain IEEE multiply/divide of exactly-representable integers
    (sketches.hll_estimate), rounded to BIGINT *before* the cross-node
    sum, so the sum is order-independent integer addition.  Output:
    one row per t in [0, rounds] — (t, ball_sum, pct_ppm of the final
    ball_sum, integer-floored).

    No reference analogue (beyond-reference graph toolkit, SURVEY §6);
    the reference's graph surface is SPARQL passthrough
    (kgforge/core/archetypes/read_only_store.py:212-245).
    """
    out = _hyperball_rounds(
        edges, rounds, precision, "hyperball_nf",
        lambda sketch, est, t: sketch.select(
            F.round(est).cast("long").alias("est")
        ).agg(
            F.lit(t).cast("int").alias("t"),
            F.sum("est").cast("long").alias("ball_sum"),
        ),
    )
    fin = out.where(F.col("t") == rounds).select(F.col("ball_sum").alias("fin"))
    return out.crossJoin(F.broadcast(fin)).select(
        "t",
        "ball_sum",
        F.expr("ball_sum * 1000000 DIV fin").cast("long").alias("pct_ppm"),
    )


def _hyperball_rounds(
    edges: DataFrame,
    rounds: int,
    precision: int,
    op: str,
    per_round,
) -> DataFrame:
    """The HyperBall round loop shared by :func:`hyperball_nf` and
    :func:`hyperball_closeness`: the union over t in [0, rounds] of
    ``per_round(sketch, est, t)``, where ``sketch`` holds the round-t
    (node, regs) counters and ``est`` is the per-node estimate column.
    Rounds record under the caller's name ``op``."""
    from nexus_forge_spark.operators.sketches import HASH_BITS, hash60

    m = 1 << precision
    rho_max = HASH_BITS - precision + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # registers live PACKED as one array<int> per node (absent register ==
    # rho 0 — the estimate algebra already prices rho 0 as an absent
    # register, so values are identical to the row-per-register form the
    # DuckDB oracle keeps).  The packed form is the round-cost dial: the
    # per-round merge join moves |E| array rows instead of |E| x m
    # register rows (measured 39s -> 20s at sf0.1, m=64), and the merge
    # itself is m map-side-combining max() aggregates.
    h = hash60(F.col("node"), HB_SALT)
    wq = F.shiftright(h, precision)
    tz = F.round(F.log2(wq.bitwiseAND(-wq))).cast("int")
    rho = F.when(wq == 0, F.lit(rho_max)).otherwise(tz + F.lit(1))
    sk = nodes.select(
        "node",
        F.pmod(h, F.lit(m)).cast("int").alias("reg"),
        rho.alias("rho"),
    ).select(
        "node",
        F.expr(
            f"transform(sequence(0, {m - 1}),"
            " i -> CAST(CASE WHEN i = reg THEN rho ELSE 0 END AS INT))"
        ).alias("regs"),
    ).localCheckpoint(eager=True)

    est_num = F.expr(
        f"aggregate(regs, CAST(0 AS BIGINT),"
        f" (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), {rho_max} - r))"
    )
    est = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(1 << rho_max))
        / est_num.cast("double")
    )

    merge_aggs = [F.max(F.col("regs")[i]).alias(f"_r{i}") for i in range(m)]
    pack = F.array(*[F.col(f"_r{i}") for i in range(m)]).alias("regs")

    def merge(state: tuple, rnd) -> tuple:
        sk, out = state
        prop = e.join(sk.withColumnRenamed("node", "dst"), "dst").select(
            F.col("src").alias("node"), "regs"
        )
        sk = rnd.checkpoint(
            sk.unionByName(prop).groupBy("node").agg(*merge_aggs).select("node", pack)
        )
        return sk, out.unionByName(per_round(sk, est, rnd.index + 1))

    return iterate(merge, (sk, per_round(sk, est, 0)), rounds, op=op)[1]


def sql_hyperball_nf(edges_sql: str, rounds: int = 3, precision: int = 6) -> str:
    """DuckDB oracle for :func:`hyperball_nf`: identical rounds unrolled."""
    from nexus_forge_spark.operators.sketches import HASH_BITS, sql_hash60

    m = 1 << precision
    rho_max = HASH_BITS - precision + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    parts = [
        f"""e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst)""",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"""s0 AS (
  SELECT node, CAST(h % {m} AS INT) AS register,
    CASE WHEN h // {m} = 0 THEN {rho_max}
         ELSE CAST(round(log2((h // {m}) & -(h // {m}))) AS INT) + 1 END AS rho
  FROM (SELECT node, {sql_hash60('node', HB_SALT)} AS h FROM nodes))""",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""s{t} AS (
  SELECT node, register, max(rho) AS rho FROM (
    SELECT node, register, rho FROM s{t - 1}
    UNION ALL
    SELECT e.src AS node, s.register, s.rho
    FROM e JOIN s{t - 1} s ON s.node = e.dst
  ) GROUP BY node, register)"""
        )
    for t in range(rounds + 1):
        parts.append(
            f"""nf{t} AS (
  SELECT {t} AS t, CAST(sum(est) AS BIGINT) AS ball_sum FROM (
    SELECT CAST(round(CAST({alpha!r} AS DOUBLE) * {m} * {m}
                * CAST({1 << rho_max} AS DOUBLE)
                / CAST(num AS DOUBLE)) AS BIGINT) AS est
    FROM (
      SELECT node,
        CAST(sum(CAST(1::BIGINT << ({rho_max} - rho) AS BIGINT)) AS BIGINT)
          + CAST({m} - count(*) AS BIGINT)
            * CAST(1::BIGINT << {rho_max} AS BIGINT) AS num
      FROM s{t} GROUP BY node)))"""
        )
    union = "\n  UNION ALL ".join(f"SELECT t, ball_sum FROM nf{t}" for t in range(rounds + 1))
    parts.append(f"nf AS ({union})")
    parts.append(f"fin AS (SELECT ball_sum AS fin FROM nf WHERE t = {rounds})")
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT t, ball_sum, CAST(ball_sum * 1000000 // fin AS BIGINT) AS pct_ppm"
        + "\nFROM nf, fin"
    )


def scan_clusters(
    edges: DataFrame,
    eps_num: int = 6,
    eps_den: int = 10,
    mu: int = 3,
) -> DataFrame:
    """SCAN structural graph clustering (Xu, Yuruk, Feng, Schweiger,
    KDD 2007) over undirected ``(a, b)`` edges: an edge is an
    epsilon-link when the structural
    similarity of its endpoints' CLOSED neighborhoods,
    sigma(x,y) = |N[x] ∩ N[y]| / sqrt(|N[x]| |N[y]|), is at least
    eps; a node with >= mu epsilon-neighbors (self included) is a
    core; clusters are connected components over core-core
    epsilon-links; epsilon-reachable non-cores join as borders; the
    rest split into hubs (adjacent to >= 2 distinct clusters) and
    outliers — the roles label-propagation and modularity methods
    can't give you (bridges vs noise).

    Everything is integer-exact: sigma >= eps is tested cross-
    multiplied as (cn + 2)^2 * eps_den^2 >= eps_num^2 * (dx+1)(dy+1)
    (cn = common OPEN neighbors; the +2 is the adjacent endpoints
    themselves), so no float ever forms.  Common-neighbor counting is
    the edge-support join (one adjacency expansion + one equi-join,
    same shape as ktruss support); components use the O(log^2 n)
    large-star/small-star CC, min-id canonical.  Border nodes take the
    MIN cluster id among their core epsilon-neighbors (the published
    algorithm is visit-order-dependent there; min is the
    deterministic, partitioning-independent choice).

    Output: (node, cluster BIGINT nullable — NULL for hub/outlier,
    role in {'core','border','hub','outlier'}).

    ``mu >= 2`` is the supported range: mu = 1 would make every
    isolated node a core by the self-inclusive convention, but
    isolated nodes never appear in an edge list — validated instead
    of silently misclassifying (round-3 ADVICE, same contract as
    dbscan_from_pairs).
    """
    if mu < 2:
        raise ValueError(
            "scan_clusters: mu must be >= 2 (mu=1 cores include isolated "
            "nodes, which an edge list cannot represent)"
        )
    from nexus_forge_spark.operators.canonicalize import connected_components

    e = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = e.unionByName(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    deg = und.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    # common neighbors per edge == per-edge triangle support: enumerate
    # each triangle ONCE as a wedge from the DEGREE-ORDERED orientation
    # (oriented_edges caps wedge fan-out at sqrt(m)-ish on hubs) closed
    # against the normalized edge set, then credit all three edges.
    # Counts are orientation-independent, so the oracle's plain
    # adjacency-intersection SQL grades the same values; vs expanding
    # every edge by its endpoint adjacency (sum(deg) rows) the oriented
    # wedge count is the hub-capped sqrt(m)-ish bound.
    o = oriented_edges(e, "x", "y")
    w1 = o.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    w2 = o.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    wed = w1.join(w2, "u").where(F.col("v") < F.col("w"))
    tris = wed.join(
        e,
        (F.least("v", "w") == F.col("x")) & (F.greatest("v", "w") == F.col("y")),
    ).select("u", "v", "w")
    common = (
        tris.select(F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y"))
        .unionAll(
            tris.select(
                F.least("u", "w").alias("x"), F.greatest("u", "w").alias("y")
            )
        )
        .unionAll(tris.select(F.col("v").alias("x"), F.col("w").alias("y")))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    degx = deg.select(F.col("x"), F.col("deg").alias("dx"))
    degy = deg.select(F.col("x").alias("y"), F.col("deg").alias("dy"))
    sig = (
        e.join(degx, "x")
        .join(degy, "y")
        .join(common, ["x", "y"], "left")
        .select("x", "y", "dx", "dy", F.coalesce("cn", F.lit(0)).alias("cn"))
    )
    lhs = (F.col("cn") + 2) * (F.col("cn") + 2) * F.lit(eps_den * eps_den)
    rhs = F.lit(eps_num * eps_num) * (F.col("dx") + 1) * (F.col("dy") + 1)
    eps_e = sig.where(lhs >= rhs).select("x", "y").localCheckpoint(eager=True)
    eps_und = eps_e.unionByName(
        eps_e.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    ecnt = eps_und.groupBy("x").agg((F.count(F.lit(1)) + 1).alias("ncnt"))
    cores = ecnt.where(F.col("ncnt") >= mu).select(F.col("x").alias("node"))
    core_e = (
        eps_e.join(cores.withColumnRenamed("node", "x"), "x", "leftsemi")
        .join(cores.withColumnRenamed("node", "y"), "y", "leftsemi")
    )
    cc = connected_components(
        core_e.select(F.col("x").alias("a"), F.col("y").alias("b")),
        cores.withColumnRenamed("node", "entity_id"),
    )
    core_assign = cc.select(
        F.col("entity_id").alias("node"),
        F.col("canonical_id").alias("cluster"),
        F.lit("core").alias("role"),
    ).localCheckpoint(eager=True)
    border = (
        eps_und.join(cores.withColumnRenamed("node", "x"), "x", "leftanti")
        .join(
            core_assign.select(F.col("node").alias("y"), "cluster"), "y"
        )
        .groupBy("x")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("x").alias("node"), "cluster", F.lit("border").alias("role"))
    )
    assigned = core_assign.unionByName(border).localCheckpoint(eager=True)
    allnodes = deg.select(F.col("x").alias("node"))
    rest = allnodes.join(assigned.select("node"), "node", "leftanti")
    nbrc = (
        und.select(F.col("x").alias("node"), F.col("y").alias("nbr"))
        .join(rest, "node", "leftsemi")
        .join(assigned.select(F.col("node").alias("nbr"), "cluster"), "nbr")
        .groupBy("node")
        .agg(F.countDistinct("cluster").alias("ncl"))
    )
    ctype = dict(assigned.dtypes)["cluster"]
    hubs = nbrc.where(F.col("ncl") >= 2).select(
        "node", F.lit(None).cast(ctype).alias("cluster"), F.lit("hub").alias("role")
    )
    outliers = (
        rest.join(hubs.select("node"), "node", "leftanti")
        .select(
            "node",
            F.lit(None).cast(ctype).alias("cluster"),
            F.lit("outlier").alias("role"),
        )
    )
    return assigned.unionByName(hubs).unionByName(outliers)


def sql_scan_clusters(
    edges_sql: str, eps_num: int = 6, eps_den: int = 10, mu: int = 3
) -> str:
    """DuckDB oracle for :func:`scan_clusters` (recursive-CTE CC)."""
    return f"""WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM ({edges_sql}) WHERE a <> b
),
und AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e),
deg AS (SELECT x AS n, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY x),
common AS (
  SELECT e.x, e.y, CAST(count(*) AS BIGINT) AS cn
  FROM e JOIN und w1 ON w1.x = e.x JOIN und w2 ON w2.x = e.y AND w2.y = w1.y
  GROUP BY e.x, e.y
),
eps_e AS MATERIALIZED (
  SELECT e.x, e.y
  FROM e JOIN deg dx ON dx.n = e.x JOIN deg dy ON dy.n = e.y
  LEFT JOIN common c ON c.x = e.x AND c.y = e.y
  WHERE (coalesce(c.cn, 0) + 2) * (coalesce(c.cn, 0) + 2) * {eps_den * eps_den}
        >= {eps_num * eps_num} * (dx.deg + 1) * (dy.deg + 1)
),
eps_und AS (SELECT x, y FROM eps_e UNION ALL SELECT y, x FROM eps_e),
cores AS MATERIALIZED (
  SELECT x AS node FROM eps_und GROUP BY x HAVING count(*) + 1 >= {mu}
),
ceu AS MATERIALIZED (
  SELECT u.x, u.y FROM eps_und u
  JOIN cores c1 ON c1.node = u.x JOIN cores c2 ON c2.node = u.y
),
reach(src, dst) AS (
  SELECT node, node FROM cores
  UNION
  SELECT r.src, u.y FROM reach r JOIN ceu u ON r.dst = u.x
),
core_assign AS MATERIALIZED (
  SELECT src AS node, min(dst) AS cluster FROM reach GROUP BY src
),
border AS (
  SELECT u.x AS node, min(ca.cluster) AS cluster
  FROM eps_und u
  JOIN core_assign ca ON ca.node = u.y
  WHERE u.x NOT IN (SELECT node FROM cores)
  GROUP BY u.x
),
assigned AS MATERIALIZED (
  SELECT node, cluster, 'core' AS role FROM core_assign
  UNION ALL SELECT node, cluster, 'border' FROM border
),
rest AS (
  SELECT n AS node FROM deg
  WHERE n NOT IN (SELECT node FROM assigned)
),
hubs AS (
  SELECT u.x AS node
  FROM und u JOIN rest r ON r.node = u.x
  JOIN assigned a ON a.node = u.y
  GROUP BY u.x HAVING count(DISTINCT a.cluster) >= 2
)
SELECT node, cluster, role FROM assigned
UNION ALL
SELECT node, NULL, 'hub' FROM hubs
UNION ALL
SELECT node, NULL, 'outlier' FROM rest
WHERE node NOT IN (SELECT node FROM hubs)"""


def butterfly_counts(
    edges: DataFrame,
    max_expand_degree: int | None = None,
) -> DataFrame:
    """Bipartite butterfly (2x2-biclique) census (Sanei-Mehri,
    Sariyüce, Tirthapura, KDD 2018) — the bipartite analogue of the
    triangle count: butterflies measure co-clustering in
    incidence-shaped data (order x part, doc x shingle, user x item)
    where triangles cannot exist by construction.  Edges are ``(l, r)``
    left-right incidences.

    Counting identity: expand each LEFT node's sorted distinct
    right-neighbor set into i<j pairs (map-side, bounded by the
    expansion side's degree — pick the naturally bounded side, e.g.
    basket size; ``max_expand_degree`` drops hub left-nodes and is
    REPORTED, not silent), count left-support ``c`` per right pair,
    then butterflies = sum C(c,2), wedges = sum c — all BIGINT exact.

    Output: one row (n_wedges, n_connected_pairs, n_butterflies,
    n_expand_dropped).
    """
    e = (
        edges.select("l", "r")
        .distinct()
    )
    grouped = e.groupBy("l").agg(F.sort_array(F.collect_set("r")).alias("rs"))
    if max_expand_degree is not None:
        dropped = grouped.where(F.size("rs") > max_expand_degree)
        n_dropped = dropped.count()
        grouped = grouped.where(F.size("rs") <= max_expand_degree)
    else:
        n_dropped = 0
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(rs, (x, i) ->"
                " transform(slice(rs, i + 2, size(rs)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    support = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    return support.agg(
        F.sum("c").cast("long").alias("n_wedges"),
        F.count(F.lit(1)).cast("long").alias("n_connected_pairs"),
        F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("n_butterflies"),
        F.lit(n_dropped).cast("long").alias("n_expand_dropped"),
    )


def sql_butterfly_counts(
    edges_sql: str,
    max_expand_degree: int | None = None,
) -> str:
    """DuckDB oracle for :func:`butterfly_counts` (pair self-join —
    the single-node semantics the map-side expansion must match)."""
    cap = (
        f"WHERE l IN (SELECT l FROM e GROUP BY l HAVING count(*) <= {max_expand_degree})"
        if max_expand_degree is not None
        else ""
    )
    dropped = (
        f"(SELECT CAST(count(*) AS BIGINT) FROM ("
        f"SELECT l FROM e GROUP BY l HAVING count(*) > {max_expand_degree}))"
        if max_expand_degree is not None
        else "CAST(0 AS BIGINT)"
    )
    return f"""WITH e AS MATERIALIZED (
  SELECT DISTINCT l, r FROM ({edges_sql})
),
kept AS (SELECT l, r FROM e {cap}),
pairs AS (
  SELECT x.l, x.r AS a, y.r AS b
  FROM kept x JOIN kept y ON x.l = y.l AND x.r < y.r
),
support AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY a, b
)
SELECT CAST(sum(c) AS BIGINT) AS n_wedges,
       CAST(count(*) AS BIGINT) AS n_connected_pairs,
       CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_butterflies,
       {dropped} AS n_expand_dropped
FROM support"""


class ColoringError(RuntimeError):
    """jp_coloring failed to color every node within max_iter rounds."""


def jp_coloring(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Jones-Plassmann distributed greedy coloring (Jones & Plassmann
    1993, the Luby-style symmetry-breaking workhorse) of undirected
    ``(a, b)`` edges: every node gets
    a random-but-deterministic priority (the portable 60-bit hash,
    ties on node id); each round, nodes that beat all their UNCOLORED
    neighbors' priorities color themselves with the minimum excludant
    of their already-colored neighbors' colors.  Terminates in
    O(log n) rounds w.h.p.; the output is a proper coloring — the
    conflict-free parallel schedule for merge/update waves (two
    same-colored entities never share an edge, so a whole color class
    commits concurrently).

    Determinism: priorities are pure data (hash60), winner selection
    and mex are set algebra — the coloring is a function of the graph
    alone, independent of partitioning or visit order.  The mex is a
    fold over the SORTED distinct neighbor-color list (bounded by
    degree; identical ``aggregate``/``list_reduce`` semantics on both
    engines).  Raises :class:`ColoringError` on round exhaustion
    rather than returning a partial coloring.

    Output: (node, color) with color a dense small int >= 0.
    """
    from nexus_forge_spark.operators.sketches import hash60

    e = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).localCheckpoint(eager=True)
    nodes = sym.select(F.col("x").alias("node")).distinct()
    pri, seen = checkpoint_observed(
        nodes.select("node", hash60(F.col("node"), JP_SALT).alias("h")),
        uncolored=F.count(F.lit(1)),
    )
    if seen["uncolored"] == 0:
        return nodes.select("node", F.lit(0).cast("int").alias("color"))

    def color(state: tuple, rnd) -> tuple:
        uncolored, colored = state
        ux = uncolored.select(F.col("node").alias("x"), F.col("h").alias("hx"))
        uy = uncolored.select(F.col("node").alias("y"), F.col("h").alias("hy"))
        blocked = (
            sym.join(ux, "x")
            .join(uy, "y")
            .where(
                (F.col("hy") > F.col("hx"))
                | ((F.col("hy") == F.col("hx")) & (F.col("y") > F.col("x")))
            )
            .select(F.col("x").alias("node"))
            .distinct()
        )
        winners = rnd.checkpoint(uncolored.join(blocked, "node", "leftanti"))
        if colored is None:
            ncolors = winners.select(
                "node", F.array().cast("array<int>").alias("cs")
            )
        else:
            nbrc = (
                sym.join(
                    winners.select(F.col("node").alias("x")), "x", "leftsemi"
                )
                .join(
                    colored.select(
                        F.col("node").alias("y"), F.col("color")
                    ),
                    "y",
                )
                .groupBy(F.col("x").alias("node"))
                .agg(F.sort_array(F.collect_set("color")).alias("cs"))
            )
            ncolors = winners.select("node").join(nbrc, "node", "left").select(
                "node",
                F.coalesce("cs", F.array().cast("array<int>")).alias("cs"),
            )
        newc = ncolors.select(
            "node",
            F.expr(
                "aggregate(cs, 0, (acc, c) ->"
                " CASE WHEN c = acc THEN acc + 1 ELSE acc END)"
            ).cast("int").alias("color"),
        )
        colored = rnd.checkpoint(
            newc if colored is None else colored.unionByName(newc)
        )
        return rnd.checkpoint(
            uncolored.join(winners, "node", "leftanti"),
            uncolored=F.count(F.lit(1)),
        ), colored

    _, colored = iterate(
        color, (pri, None), max_iter,
        until=emptied("uncolored"),
        error=lambda _: ColoringError(f"uncolored nodes remain after {max_iter} rounds"),
    )
    return colored


def sql_jp_coloring(edges_sql: str, rounds: int = 20) -> str:
    """DuckDB oracle for :func:`jp_coloring`: identical rounds
    unrolled (choose ``rounds`` >= the converged round count — extra
    rounds are no-ops on an empty uncolored set)."""
    from nexus_forge_spark.operators.sketches import sql_hash60

    h = sql_hash60("node", JP_SALT)
    parts = [
        f"""e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM ({edges_sql}) WHERE a <> b)""",
        "sym AS MATERIALIZED (SELECT x, y FROM e UNION ALL SELECT y, x FROM e)",
        f"""pri AS MATERIALIZED (
  SELECT node, {h} AS hp FROM (SELECT DISTINCT x AS node FROM sym))""",
        "u0 AS (SELECT node, hp FROM pri)",
        "c0 AS (SELECT node, 0 AS color FROM pri WHERE false)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""w{r} AS MATERIALIZED (
  SELECT ux.node, ux.hp FROM u{p} ux
  WHERE NOT EXISTS (
    SELECT 1 FROM sym s JOIN u{p} uy ON uy.node = s.y
    WHERE s.x = ux.node
      AND (uy.hp > ux.hp OR (uy.hp = ux.hp AND uy.node > ux.node))))"""
        )
        parts.append(
            f"""n{r} AS MATERIALIZED (
  SELECT w.node,
    list_reduce(
      [0] || coalesce(ls.cs, []),
      (acc, c) -> CASE WHEN c = acc THEN acc + 1 ELSE acc END) AS color
  FROM w{r} w LEFT JOIN (
    SELECT s.x AS node, list_sort(list(DISTINCT c.color)) AS cs
    FROM sym s JOIN c{p} c ON c.node = s.y
    GROUP BY s.x
  ) ls ON ls.node = w.node)"""
        )
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT node, color FROM c{p} "
            f"UNION ALL SELECT node, color FROM n{r})"
        )
        parts.append(
            f"""u{r} AS MATERIALIZED (
  SELECT u.node, u.hp FROM u{p} u
  WHERE u.node NOT IN (SELECT node FROM w{r}))"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, CAST(color AS INT) AS color FROM c{rounds}"
    )


def hyperball_closeness(
    edges: DataFrame,
    rounds: int = 3,
    precision: int = 6,
) -> DataFrame:
    """Per-node distance-sum / closeness estimates from the HyperBall
    counters over ``(src, dst)`` edges — the paper's headline
    application (Boldi & Vigna 2013
    compute closeness/harmonic centrality on billion-node graphs this
    way): with e_t(v) the HLL estimate of |ball(v, t)|, the estimated
    sum of distances to nodes within ``rounds`` hops telescopes to

        dist_sum(v) = rounds * e_R(v) - sum_{t < R} e_t(v)

    (each newly reached shell at distance t contributes t), so one
    integer aggregate over the per-round estimate rows replaces any
    per-distance bookkeeping.  Same packed-register round loop and
    sanctioned one-chain IEEE estimate as :func:`hyperball_nf`; e_t is
    rounded to BIGINT per (node, t) BEFORE the telescoping sum, so the
    output is engine-exact integer algebra.

    Output: (node, ball_final, dist_sum) — ball_final the t=R ball
    estimate, dist_sum the estimated within-R distance sum (the
    closeness denominator; 0 for isolated-in-R nodes).
    """
    ests = _hyperball_rounds(
        edges, rounds, precision, "hyperball_closeness",
        lambda sketch, est, t: sketch.select(
            "node",
            F.lit(t).cast("int").alias("t"),
            F.round(est).cast("long").alias("est"),
        ),
    )
    return ests.groupBy("node").agg(
        F.max(F.when(F.col("t") == rounds, F.col("est"))).alias("ball_final"),
        F.sum(
            F.when(F.col("t") == rounds, F.lit(rounds) * F.col("est")).otherwise(
                -F.col("est")
            )
        ).cast("long").alias("dist_sum"),
    )


def sql_hyperball_closeness(edges_sql: str, rounds: int = 3, precision: int = 6) -> str:
    """DuckDB oracle for :func:`hyperball_closeness`: identical rounds
    unrolled on the row-per-register representation (absent register
    == rho 0 prices identically, so values match the packed form)."""
    from nexus_forge_spark.operators.sketches import HASH_BITS, sql_hash60

    m = 1 << precision
    rho_max = HASH_BITS - precision + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    parts = [
        f"""e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst)""",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"""s0 AS MATERIALIZED (
  SELECT node, CAST(h % {m} AS INT) AS register,
    CASE WHEN h // {m} = 0 THEN {rho_max}
         ELSE CAST(round(log2((h // {m}) & -(h // {m}))) AS INT) + 1 END AS rho
  FROM (SELECT node, {sql_hash60('node', HB_SALT)} AS h FROM nodes))""",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""s{t} AS MATERIALIZED (
  SELECT node, register, max(rho) AS rho FROM (
    SELECT node, register, rho FROM s{t - 1}
    UNION ALL
    SELECT e.src AS node, s.register, s.rho
    FROM e JOIN s{t - 1} s ON s.node = e.dst
  ) GROUP BY node, register)"""
        )
    for t in range(rounds + 1):
        parts.append(
            f"""est{t} AS (
  SELECT node, {t} AS t,
    CAST(round(CAST({alpha!r} AS DOUBLE) * {m} * {m}
         * CAST({1 << rho_max} AS DOUBLE)
         / CAST(num AS DOUBLE)) AS BIGINT) AS est
  FROM (
    SELECT node,
      CAST(sum(CAST(1::BIGINT << ({rho_max} - rho) AS BIGINT)) AS BIGINT)
        + CAST({m} - count(*) AS BIGINT)
          * CAST(1::BIGINT << {rho_max} AS BIGINT) AS num
    FROM s{t} GROUP BY node))"""
        )
    union = "\n  UNION ALL ".join(
        f"SELECT node, t, est FROM est{t}" for t in range(rounds + 1)
    )
    parts.append(f"ests AS ({union})")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT node,
  CAST(max(CASE WHEN t = {rounds} THEN est END) AS BIGINT) AS ball_final,
  CAST(sum(CASE WHEN t = {rounds} THEN {rounds} * est ELSE -est END) AS BIGINT)
    AS dist_sum
FROM ests GROUP BY node"""
    )


class DensestError(RuntimeError):
    """densest_subgraph failed to exhaust the graph within max_iter."""


def densest_subgraph(
    edges: DataFrame,
    eps_num: int = 3,
    eps_den: int = 2,
    max_iter: int = 30,
) -> DataFrame:
    """Parallel densest-subgraph 2(1+eps)-approximation of undirected
    ``(a, b)`` edges (Bahmani,
    Kumar, Vassilvitskii, VLDB 2012 — the MapReduce version of
    Charikar's peeling): each round removes EVERY node whose degree is
    at most (eps_num/eps_den) times the current average degree
    (deg * n * eps_den <= 2 * m * eps_num, all BIGINT cross-
    multiplied), records the round's (n, m), and the answer is the
    survivor set entering the round of maximum density — the densest
    community core that seeds spam/collusion detection and dense-
    duplicate mining.  O(log_{1+eps} n) rounds by the paper's
    guarantee; raises :class:`DensestError` if max_iter rounds fail to
    exhaust the graph.

    Determinism: the only comparison is integer; the best round is
    the FIRST round attaining the maximum scaled density
    ``m * 10^12 div n`` (the documented quantization — exact rational
    argmax needs cross-round pairwise cross-multiplication; at 10^12
    scale the quantized argmax is the contract).  Per round: one
    degree aggregate, one threshold filter, two semi-joins to shrink
    the edge set, state localCheckpoint-pinned; the round stats (n, m)
    are counted by the checkpoint jobs that pin the alive node and edge
    sets, and the loop ends when no node is left.

    Output: (node, leave_round, in_densest, best_n, best_m) for every
    node of the input graph (leave_round = the round the node was
    peeled; survivors of the final round get the last round index).
    """
    # n = alive nodes and m = alive edges entering each round are counted
    # by the checkpoint jobs that pin them (the edge set only keeps edges
    # between alive nodes, so m is also half the alive degree sum)
    e, seen = checkpoint_observed(
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct(),
        m=F.count(F.lit(1)),
    )
    alive_n, seen_n = checkpoint_observed(
        e.select(F.col("x").alias("node"))
        .unionByName(e.select(F.col("y").alias("node")))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    if seen_n["n"] == 0:
        return alive_n.select(
            "node", F.lit(0).cast("int").alias("leave_round"),
            F.lit(False).alias("in_densest"),
            F.lit(0).cast("long").alias("best_n"),
            F.lit(0).cast("long").alias("best_m"),
        )
    stats: list[tuple[int, int, int]] = []  # (round, n, m)

    def peel(state: tuple, rnd) -> tuple:
        alive_n, alive_e, labeled = state
        n, m = rnd.prev["n"], rnd.prev["m"]
        stats.append((rnd.index, n, m))
        und = alive_e.unionByName(
            alive_e.select(F.col("y").alias("x"), F.col("x").alias("y"))
        )
        # degree over the ALIVE NODE SET (isolated survivors price deg 0 —
        # dropping them silently loses nodes from the output)
        deg = alive_n.join(
            und.groupBy(F.col("x").alias("node")).agg(
                F.count(F.lit(1)).alias("deg")
            ),
            "node",
            "left",
        ).select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
        removed = deg.where(
            F.col("deg") * F.lit(n) * F.lit(eps_den)
            <= F.lit(2 * m) * F.lit(eps_num)
        ).select("node", F.lit(rnd.index).cast("int").alias("leave_round"))
        labeled = rnd.checkpoint(
            removed if labeled is None else labeled.unionByName(removed)
        )
        alive_n = rnd.checkpoint(
            alive_n.join(removed, "node", "leftanti"), n=F.count(F.lit(1))
        )
        alive_e = rnd.checkpoint(
            alive_e.join(alive_n.withColumnRenamed("node", "x"), "x", "leftsemi")
            .join(alive_n.withColumnRenamed("node", "y"), "y", "leftsemi"),
            m=F.count(F.lit(1)),
        )
        return alive_n, alive_e, labeled

    _, _, labeled = iterate(
        peel, (alive_n, e, None), max_iter, prev={**seen, **seen_n},
        until=emptied("n"),
        error=lambda _: DensestError(
            f"graph not exhausted after {max_iter} peel rounds"
        ),
    )
    best_r, best_n, best_m = max(
        stats, key=lambda s: (s[2] * 10**12 // s[1], -s[0])
    )
    return labeled.select(
        "node",
        "leave_round",
        (F.col("leave_round") >= F.lit(best_r)).alias("in_densest"),
        F.lit(best_n).cast("long").alias("best_n"),
        F.lit(best_m).cast("long").alias("best_m"),
    )


def sql_densest_subgraph(
    edges_sql: str, eps_num: int = 3, eps_den: int = 2, rounds: int = 30
) -> str:
    """DuckDB oracle for :func:`densest_subgraph`: identical peel
    rounds unrolled (rounds >= the converged count; empty rounds are
    no-ops), best round by the same quantized-density argmax."""
    parts = [
        f"""a0 AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM ({edges_sql}) WHERE a <> b)""",
        """v0 AS MATERIALIZED (
  SELECT x AS node FROM a0 UNION SELECT y FROM a0)""",
    ]
    for t in range(rounds):
        parts.append(
            f"""d{t} AS MATERIALIZED (
  SELECT v.node, CAST(coalesce(g.deg, 0) AS BIGINT) AS deg
  FROM v{t} v LEFT JOIN (
    SELECT x AS node, count(*) AS deg FROM (
      SELECT x, y FROM a{t} UNION ALL SELECT y, x FROM a{t}
    ) GROUP BY x
  ) g ON g.node = v.node)"""
        )
        parts.append(
            f"""s{t} AS MATERIALIZED (
  SELECT {t} AS r, CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(deg), 0) // 2 AS BIGINT) AS m
  FROM d{t})"""
        )
        parts.append(
            f"""rm{t} AS MATERIALIZED (
  SELECT d.node, {t} AS leave_round
  FROM d{t} d, s{t} s
  WHERE d.deg * s.n * {eps_den} <= 2 * s.m * {eps_num})"""
        )
        parts.append(
            f"""v{t + 1} AS MATERIALIZED (
  SELECT node FROM v{t} WHERE node NOT IN (SELECT node FROM rm{t}))"""
        )
        parts.append(
            f"""a{t + 1} AS MATERIALIZED (
  SELECT x, y FROM a{t}
  WHERE x IN (SELECT node FROM v{t + 1})
    AND y IN (SELECT node FROM v{t + 1}))"""
        )
    rm_union = "\n  UNION ALL ".join(
        f"SELECT node, leave_round FROM rm{t}" for t in range(rounds)
    )
    st_union = "\n  UNION ALL ".join(
        f"SELECT r, n, m FROM s{t} WHERE n > 0" for t in range(rounds)
    )
    parts.append(f"labeled AS ({rm_union})")
    parts.append(f"stats AS ({st_union})")
    parts.append(
        """best AS (
  SELECT r AS best_r, n AS best_n, m AS best_m
  FROM stats
  ORDER BY CAST(m AS HUGEINT) * 1000000000000 // n DESC, r ASC
  LIMIT 1)"""
    )
    return (
        "WITH " + ",\n".join(parts)
        + """
SELECT l.node, CAST(l.leave_round AS INT) AS leave_round,
       l.leave_round >= b.best_r AS in_densest,
       CAST(b.best_n AS BIGINT) AS best_n, CAST(b.best_m AS BIGINT) AS best_m
FROM labeled l, best b"""
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node of undirected ``(a, b)``
    edges (Watts & Strogatz 1998):
    C(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)) in integer ppm —
    the per-node cohesion score (high C = inside a dense duplicate/
    community cluster, low C at hubs = star-shaped linkage worth
    auditing), plus the global average in the same quantization.

    Reuses the degree-ordered triangle enumeration (triangle_counts —
    hub-capped wedge fan-out) and one degree aggregate; coefficient
    arithmetic is pure BIGINT with truncating DIV, degree < 2 nodes
    price 0 by convention.  Output: (node, deg, n_triangles, cc_ppm).
    """
    und = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    tri = triangle_counts(und, "x", "y")
    deg = (
        und.select(F.col("x").alias("node"))
        .unionByName(und.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        tri.join(deg, "node")
        .select(
            "node",
            F.col("deg").cast("long").alias("deg"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.when(F.col("deg") < 2, F.lit(0))
            .otherwise(
                F.expr("(2 * n_triangles * 1000000) DIV (deg * (deg - 1))")
            )
            .cast("long")
            .alias("cc_ppm"),
        )
    )


def _hindex_round(sym: DataFrame, c: DataFrame) -> DataFrame:
    """One histogram h-index round for :func:`coreness` — hash aggregates
    plus a JVM-side fold, NO Window (tests/test_plan_health.py pins
    that): the hub-funnel shape (sorting a degree-d adjacency in one
    task) never appears because the degree-sized fan-in dies at the
    map-side-combinable ``groupBy(p, cn)``, so any single task sees at
    most the node's DISTINCT-VALUE histogram (bounded by the core-value
    range, orders below degree on any real graph).  H is then one
    whole-stage-codegen ``aggregate()`` fold over that histogram sorted
    by value descending — H = max over present values v of least(v,
    N_{>=v}) with N_{>=v} the running count; evaluating only at present
    values is exact (an absent t has the suffix count of the next
    present value above, which dominates least(t, N)), and counting is
    invariant to tie order among equal values, so the round is
    deterministic without a tiebreak."""
    hist = (
        sym.join(
            c.select(F.col("node").alias("q"), F.col("c").alias("cn")), "q"
        )
        .groupBy("p", "cn")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        hist.groupBy(F.col("p").alias("node"))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("cn").alias("v"), F.col("cnt").alias("n"))
                ),
                asc=False,
            ).alias("hst")
        )
        .select(
            "node",
            F.expr(
                "aggregate(hst,"
                " named_struct('cum', CAST(0 AS BIGINT),"
                "              'best', CAST(0 AS BIGINT)),"
                " (acc, x) -> named_struct("
                "   'cum', acc.cum + x.n,"
                "   'best', greatest(acc.best,"
                "                    least(CAST(x.v AS BIGINT),"
                "                          acc.cum + x.n))),"
                " acc -> acc.best)"
            )
            .cast("long")
            .alias("c"),
        )
    )


def coreness(edges: DataFrame, rounds: int = CORENESS_ROUNDS) -> DataFrame:
    """Full core decomposition of undirected ``(a, b)`` edges — EVERY
    node's core number, not just
    membership at one k (the kcore operator's upgrade) — via the h-index
    iteration (Lü, Zhou, Zhang & Stanley, Nature Comms 2016):

        c_0(v)   = deg(v)
        c_{t+1}(v) = H({c_t(u) : u ~ v})

    where H is the h-index (the largest h with >= h neighbours of value
    >= h).  The sequence is pointwise non-increasing (H of a node's
    neighbours is at most its degree, and H is monotone) over a node set
    that never changes, and its fixpoint is exactly the coreness.  So
    each round's checkpoint job also observes sum(c): an unchanged sum
    is an unchanged vector, i.e. the fixpoint, and the loop returns at
    that first no-op round.  Rounds past the fixpoint are no-ops, so the
    result equals ``sql_coreness``'s fixed ``rounds`` unrolling whenever
    the fixpoint falls inside the budget; otherwise this raises (the
    honesty contract of the iterative family) — it never returns a
    still-changing vector.

    Per round H is computed over the neighbour-value HISTOGRAM — never a
    per-node sort of the adjacency, so a 10^6-degree hub never funnels
    its degree-sized neighbour list through one task (the same
    discipline as label_propagation / quality-dedup election): the
    map-side-combinable ``groupBy(p, c_u).count()`` reduces the hub's
    fan-in to its distinct-value table before any single reducer sees
    it, and H falls out of one whole-stage-codegen ``aggregate()`` fold
    over that (value-range-bounded) histogram — see
    :func:`_hindex_round`.  That holds for an adjacency AQE spreads over
    more than one task.  One whose observed payload AQE would coalesce
    into a single task anyway (:func:`fits_one_task`: 1 MB under the
    default confs on more than one core) is read as one partition, and
    each round's values are broadcast to it: the round's join and both
    aggregations then run in that one task with no shuffle, a broadcast
    job plus the checkpoint job.  Coreness ranks nodes by embeddedness —
    the dedup-cluster-core vs straggler score kcore thresholds coarsely.

    Output: (node, coreness BIGINT).
    """
    sym = _symmetric(_undirected(edges, "a", "b"))
    sym, seen = checkpoint_observed(sym, bytes=F.sum(row_bytes(sym)))
    values = lambda c: c  # noqa: E731
    # a union of two shuffled halves: its partitions are not AQE's choice
    if fits_one_task(sym, seen["bytes"], shuffled=False):
        # each round's values (at most sym's rows) are broadcast to it
        sym, values = sym.coalesce(1), F.broadcast

    sum_c = F.coalesce(F.sum("c"), F.lit(0))
    c, seen = checkpoint_observed(
        sym.groupBy(F.col("p").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
        sum_c=sum_c,
    )
    c = iterate(
        lambda c, rnd: rnd.checkpoint(_hindex_round(sym, values(c)), sum_c=sum_c),
        c, rounds, prev=seen, until=unchanged("sum_c"),
        error=lambda last: RuntimeError(
            f"coreness: still changing after {rounds} rounds (sum of core "
            f"values fell to {last['sum_c']}) — raise `rounds`"
        ),
    )
    return c.select("node", F.col("c").alias("coreness"))


def sql_coreness(edges_sql: str) -> str:
    """DuckDB oracle for :func:`coreness` — the same h-index fixpoint
    via rank algebra (max(least(rank, value)) is the textbook H and fine
    single-node; the Spark side computes H from the value histogram to
    avoid the per-hub sort), ``CORENESS_ROUNDS`` rounds unrolled as
    MATERIALIZED CTEs."""
    ctes = []
    prev = "c0"
    for i in range(1, CORENESS_ROUNDS + 1):
        name = f"c{i}"
        ctes.append(f"""{name} AS MATERIALIZED (
  SELECT p AS node, CAST(max(least(rk, cn)) AS BIGINT) AS c
  FROM (
    SELECT s.p, v.c AS cn,
           row_number() OVER (PARTITION BY s.p ORDER BY v.c DESC, s.q) AS rk
    FROM sym s JOIN {prev} v ON s.q = v.node
  ) GROUP BY p
)""")
        prev = name
    body = ",\n".join(ctes)
    return f"""WITH und AS MATERIALIZED (
  SELECT DISTINCT greatest(a, b) AS p, least(a, b) AS q
  FROM ({edges_sql}) WHERE a <> b
),
sym AS MATERIALIZED (
  SELECT p, q FROM und UNION ALL SELECT q AS p, p AS q FROM und
),
c0 AS MATERIALIZED (
  SELECT p AS node, CAST(count(*) AS BIGINT) AS c FROM sym GROUP BY p
),
{body}
SELECT node, c AS coreness FROM {prev}"""


def disparity_backbone(edges: DataFrame, alpha_milli: int = 50) -> DataFrame:
    """Multiscale backbone of a weighted ``(a, b, w)`` graph by the
    disparity filter
    (Serrano, Boguñá & Vespignani, PNAS 2009): an edge survives if its
    weight is statistically surprising against at least one endpoint's
    null model — p-value alpha_ij = (1 - w_ij / s_i)^(k_i - 1) < alpha —
    the standard cleanup between a co-occurrence count graph and any
    community/centrality pass (raw co-occurrence is dominated by hub
    noise that thresholding by weight cannot remove scale-freely).

    Engine-exact in the LOG domain: -ln(alpha) = (k-1) * -ln(1 - w/s)
    and -ln(1 - w/s) = ln(s / (s - w)) is one fixed-point
    intlog.ln_micro over exact BIGINT sums — no float pow, no per-edge
    fold (the direct (1-x)^k form would need a variable-length product;
    the log form is one multiply).  Keep iff
    (k_i - 1) * nll_micro > -ln(alpha) * 1e3 with alpha given in
    milli-units (alpha_milli=50 -> alpha=0.05).  Degree-1 endpoints
    cannot certify significance (their alpha is 1), per the paper.

    Shape: one strength/degree aggregate + one broadcast-eligible join
    per endpoint side.  Output: surviving (a, b, w, nll_a_micro,
    nll_b_micro) with a < b.
    """
    from nexus_forge_spark.functions.intlog import ln_micro_py, ln_micro_sql

    und = (
        edges.select(
            F.greatest(F.col("a"), F.col("b")).alias("p"),
            F.least(F.col("a"), F.col("b")).alias("q"),
            F.col("w").cast("long").alias("w"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("p", "q")
        .agg(F.sum("w").alias("w"))
    )
    sym = und.unionByName(
        und.select(F.col("q").alias("p"), F.col("p").alias("q"), "w")
    )
    stats = sym.groupBy(F.col("p").alias("node")).agg(
        F.sum("w").alias("s"), F.count(F.lit(1)).cast("long").alias("k")
    )
    # -ln(alpha_from_this_side) in micro-nats; degree-1 -> 0 (never keeps)
    def side(node_col: str, out: str) -> DataFrame:
        return stats.select(
            F.col("node").alias(node_col),
            F.col("s").alias(f"__s_{out}"),
            F.col("k").alias(f"__k_{out}"),
        )

    nll = ln_micro_sql("__s_a", "(__s_a - w)", "spark")
    nll_b = ln_micro_sql("__s_b", "(__s_b - w)", "spark")
    thresh = -ln_micro_py(alpha_milli, 1000)  # -ln(alpha) in micro-nats
    return (
        und.join(side("p", "a"), "p")
        .join(side("q", "b"), "q")
        .select(
            F.col("p").alias("a"),
            F.col("q").alias("b"),
            "w",
            F.expr(
                f"CAST(CASE WHEN __k_a > 1 THEN (__k_a - 1) * ({nll})"
                f" ELSE 0 END AS BIGINT)"
            ).alias("nll_a_micro"),
            F.expr(
                f"CAST(CASE WHEN __k_b > 1 THEN (__k_b - 1) * ({nll_b})"
                f" ELSE 0 END AS BIGINT)"
            ).alias("nll_b_micro"),
        )
        .where(
            (F.col("nll_a_micro") > thresh) | (F.col("nll_b_micro") > thresh)
        )
    )


def sql_disparity_backbone(edges_sql: str, alpha_milli: int = 50) -> str:
    """DuckDB oracle for :func:`disparity_backbone` (edges_sql ->
    (a, b, w))."""
    from nexus_forge_spark.functions.intlog import ln_micro_py, ln_micro_sql

    nll_a = ln_micro_sql("sa.s", "(sa.s - u.w)", "duck")
    nll_b = ln_micro_sql("sb.s", "(sb.s - u.w)", "duck")
    thresh = -ln_micro_py(alpha_milli, 1000)
    return f"""WITH und AS MATERIALIZED (
  SELECT greatest(a, b) AS p, least(a, b) AS q, CAST(sum(w) AS BIGINT) AS w
  FROM ({edges_sql}) WHERE a <> b
  GROUP BY 1, 2
),
sym AS (SELECT p, q, w FROM und UNION ALL SELECT q, p, w FROM und),
stats AS MATERIALIZED (
  SELECT p AS node, CAST(sum(w) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS k
  FROM sym GROUP BY p
),
scored AS (
  SELECT u.p AS a, u.q AS b, u.w,
    CAST(CASE WHEN sa.k > 1 THEN (sa.k - 1) * ({nll_a}) ELSE 0 END
         AS BIGINT) AS nll_a_micro,
    CAST(CASE WHEN sb.k > 1 THEN (sb.k - 1) * ({nll_b}) ELSE 0 END
         AS BIGINT) AS nll_b_micro
  FROM und u
  JOIN stats sa ON sa.node = u.p
  JOIN stats sb ON sb.node = u.q
)
SELECT * FROM scored
WHERE nll_a_micro > {thresh} OR nll_b_micro > {thresh}"""
