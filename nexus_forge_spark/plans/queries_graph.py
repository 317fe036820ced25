"""The graph contract-query family (``q_*`` Spark plans, ``sql_*`` DuckDB
oracles), registered by driver_queries.py."""

from nexus_forge_spark.plans._qshared import *  # noqa: F401,F403
from nexus_forge_spark.plans.queries_dedup import (
    q_dedup_minhash, sql_dedup_components, sql_dedup_minhash,
)



def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank over the customer->part co-purchase
    bipartite graph (orders x lineitem).  BIGINT micro-probability
    arithmetic end to end, so the unrolled DuckDB recurrence matches
    bit-for-bit.  Hot parts make this naturally skewed — the per-iteration
    aggregate partial-combines map-side."""
    from nexus_forge_spark.operators.graph import pagerank

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, iterations=PAGERANK_ITERS).select(
        F.col("node").cast("long").alias("node"),
        F.col("rank_micro").cast("long").alias("rank_micro"),
    )


def sql_pagerank_copurchase() -> str:
    from nexus_forge_spark.operators.graph import DAMPING_PCT, PPM

    parts = [
        rf"""WITH edges AS (
  SELECT DISTINCT o.o_custkey AS src, {PART_NODE_OFFSET} + l.l_partkey AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
meta AS (
  SELECT count(*) AS n,
         ({PPM} * {100 - DAMPING_PCT}) // (100 * count(*)) AS base,
         {PPM} // count(*) AS r_init
  FROM nodes
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, r_init AS r FROM nodes, meta)"""
    ]
    for i in range(PAGERANK_ITERS):
        parts.append(
            rf""",
r{i + 1} AS (
  SELECT nodes.node,
    base + ({DAMPING_PCT} * coalesce(s.s, 0)) // 100 AS r
  FROM nodes CROSS JOIN meta
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.r // d.outdeg) AS s
    FROM edges e
    JOIN r{i} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.node = nodes.node
)"""
        )
    parts.append(
        rf"""
SELECT CAST(node AS BIGINT) AS node,
  CAST(r AS BIGINT) AS rank_micro
FROM r{PAGERANK_ITERS}"""
    )
    return "".join(parts)


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the MinHash near-dup pair graph
    (duplicate clusters of >= 3 close under transitivity, so triangles are
    plentiful).  Degree-ordered orientation caps hub fan-out BEFORE the
    two-path join — the public skew trick for triangle enumeration."""
    from nexus_forge_spark.operators.graph import triangle_counts

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    return triangle_counts(pairs).select(
        F.col("node").cast("long").alias("node"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
    )


def sql_triangle_counts() -> str:
    return rf"""WITH pr AS (SELECT a, b FROM ({sql_dedup_minhash()})),
und AS (
  SELECT DISTINCT greatest(a, b) AS p, least(a, b) AS q
  FROM pr WHERE a <> b
),
sym AS (SELECT p, q FROM und UNION ALL SELECT q AS p, p AS q FROM und),
deg AS (SELECT p, count(*) AS d FROM sym GROUP BY p),
o AS (
  SELECT s.p AS lo, s.q AS hi
  FROM sym s
  JOIN deg d1 ON d1.p = s.p
  JOIN deg d2 ON d2.p = s.q
  WHERE d1.d < d2.d OR (d1.d = d2.d AND s.p < s.q)
),
tri AS (
  SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
  FROM o e1
  JOIN o e2 ON e2.lo = e1.hi
  JOIN o e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
),
corners AS (
  SELECT u AS node FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
),
cc AS (SELECT node, count(*) AS n_triangles FROM corners GROUP BY node),
nodes AS (SELECT lo AS node FROM o UNION SELECT hi FROM o)
SELECT CAST(node AS BIGINT) AS node,
  CAST(coalesce(cc.n_triangles, 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN cc USING (node)"""


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means, integer-exact (operators/clustering.py):
    vectors quantize to positive BIGINTs once, assignment is a map-side
    Arrow int64 matmul against broadcast centroids, updates are one hash
    agg of per-dim partial sums.  The oracle unrolls all 3 Lloyd
    iterations in SQL (assign -> per-dim truncated mean -> splice empty
    clusters), so hash equality pins the entire training trajectory —
    including argmin tie-breaks and empty-cluster handling."""
    from nexus_forge_spark.operators.clustering import (
        kmeans_train,
        quantize_vectors,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    _, final = kmeans_train(quantize_vectors(emb), _KM_K, _KM_ITERS)
    return final.select(
        F.col("vid").cast("long").alias("vec_id"),
        F.col("cid").cast("int").alias("cid"),
        F.col("dist").cast("long").alias("dist"),
    )


_KM_DIST_SQL = (
    "list_sum(list_transform(list_zip(p.qv, c.qv),"
    " z -> (z[1]-z[2])*(z[1]-z[2])))"
)


def _kmeans_ctes() -> list[str]:
    """The unrolled-Lloyd CTE chain shared by the kmeans and silhouette
    oracles: pts, c0..c{iters}, a1.., m1.., ending with afinal (vid,
    cid, dist) assigned against c{iters}."""
    dist = _KM_DIST_SQL

    def assign_cte(name: str, cents: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT vid, cid, dist FROM (
    SELECT vid, cid, dist,
           row_number() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn
    FROM (SELECT p.vid, c.cid, {dist} AS dist
          FROM pts p CROSS JOIN {cents} c)
  ) WHERE rn = 1)"""

    parts = [
        """pts AS MATERIALIZED (
  SELECT vec_id AS vid,
         list_transform(embedding,
           x -> CAST(floor((CAST(x AS DOUBLE) + 2.0) * 1000) AS BIGINT)) AS qv
  FROM embeddings)""",
        f"""c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INT) AS cid, qv
  FROM (SELECT vid, qv FROM pts ORDER BY vid LIMIT {_KM_K}))""",
    ]
    for i in range(1, _KM_ITERS + 1):
        parts.append(assign_cte(f"a{i}", f"c{i - 1}"))
        parts.append(
            f"""m{i} AS MATERIALIZED (
  SELECT cid, dimi, CAST(sum(comp) // count(*) AS BIGINT) AS v
  FROM (SELECT a.cid, u.z[1] AS comp, u.z[2] AS dimi
        FROM a{i} a JOIN pts p USING (vid),
             UNNEST(list_zip(p.qv, range(1, {_KM_DIM + 1}))) AS u(z))
  GROUP BY cid, dimi)"""
        )
        parts.append(
            f"""c{i} AS MATERIALIZED (
  SELECT prev.cid, coalesce(nw.qv, prev.qv) AS qv
  FROM c{i - 1} prev LEFT JOIN
       (SELECT cid, list(v ORDER BY dimi) AS qv FROM m{i} GROUP BY cid) nw
       USING (cid))"""
        )
    parts.append(assign_cte("afinal", f"c{_KM_ITERS}"))
    return parts


def sql_kmeans() -> str:
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes())
        + """
SELECT CAST(vid AS BIGINT) AS vec_id, CAST(cid AS INT) AS cid,
       CAST(dist AS BIGINT) AS dist
FROM afinal"""
    )


def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette audit of the k-means clustering
    (operators/clustering.py simplified_silhouette): per-cluster and
    overall cohesion-vs-separation in squared-distance integer ppm —
    LINEAR in n (one Arrow matmul vs the broadcast centroids + one
    map-side agg) where the classic silhouette's pairwise means are
    quadratic and cannot scale.  The oracle re-derives a/b from the
    unrolled-Lloyd CTE chain's all-pairs distance relation, so the hash
    pins assignment, centroid trajectory, AND the audit algebra."""
    from nexus_forge_spark.operators.clustering import (
        assign_clusters,
        kmeans_train,
        quantize_vectors,
        simplified_silhouette,
    )

    pts = quantize_vectors(load_table(spark, "embeddings", sf_dir))
    cents, _ = kmeans_train(pts, _KM_K, _KM_ITERS)
    return simplified_silhouette(assign_clusters(pts, cents), cents)


def sql_cluster_silhouette() -> str:
    dist = _KM_DIST_SQL
    parts = _kmeans_ctes()
    parts.append(
        f"""alld AS MATERIALIZED (
  SELECT p.vid, c.cid, {dist} AS dist
  FROM pts p CROSS JOIN c{_KM_ITERS} c)"""
    )
    parts.append(
        """ab AS (
  SELECT f.vid, f.cid, f.dist AS a2, min(d.dist) AS b2
  FROM afinal f JOIN alld d ON d.vid = f.vid AND d.cid <> f.cid
  GROUP BY f.vid, f.cid, f.dist)"""
    )
    parts.append(
        """sil AS (
  SELECT cid, (b2 - a2) * 1000000 // greatest(b2, 1) AS s_ppm FROM ab)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT CAST(cid AS INT) AS cid, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(s_ppm) // count(*) AS BIGINT) AS mean_s_ppm
FROM sil GROUP BY cid
UNION ALL
SELECT -1, CAST(count(*) AS BIGINT), CAST(sum(s_ppm) // count(*) AS BIGINT)
FROM sil
ORDER BY cid"""
    )


def q_khop_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS distances (<= 3) over the undirected customer<->part
    co-purchase graph, seeded from nation-0 customers.  Level-synchronous
    frontier joins with visited-set anti-joins: each node expands once
    regardless of path multiplicity.  Oracle: DuckDB recursive CTE with
    UNION dedup + min(dist) — matching hashes prove the iterative Spark
    plan computes the same fixed point."""
    from nexus_forge_spark.operators.graph import khop_distances

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_nationkey") == 0)
        .select(F.col("c_custkey").alias("node"))
    )
    return khop_distances(edges, seeds, max_hops=_KHOP_HOPS).select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("int").alias("dist"),
    )


def sql_khop_copurchase() -> str:
    return f"""WITH RECURSIVE fwd AS (
  SELECT DISTINCT o.o_custkey AS src, l.l_partkey + {PART_NODE_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd
),
seeds AS (
  SELECT c_custkey AS node FROM customer WHERE c_nationkey = 0
),
walk AS (
  SELECT node, 0 AS dist FROM seeds
  UNION
  SELECT e.dst AS node, w.dist + 1 AS dist
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {_KHOP_HOPS}
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(dist) AS INT) AS dist
FROM walk GROUP BY node"""


def q_graph_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien/Latapy/Habib 2009 —
    the standard cheap diameter estimator): BFS from the minimum node id,
    jump to the farthest node found (ties to the smaller id), BFS again;
    the second eccentricity lower-bounds the true diameter and is exact
    on trees.  Two khop_distances runs + two 1-row argmax collects — the
    kcenter driver-round pattern; each sweep is the level-synchronous
    frontier/visited plan, hop-capped at {hops}.  Output: one row
    (seed, far_node, ecc1, diameter_lb, n_reached)."""
    from nexus_forge_spark.operators.graph import khop_distances

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    seed_val = edges.agg(F.min("src")).collect()[0][0]
    seeds = spark.createDataFrame([(int(seed_val),)], "node long")
    d1 = khop_distances(edges, seeds, max_hops=_DIAM_HOPS)
    far = (
        d1.orderBy(F.col("dist").desc(), F.col("node")).limit(1).collect()[0]
    )
    seeds2 = spark.createDataFrame([(int(far.node),)], "node long")
    d2 = khop_distances(edges, seeds2, max_hops=_DIAM_HOPS)
    return d2.agg(
        F.lit(int(seed_val)).cast("long").alias("seed"),
        F.lit(int(far.node)).cast("long").alias("far_node"),
        F.lit(int(far.dist)).cast("int").alias("ecc1"),
        F.max("dist").cast("int").alias("diameter_lb"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )


def sql_graph_diameter() -> str:
    return f"""WITH RECURSIVE fwd AS (
  SELECT DISTINCT o.o_custkey AS src, l.l_partkey + {PART_NODE_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd
),
seed AS (SELECT min(src) AS node FROM edges),
walk1 AS (
  SELECT node, 0 AS dist FROM seed
  UNION
  SELECT e.dst AS node, w.dist + 1 AS dist
  FROM walk1 w JOIN edges e ON e.src = w.node
  WHERE w.dist < {_DIAM_HOPS}
),
d1 AS (SELECT node, min(dist) AS dist FROM walk1 GROUP BY node),
far AS (SELECT node, dist FROM d1 ORDER BY dist DESC, node LIMIT 1),
walk2 AS (
  SELECT node, 0 AS dist FROM far
  UNION
  SELECT e.dst AS node, w.dist + 1 AS dist
  FROM walk2 w JOIN edges e ON e.src = w.node
  WHERE w.dist < {_DIAM_HOPS}
),
d2 AS (SELECT node, min(dist) AS dist FROM walk2 GROUP BY node)
SELECT CAST((SELECT node FROM seed) AS BIGINT) AS seed,
  CAST((SELECT node FROM far) AS BIGINT) AS far_node,
  CAST((SELECT dist FROM far) AS INT) AS ecc1,
  CAST(max(dist) AS INT) AS diameter_lb,
  CAST(count(*) AS BIGINT) AS n_reached
FROM d2"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities over the
    MinHash near-dup pair graph (dup clusters are natural communities).
    Ties pinned to (count DESC, label ASC) and synchronous rounds make a
    fixed-iteration run engine-exact, so the DuckDB oracle unrolls the
    identical recurrence — same methodology as pagerank_copurchase."""
    from nexus_forge_spark.operators.graph import label_propagation

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    return label_propagation(pairs, iterations=LPA_ITERS).select(
        F.col("node").cast("long").alias("node"),
        F.col("community").cast("long").alias("community"),
    )


def sql_label_propagation() -> str:
    parts = [
        rf"""WITH pr AS (SELECT a, b FROM ({sql_dedup_minhash()})),
und AS (
  SELECT DISTINCT greatest(a, b) AS p, least(a, b) AS q
  FROM pr WHERE a <> b
),
sym AS (
  SELECT p AS node, q AS nbr FROM und
  UNION ALL SELECT q AS node, p AS nbr FROM und
),
l0 AS (SELECT DISTINCT node, node AS community FROM sym)"""
    ]
    for i in range(LPA_ITERS):
        parts.append(
            rf""",
l{i + 1} AS (
  SELECT node, lbl AS community FROM (
    SELECT s.node, l.community AS lbl,
      row_number() OVER (
        PARTITION BY s.node ORDER BY count(*) DESC, l.community ASC
      ) AS rn
    FROM sym s JOIN l{i} l ON l.node = s.nbr
    GROUP BY s.node, l.community
  ) WHERE rn = 1
)"""
        )
    parts.append(
        rf"""
SELECT CAST(node AS BIGINT) AS node,
  CAST(community AS BIGINT) AS community
FROM l{LPA_ITERS}"""
    )
    return "".join(parts)


def q_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core density filter (operators/graph.py kcore) over the undirected
    customer<->part co-purchase graph: iterative peeling to the unique
    fixpoint where every surviving node keeps >= k surviving neighbours.
    Spark peels to convergence (degree aggregate + two AQE-broadcast
    semi-joins per round, edge set only shrinks); the oracle unrolls 16
    peeling rounds as MATERIALIZED CTEs — rounds past convergence
    are no-ops, so fixpoint equality is exactly what matching hashes
    prove."""
    from nexus_forge_spark.operators.graph import kcore

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("a"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("b"),
        )
        .distinct()
    )
    out = kcore(edges, k=_KCORE_K, max_iter=_KCORE_ROUNDS)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("degree").cast("long").alias("degree"),
    )


def sql_kcore_copurchase() -> str:
    k = _KCORE_K
    ctes = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT GREATEST(o.o_custkey, l.l_partkey + {PART_NODE_OFFSET}) AS p,
         LEAST(o.o_custkey, l.l_partkey + {PART_NODE_OFFSET}) AS q
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        prev = f"e{i - 1}"
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT p AS n, count(*) AS deg
  FROM (SELECT p, q FROM {prev} UNION ALL SELECT q AS p, p AS q FROM {prev})
  GROUP BY p
)"""
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE deg >= {k})"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
  SELECT e.p, e.q FROM {prev} e
  JOIN s{i} sp ON e.p = sp.n JOIN s{i} sq ON e.q = sq.n
)"""
        )
    last = f"e{_KCORE_ROUNDS}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(n AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT p AS n FROM {last} UNION ALL SELECT q AS n FROM {last})
GROUP BY n"""
    )


def q_component_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test assignment at NEAR-DUP-COMPONENT
    granularity: every document is keyed by its near-duplicate component
    representative (MinHash+LSH candidates -> Jaccard verify -> connected
    components), then the deterministic ppm-hash split ladder draws on
    the COMPONENT key — so two near-duplicate documents can never land on
    opposite sides of a train/eval boundary (the contamination mode plain
    per-doc hash splitting cannot prevent)."""
    from nexus_forge_spark.operators.canonicalize import connected_components
    from nexus_forge_spark.operators.curation import hash_split

    docs = _docs_with_mutants(spark, sf_dir).select("doc_id")
    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    comp = connected_components(pairs).select(
        F.col("entity_id").alias("doc_id"),
        F.col("canonical_id").alias("canon"),
    )
    keyed = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("canon"), F.col("doc_id")).alias("canon"),
    )
    out = hash_split(keyed, _SPLITS, id_col="canon", salt="csplit")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("canon").cast("long").alias("canonical_id"),
        "split",
    )


def sql_component_split() -> str:
    names = sorted(_SPLITS)
    ppms = [int(round(_SPLITS[k] * 1_000_000)) for k in names]
    draw = _sql_ppm_hash("canon", "csplit")
    cases = []
    cum = 0
    for name, p in zip(names[:-1], ppms[:-1]):
        cum += p
        cases.append(f"WHEN {draw} < {cum} THEN '{name}'")
    ladder = " ".join(cases)
    return f"""WITH {_MUTANT_DOCS_SQL},
comp AS (SELECT * FROM ({sql_dedup_components()})),
keyed AS (
  SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canon
  FROM docs d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(canon AS BIGINT) AS canonical_id,
       CASE {ladder} ELSE '{names[-1]}' END AS split
FROM keyed"""


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source harmonic centrality (operators/graph.py
    harmonic_centrality): H(v) = sum of scale div d(s,v) over a
    deterministic customer sample, distances truncated at 4 hops — the
    Eppstein-Wang-style scalable centrality estimate, integer-exact.
    Spark runs the (seed, node)-keyed BFS; the oracle re-derives
    distances by unit-weight Bellman-Ford — independent paths."""
    from nexus_forge_spark.operators.graph import harmonic_centrality

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    half = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_custkey") % _HC_SEED_MOD == 1)
        .select(F.col("c_custkey").alias("node"))
    )
    out = harmonic_centrality(edges, seeds, max_hops=_HC_HOPS)
    return out.select(
        F.col("node").cast("long").alias("node"),
        "harmonic_micro",
        "n_sources_reached",
    )


def sql_harmonic_centrality_q() -> str:
    from nexus_forge_spark.operators.graph import sql_harmonic_centrality

    half = f"""SELECT DISTINCT o.o_custkey AS src,
       l.l_partkey + {PART_NODE_OFFSET} AS dst
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"""
    edges = f"""SELECT src, dst FROM ({half})
UNION ALL SELECT dst AS src, src AS dst FROM ({half})"""
    seeds = (
        f"SELECT c_custkey AS node FROM customer "
        f"WHERE c_custkey % {_HC_SEED_MOD} = 1"
    )
    inner = sql_harmonic_centrality(edges, seeds, max_hops=_HC_HOPS)
    return f"""SELECT CAST(node AS BIGINT) AS node, harmonic_micro,
       n_sources_reached
FROM ({inner})"""


def q_ppr_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.py personalized_pagerank):
    teleport mass returns to a 3-customer seed set, so the integer
    micro-prob scores measure co-purchase relevance TO those customers —
    the KG neighborhood-relevance primitive.  Same BIGINT truncating
    recurrence as pagerank_copurchase; the oracle unrolls it."""
    from nexus_forge_spark.operators.graph import personalized_pagerank

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    half = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = spark.createDataFrame([(s,) for s in _PPR_SEEDS], "node long")
    out = personalized_pagerank(edges, seeds, iterations=_PPR_ITERS)
    return out.select(
        F.col("node").cast("long").alias("node"), "rank_micro"
    ).where(F.col("rank_micro") > 0)


def sql_ppr_copurchase() -> str:
    from nexus_forge_spark.operators.graph import DAMPING_PCT, PPM

    n_seeds = len(_PPR_SEEDS)
    base = (PPM * (100 - DAMPING_PCT)) // (100 * n_seeds)
    init = PPM // n_seeds
    seed_vals = ", ".join(f"({s})" for s in _PPR_SEEDS)
    parts = [
        rf"""WITH half AS (
  SELECT DISTINCT o.o_custkey AS src, {PART_NODE_OFFSET} + l.l_partkey AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half),
seeds(node) AS (VALUES {seed_vals}),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
  UNION SELECT node FROM seeds
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN {init} ELSE 0 END AS r
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node
)"""
    ]
    for i in range(_PPR_ITERS):
        parts.append(
            rf""",
r{i + 1} AS (
  SELECT n.node,
    CASE WHEN sd.node IS NOT NULL THEN {base} ELSE 0 END
      + ({DAMPING_PCT} * coalesce(c.s, 0)) // 100 AS r
  FROM nodes n
  LEFT JOIN seeds sd ON n.node = sd.node
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.r // d.outdeg) AS s
    FROM edges e
    JOIN r{i} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
)"""
        )
    parts.append(
        rf"""
SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_micro
FROM r{_PPR_ITERS} WHERE r > 0"""
    )
    return "".join(parts)


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus (operators/graph.py random_walks):
    2 hash-seeded walks of 4 steps from every customer over the symmetric
    co-purchase graph — the DeepWalk sampling stage, reproducible across
    engines, retries, and cluster layouts because each step draw is a
    content hash of the walk coordinates, not RNG state."""
    from nexus_forge_spark.operators.graph import random_walks

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    half = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    starts = half.select(F.col("src").alias("node")).distinct()
    out = random_walks(edges, num_walks=_RW_NUM, walk_length=_RW_LEN, starts=starts)
    return out.select(
        F.col("start").cast("long").alias("start"),
        F.col("rep").cast("long").alias("rep"),
        "step",
        F.col("node").cast("long").alias("node"),
    )


def sql_random_walks_q() -> str:
    from nexus_forge_spark.operators.graph import sql_random_walks

    half = f"""SELECT DISTINCT o.o_custkey AS src,
       l.l_partkey + {PART_NODE_OFFSET} AS dst
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"""
    edges = f"""SELECT src, dst FROM ({half})
UNION ALL SELECT dst AS src, src AS dst FROM ({half})"""
    starts = f"SELECT DISTINCT src AS node FROM ({half})"
    inner = sql_random_walks(
        edges, num_walks=_RW_NUM, walk_length=_RW_LEN, starts_sql=starts
    )
    return f"""SELECT CAST(start AS BIGINT) AS start, CAST(rep AS BIGINT) AS rep,
       step, CAST(node AS BIGINT) AS node
FROM ({inner})"""


def q_sssp_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (operators/graph.py sssp): synchronous
    Bellman-Ford over the quantity-weighted co-purchase graph from one
    seed customer — khop's unit-weight pruning cannot carry weights
    (a longer-hop path can be cheaper), so relaxation + min-fold it is.
    Fixed 6 rounds keep the recurrence engine-exact; the oracle unrolls
    the identical algebra.  BIGINT weights, no float accumulation."""
    from nexus_forge_spark.operators.graph import sssp

    edges = _copurchase_weighted_edges(spark, sf_dir)
    seeds = spark.range(_SSSP_SEED, _SSSP_SEED + 1).select(
        F.col("id").alias("node")
    )
    return sssp(edges, seeds, rounds=_SSSP_ROUNDS).select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("long").alias("dist"),
    )


def sql_sssp_copurchase() -> str:
    from nexus_forge_spark.operators.graph import sql_sssp

    edges = _COPURCHASE_EDGES_SQL.format(off=PART_NODE_OFFSET)
    seeds = f"SELECT CAST({_SSSP_SEED} AS BIGINT) AS node"
    return sql_sssp(edges, seeds, rounds=_SSSP_ROUNDS)


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (operators/graph.py link_prediction): score
    customer pairs by shared purchased parts — common-neighbor count +
    integer-exact resource-allocation index (each shared part contributes
    1000000 div degree).  Hub parts (degree > 20) are dropped before the
    map-side i<j expansion: cost without signal.  Pairs with >= 2 shared
    parts survive."""
    from nexus_forge_spark.operators.graph import link_prediction

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    memb = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("item"), F.col("l_partkey").alias("via")
    )
    out = link_prediction(
        memb, max_via_degree=_LP_MAX_VIA_DEG
    ).where(F.col("common_via") >= _LP_MIN_COMMON)
    return out.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "common_via",
        "ra_scaled",
    )


def sql_link_prediction_q() -> str:
    from nexus_forge_spark.operators.graph import sql_link_prediction

    edges = """SELECT o.o_custkey AS item, l.l_partkey AS via
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"""
    inner = sql_link_prediction(edges, max_via_degree=_LP_MAX_VIA_DEG)
    return f"""SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       common_via, ra_scaled
FROM ({inner}) WHERE common_via >= {_LP_MIN_COMMON}"""


def q_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point k-center coreset selection
    (operators/clustering.py kcenter_select, Gonzalez 1985): 6 maximally
    spread exemplar vectors + every point's (nearest exemplar, exact
    integer squared-L2).  Each round is one map-side fold of the single
    newest center into the running min-dist (localCheckpointed — no
    center rescans, no cross join) + a 1-row TakeOrdered argmax.  The
    oracle unrolls all 6 rounds, so hash equality pins the entire greedy
    trajectory including tie-breaks."""
    from nexus_forge_spark.operators.clustering import (
        kcenter_select,
        quantize_vectors,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    _, assign = kcenter_select(quantize_vectors(emb), _KC_K, _KM_DIM)
    return assign.select(
        F.col("vid").cast("long").alias("vec_id"),
        F.col("center_vid").cast("long").alias("center_vid"),
        F.col("dist").cast("long").alias("dist"),
    )


def sql_kcenter() -> str:
    dn = (
        "CAST(list_sum(list_transform(list_zip(d.qv, s.qv), "
        "z -> (z[1]-z[2])*(z[1]-z[2]))) AS BIGINT)"
    )
    parts = [
        """pts AS MATERIALIZED (
  SELECT vec_id AS vid,
         list_transform(embedding,
           x -> CAST(floor((CAST(x AS DOUBLE) + 2.0) * 1000) AS BIGINT)) AS qv
  FROM embeddings)""",
        "s1 AS MATERIALIZED (SELECT vid, qv FROM pts ORDER BY vid LIMIT 1)",
        f"""d1 AS MATERIALIZED (
  SELECT d.vid, d.qv, {dn} AS dmin, s.vid AS cvid
  FROM pts d CROSS JOIN s1 s)""",
    ]
    for i in range(2, _KC_K + 1):
        parts.append(
            f"""s{i} AS MATERIALIZED (
  SELECT vid, qv FROM d{i - 1} ORDER BY dmin DESC, vid LIMIT 1)"""
        )
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT vid, qv,
    CASE WHEN dn < dmin THEN dn ELSE dmin END AS dmin,
    CASE WHEN dn < dmin THEN svid ELSE cvid END AS cvid
  FROM (
    SELECT d.vid, d.qv, d.dmin, d.cvid, s.vid AS svid, {dn} AS dn
    FROM d{i - 1} d CROSS JOIN s{i} s))"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(vid AS BIGINT) AS vec_id, CAST(cvid AS BIGINT) AS center_vid,
       CAST(dmin AS BIGINT) AS dist
FROM d{_KC_K}"""
    )


def q_ktruss_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss edge-density filter (graph.py ktruss) over the MinHash
    near-dup pair graph: peel edges in < k-2 surviving triangles to the
    unique fixpoint — keeps cohesive duplicate clusters, sheds bridge
    edges that k-core's node degrees cannot distinguish.  The oracle
    unrolls 8 peeling rounds as MATERIALIZED CTEs; rounds past
    convergence are no-ops, so hash equality proves fixpoint equality."""
    from nexus_forge_spark.operators.graph import ktruss

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    out = ktruss(pairs, k=_KTRUSS_K, max_iter=_KTRUSS_ROUNDS)
    return out.select(
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        F.col("support").cast("long").alias("support"),
    )


def sql_ktruss_neardup() -> str:
    k = _KTRUSS_K
    ctes = [
        f"""pr AS MATERIALIZED (SELECT a, b FROM ({sql_dedup_minhash()})),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS lo, greatest(a, b) AS hi
  FROM pr WHERE a <> b
)"""
    ]
    for i in range(1, _KTRUSS_ROUNDS + 1):
        prev = f"e{i - 1}"
        ctes.append(
            f"""t{i} AS MATERIALIZED (
  SELECT e12.lo AS u, e12.hi AS v, e23.hi AS w
  FROM {prev} e12
  JOIN {prev} e23 ON e12.hi = e23.lo
  JOIN {prev} e13 ON e13.lo = e12.lo AND e13.hi = e23.hi
)"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
  SELECT lo, hi, CAST(count(*) AS BIGINT) AS support
  FROM (
    SELECT u AS lo, v AS hi FROM t{i}
    UNION ALL SELECT v, w FROM t{i}
    UNION ALL SELECT u, w FROM t{i}
  ) GROUP BY lo, hi HAVING count(*) >= {k - 2}
)"""
        )
    last = f"e{_KTRUSS_ROUNDS}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi, support
FROM {last}"""
    )


def q_msf_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest (graph.py boruvka_msf) over the near-dup
    pair graph with distance weights 1e6 - floor(jaccard*1e6): cutting
    this forest at any threshold yields the single-linkage clusters, no
    sequential dendrogram.  The (w, lo, hi) total order makes the forest
    UNIQUE, so the oracle never replays Borůvka rounds — it checks the
    CYCLE PROPERTY instead (an edge is in the MSF iff no path of
    strictly smaller edges connects its endpoints), a fully independent
    characterization."""
    from nexus_forge_spark.operators.graph import boruvka_msf

    pairs = q_dedup_minhash(spark, sf_dir).select(
        "a",
        "b",
        (
            F.lit(1_000_000) - F.floor(F.col("jaccard") * 1_000_000)
        ).cast("long").alias("w"),
    )
    out = boruvka_msf(pairs)
    return out.select(
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        F.col("w").cast("long").alias("w"),
    )


def sql_msf_neardup() -> str:
    return f"""WITH RECURSIVE pr AS (
  SELECT a, b, 1000000 - CAST(floor(jaccard * 1000000) AS BIGINT) AS w
  FROM ({sql_dedup_minhash()})
),
e AS (
  SELECT least(a, b) AS lo, greatest(a, b) AS hi, min(w) AS w
  FROM pr WHERE a <> b GROUP BY least(a, b), greatest(a, b)
),
reach(elo, ehi, ew, node) AS (
  SELECT lo, hi, w, lo FROM e
  UNION
  SELECT r.elo, r.ehi, r.ew,
    CASE WHEN e2.lo = r.node THEN e2.hi ELSE e2.lo END
  FROM reach r JOIN e e2
    ON (e2.lo = r.node OR e2.hi = r.node)
   AND (e2.w, e2.lo, e2.hi) < (r.ew, r.elo, r.ehi)
)
SELECT CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
  CAST(w AS BIGINT) AS w
FROM e
WHERE NOT EXISTS (
  SELECT 1 FROM reach r
  WHERE r.elo = e.lo AND r.ehi = e.hi AND r.node = e.hi
)"""


def q_single_linkage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-linkage dendrogram profile from the MSF in ONE aggregation:
    because the forest restricted to w <= t IS the single-linkage merge
    set at distance t, the cluster count at every threshold is the
    closed form n_nodes - |{msf edges with w <= t}| — no per-threshold
    clustering, no dendrogram walk.  Grid of 9 thresholds x one
    broadcast join over the (tiny) forest edge set."""
    from nexus_forge_spark.operators.graph import boruvka_msf

    # derive the near-dup pairs ONCE for both the forest and the node
    # count (two q_* calls would run MinHash+LSH twice)
    pairs = q_dedup_minhash(spark, sf_dir).localCheckpoint(eager=True)
    msf = boruvka_msf(
        pairs.select(
            "a",
            "b",
            (F.lit(1_000_000) - F.floor(F.col("jaccard") * 1_000_000))
            .cast("long")
            .alias("w"),
        )
    ).select(
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        F.col("w").cast("long").alias("w"),
    )
    nodes = pairs.select(F.explode(F.array("a", "b")).alias("n")).agg(
        F.countDistinct("n").cast("long").alias("n_nodes")
    )
    grid = spark.createDataFrame(
        [(t,) for t in SL_THRESHOLDS], "threshold long"
    )
    kept = (
        F.broadcast(grid)
        .join(msf, msf.w <= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(F.count(msf.w).cast("long").alias("edges_kept"))
    )
    return kept.crossJoin(F.broadcast(nodes)).select(
        "threshold",
        "edges_kept",
        "n_nodes",
        (F.col("n_nodes") - F.col("edges_kept")).cast("long").alias("n_clusters"),
    )


def sql_single_linkage_curve() -> str:
    ts = ", ".join(f"({t})" for t in SL_THRESHOLDS)
    return f"""WITH msf AS ({sql_msf_neardup()}),
nodes AS (
  SELECT CAST(count(DISTINCT n) AS BIGINT) AS n_nodes
  FROM (SELECT a AS n FROM ({sql_dedup_minhash()})
        UNION ALL SELECT b FROM ({sql_dedup_minhash()}))
),
grid(threshold) AS (VALUES {ts})
SELECT CAST(g.threshold AS BIGINT) AS threshold,
  CAST(count(m.w) AS BIGINT) AS edges_kept,
  n.n_nodes,
  CAST(n.n_nodes - count(m.w) AS BIGINT) AS n_clusters
FROM grid g LEFT JOIN msf m ON m.w <= g.threshold, nodes n
GROUP BY g.threshold, n.n_nodes"""


def q_msf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MSF maintenance by graph sparsification:
    MSF(G1 ∪ G2) = MSF(MSF(G1) ∪ G2), so folding a delta of new edges
    into yesterday's FOREST (n-1 edges, not the full history) yields the
    exact new forest — the matroid property that makes single-linkage
    clustering maintainable at 100 TB.  Here the near-dup pairs split
    in half by parity, half one's forest folds with half two, and the
    ORACLE IS the from-scratch cycle-property MSF — hash equality
    proves the sparsification identity on real data."""
    from nexus_forge_spark.operators.graph import boruvka_msf

    # pin the pair derivation once — both halves filter the same stream
    pairs = (
        q_dedup_minhash(spark, sf_dir)
        .select(
            "a",
            "b",
            (
                F.lit(1_000_000) - F.floor(F.col("jaccard") * 1_000_000)
            ).cast("long").alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    h1 = pairs.where((F.col("a") + F.col("b")) % 2 == 0)
    h2 = pairs.where((F.col("a") + F.col("b")) % 2 == 1)
    f1 = boruvka_msf(h1).select(
        F.col("lo").alias("a"), F.col("hi").alias("b"), "w"
    )
    out = boruvka_msf(f1.unionByName(h2))
    return out.select(
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        F.col("w").cast("long").alias("w"),
    )


def sql_msf_incremental() -> str:
    # the incremental fold must equal the from-scratch forest exactly
    return sql_msf_neardup()


def q_hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/graph.py hits_scores) over the
    directed customer->part co-purchase graph: hub customers buy the
    authoritative parts.  Max-normalized integer recurrence — two
    shuffle joins + two aggregates + one 1-row max per round, no sqrt,
    no float — so the unrolled oracle matches hash-for-hash."""
    from nexus_forge_spark.operators.graph import hits_scores

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("part:"), F.col("l_partkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return hits_scores(edges, rounds=3)


def sql_hits_copurchase() -> str:
    from nexus_forge_spark.operators.graph import sql_hits_scores

    edges = """SELECT DISTINCT 'cust:' || o.o_custkey AS src,
       'part:' || l.l_partkey AS dst
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"""
    return sql_hits_scores(edges, rounds=3)


def q_betweenness_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled Brandes betweenness (operators/graph.py
    betweenness_sampled) over the undirected co-purchase graph: forward
    (seed, node)-keyed BFS carries exact BIGINT path counts, the
    backward sweep folds dependencies level by level in truncating
    fixed-point ppm — which brokers carry the shortest-path mass.
    Radius 3, deterministic customer seed sample; seeds dial cost
    linearly and the oracle unrolls the identical algebra."""
    from nexus_forge_spark.operators.graph import betweenness_sampled

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    half = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_custkey") % _BC_SEED_MOD == 1)
        .select(F.col("c_custkey").alias("node"))
    )
    out = betweenness_sampled(edges, seeds, max_hops=_BC_HOPS)
    return out.select(
        F.col("node").cast("long").alias("node"),
        "betweenness_ppm",
        "n_seed_paths",
    )


def sql_betweenness_copurchase() -> str:
    from nexus_forge_spark.operators.graph import sql_betweenness_sampled

    half = f"""SELECT DISTINCT o.o_custkey AS src,
       {PART_NODE_OFFSET} + l.l_partkey AS dst
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"""
    edges = f"SELECT src, dst FROM ({half}) UNION ALL SELECT dst, src FROM ({half})"
    seeds = f"SELECT c_custkey AS node FROM customer WHERE c_custkey % {_BC_SEED_MOD} = 1"
    return sql_betweenness_sampled(edges, seeds, max_hops=_BC_HOPS)


def q_community_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-quality audit (operators/graph.py community_quality)
    of the LPA communities over the near-dup pair graph: per community
    size, volume, internal/cut edges, conductance ppm and the Newman
    modularity contribution in the documented BIGINT quantization —
    the acceptance gate before a detector's output drives dedup
    decisions downstream."""
    from nexus_forge_spark.operators.graph import community_quality

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    assign = q_label_propagation(spark, sf_dir)
    return community_quality(pairs, assign)


def sql_community_quality_q() -> str:
    from nexus_forge_spark.operators.graph import sql_community_quality

    edges = f"SELECT a, b FROM ({sql_dedup_minhash()})"
    assign = f"SELECT node, community FROM ({sql_label_propagation()})"
    return sql_community_quality(edges, assign)


def q_louvain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous Louvain-style community refinement (operators/
    graph.py louvain_moves): exact integer modularity-gain argmax
    moves, applied synchronously for determinism (classic Louvain is
    visit-order-dependent — results would change with partitioning),
    three rounds over the near-dup pair graph.  The modularity-
    optimizing counterpart to label_propagation; community_quality
    grades either's output."""
    from nexus_forge_spark.operators.graph import louvain_moves

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    return louvain_moves(pairs, rounds=3)


def sql_louvain_communities() -> str:
    from nexus_forge_spark.operators.graph import sql_louvain_moves

    return sql_louvain_moves(f"SELECT a, b FROM ({sql_dedup_minhash()})", rounds=3)


def q_hyperball_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighborhood function (operators/graph.py
    hyperball_nf) of the undirected co-purchase graph: per-node HLL
    ball counters merged along edges for three systolic rounds; the
    per-round integer ball-sum curve (and its ppm-of-final column) is
    the effective-diameter estimate — the published sketch answer to
    "how far is everything from everything" when exact all-pairs BFS
    is off the table at 10^12 docs."""
    from nexus_forge_spark.operators.graph import hyperball_nf

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    half = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return hyperball_nf(edges, rounds=3, precision=6)


def sql_hyperball_diameter() -> str:
    from nexus_forge_spark.operators.graph import sql_hyperball_nf

    half = f"""SELECT DISTINCT o.o_custkey AS src, {PART_NODE_OFFSET} + l.l_partkey AS dst
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"""
    edges = f"SELECT src, dst FROM ({half}) UNION ALL SELECT dst, src FROM ({half})"
    return sql_hyperball_nf(edges, rounds=3, precision=6)


def q_scan_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCAN structural clustering (operators/graph.py scan_clusters)
    of the within-order part co-purchase graph (parts sharing an
    order with co-purchase support >= 2 — the single-co-occurrence
    noise floor is pruned before any graph work; basket size bounds
    the per-order pair fan-out, so edge generation is map-side-bounded
    at any corpus scale).  Yields the
    role census community methods can't: cores/borders form basket
    communities, hubs are the cross-community bridge parts, outliers
    are noise.  All similarity tests integer cross-multiplied."""
    from nexus_forge_spark.operators.graph import scan_clusters

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    l2 = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p2")
    )
    edges = (
        li.join(l2, (li.l_orderkey == l2.k) & (li.l_partkey < l2.p2))
        .groupBy(
            F.col("l_partkey").alias("a"), F.col("p2").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select("a", "b")
    )
    return scan_clusters(edges, eps_num=6, eps_den=10, mu=3)


def sql_scan_roles() -> str:
    from nexus_forge_spark.operators.graph import sql_scan_clusters

    edges = """SELECT x.l_partkey AS a, y.l_partkey AS b
FROM lineitem x JOIN lineitem y
  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
GROUP BY x.l_partkey, y.l_partkey HAVING count(*) >= 2"""
    return sql_scan_clusters(edges, eps_num=6, eps_den=10, mu=3)


def q_butterfly_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite butterfly census (operators/graph.py
    butterfly_counts, Sanei-Mehri et al. 2018) of the order x part
    incidence graph: wedges / connected part pairs / 2x2 bicliques,
    with the expansion capped at basket degree 6 and the dropped hub
    count REPORTED — the co-clustering diagnostic where triangles
    cannot exist."""
    from nexus_forge_spark.operators.graph import butterfly_counts

    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("l"), F.col("l_partkey").alias("r")
    )
    return butterfly_counts(li, max_expand_degree=_BUTTERFLY_CAP)


def sql_butterfly_census() -> str:
    from nexus_forge_spark.operators.graph import sql_butterfly_counts

    return sql_butterfly_counts(
        "SELECT l_orderkey AS l, l_partkey AS r FROM lineitem",
        max_expand_degree=_BUTTERFLY_CAP,
    )


def q_merge_schedule_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones-Plassmann coloring (operators/graph.py jp_coloring) of
    the MinHash near-dup pair graph: hash-priority symmetry breaking,
    mex over colored neighbors — a proper coloring whose color
    classes are conflict-free parallel merge waves (no two
    same-colored docs share a duplicate edge).  O(log n) rounds
    w.h.p., deterministic under any partitioning."""
    from nexus_forge_spark.operators.graph import jp_coloring

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    return jp_coloring(pairs, max_iter=_JP_ROUNDS)


def sql_merge_schedule_coloring() -> str:
    from nexus_forge_spark.operators.graph import sql_jp_coloring

    return sql_jp_coloring(
        f"SELECT a, b FROM ({sql_dedup_minhash()})", rounds=_JP_ROUNDS
    )


def q_hyperball_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node closeness estimates from HyperBall counters
    (operators/graph.py hyperball_closeness — the Boldi-Vigna
    billion-node centrality recipe): the within-3-hop distance sum
    telescopes from the per-round ball estimates, rounded to BIGINT
    per (node, round) before the integer aggregate, so the whole
    centrality table is engine-exact."""
    from nexus_forge_spark.operators.graph import hyperball_closeness

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    half = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return hyperball_closeness(edges, rounds=3, precision=6)


def sql_hyperball_closeness_q() -> str:
    from nexus_forge_spark.operators.graph import sql_hyperball_closeness

    half = f"""SELECT DISTINCT o.o_custkey AS src, {PART_NODE_OFFSET} + l.l_partkey AS dst
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"""
    edges = f"SELECT src, dst FROM ({half}) UNION ALL SELECT dst, src FROM ({half})"
    return sql_hyperball_closeness(edges, rounds=3, precision=6)


def q_densest_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel densest-subgraph peeling (operators/graph.py
    densest_subgraph, Bahmani-Kumar-Vassilvitskii VLDB'12) on the
    support>=2 co-purchase part graph: every round strips nodes under
    (11/10)x the average degree, the best-density survivor set is the
    dense co-purchase core — collusion/spam-shaped structure k-core
    misses.  Integer cross-multiplied thresholds, quantized-density
    argmax as the documented spec."""
    from nexus_forge_spark.operators.graph import densest_subgraph

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    l2 = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p2"))
    edges = (
        li.join(l2, (li.l_orderkey == l2.k) & (li.l_partkey < l2.p2))
        .groupBy(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select("a", "b")
    )
    return densest_subgraph(edges, eps_num=11, eps_den=10, max_iter=25)


def sql_densest_copurchase() -> str:
    from nexus_forge_spark.operators.graph import sql_densest_subgraph

    edges = """SELECT x.l_partkey AS a, y.l_partkey AS b
FROM lineitem x JOIN lineitem y
  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
GROUP BY x.l_partkey, y.l_partkey HAVING count(*) >= 2"""
    return sql_densest_subgraph(edges, eps_num=11, eps_den=10, rounds=25)


def q_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering (operators/clustering.py
    dbscan_from_pairs, Ester KDD'96) factored over the blocked
    epsilon-pair join: originals with three perturbed mutants form
    density stars (core = the original at min_pts=4, mutants =
    border), unperturbed singletons fall out as noise — the
    embedding-space cluster/noise census, with the distance work done
    once by the similarity join, never inside the density algebra."""
    from nexus_forge_spark.operators.clustering import dbscan_from_pairs
    from nexus_forge_spark.operators.similarity import cosine_pairs

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = emb.where(F.col("vec_id") % 17 == 0)
    pool = seeds
    for j, eps in ((1, 0.25), (2, 0.25), (3, 0.45)):
        pool = pool.unionByName(
            seeds.select(
                (F.col("vec_id") + 100000 * j).alias("vec_id"),
                F.concat(
                    F.slice("v", F.lit(1), F.lit(j - 1)),
                    F.array(F.element_at("v", j) + F.lit(eps)),
                    F.slice("v", F.lit(j + 1), F.size("v") - j),
                ).alias("v"),
            )
        )
    pool = pool.unionByName(
        emb.where((F.col("vec_id") % 17 != 0) & (F.col("vec_id") % 11 == 0))
    )
    pairs = cosine_pairs(pool, threshold=0.9, vec_col="v", round_digits=3)
    return dbscan_from_pairs(
        pairs.select(F.col("a"), F.col("b")),
        pool.select(F.col("vec_id").alias("id")),
        min_pts=4,
    )


def sql_dbscan_embeddings() -> str:
    from nexus_forge_spark.operators.clustering import sql_dbscan_from_pairs

    pool = """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
FROM embeddings WHERE vec_id % 17 = 0
UNION ALL
SELECT vec_id + 100000, list_concat([v[1] + 0.25], v[2:len(v)])
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id % 17 = 0)
UNION ALL
SELECT vec_id + 200000, list_concat(list_concat([v[1]], [v[2] + 0.25]), v[3:len(v)])
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id % 17 = 0)
UNION ALL
SELECT vec_id + 300000, list_concat(list_concat([v[1], v[2]], [v[3] + 0.45]), v[4:len(v)])
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id % 17 = 0)
UNION ALL
SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
FROM embeddings WHERE vec_id % 17 <> 0 AND vec_id % 11 = 0"""
    pairs = f"""WITH pool AS MATERIALIZED ({pool})
SELECT a.vec_id AS a, b.vec_id AS b
FROM pool a JOIN pool b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= 0.9"""
    points = f"SELECT vec_id AS id FROM ({pool})"
    return sql_dbscan_from_pairs(pairs, points, min_pts=4)


def q_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watts-Strogatz local clustering coefficients (operators/
    graph.py clustering_coefficients) over the near-dup pair graph:
    per-node cohesion in integer ppm — high C inside dense duplicate
    clusters, low C at star-shaped hubs worth auditing.  Reuses the
    degree-ordered triangle enumeration; BIGINT truncating DIV."""
    from nexus_forge_spark.operators.graph import clustering_coefficients

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    return clustering_coefficients(pairs)


def sql_clustering_coefficients() -> str:
    return rf"""WITH pr AS (SELECT a, b FROM ({sql_dedup_minhash()})),
und AS (
  SELECT DISTINCT greatest(a, b) AS p, least(a, b) AS q
  FROM pr WHERE a <> b
),
sym AS (SELECT p, q FROM und UNION ALL SELECT q AS p, p AS q FROM und),
deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY p),
o AS (
  SELECT s.p AS lo, s.q AS hi
  FROM sym s
  JOIN deg d1 ON d1.p = s.p
  JOIN deg d2 ON d2.p = s.q
  WHERE d1.d < d2.d OR (d1.d = d2.d AND s.p < s.q)
),
tri AS (
  SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
  FROM o e1
  JOIN o e2 ON e2.lo = e1.hi
  JOIN o e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
),
corners AS (
  SELECT u AS node FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
),
cc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       FROM corners GROUP BY node),
nodes AS (SELECT lo AS node FROM o UNION SELECT hi FROM o)
SELECT CAST(n.node AS BIGINT) AS node,
  CAST(d.d AS BIGINT) AS deg,
  CAST(coalesce(cc.n_triangles, 0) AS BIGINT) AS n_triangles,
  CAST(CASE WHEN d.d < 2 THEN 0
       ELSE (2 * coalesce(cc.n_triangles, 0) * 1000000) // (d.d * (d.d - 1))
       END AS BIGINT) AS cc_ppm
FROM nodes n JOIN deg d ON d.p = n.node
LEFT JOIN cc ON cc.node = n.node"""


q_graph_diameter.__doc__ = q_graph_diameter.__doc__.format(hops=_DIAM_HOPS)


def q_coreness_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition of the co-purchase graph
    (operators/graph.py coreness): h-index iteration to the exact per-
    node core number — the graded companion of kcore_copurchase's single
    threshold."""
    from nexus_forge_spark.operators.graph import coreness

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("a"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("b"),
        )
    )
    return coreness(edges)


def sql_coreness_copurchase() -> str:
    from nexus_forge_spark.operators.graph import sql_coreness

    edges = f"""SELECT o.o_custkey AS a,
       l.l_partkey + {PART_NODE_OFFSET} AS b
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"""
    return sql_coreness(edges)


def q_backbone_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disparity-filter backbone (operators/graph.py disparity_backbone)
    of the weighted word-adjacency graph (consecutive-token bigram
    counts, the textrank edge relation): keeps the collocations whose
    weight is statistically surprising against an endpoint's strength —
    the hub-noise cleanup between a co-occurrence count graph and any
    community/centrality pass.  alpha = 0.25 (the paper sweeps alpha;
    the near-complete small-vocabulary graph needs the permissive end —
    at 0.05 nothing on 30-node strengths can certify)."""
    from nexus_forge_spark.operators.graph import disparity_backbone
    from nexus_forge_spark.operators.text import tokens

    docs = load_table(spark, "documents", sf_dir).select(
        tokens(F.col("text")).alias("t")
    )
    bg = docs.select(
        F.explode(
            F.expr(
                "filter(zip_with(slice(t, 1, size(t) - 1),"
                " slice(t, 2, size(t) - 1),"
                " (x, y) -> struct(greatest(x, y) AS a, least(x, y) AS b)),"
                " p -> p.a <> p.b)"
            )
        ).alias("e")
    ).select("e.a", "e.b")
    w = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
    return disparity_backbone(w, alpha_milli=250)


def sql_backbone_copurchase() -> str:
    from nexus_forge_spark.operators.graph import sql_disparity_backbone

    edges = r"""WITH t0 AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
),
bg AS (
  SELECT greatest(t[i], t[i + 1]) AS a, least(t[i], t[i + 1]) AS b
  FROM t0, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
  WHERE t[i] <> t[i + 1]
)
SELECT a, b, count(*) AS w FROM bg GROUP BY 1, 2"""
    return sql_disparity_backbone(f"({edges})", alpha_milli=250)
