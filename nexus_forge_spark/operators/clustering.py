"""Distributed Lloyd k-means over embedding columns — integer-exact.

The float trap in cross-engine (and cross-partitioning!) clustering is
summation order: float distance sums differ between engines and between
partition layouts, so assignments can flip on ties-by-epsilon and nothing
is reproducible.  Everything here therefore runs in BIGINT:

* vectors quantize once: ``q_d = floor((double(x) + shift) * scale)`` —
  float32 ⊂ double, one IEEE add/multiply and a floor, so the quantized
  ints are bit-identical on any engine (the quantized-LSH lesson,
  similarity.py).  The shift keeps every component positive, which makes
  truncating integer division equal floor division in both Spark (`DIV`)
  and DuckDB (`//`) for the centroid means;
* distances are integer squared-L2; argmin ties break to the lowest
  centroid id;
* centroid updates are per-dimension truncated integer means; clusters
  that lose all points keep their previous centroid.

Scale shape per iteration: assignment is MAP-SIDE — centroids broadcast
as a numpy constant into an Arrow-batched int64 matmul
(``dist = q·q - 2 q·C + c·c``; per-plane HOF folds interpret ~20x slower,
the round-1 MinHash finding), then ONE hash aggregation of dim partial
sums per cluster (map-side combine).  The driver collects k rows per
iteration (the centroids), exactly like the connected-components and BPE
argmax loops.  Determinism end-to-end is what makes the unrolled
DuckDB-oracle contract query possible (kmeans_embeddings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexus_forge_spark.functions.itermetrics import checkpoint_observed, iterate

KMEANS_SCALE = 1000
KMEANS_SHIFT = 2.0


def quantize_vectors(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(vid, qv array<long>) — positive engine-exact integer components."""
    return df.select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor((x + F.lit(KMEANS_SHIFT)) * KMEANS_SCALE).cast(
                "long"
            ),
        ).alias("qv"),
    )


def assign_clusters(points: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(vid, qv) x broadcast centroid constants -> (vid, qv, cid, dist).

    dist = ||q||^2 - 2 q·c + ||c||^2 computed in int64 — identical to the
    sum of squared differences, no overflow at these magnitudes (component
    ~ scale*(shift+1), squared ~ 1e7, x dim 64 ~ 1e9 << 2^63).
    """
    C = np.array(centroids, dtype=np.int64)  # (k, dim)
    c_norm = (C * C).sum(axis=1)  # (k,)
    Ct = np.ascontiguousarray(C.T)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("cid", T.IntegerType()),
                T.StructField("dist", T.LongType()),
            ]
        )
    )
    def pick(qv: pd.Series) -> pd.DataFrame:
        if not len(qv):
            return pd.DataFrame({"cid": [], "dist": []})
        q = np.stack(qv.to_numpy()).astype(np.int64)  # (n, dim)
        scores = q @ Ct * -2 + c_norm  # (n, k) int64
        cid = scores.argmin(axis=1)  # first occurrence = lowest cid on ties
        dist = scores[np.arange(len(q)), cid] + (q * q).sum(axis=1)
        return pd.DataFrame({"cid": cid.astype(np.int32), "dist": dist})

    out = points.withColumn("_a", pick(F.col("qv")))
    return out.select("vid", "qv", F.col("_a.cid").alias("cid"), F.col("_a.dist").alias("dist"))


def kmeans_train(
    points: DataFrame, k: int, iters: int
) -> tuple[list[list[int]], DataFrame]:
    """Lloyd iterations over (vid, qv); initial centroids are the k
    lowest-vid vectors (deterministic seeding — at production scale use a
    hash-sampled deterministic subset the same way).

    Returns (final centroids, final assignment DataFrame (vid, cid, dist)).
    """
    pts = points.localCheckpoint(eager=True)
    first = pts.select(F.size("qv")).first()
    if first is None:
        raise ValueError("kmeans_train: empty input")
    dim = int(first[0])
    cents = [list(map(int, r["qv"])) for r in pts.orderBy("vid").limit(k).collect()]
    for _ in range(iters):
        assigned = assign_clusters(pts, cents)
        stats = (
            assigned.groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col("qv")[d]).alias(f"s{d}") for d in range(dim)],
            )
            .collect()
        )
        new = [list(c) for c in cents]  # empty clusters keep old centroid
        for r in stats:
            n = int(r["n"])
            new[int(r["cid"])] = [int(r[f"s{d}"]) // n for d in range(dim)]
        cents = new
    final = assign_clusters(pts, cents).select("vid", "cid", "dist")
    return cents, final


def simplified_silhouette(
    assigned: DataFrame, centroids: list[list[int]]
) -> DataFrame:
    """Clustering-quality audit: the SIMPLIFIED silhouette (Hruschka et
    al. 2004 — centroid distances instead of pairwise, the variant that
    stays LINEAR in n where the classic silhouette's within-cluster
    pairwise means are quadratic and cannot scale) over an integer
    k-means assignment, in squared-distance integer ppm:

        a(i) = d2(i, own centroid)   b(i) = min d2(i, other centroids)
        s(i) = (b - a) * 1e6 div max(b, 1)

    Squared distances keep the arithmetic BIGINT-exact (no sqrt — the
    HLL/intlog no-transcendentals discipline); because the assignment is
    the argmin, a <= b always, so s is in [0, 1e6] and the truncating
    div agrees between engines.  Output: one row per cluster
    (cid, n, mean_s_ppm) plus the overall row cid = -1 — mean_s_ppm =
    sum(s) div n, tie-order-free.

    Scale posture: one Arrow-batched matmul against the broadcast
    centroid matrix (the assign_clusters shape) + one map-side-combined
    aggregate; nothing pairwise, nothing quadratic.
    """
    if len(centroids) < 2:
        raise ValueError("simplified_silhouette: needs k >= 2 centroids")
    C = np.array(centroids, dtype=np.int64)
    c_norm = (C * C).sum(axis=1)
    Ct = np.ascontiguousarray(C.T)

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("a2", T.LongType()),
                T.StructField("b2", T.LongType()),
            ]
        )
    )
    def ab(qv: pd.Series, cid: pd.Series) -> pd.DataFrame:
        if not len(qv):
            return pd.DataFrame({"a2": [], "b2": []})
        q = np.stack(qv.to_numpy()).astype(np.int64)
        scores = q @ Ct * -2 + c_norm + (q * q).sum(axis=1)[:, None]
        idx = np.arange(len(q))
        own = cid.to_numpy().astype(np.int64)
        a2 = scores[idx, own].copy()
        scores[idx, own] = np.iinfo(np.int64).max
        b2 = scores.min(axis=1)
        return pd.DataFrame({"a2": a2, "b2": b2})

    per = assigned.withColumn("_ab", ab(F.col("qv"), F.col("cid"))).select(
        "cid",
        F.expr(
            "(_ab.b2 - _ab.a2) * 1000000 DIV greatest(_ab.b2, 1)"
        )
        .cast("long")
        .alias("s_ppm"),
    )
    by_cluster = per.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(s_ppm) DIV count(*) AS BIGINT)").alias("mean_s_ppm"),
    )
    overall = per.agg(
        F.lit(-1).cast("int").alias("cid"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(s_ppm) DIV count(*) AS BIGINT)").alias("mean_s_ppm"),
    )
    return by_cluster.select(
        F.col("cid").cast("int").alias("cid"), "n", "mean_s_ppm"
    ).unionByName(overall).orderBy("cid")


def kcenter_select(
    points: DataFrame, k: int, dim: int
) -> tuple[list[int], DataFrame]:
    """Greedy farthest-point k-center selection (Gonzalez 1985, the
    classic 2-approximation) — the diversity-maximizing coreset selector
    a curation pipeline uses to pick k maximally-spread exemplars
    (dedup-aware eval seeds, diverse few-shot pools, cluster seeds).

    Seed = lowest vid; each round selects the point with the LARGEST
    min-distance to the already-selected set (squared L2 over the
    quantized BIGINT vectors — exact integers, ties -> min vid) and
    every point's running (dmin, nearest-center) pair folds in the new
    center with a strictly-less compare, so on distance ties the
    EARLIER-selected center keeps the point (the rule the oracle
    replays).

    Scale posture: the running min-dist is localCheckpointed each round,
    so round r is ONE map-side projection against the single newest
    center (never a k-way cross join or a rescan of all centers), and
    that checkpoint job also observes the next center as a
    ``max(struct(dmin, -vid, vid, qv))`` aggregate: one job per round,
    no collect — O(k) linear passes, distances unrolled per-dim into one
    codegen expression.  Rounds stop once every point sits on a center:
    each later pick repeats the seed.

    Returns (selected vids in order, assignment DF (vid, center_vid,
    dist)).
    """
    def sqdist(c: list[int]):
        terms = None
        for d in range(dim):
            t = (F.col("qv")[d] - F.lit(int(c[d]))) * (
                F.col("qv")[d] - F.lit(int(c[d]))
            )
            terms = t if terms is None else terms + t
        return terms.cast("long")

    far = F.max(F.struct("dmin", (-F.col("vid")).alias("neg_vid"), "vid", "qv"))
    cur, seen = checkpoint_observed(
        points.select(
            "vid",
            "qv",
            F.lit((1 << 63) - 1).cast("long").alias("dmin"),
            F.lit(None).cast("long").alias("cvid"),
        ),
        far=far,
    )
    if seen["far"] is None:
        raise ValueError("kcenter_select: empty input")
    selected: list[int] = []

    def pick(cur: DataFrame, rnd) -> DataFrame:
        c = rnd.prev["far"]
        selected.append(int(c["vid"]))
        dnew = sqdist(list(c["qv"]))
        closer = dnew < F.col("dmin")
        return rnd.checkpoint(
            cur.select(
                "vid",
                "qv",
                F.when(closer, dnew).otherwise(F.col("dmin")).alias("dmin"),
                F.when(closer, F.lit(int(c["vid"])).cast("long"))
                .otherwise(F.col("cvid"))
                .alias("cvid"),
            ),
            far=far,
        )

    cur = iterate(
        pick, cur, k, prev=seen, until=lambda _, now: now["far"]["dmin"] == 0
    )
    selected += selected[:1] * (k - len(selected))
    return selected, cur.select("vid", F.col("cvid").alias("center_vid"), F.col("dmin").alias("dist"))


def dbscan_from_pairs(
    pairs: DataFrame,
    points: DataFrame,
    min_pts: int = 4,
    a_col: str = "a",
    b_col: str = "b",
    id_col: str = "id",
) -> DataFrame:
    """DBSCAN (Ester, Kriegel, Sander, Xu, KDD 1996) factored the way
    a 100 TB pipeline actually runs it: the epsilon-neighborhood pairs
    arrive from whatever blocked similarity join fits the space
    (LSH-bucketed cosine for embeddings, pigeonhole Hamming for
    signatures — this module never recomputes distances), and this
    operator does the density algebra:

      core:   |N_eps(p)| + 1 >= min_pts  (self included, the paper's
              convention);
      clusters: connected components over CORE-CORE epsilon edges
              (min-id canonical — deterministic where the paper's
              scan order is not);
      border: non-core with a core epsilon-neighbor, assigned the MIN
              core cluster id;
      noise:  everything else (including epsilon-isolated points,
              which never appear in ``pairs`` — hence the explicit
              ``points`` roster).

    One degree aggregate + two semi-joins + the O(log^2 n)
    large-star/small-star CC; no step expands neighborhoods beyond
    the given pair list.  Output: (id, cluster nullable, role in
    {'core','border','noise'}).

    ``min_pts >= 2`` is the supported range: with min_pts = 1 every
    point is trivially core by the self-inclusive convention, but
    epsilon-isolated points never appear in ``pairs`` so this operator
    could not see them as cores — validated here instead of silently
    misclassifying (round-3 ADVICE).
    """
    if min_pts < 2:
        raise ValueError(
            "dbscan_from_pairs: min_pts must be >= 2 (min_pts=1 cores "
            "include epsilon-isolated points, which a pair list cannot "
            "represent)"
        )
    from nexus_forge_spark.operators.canonicalize import connected_components

    e = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("x"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = e.unionByName(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    deg = und.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    cores = deg.where(F.col("deg") + 1 >= min_pts).select(
        F.col("x").alias("node")
    )
    core_e = (
        e.join(cores.withColumnRenamed("node", "x"), "x", "leftsemi")
        .join(cores.withColumnRenamed("node", "y"), "y", "leftsemi")
    )
    cc = connected_components(
        core_e.select(F.col("x").alias("a"), F.col("y").alias("b")),
        cores.withColumnRenamed("node", "entity_id"),
    )
    core_assign = cc.select(
        F.col("entity_id").alias("id"),
        F.col("canonical_id").alias("cluster"),
        F.lit("core").alias("role"),
    ).localCheckpoint(eager=True)
    border = (
        und.join(cores.withColumnRenamed("node", "x"), "x", "leftanti")
        .join(
            core_assign.select(F.col("id").alias("y"), "cluster"), "y"
        )
        .groupBy("x")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("x").alias("id"), "cluster", F.lit("border").alias("role"))
    )
    assigned = core_assign.unionByName(border)
    ctype = dict(assigned.dtypes)["cluster"]
    noise = (
        points.select(F.col(id_col).alias("id"))
        .join(assigned.select("id"), "id", "leftanti")
        .select(
            "id",
            F.lit(None).cast(ctype).alias("cluster"),
            F.lit("noise").alias("role"),
        )
    )
    return assigned.unionByName(noise)


def sql_dbscan_from_pairs(
    pairs_sql: str, points_sql: str, min_pts: int = 4, id_col: str = "id"
) -> str:
    """DuckDB oracle for :func:`dbscan_from_pairs`."""
    return f"""WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
  FROM ({pairs_sql}) WHERE a <> b
),
und AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e),
cores AS MATERIALIZED (
  SELECT x AS node FROM und GROUP BY x HAVING count(*) + 1 >= {min_pts}
),
ce AS MATERIALIZED (
  SELECT u.x, u.y FROM und u
  JOIN cores c1 ON c1.node = u.x JOIN cores c2 ON c2.node = u.y
),
reach(src, dst) AS (
  SELECT node, node FROM cores
  UNION
  SELECT r.src, u.y FROM reach r JOIN ce u ON r.dst = u.x
),
core_assign AS MATERIALIZED (
  SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src
),
border AS (
  SELECT u.x AS id, min(ca.cluster) AS cluster
  FROM und u JOIN core_assign ca ON ca.id = u.y
  WHERE u.x NOT IN (SELECT node FROM cores)
  GROUP BY u.x
),
assigned AS MATERIALIZED (
  SELECT id, cluster, 'core' AS role FROM core_assign
  UNION ALL SELECT id, cluster, 'border' FROM border
)
SELECT id, cluster, role FROM assigned
UNION ALL
SELECT p.{id_col}, NULL, 'noise'
FROM ({points_sql}) p
WHERE p.{id_col} NOT IN (SELECT id FROM assigned)"""
