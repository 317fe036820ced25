"""Similarity search over embedding columns (array<float>).

Reference analogue: the ES dense-vector cosine script_score linker
(kgforge/specializations/stores/nexus/service.py es_query_builder.py:430-434,
entity_linking_elastic_service.py:64-136) — top-k candidates by cosine
similarity.  Re-expressed as:

* brute-force: queries x corpus join with a native-expression dot product
  (F.zip_with + F.aggregate — JVM-side, no UDF), window top-k.  Correct
  baseline, O(Q*N) — fine for Q small.
* LSH-bucketed: random-hyperplane signatures (deterministic, hash-derived
  planes) -> Hamming-block equi-join — the plan that scales to 10^9 vectors:
  signature computation is map-side, the join shuffles on short bucket keys.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexus_forge_spark.functions.itermetrics import iterate


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (norm(a) * norm(b))).cast("double")


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Brute-force cosine top-k of each query vector against the corpus.

    Output: (query_id, neighbor_id, score, rank), self-matches excluded.
    Rounding the score decouples rank stability from float summation order
    (ties broken by neighbor id).
    """
    q = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")
            ).alias("score"),
        )
    )
    if round_digits is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_digits))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) above a threshold.

    Brute-force O(n²) verifier — the exact baseline.  At scale, block first
    with lsh_cosine_candidates (hyperplane LSH) and run this join only on the
    candidate pairs; the per-pair cosine is the same expression either way.
    """
    a = embeddings.select(F.col(id_col).alias("a"), F.col(vec_col).cast("array<double>").alias("va"))
    b = embeddings.select(F.col(id_col).alias("b"), F.col(vec_col).cast("array<double>").alias("vb"))
    scored = a.join(b, F.col("a") < F.col("b")).select(
        "a", "b", cosine(F.col("va"), F.col("vb")).alias("score")
    )
    out = scored.where(F.col("score") >= threshold)
    if round_digits is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_digits))
    return out


def hyperplane_signature(
    vec: Column, dim: int, num_planes: int = 16, seed: int = 42
) -> Column:
    """Sign pattern of the vector against num_planes fixed pseudo-random
    hyperplanes, packed into a long."""
    import random

    rnd = random.Random(seed)
    planes = [[rnd.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]
    bits = []
    for p_i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(w) for w in plane]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p_i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_cosine_candidates(
    embeddings: DataFrame,
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Candidate near-neighbor pairs: vectors sharing any signature band.
    Verify with cosine() on the candidates only."""
    rows_per_band = num_planes // bands
    mask = (1 << rows_per_band) - 1
    sigs = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        hyperplane_signature(F.col(vec_col), dim, num_planes, seed).alias("sig"),
    )
    banded = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * rows_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    l = banded.alias("l")
    r = banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )


def quantized_planes(dim: int, num_planes: int = 16, seed: int = 42) -> list[list[int]]:
    """Deterministic INTEGER hyperplane weights in [-100, 100]
    (random.Random(seed) — reproducible anywhere, including inside a SQL
    oracle's generated text)."""
    import random

    rnd = random.Random(seed)
    return [
        [rnd.randint(-100, 100) for _ in range(dim)] for _ in range(num_planes)
    ]


def _quantized_band_keys(
    sigs: DataFrame, planes: list[list[int]], bands: int
) -> DataFrame:
    """(vid, qv) -> (vid, keys[bands]): per-band packed sign patterns of
    the integer-quantized vector against integer planes — pure int64
    arithmetic, so every key is bit-identical on any engine (no float
    summation-order sensitivity).

    Physically this is a dense integer matrix multiply (batch_rows x dim)
    @ (dim x planes) — the one shape Column expressions genuinely can't
    express efficiently: per-plane HOF folds interpret (~20x slowdown,
    round-1 MinHash finding) and a 64-aggregate codegen'd explode blows
    past the generated-code limits back to interpreted mode (measured
    10.4s for 4k vectors).  An Arrow-batched pandas UDF does the matmul
    in BLAS-free int64 numpy — map-side, no shuffle, exact."""
    w = np.array(planes, dtype=np.int64).T  # (dim, planes)
    rows_per_band = len(planes) // bands
    weights = np.ascontiguousarray(w)
    pack = np.array(
        [1 << j for j in range(rows_per_band)], dtype=np.int64
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_keys(qv: pd.Series) -> pd.Series:
        if not len(qv):
            return pd.Series([], dtype=object)
        q = np.stack(qv.to_numpy())  # (n, dim) int64
        proj = q @ weights  # (n, planes) int64 — exact
        bits = (proj >= 0).reshape(len(q), bands, rows_per_band)
        keys = (bits * pack).sum(axis=2)  # (n, bands)
        return pd.Series(list(keys))

    return sigs.select("vid", band_keys(F.col("qv")).alias("keys"))


def lsh_cosine_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    num_planes: int = 64,
    bands: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    scale: int = 1000,
) -> DataFrame:
    """LSH-blocked embedding near-dup: the scale path of cosine_pairs.

    Candidates come from banded QUANTIZED hyperplane signatures — each
    component becomes floor(double(x) * scale) (exact: float32 ⊂ double,
    one IEEE multiply, floor) and is dotted with integer plane weights in
    BIGINT, so the blocking decision is engine-exact and the whole operator
    is DuckDB-oracle-checkable.  Verification runs the true cosine on
    candidate pairs only.  Plan: map-side per-band keys (each band packs
    its own ``num_planes // bands`` sign bits — no cross-band signature
    word, so any planes/bands combination avoids 64-bit overflow) ->
    equi-join on (band, key) short keys -> distinct (a, b) -> two
    broadcast-able id joins for the verify vectors.  No all-pairs product
    anywhere.

    SIZING: expected candidate pairs per band ~ n^2 / (2 * 2^rows_per_band)
    under uniform signs — the key width must grow with the corpus
    (rows_per_band ~ log2(n) keeps per-bucket population constant), traded
    against recall ~ 1-(1-p^rows)^bands where p is the per-bit agreement
    probability (1 - angle/pi).  The defaults (64 planes, 8 bands =
    8-bit keys) give measured recall 0.923 at threshold 0.9 on the
    contract corpus while cutting candidates ~5x vs the earlier 16/4
    config (4-bit keys); for 10^9 vectors widen rows_per_band further
    and add bands to hold recall."""
    planes = quantized_planes(dim, num_planes, seed)
    rows_per_band = num_planes // bands
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    sigs = base.select(
        "vid",
        F.transform(F.col("v"), lambda x: F.floor(x * scale).cast("long")).alias(
            "qv"
        ),
    )
    banded = _quantized_band_keys(sigs, planes, bands).select(
        "vid", F.posexplode("keys").alias("band", "key")
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .select(F.col("l.vid").alias("a"), F.col("r.vid").alias("b"))
        .distinct()
    )
    # norms are per-VECTOR, not per-pair: compute once before the join so
    # the verify does one dot product per candidate instead of three
    # (dot + 2 norms) — same float expression values, ~3x less HOF work
    with_norm = base.withColumn("nv", norm(F.col("v")))
    va = with_norm.select(
        F.col("vid").alias("a"), F.col("v").alias("va"), F.col("nv").alias("na")
    )
    vb = with_norm.select(
        F.col("vid").alias("b"), F.col("v").alias("vb"), F.col("nv").alias("nb")
    )
    scored = cand.join(va, "a").join(vb, "b").select(
        "a",
        "b",
        (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .cast("double")
        .alias("score"),
    )
    out = scored.where(F.col("score") >= threshold)
    if round_digits is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_digits))
    return out


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid by
    cosine (ties -> lowest centroid id).

    The centroid table broadcasts (coarse codebooks are small by
    construction), so assignment is MAP-SIDE over the corpus — the one
    full-corpus pass an IVF index build needs; the window that picks the
    argmax shuffles on vec_id (uniform).  Output: (vec_id, embedding,
    centroid_id, centroid_score).
    """
    c = F.broadcast(
        centroids.select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv"))
    )
    scored = embeddings.join(c).select(
        id_col,
        vec_col,
        "centroid_id",
        F.round(
            cosine(F.col(vec_col).cast("array<double>"), F.col("cv").cast("array<double>")),
            round_digits,
        ).alias("centroid_score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("centroid_score").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .drop("_r")
    )


def ivf_topk(
    embeddings: DataFrame,
    centroids: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """IVF-bucketed approximate top-k: search only the ``nprobe`` closest
    centroid buckets per query instead of the whole corpus.

    The scale path for ANN (brute-force cosine_topk is the baseline): at
    10^9 vectors with C centroids and nprobe<<C, each query scans ~nprobe/C
    of the corpus.  Join shape: assignments are bucketed by centroid_id, the
    (query, probed-centroid) set broadcasts.  Output matches cosine_topk:
    (query_id, neighbor_id, score, rank) — approximate, so rank/recall can
    differ from brute force by construction.
    """
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    queries = assigned.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # nprobe closest centroids per query (small cross join, driver-free)
    c = F.broadcast(
        centroids.select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv"))
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("probe_score").desc(), F.col("centroid_id")
    )
    probes = (
        queries.join(c)
        .select(
            "query_id",
            "qv",
            "centroid_id",
            F.round(
                cosine(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")),
                6,
            ).alias("probe_score"),
        )
        .withColumn("_r", F.row_number().over(probe_w))
        .where(F.col("_r") <= nprobe)
        .select("query_id", "qv", "centroid_id")
    )
    cand = F.broadcast(probes).join(
        assigned.select(
            F.col("centroid_id"), F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        "centroid_id",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")).alias(
            "score"
        ),
    )
    if round_digits is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_digits))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# ---------------------------------------------------------------- IVF-PQ


def _sq_l2_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Squared L2 distance as an UNROLLED codegen'd expression with a fixed
    left-to-right addition order — bit-identical when the oracle writes the
    same unrolled chain, unlike fold/HOF sums whose order is an engine
    implementation detail."""
    out = None
    for i in range(1, dim + 1):
        d = F.element_at(a, i).cast("double") - F.element_at(b, i).cast("double")
        term = d * d
        out = term if out is None else out + term
    return out


def pq_codebooks(
    embeddings: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    stride: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks by deterministic sampling: every
    ``stride``-th vector (id % stride == 1), in id order, contributes its
    ``n_sub`` subvectors; the first ``n_codes`` sampled vectors define
    codewords 0..n_codes-1 per subspace.

    Sampling instead of k-means keeps the codebook a pure function of the
    data (oracle-replayable, no RNG/iteration state); swap in trained
    centroids without touching encode/search.  Output:
    (sub_idx, code_id, cw) — n_sub * n_codes rows, always broadcastable.
    """
    w = Window.orderBy(id_col)
    sample = (
        embeddings.where(F.col(id_col) % stride == 1)
        .select(id_col, vec_col)
        .withColumn("code_id", F.row_number().over(w) - 1)
        .where(F.col("code_id") < n_codes)
    )
    sub_dim = F.floor(F.size(vec_col) / n_sub).cast("int")
    return sample.select(
        "code_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub_idx"),
        F.col(vec_col).alias("__v"),
        sub_dim.alias("__d"),
    ).select(
        "sub_idx",
        "code_id",
        F.slice(
            F.col("__v"), F.col("sub_idx") * F.col("__d") + 1, F.col("__d")
        ).alias("cw"),
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoder: each vector -> array of ``n_sub`` small codes (nearest
    codeword per subspace by squared L2 in integer micro-units; ties ->
    lowest code id).

    This is THE memory lever at 10^12-vector scale: 64 float32 dims
    (256 B) shrink to n_sub bytes per vector, so the search structure
    fits executor memory.  Encoding is one corpus pass against broadcast
    codebooks; the argmin shuffles on (vec_id, sub_idx) — uniform keys.
    Output: (vec_id, codes array<int>).
    """
    subs = embeddings.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub_idx"),
        F.col(vec_col).alias("__v"),
    ).select(
        id_col,
        "sub_idx",
        F.slice(F.col("__v"), F.col("sub_idx") * sub_dim + 1, sub_dim).alias("sv"),
    )
    scored = subs.join(F.broadcast(codebooks), "sub_idx").select(
        id_col,
        "sub_idx",
        "code_id",
        F.round(_sq_l2_unrolled(F.col("sv"), F.col("cw"), sub_dim) * 1_000_000)
        .cast("long")
        .alias("dist_micro"),
    )
    # argmin as a hash AGGREGATE, not a window: the broadcast join fans
    # every (vec, sub) row out x n_codes, and a row_number window would
    # shuffle that whole fan-out to sort it.  min_by over the orderable
    # (dist, code) struct partial-aggregates map-side, so only one row per
    # (vec, sub) reaches the exchange — measured 24.6M -> 192k shuffle rows
    # at sf0.1 (n_sub=32, n_codes=128).  Ties: lowest code id, engine-exact.
    best = scored.groupBy(id_col, "sub_idx").agg(
        F.min_by(
            "code_id", F.struct(F.col("dist_micro"), F.col("code_id"))
        ).alias("code_id")
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("sub_idx", "code_id"))),
            lambda s: s["code_id"],
        ).alias("codes")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    stride: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (Jégou et al. 2011, public
    algorithm): queries keep exact vectors; corpus vectors are rated by the
    sum of per-subspace lookup-table distances to their codewords.

    The LUT (queries x n_sub x n_codes) broadcasts; the corpus side joins
    on (sub_idx, code) and aggregates n_sub integer partials per
    (query, vec) — all BIGINT, so ranking is engine-exact with no float
    summation-order hazard.  Output: (query_id, neighbor_id, dist_micro,
    rank), self-matches excluded, ties -> lowest neighbor id.
    """
    cb = pq_codebooks(embeddings, n_sub, n_codes, stride, id_col, vec_col)
    cb = cb.localCheckpoint(eager=True)  # feeds encode + LUT
    codes = pq_encode(embeddings, cb, n_sub, sub_dim, id_col, vec_col)
    qsubs = (
        embeddings.where(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub_idx"),
            "qv",
        )
        .select(
            "query_id",
            "sub_idx",
            F.slice(F.col("qv"), F.col("sub_idx") * sub_dim + 1, sub_dim).alias("qs"),
        )
    )
    lut = qsubs.join(F.broadcast(cb), "sub_idx").select(
        "query_id",
        "sub_idx",
        "code_id",
        F.round(_sq_l2_unrolled(F.col("qs"), F.col("cw"), sub_dim) * 1_000_000)
        .cast("long")
        .alias("pd_micro"),
    )
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("sub_idx", "code_id"),
    )
    scored = (
        exploded.join(F.broadcast(lut), ["sub_idx", "code_id"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pd_micro").alias("dist_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("dist_micro", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist_micro", "rank")
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroid_stride: int = 29,
    threshold: float = 0.9,
    round_digits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public method): semantic deduplication
    by comparing embeddings ONLY within coarse clusters — cluster with the
    IVF quantizer, cosine-join inside each cluster, then connected
    components pick a canonical (min-id) representative per semantic
    duplicate group.

    Scale posture: the cross-cluster O(n^2) never happens — the self-join
    is an equi-join on centroid_id, so comparisons are bounded by the
    largest cluster (pick sqrt(n)-ish centroid counts); components run
    on the sparse >= threshold pair set only.  Output: every input id with
    (canonical_id, keep) — keep=false marks semantic duplicates to drop.
    """
    from nexus_forge_spark.operators.canonicalize import connected_components

    cents = embeddings.where(F.col(id_col) % centroid_stride == 1).select(
        id_col, vec_col
    )
    assigned = ivf_assign(embeddings, cents, id_col, vec_col).select(
        F.col(id_col), F.col(vec_col).alias("__v"), "centroid_id"
    )
    l = assigned.select(
        F.col(id_col).alias("a"), F.col("__v").alias("va"), "centroid_id"
    )
    r = assigned.select(
        F.col(id_col).alias("b"), F.col("__v").alias("vb"), "centroid_id"
    )
    pairs = (
        l.join(r, "centroid_id")
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                cosine(
                    F.col("va").cast("array<double>"),
                    F.col("vb").cast("array<double>"),
                ),
                round_digits,
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )
    comp = connected_components(pairs.select("a", "b"))
    return (
        embeddings.select(F.col(id_col))
        .join(comp, F.col(id_col) == F.col("entity_id"), "left")
        .select(
            id_col,
            F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
            (
                F.coalesce("canonical_id", F.col(id_col)) == F.col(id_col)
            ).alias("keep"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    centroid_stride: int = 29,
    threshold: float = 0.9,
    round_digits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-set SEMANTIC benchmark decontamination: flag corpus items
    whose embedding is >= ``threshold`` cosine to ANY benchmark item —
    the embedding-space upgrade of n-gram decontamination
    (curation.decontaminate), catching paraphrased eval leakage that
    shares no 8-gram with the benchmark.

    Comparisons happen only within shared IVF cells (nprobe=1 — the same
    documented approximation as semantic_dedup, applied identically by
    the SQL oracle): both sides assign to centroids drawn
    deterministically from the BENCHMARK side, then one equi-join on
    centroid_id + exact cosine verify.

    Scale posture: eval sets are small — the benchmark's assigned table
    broadcasts into the verify join, so the 100 TB corpus side performs
    one map-side centroid assignment (broadcast codebook, one argmax
    window on vec_id) and one broadcast join; it never shuffles against
    itself or the benchmark.  Output: every corpus id with
    ``contaminated`` flag — auditable, filter to drop.
    """
    cents = benchmark.where(F.col(id_col) % centroid_stride == 1).select(
        id_col, vec_col
    )
    ca = ivf_assign(corpus, cents, id_col, vec_col, round_digits).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"), "centroid_id"
    )
    ba = ivf_assign(benchmark, cents, id_col, vec_col, round_digits).select(
        F.col(id_col).alias("bid"), F.col(vec_col).alias("bv"), "centroid_id"
    )
    hits = (
        ca.join(F.broadcast(ba), "centroid_id")
        .where(
            F.round(
                cosine(
                    F.col("cv").cast("array<double>"),
                    F.col("bv").cast("array<double>"),
                ),
                round_digits,
            )
            >= threshold
        )
        .select(F.col("cid"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        corpus.select(F.col(id_col))
        .join(hits, F.col(id_col) == F.col("cid"), "left")
        .select(id_col, F.col("_hit").isNotNull().alias("contaminated"))
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
    scale: int = 1_000_000,
) -> DataFrame:
    """Reciprocal rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    ``fused(d) = sum over rankings r of scale div (k + rank_r(d))`` — the
    calibration-free way to combine retrievers whose scores live on
    incomparable scales (BM25 micro-units vs cosine), which is why
    hybrid lexical+dense retrieval defaults to it.  Integer truncating
    division keeps both engines bit-identical.

    Inputs are DataFrames with (id_col, rank), rank 1-based, typically
    each retriever's top-n.  Output: one row per item seen by ANY
    retriever with ``rrf_micro``, ``n_lists`` (how many retrievers
    surfaced it), and per-input ``rank_<i>`` columns (NULL when that
    retriever missed it).

    Scale posture: the union+groupBy runs over the CONCATENATED TOP-N
    LISTS (per-query-bounded, not corpus-bounded), with map-side partial
    combine — fusing 1000 retriever outputs of 100 rows each is a
    100k-row aggregate regardless of corpus size.
    """
    from functools import reduce

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    tagged = [
        r.select(
            F.col(id_col),
            F.lit(i).alias("__src"),
            F.col("rank").cast("long").alias("__rank"),
        )
        for i, r in enumerate(rankings)
    ]
    u = reduce(lambda a, b: a.unionByName(b), tagged)
    aggs = [
        F.sum(F.expr(f"{scale} div ({k} + __rank)")).alias("rrf_micro"),
        F.count(F.lit(1)).alias("n_lists"),
    ] + [
        F.min(F.when(F.col("__src") == i, F.col("__rank"))).alias(f"rank_{i}")
        for i in range(len(tagged))
    ]
    return u.groupBy(id_col).agg(*aggs)


def intdot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def maxsim_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 5,
    doc_col: str = "doc_id",
    query_col: str = "query_id",
    tok_col: str = "tok_id",
    vec_col: str = "qv",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR'20): score(q, d) = sum over query tokens of the MAX dot product
    against any of d's token vectors, top-k docs per query.

    Both sides carry one row per token with an ``array<long>``
    floor-quantized vector (the clustering.py convention — floor is
    IEEE-identical across engines), so every dot product, max, and sum is
    BIGINT-exact; ranks tie-break on doc id.

    Scale posture: the query-token side (queries x ~32 tokens) broadcasts
    and the corpus-token side streams through a broadcast nested-loop —
    the brute-force exact baseline, same posture as cosine_topk; for
    corpus-scale serving, pre-filter candidate docs with the IVF/LSH
    blockers in this module and feed the surviving (query, doc) pairs
    here.  MaxSim per query token is a map-side-combinable max, the doc
    score one sum — two hash aggregates on (query, doc) keys, then a
    per-query top-k window over k' <= docs rows.
    """
    q = query_tokens.select(
        F.col(query_col).alias("__q"),
        F.col(vec_col).alias("__qvec"),
        F.col(tok_col).alias("__qtok"),
    )
    d = doc_tokens.select(
        F.col(doc_col).alias("__d"), F.col(vec_col).alias("__dvec")
    )
    per_tok = (
        d.join(F.broadcast(q))
        .groupBy("__q", "__d", "__qtok")
        .agg(F.max(intdot(F.col("__qvec"), F.col("__dvec"))).alias("__m"))
    )
    scored = per_tok.groupBy("__q", "__d").agg(
        F.sum("__m").cast("long").alias("score_q")
    )
    w = Window.partitionBy("__q").orderBy(F.col("score_q").desc(), F.col("__d"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= int(k))
        .select(
            F.col("__q").alias(query_col),
            F.col("__d").alias(doc_col),
            "score_q",
            "rank",
        )
    )


def mmr_select(
    cand: DataFrame,
    k: int,
    lam_ppm: int = 700_000,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "qv",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick k results per query maximizing
    ``lam * relevance - (1 - lam) * max-similarity-to-already-picked`` —
    the standard diversification pass after any top-N retrieval, so the
    k results stop being near-duplicates of each other.

    All integer: relevance and pairwise similarity are BIGINT dot
    products over quantized vectors, lam is ppm, ties break (score desc,
    id asc) — engines agree exactly.

    Scale posture: k rounds (k is small), each ONE query-keyed argmax
    aggregate over ALL queries simultaneously plus a broadcast join of
    the per-query picks to fold the new similarity into each survivor's
    running max (the kcenter running-min pattern); a round is two
    checkpoint jobs, one pinning the picks and one the survivors.
    """
    state = cand.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__d"),
        F.col(rel_col).cast("long").alias("__rel"),
        F.col(vec_col).alias("__v"),
        F.lit(0).cast("long").alias("__maxsim"),
    ).localCheckpoint(eager=True)
    lam = int(lam_ppm)
    score = (
        F.lit(lam) * F.col("__rel") - F.lit(1_000_000 - lam) * F.col("__maxsim")
    )

    def pick_next(carry, rnd):
        state, picked = carry
        pick = rnd.checkpoint(
            state.select(
                "__q",
                F.struct(
                    score.alias("s"),
                    (-F.col("__d")).alias("negd"),
                    F.col("__d").alias("d"),
                    F.col("__rel").alias("rel"),
                    F.col("__v").alias("v"),
                ).alias("__k"),
            )
            .groupBy("__q")
            .agg(F.max("__k").alias("__k"))
            .select(
                "__q",
                F.col("__k.d").alias("__pd"),
                F.col("__k.s").alias("__ps"),
                F.col("__k.rel").alias("__prel"),
                F.col("__k.v").alias("__pv"),
            )
        )
        out_rows = pick.select(
            F.col("__q").alias(query_col),
            F.col("__pd").alias(id_col),
            F.col("__prel").alias("rel"),
            F.col("__ps").alias("mmr_score"),
            F.lit(rnd.index + 1).cast("int").alias("rank"),
        )
        picked = out_rows if picked is None else picked.unionByName(out_rows)
        state = rnd.checkpoint(
            state.join(F.broadcast(pick), "__q")
            .where(F.col("__d") != F.col("__pd"))
            .select(
                "__q",
                "__d",
                "__rel",
                "__v",
                F.greatest(
                    F.col("__maxsim"), intdot(F.col("__v"), F.col("__pv"))
                ).alias("__maxsim"),
            )
        )
        return state, picked

    return iterate(pick_next, (state, None), int(k))[1]
