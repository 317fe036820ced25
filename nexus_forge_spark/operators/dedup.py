"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's triple-set dedup (rdflib Graph set semantics,
conversions/rdf.py:275-312), a 100 TB corpus pipeline needs document-level
near-dup detection.  All signatures are computed with engine-portable
primitives (md5 over strings) so every variant is DuckDB-oracle-checkable,
and everything is native Column expressions — no Python in the hot path.

Scale notes:
* exact/fingerprint dedup: one hash-groupBy shuffle on the signature.
* MinHash+LSH: signatures are map-side; only the band-bucket join shuffles,
  and it shuffles on short band keys (bounded skew; identical-doc floods
  are capped by distinct-signature grouping first at real scale).
* n-gram Jaccard: candidate generation via PPJoin-style prefix filtering
  (rarest-shingle prefixes only — exact for the threshold, never the
  quadratic cross join), verification on the candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalized_tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def exact_signature(text: Column) -> Column:
    """Exact-dedup signature: md5 of the normalized token stream."""
    return F.md5(F.array_join(normalized_tokens(text), " "))


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: every doc with its signature, group size and
    canonical (min id) representative."""
    sig = df.select(F.col(id_col), exact_signature(F.col(text_col)).alias("sig"))
    groups = sig.groupBy("sig").agg(
        F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("canonical_id")
    )
    return sig.join(groups, "sig").select(id_col, "sig", "dup_count", "canonical_id")


def word_shingles(text: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles of the normalized text.

    Built by chaining zip_with against shifted slices of the token array —
    ~6x faster than the indexed transform+slice+array_join form (higher-order
    lambdas with a positional index defeat codegen; zip_with does not).
    zip_with pads the shorter (shifted) side with nulls, which concat_ws
    drops, so the trailing partial grams are cut by the final slice."""
    toks = normalized_tokens(text)
    if n == 1:
        return F.array_distinct(toks)
    sz = F.size(toks)
    acc = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(sz - k, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.slice(acc, 1, F.greatest(sz - n + 1, F.lit(0)))
    return F.array_distinct(
        F.when(sz >= n, grams).otherwise(F.array(F.array_join(toks, " ")))
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature via Kirsch-Mitzenmacher double hashing:
    ONE md5 per shingle -> two 60-bit halves h1, h2; component i =
    min over shingles of (h1 + i*h2) mod p.

    Engine-portable: Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT,
    verified bit-identical.  Single-pass fold (element-wise least against a
    running minimum): a per-component array_min would re-inline the shingle
    subtree num_hashes times, and the earlier md5-per-(component,shingle)
    variant was dominated by 16x the md5 calls.
    """
    init = F.array_repeat(F.lit(MINHASH_PRIME + 1).cast("long"), num_hashes)

    def step(acc: Column, g: Column) -> Column:
        d = F.md5(g)
        h1 = F.pmod(F.conv(F.substring(d, 1, 15), 16, 10).cast("long"), F.lit(MINHASH_PRIME))
        h2 = F.pmod(F.conv(F.substring(d, 17, 15), 16, 10).cast("long"), F.lit(MINHASH_PRIME))
        hashes = F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.pmod(h1 + i.cast("long") * h2, F.lit(MINHASH_PRIME)),
        )
        return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

    return F.aggregate(shingles, init, step)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 2,
) -> DataFrame:
    """Per-doc MinHash signatures as explode + hash-aggregation.

    Spark evaluates higher-order-function folds interpreted (no whole-stage
    codegen) — the array-fold form of minhash_signature measured ~2ms/doc.
    Exploding shingles and taking num_hashes codegen'd min() aggregates is
    ~20x faster and gets map-side partial aggregation: the shuffle carries
    only (doc, 16 longs) per group regardless of document length.
    """
    grams = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("g")
    )
    d = F.md5(F.col("g"))
    hashed = grams.select(
        id_col,
        F.pmod(F.conv(F.substring(d, 1, 15), 16, 10).cast("long"), F.lit(MINHASH_PRIME)).alias("h1"),
        F.pmod(F.conv(F.substring(d, 17, 15), 16, 10).cast("long"), F.lit(MINHASH_PRIME)).alias("h2"),
    )
    aggs = [
        F.min(F.pmod(F.col("h1") + i * F.col("h2"), F.lit(MINHASH_PRIME))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*aggs)
        .select(id_col, F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"))
    )


def lsh_band_table(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, key) — the banded form of the LSH index.  This is the
    table a production deployment PERSISTS (partitioned by band) so new
    document batches probe it incrementally instead of re-banding the
    corpus (see incremental_lsh_pairs)."""
    return sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array_join(
                            F.transform(
                                F.slice(
                                    F.col("sig"), b * rows_per_band + 1, rows_per_band
                                ),
                                lambda x: x.cast("string"),
                            ),
                            "|",
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def incremental_lsh_pairs(
    base_bands: DataFrame, delta_bands: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Candidate pairs INTRODUCED by a new document batch, given the stored
    band table of the existing corpus: a delta-vs-base probe equi-join on
    (band, key) plus a delta-vs-delta self-join.  The base never
    self-joins again, so the O(|base| collisions) candidate work of the
    initial build is never repeated — per-increment cost tracks the
    delta.  Decomposition invariant (pinned by randomized differential
    test + the dedup_incremental_lsh contract query):

        pairs(base ∪ delta) == pairs(base) ∪ incremental_lsh_pairs
    """
    d = delta_bands.alias("d")
    b = base_bands.alias("b")
    did, bid = f"d.{id_col}", f"b.{id_col}"
    cross = (
        d.join(
            b,
            (F.col("d.band") == F.col("b.band"))
            & (F.col("d.key") == F.col("b.key"))
            & (F.col(did) != F.col(bid)),
        )
        .select(
            F.least(F.col(did), F.col(bid)).alias("a"),
            F.greatest(F.col(did), F.col(bid)).alias("b"),
        )
    )
    d2 = delta_bands.alias("e")
    dd = (
        d.join(
            d2,
            (F.col("d.band") == F.col("e.band"))
            & (F.col("d.key") == F.col("e.key"))
            & (F.col(did) < F.col(f"e.{id_col}")),
        )
        .select(F.col(did).alias("a"), F.col(f"e.{id_col}").alias("b"))
    )
    return cross.unionByName(dd).distinct()


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    materialize: bool = True,
    two_tier: bool = False,
    max_block_size: int | None = None,
) -> DataFrame:
    """Band the signature; docs sharing any band bucket are candidates.
    Returns distinct (a, b) with a < b.

    max_block_size is the ENFORCED half of the P133 mega-block safety
    valve (block_cap_audit is the measuring half): a band bucket of m
    rows emits m(m-1)/2 candidates, so one hot bucket can dominate a
    100 TB run — with a cap, buckets above it are dropped BEFORE the
    self-join (one map-side-combinable size count + a semi join, never
    the quadratic fan-out).  The work/recall trade is priced by
    block_cap_audit over the same band table: a true pair loses recall
    only if EVERY bucket it shared was dropped.  Default None keeps the
    exact candidate set.  Under two_tier the cap applies to the
    distinct-signature band buckets (star edges are size-linear already
    and never capped).

    The band join is an equi-join on (band_idx, band_key) — shuffle keys are
    short and uniformly distributed; this is the plan that survives 10^9
    docs, unlike any pairwise comparison.

    materialize=True localCheckpoints the signatures before the self-join —
    otherwise both join sides recompute the whole signature subtree
    (measured: the join was 30x slower without it).

    two_tier=True is the boilerplate-heavy-crawl discipline (the one the
    hamming family already applies, see hamming_pairs): k documents with
    IDENTICAL signatures collide in every band, so the plain band join
    emits the O(k^2) clique.  The two-tier form first elects one
    representative per distinct signature (one map-side-combinable
    groupBy), emits the k-1 star edges (rep, member), and runs the band
    join over distinct signatures only — candidate count is linear in the
    cluster size, and the candidate graph is COMPONENT-EQUAL to the
    clique form (star spans the same-signature cluster; any cross-cluster
    band collision survives via the representatives, which carry the same
    signatures).  Use it when the consumer is a clustering/components
    pass; the pairwise-verify consumers keep the exact clique because a
    verify filter may drop star edges while keeping clique edges.
    """
    if materialize:
        sigs = sigs.localCheckpoint(eager=True)
    if two_tier:
        keyed = sigs.select(
            id_col,
            "sig",
            F.array_join(
                F.transform("sig", lambda x: x.cast("string")), "|"
            ).alias("__sk"),
        )
        reps = keyed.groupBy("__sk").agg(F.min(id_col).alias("__rep"))
        joined = keyed.join(reps, "__sk")
        star = joined.where(F.col(id_col) != F.col("__rep")).select(
            F.col("__rep").alias("a"), F.col(id_col).alias("b")
        )
        rep_sigs = joined.where(F.col(id_col) == F.col("__rep")).select(
            id_col, "sig"
        )
        rep_pairs = lsh_candidate_pairs(
            rep_sigs, bands, rows_per_band, id_col, materialize=False,
            max_block_size=max_block_size,
        )
        return star.unionByName(rep_pairs).distinct()
    banded = lsh_band_table(sigs, bands, rows_per_band, id_col)
    if max_block_size is not None:
        kept = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("__m"))
            .where(F.col("__m") <= max_block_size)
            .select("band", "key")
        )
        banded = banded.join(kept, ["band", "key"], "left_semi")
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


def jaccard(a_shingles: Column, b_shingles: Column) -> Column:
    inter = F.size(F.array_intersect(a_shingles, b_shingles))
    union = F.size(F.array_union(a_shingles, b_shingles))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0)).cast("double")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup with PPJoin-style prefix filtering.

    For Jaccard >= t, two shingle sets must share at least one shingle among
    each set's first ``|S| - ceil(t*|S|) + 1`` shingles under a global
    rarest-first ordering (prefix filter — exact, no false negatives).
    Candidate generation joins only on those prefix shingles, so the
    self-join fans out on *rare* shingles instead of on every hot bigram —
    the difference between O(n²) and near-linear on a skewed corpus.
    A length filter (J >= t forces t*|A| <= |B| <= |A|/t, also exact)
    prunes size-mismatched pairs inside the same join.
    True Jaccard on the full sets verifies each surviving candidate.
    """
    t = threshold
    # all PPJoin bounds below use EXACT integer arithmetic on the threshold
    # as a rational tn/td: float expressions like ceil(0.8/1.8*63) evaluate
    # to 29 in doubles while the true rational minimum overlap is 28, which
    # would drop exact-threshold pairs (false negatives the verify step can
    # never recover).  limit_denominator recovers the intended rational from
    # the float the caller typed (0.8 -> 4/5).
    from fractions import Fraction

    frac = Fraction(t).limit_denominator(1_000_000)
    tn, td = frac.numerator, frac.denominator

    def _ceil_div(num: Column, den: int) -> Column:
        # exact ceil(num/den) for nonnegative integer num: correctly-rounded
        # IEEE division of integers < 2^53 can't cross an integer boundary
        # when the fractional part is >= 1/den, so floor is exact here
        return F.floor((num + F.lit(den - 1)) / F.lit(den)).cast("long")

    def _floor_div(num: Column, den: int) -> Column:
        return F.floor(num / F.lit(den)).cast("long")

    # shingles are interned to 64-bit xxhash ids immediately: every downstream
    # op (freq groupBy, prefix join, intersect verify) runs on longs, not
    # strings — same Jaccard values (collision odds ~|corpus shingles|^2/2^64)
    with_sh = df.select(
        F.col(id_col),
        F.transform(word_shingles(F.col(text_col), shingle_n), lambda g: F.xxhash64(g)).alias("sh"),
    ).localCheckpoint(eager=True)  # reused by candidate join sides + verify
    exploded = with_sh.select(id_col, F.explode("sh").alias("g"))
    # global document frequency per shingle -> rarest-first total order (df, g)
    freq = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    pos_w = Window.partitionBy(id_col).orderBy("df", "g")
    ranked = (
        exploded.join(freq, "g")
        .withColumn("pos", F.row_number().over(pos_w))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    # probing prefix |S| - ceil(t|S|) + 1; indexing prefix is shorter,
    # |S| - ceil(2t/(1+t)|S|) + 1 (PPJoin: a qualifying pair must match a
    # probe-prefix shingle of one doc against an index-prefix shingle of the
    # other, in either orientation — both halves below, so still exact)
    # materialize once: probe/idx are each read by BOTH join halves below —
    # without this the freq-join + double window recomputes 4x
    ranked = ranked.localCheckpoint(eager=True)
    probe = ranked.where(
        F.col("pos") <= F.col("sz") - _ceil_div(F.lit(tn) * F.col("sz"), td) + 1
    ).select(id_col, "g", "sz", "pos")
    # 2t/(1+t) = 2*tn/(td+tn) as an exact rational
    idx = ranked.where(
        F.col("pos") <= F.col("sz") - _ceil_div(F.lit(2 * tn) * F.col("sz"), td + tn) + 1
    ).select(id_col, "g", "sz", "pos")

    def _half(flip: bool) -> DataFrame:
        l, r = probe.alias("l"), idx.alias("r")
        order = (
            F.col(f"l.{id_col}") > F.col(f"r.{id_col}")
            if flip
            else F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
        )
        cond = (
            (F.col("l.g") == F.col("r.g"))
            & order
            # length filter: J >= t forces t*|A| <= |B| <= |A|/t
            & (F.col("r.sz") >= _ceil_div(F.lit(tn) * F.col("l.sz"), td))
            & (F.col("r.sz") <= _floor_div(F.lit(td) * F.col("l.sz"), tn))
            # positional filter: overlap upper bound at this match position
            # must reach the J>=t minimum overlap ceil(t/(1+t)*(|A|+|B|))
            # = ceil(tn*(|A|+|B|)/(tn+td)) exactly
            & (
                F.lit(1)
                + F.least(F.col("l.sz") - F.col("l.pos"), F.col("r.sz") - F.col("r.pos"))
                >= _ceil_div(F.lit(tn) * (F.col("l.sz") + F.col("r.sz")), tn + td)
            )
        )
        pair = (
            (F.col(f"r.{id_col}").alias("a"), F.col(f"l.{id_col}").alias("b"))
            if flip
            else (F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        )
        return l.join(r, cond).select(*pair)

    cand = _half(False).unionAll(_half(True)).distinct()
    # verify against the full shingle sets, broadcast to the candidate pairs
    a_sh = F.broadcast(with_sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a")))
    b_sh = F.broadcast(with_sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b")))
    # |A ∪ B| = |A| + |B| - |A ∩ B|: one set-build per pair instead of two
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    denom = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.when(denom > 0, inter / denom).otherwise(F.lit(0.0)).cast("double")
    return (
        cand.join(a_sh, "a")
        .join(b_sh, "b")
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash via explode + 60 codegen'd vote sums (same rationale
    as minhash_signatures: HOF folds are interpreted; aggregates are not)."""
    toks = df.select(F.col(id_col), F.explode(normalized_tokens(F.col(text_col))).alias("t"))
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    hashed = toks.select(id_col, h.alias("h"))
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b).cast("long")) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(60)
    ]
    agged = hashed.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(60):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agged.select(id_col, sig.alias("sig"))


def simhash_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_distance: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 4 16-bit chunks
    (pigeonhole: distance<=3 over 60 bits => at least one identical 15-bit
    chunk) — equi-join blocking, no cross join."""
    # codegen'd explode+agg signatures, materialized before the self-join
    sigs = simhash_signatures(df, text_col, id_col).localCheckpoint(eager=True)
    chunks = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sig"), c * 15)
                        .bitwiseAND(F.lit((1 << 15) - 1))
                        .alias("ckey"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "sig", F.col("ck.chunk").alias("chunk"), F.col("ck.ckey").alias("ckey"))
    l = chunks.alias("l")
    r = chunks.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ckey") == F.col("r.ckey"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("a", "b", dist.cast("int").alias("hamming")).where(
        F.col("hamming") <= max_distance
    )


def duplicated_window_stats(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-substring dedup signal (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): a k-token window whose key occurs
    more than once ANYWHERE in the corpus (another doc or elsewhere in the
    same doc) is a duplicated substring occurrence.

    Per doc: total window count, duplicated-window count, and the integer
    parts-per-million duplicated fraction (integer `div`, engine-exact).

    Scale posture: the per-(window, doc) occurrence counts are aggregated
    FIRST (map-side partial agg on the exploded windows), so the global
    per-window count join never sees a collect_list and a pathological
    window that occurs 10^6 times costs one long row per doc that has it,
    not a 10^6-element list on one key.  Total window volume is
    O(tokens) — linear in corpus size, the same cost class as tokenizing.
    """
    # explode the start-index sequence and hash in a codegen'd projection —
    # NOT transform(sequence, lambda): the interpreted HOF with md5 inside
    # is the measured ~10x-slower path (same finding as
    # rolling_fingerprint_agg / MinHash)
    toks = df.select(F.col(id_col), normalized_tokens(F.col(text_col)).alias("__toks"))
    wins = (
        toks.where(F.size("__toks") >= k)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.size("__toks") - k)).alias("i"),
            "__toks",
        )
        .select(
            F.col(id_col),
            F.md5(
                F.array_join(F.slice(F.col("__toks"), F.col("i") + 1, k), " ")
            ).alias("wkey"),
        )
    )
    # per-(window, doc) occurrence counts: map-side combine caps the shuffle.
    # wd feeds BOTH the global count and the join back — localCheckpoint so
    # the O(tokens) explode+agg runs once, not twice (round-1-measured
    # pattern: checkpoint any subtree consumed by two downstream plans).
    wd = (
        wins.groupBy("wkey", id_col)
        .agg(F.count(F.lit(1)).alias("c_wd"))
        .localCheckpoint(eager=True)
    )
    tot = wd.groupBy("wkey").agg(F.sum("c_wd").alias("c"))
    dup = (
        wd.join(tot.where(F.col("c") > 1), "wkey")
        .groupBy(id_col)
        .agg(F.sum("c_wd").alias("n_dup_windows"))
    )
    totals = df.select(
        F.col(id_col),
        F.greatest(
            F.size(normalized_tokens(F.col(text_col))) - (k - 1), F.lit(0)
        )
        .cast("long")
        .alias("n_windows"),
    )
    return totals.join(dup, id_col, "left").select(
        id_col,
        "n_windows",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.expr(
            "CAST(coalesce(n_dup_windows, 0) * 1000000 div greatest(n_windows, 1) AS BIGINT)"
        ).alias("dup_ppm"),
    )


def remove_duplicated_spans(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-substring dedup REWRITE (Lee et al. 2022 "ExactSubstr",
    token granularity): every k-token window whose key occurs more than
    once anywhere in the corpus is a duplicated substring; all of its
    occurrences EXCEPT the globally first (min (doc_id, start) order —
    deterministic under any partitioning) are excised from their
    documents, and the surviving tokens are re-joined.  The companion
    signal op is :func:`duplicated_window_stats`; this one actually
    edits the corpus the way the paper's dedup step does.

    Output text is the normalized token stream (lowercased, single
    spaces) with the duplicated spans cut out; a document whose every
    token is covered comes back as the empty string, not a dropped row.

    Scale posture: O(tokens) window explode; the per-window election is
    ONE hash aggregate (count + min-struct with map-side combine — a
    window function over wkey would funnel a 10^6-occurrence window
    through one task, the min-struct agg does not); duplicate-occurrence
    starts fold back per doc (group size bounded by doc length), and the
    span-merge + rebuild are pure array expressions over the already
    materialized token array — interval merge then gap-slice
    concatenation, O(tokens) per doc, no per-position explode.
    """
    toks = df.select(
        F.col(id_col), normalized_tokens(F.col(text_col)).alias("t")
    )
    wins = (
        toks.where(F.size("t") >= k)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.size("t") - k)).alias("start"),
            "t",
        )
        .select(
            F.col(id_col),
            "start",
            F.md5(
                F.array_join(F.slice(F.col("t"), F.col("start") + 1, k), " ")
            ).alias("wkey"),
        )
    )
    # per-window election: global occurrence count + the lexicographically
    # first (doc, start) — one agg, skew-safe (partial min/count map-side)
    info = wins.groupBy("wkey").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("start").alias("s"))).alias(
            "fst"
        ),
    )
    dup_starts = (
        wins.join(info.where(F.col("c") > 1), "wkey")
        .where(~((F.col(id_col) == F.col("fst.d")) & (F.col("start") == F.col("fst.s"))))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("start")).alias("starts"))
    )
    # merge the sorted equal-length intervals [s, s+k-1] into disjoint
    # maximal spans, then rebuild the kept text by slicing the gaps
    spans = F.expr(
        f"""aggregate(
          starts,
          CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>),
          (acc, st) -> CASE
            WHEN size(acc) > 0 AND st <= element_at(acc, -1).e + 1
            THEN concat(
              slice(acc, 1, size(acc) - 1),
              array(named_struct('s', element_at(acc, -1).s, 'e', st + {k} - 1)))
            ELSE concat(acc, array(named_struct('s', st, 'e', st + {k} - 1)))
          END)"""
    )
    kept = F.expr(
        """aggregate(
          spans,
          named_struct('nxt', 0, 'parts', CAST(array() AS ARRAY<STRING>)),
          (acc, sp) -> named_struct(
            'nxt', sp.e + 1,
            'parts', concat(acc.parts, slice(t, acc.nxt + 1, sp.s - acc.nxt))),
          acc -> concat(acc.parts, slice(t, acc.nxt + 1, greatest(size(t) - acc.nxt, 0))))"""
    )
    out = (
        toks.join(dup_starts, id_col, "left")
        .withColumn("spans", F.coalesce(spans, F.expr("CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>)")))
        .withColumn("kept", kept)
    )
    return out.select(
        id_col,
        F.array_join("kept", " ").alias("clean_text"),
        F.size("t").cast("long").alias("n_tokens"),
        (F.size("t") - F.size("kept")).cast("long").alias("n_removed"),
        F.expr(
            "CAST((size(t) - size(kept)) * 1000000 div greatest(size(t), 1) AS BIGINT)"
        ).alias("removed_ppm"),
    )

def hamming_pairs(
    sigs: DataFrame,
    max_distance: int = 6,
    bits: int = 64,
    sig_col: str = "sig",
    id_col: str = "doc_id",
) -> DataFrame:
    """Generic Hamming-distance similarity self-join over any integer
    bit-signature column (SimHash, image dHash, audio fingerprints):
    pairs (a < b) with ``bit_count(sig_a XOR sig_b) <= max_distance``.

    Blocking is the pigeonhole split into ``max_distance + 1`` chunks —
    two signatures within distance d must agree on at least one chunk,
    so every candidate comes from ONE equi-join on (chunk_idx,
    chunk_value); no cross join, lossless by construction (the same
    argument as :func:`simhash_pairs`, generalized to any d and width).

    Scale posture: fan-out is exactly d+1 rows per signature; verify is
    one codegen'd XOR+bit_count on the joined rows.  Collapse exact
    duplicates (groupBy sig) FIRST when multiplicity is high — identical
    signatures pair quadratically by definition, and electing one
    representative per distinct signature before the near-join keeps the
    self-join linear in DISTINCT signatures.
    """
    n_chunks = max_distance + 1
    width = -(-bits // n_chunks)  # ceil
    mask = (1 << width) - 1
    chunks = sigs.select(
        F.col(id_col),
        F.col(sig_col).alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col(sig_col), c * width)
                        .bitwiseAND(F.lit(mask).cast("long"))
                        .alias("ckey"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select(
        id_col, "__sig", F.col("ck.chunk").alias("chunk"), F.col("ck.ckey").alias("ckey")
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ckey") == F.col("r.ckey"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.col("l.__sig").alias("sig_a"),
            F.col("r.__sig").alias("sig_b"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("a", "b", dist.cast("int").alias("hamming")).where(
        F.col("hamming") <= max_distance
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-CONTAINMENT join: (contained, container) pairs with
    C(A in B) = |S_A ∩ S_B| / |S_A| >= t — the asymmetric companion to
    ngram_jaccard_pairs.  Symmetric Jaccard misses wholesale inclusion
    (a quote, a syndicated article inside a portal page): a short doc
    fully embedded in a long one has tiny Jaccard but containment 1.0.

    Exactness: if none of A's first ``|A| - ceil(t|A|) + 1`` shingles
    under the global rarest-first order are in B, the remaining
    ``ceil(t|A|) - 1`` cannot reach the required overlap — so probing
    only A's prefix is lossless.  The container side indexes ALL its
    shingles (containment puts no size bound on B — a quote can live in
    any larger doc), which is why the probe prefix being RAREST-first
    matters doubly here: hot stopword shingles sit deep in every probe
    list and are almost never probed, so the full inverted index's hot
    postings stay cold.  Bounds use the same integer-rational t (tn/td)
    discipline as ngram_jaccard_pairs (ADVICE-r1 float-ceil class).

    Verify recomputes true containment on the full shingle sets.
    Output: (contained, container, containment) — both orientations
    emerge naturally since C is asymmetric.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1_000_000)
    tn, td = frac.numerator, frac.denominator

    def _ceil_div(num: Column, den: int) -> Column:
        return F.floor((num + F.lit(den - 1)) / F.lit(den)).cast("long")

    with_sh = df.select(
        F.col(id_col),
        F.transform(
            word_shingles(F.col(text_col), shingle_n), lambda g: F.xxhash64(g)
        ).alias("sh"),
    ).localCheckpoint(eager=True)
    exploded = with_sh.select(id_col, F.explode("sh").alias("g"))
    freq = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    pos_w = Window.partitionBy(id_col).orderBy("df", "g")
    ranked = (
        exploded.join(freq, "g")
        .withColumn("pos", F.row_number().over(pos_w))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    probe = ranked.where(
        F.col("pos") <= F.col("sz") - _ceil_div(F.lit(tn) * F.col("sz"), td) + 1
    ).select(F.col(id_col).alias("a"), "g", F.col("sz").alias("sz_a"))
    # container length filter: |A ∩ B| <= |B|, so C >= t forces
    # |B| >= ceil(t|A|) — exact, prunes candidates inside the join
    sizes = ranked.select(id_col, "sz").distinct()
    index = exploded.join(sizes, id_col).select(
        F.col(id_col).alias("b"), "g", F.col("sz").alias("sz_b")
    )
    cand = (
        probe.join(index, "g")
        .where(
            (F.col("a") != F.col("b"))
            & (F.col("sz_b") >= _ceil_div(F.lit(tn) * F.col("sz_a"), td))
        )
        .select("a", "b")
        .distinct()
    )
    a_sh = F.broadcast(with_sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a")))
    b_sh = F.broadcast(with_sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b")))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    containment = (
        F.when(F.size("sh_a") > 0, inter / F.size("sh_a"))
        .otherwise(F.lit(0.0))
        .cast("double")
    )
    return (
        cand.join(a_sh, "a")
        .join(b_sh, "b")
        .select(
            F.col("a").alias("contained"),
            F.col("b").alias("container"),
            F.round(containment, 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    divisor: int = 32,
    salt: str = "cdc",
) -> DataFrame:
    """Content-defined chunking (the storage-dedup technique behind
    LBFS/rsync/restic): split each document at positions where the hash
    of the trailing ``window`` characters is 0 mod ``divisor``, so chunk
    boundaries survive insertions/deletions elsewhere in the document —
    unlike fixed-size blocks, shifted content still yields identical
    chunks.  Expected chunk length is ~``divisor`` chars; the document
    end is always a boundary.  (Classic CDC rolls a gear/Rabin hash
    byte-by-byte — an inherently sequential loop; hashing the trailing
    fixed window at every position is the same boundary rule expressed
    set-oriented, one explode over character positions.)

    Output: one row per chunk occurrence
    ``(id, start, chunk_len, chunk_hash)`` with 1-based start.

    Scale posture: the position explode is map-side O(total chars) (the
    rolling_fingerprint pattern, measured fine at corpus scale); the
    boundary list reduces per doc via one doc-keyed aggregate, and chunk
    materialization is a map-side transform+explode after one doc-keyed
    join — two shuffles on the doc key total, nothing quadratic.
    """
    from nexus_forge_spark.operators.sketches import hash60

    # a doc shorter than the window is one chunk (sequence(w, len) with
    # len < w would COUNT DOWN in Spark — guard it out)
    pos = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.length(F.col(text_col)) >= int(window),
                F.sequence(F.lit(int(window)), F.length(F.col(text_col))),
            ).otherwise(F.array(F.length(F.col(text_col))))
        ).alias("__p"),
        F.col(text_col).alias("__t"),
    )
    # substring(text, p-window+1, window) is the trailing window at p
    bounds = (
        pos.where(
            (
                F.pmod(
                    hash60(
                        F.expr(f"substring(__t, __p - {int(window)} + 1, {int(window)})"),
                        salt,
                    ),
                    F.lit(int(divisor)),
                )
                == 0
            )
            | (F.col("__p") == F.length("__t"))
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("__p")).alias("__bs"))
    )
    spans = (
        df.select(F.col(id_col), F.col(text_col).alias("__t"))
        .join(bounds, id_col)
        .select(
            id_col,
            "__t",
            F.explode(
                F.zip_with(
                    F.concat(F.array(F.lit(0)), F.slice("__bs", 1, F.size("__bs") - 1)),
                    F.col("__bs"),
                    lambda a, b: F.struct(
                        (a + 1).alias("start"), (b - a).alias("chunk_len")
                    ),
                )
            ).alias("__s"),
        )
    )
    return spans.select(
        id_col,
        F.col("__s.start").cast("long").alias("start"),
        F.col("__s.chunk_len").cast("long").alias("chunk_len"),
        F.md5(F.expr("substring(__t, __s.start, __s.chunk_len)")).alias(
            "chunk_hash"
        ),
    )


def cdc_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    divisor: int = 32,
    salt: str = "cdc",
) -> DataFrame:
    """Per-document chunk-level dedup audit over :func:`cdc_chunks`:
    every chunk occurrence whose identical chunk text first occurs
    earlier (lexicographic (doc, start) election) is a duplicate; report
    per doc the chunk count, total bytes, and duplicate bytes — the
    storage/training-tokens saving chunk-level dedup would buy.

    The first-occurrence election is the chained-hash-agg form (groupBy
    (hash, doc) min(start), then groupBy(hash) min(doc) + min_by) so
    both aggregates stay map-side-combinable hash aggregates — no
    SortAggregate, no window over the full occurrence set.
    """
    # the chunk derivation feeds BOTH the election and the occurrence
    # join — pin it once (chunk rows are ~3% of corpus chars)
    chunks = cdc_chunks(df, text_col, id_col, window, divisor, salt).localCheckpoint(
        eager=True
    )
    per_doc = chunks.groupBy("chunk_hash", id_col).agg(
        F.min("start").alias("__s0")
    )
    winners = per_doc.groupBy("chunk_hash").agg(
        F.min(id_col).alias("__d0"),
        F.min_by("__s0", id_col).alias("__w_s0"),
    )
    # winners is distinct-chunk-sized (corpus scale) — this join shuffles
    # on chunk_hash; do NOT broadcast it
    occ = chunks.join(winners, "chunk_hash")
    is_dup = ~(
        (F.col(id_col) == F.col("__d0")) & (F.col("start") == F.col("__w_s0"))
    )
    return occ.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("n_bytes"),
        F.sum(is_dup.cast("long")).cast("long").alias("n_dup_chunks"),
        F.sum(F.when(is_dup, F.col("chunk_len")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dup_bytes"),
    )


def cdc_incremental_dup_stats(
    existing: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    divisor: int = 32,
    salt: str = "cdc",
) -> DataFrame:
    """Incremental chunk-level dedup: audit a NEW batch of documents
    against the EXISTING corpus's chunk index without ever rescanning
    old text against old text — the daily-ingest shape of
    :func:`cdc_dedup_stats`.  A new chunk occurrence is a duplicate iff
    its content hash already exists in the corpus index OR an earlier
    (doc, start) occurrence within the new batch claimed it first.

    Scale posture: the existing side reduces to its DISTINCT chunk-hash
    index once (in production that index is the persisted output of the
    last full audit — O(delta) per ingest, the dedup analogue of the
    store's delta-log mutations); the probe is a hash-keyed left semi
    shape expressed as a left join flag, never broadcast (the index is
    corpus-sized).  The within-batch election is the same chained hash
    aggregate as the full audit.
    """
    index = (
        cdc_chunks(existing, text_col, id_col, window, divisor, salt)
        .select("chunk_hash")
        .distinct()
    )
    chunks = cdc_chunks(new, text_col, id_col, window, divisor, salt).localCheckpoint(
        eager=True
    )
    per_doc = chunks.groupBy("chunk_hash", id_col).agg(
        F.min("start").alias("__s0")
    )
    winners = per_doc.groupBy("chunk_hash").agg(
        F.min(id_col).alias("__d0"),
        F.min_by("__s0", id_col).alias("__w_s0"),
    )
    occ = (
        chunks.join(winners, "chunk_hash")
        .join(
            index.select(F.col("chunk_hash"), F.lit(True).alias("__in_corpus")),
            "chunk_hash",
            "left",
        )
    )
    is_dup = F.coalesce("__in_corpus", F.lit(False)) | ~(
        (F.col(id_col) == F.col("__d0")) & (F.col("start") == F.col("__w_s0"))
    )
    return occ.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("n_bytes"),
        F.sum(is_dup.cast("long")).cast("long").alias("n_dup_chunks"),
        F.sum(F.when(is_dup, F.col("chunk_len")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dup_bytes"),
    )


def block_cap_audit(
    bands: DataFrame,
    cap: int,
    truth: DataFrame,
    id_col: str = "doc_id",
    block_cols: tuple[str, str] = ("band", "key"),
) -> DataFrame:
    """Block-size capping audit — the mega-block safety valve every
    production blocker needs: one hot LSH bucket (or phonetic key, or
    band collision) of size m costs m(m-1)/2 comparisons and can
    single-handedly dominate a 100 TB dedup run, so blocks above ``cap``
    are dropped and this report prices the decision: comparison work
    before/after and ground-truth pair completeness before/after (a
    truth pair only LOSES recall if EVERY block it shared was dropped).

    One-row output: n_blocks, n_blocks_dropped, rows_in_dropped,
    work_before, work_after (Σ m(m-1)/2), truth_pairs,
    found_before/after, completeness_before/after in integer ppm.

    Scale posture: one block-keyed count (map-side), one tiny aggregate;
    the truth-completeness joins key on the ids of the truth pairs only
    (semi-sized), never on the corpus.
    """
    b, k = block_cols
    sizes = bands.groupBy(b, k).agg(F.count(F.lit(1)).alias("m"))
    stats = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum((F.col("m") > cap).cast("long")).cast("long").alias(
            "n_blocks_dropped"
        ),
        F.sum(F.when(F.col("m") > cap, F.col("m")).otherwise(0))
        .cast("long")
        .alias("rows_in_dropped"),
        F.sum(F.expr("m * (m - 1) div 2")).cast("long").alias("work_before"),
        F.sum(
            F.when(F.col("m") <= cap, F.expr("m * (m - 1) div 2")).otherwise(0)
        )
        .cast("long")
        .alias("work_after"),
    )
    t = truth.select(
        F.least("a", "b").alias("ta"), F.greatest("a", "b").alias("tb")
    ).distinct()
    kept_blocks = sizes.where(F.col("m") <= cap).select(b, k)
    capped = bands.join(kept_blocks, [b, k], "left_semi")

    def found(bnd: DataFrame) -> DataFrame:
        l = bnd.select(F.col(id_col).alias("ta"), b, k)
        r = bnd.select(F.col(id_col).alias("tb"), b, k)
        return (
            t.join(l, "ta").join(r, ["tb", b, k]).select("ta", "tb").distinct()
        )

    n_truth = t.count()
    fb = found(bands).count()
    fa = found(capped).count()
    spark = bands.sparkSession
    audit = spark.createDataFrame(
        [(int(n_truth), int(fb), int(fa))],
        "truth_pairs long, found_before long, found_after long",
    )
    return stats.crossJoin(F.broadcast(audit)).select(
        "*",
        F.expr(f"CAST(found_before * 1000000 div {max(n_truth,1)} AS BIGINT)")
        .alias("completeness_before_ppm"),
        F.expr(f"CAST(found_after * 1000000 div {max(n_truth,1)} AS BIGINT)")
        .alias("completeness_after_ppm"),
    )


# ------------------------------------------------------------ LSH tuning
LSH_Q30 = 1_073_741_824


def sql_lsh_scurve(s_q30: str, rows_per_band: int, bands: int, dialect: str) -> str:
    """The banded-MinHash S-curve P(candidate | jaccard=s) = 1-(1-s^r)^b
    in Q30 integer fixed point (unrolled truncating multiplies — no pow,
    no libm), returned in ppm.  ``s_q30`` should be a COLUMN REFERENCE
    (it is repeated r+b times)."""
    div = "//" if dialect == "duck" else "div"
    x = s_q30
    for _ in range(rows_per_band - 1):
        x = f"(({x} * {s_q30}) {div} {LSH_Q30})"
    q = f"({LSH_Q30} - {x})"
    y = q
    for _ in range(bands - 1):
        y = f"(({y} * {q}) {div} {LSH_Q30})"
    return f"((({LSH_Q30} - {y}) * 1000000) {div} {LSH_Q30})"


def lsh_scurve_py(s_ppm: int, rows_per_band: int, bands: int) -> int:
    sq = (s_ppm * LSH_Q30) // 1_000_000
    x = sq
    for _ in range(rows_per_band - 1):
        x = (x * sq) // LSH_Q30
    q = LSH_Q30 - x
    y = q
    for _ in range(bands - 1):
        y = (y * q) // LSH_Q30
    return ((LSH_Q30 - y) * 1_000_000) // LSH_Q30


def lsh_parameter_audit(
    df: DataFrame,
    configs: list[tuple[int, int]],
    s_grid_ppm: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Price the (bands, rows_per_band) dial BEFORE a 100 TB dedup run:
    for each config sharing one hash budget b*r, report

    * the analytic S-curve P(candidate | jaccard=s) on a similarity grid
      (Q30 integer fixed point — what recall each config buys at each
      similarity level), and
    * the MEASURED candidate-pair count on this corpus under that
      banding (sum of m*(m-1)/2 over buckets — what the verify stage
      would actually pay).

    The two columns together are the work-vs-recall trade the
    block_cap_audit prices after the fact, moved to tuning time.

    Scale posture: ONE signature pass (b*r minhashes, shared by every
    config via localCheckpoint — configs re-band the cached signatures),
    per config one (band, key) count aggregate (map-side combined); the
    grid join is a broadcast of literals.  Nothing pair-shaped is ever
    materialized.
    """
    budgets = {b * r for b, r in configs}
    if len(budgets) != 1:
        raise ValueError(f"configs must share one hash budget b*r, got {budgets}")
    num_hashes = budgets.pop()
    sigs = minhash_signatures(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes
    ).localCheckpoint(eager=True)
    spark = df.sparkSession
    grid = spark.createDataFrame([(int(s),) for s in s_grid_ppm], "s_ppm long")
    out = None
    for bands, rows_per_band in configs:
        bt = lsh_band_table(sigs, bands, rows_per_band, id_col)
        n_cand = (
            bt.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("m"))
            .agg(F.sum(F.expr("m * (m - 1) div 2")).alias("nc"))
            .select(F.coalesce("nc", F.lit(0)).cast("long").alias("nc"))
        )
        piece = (
            n_cand.crossJoin(F.broadcast(grid))
            .withColumn("__sq", F.expr(f"(s_ppm * {LSH_Q30}) div 1000000"))
            .select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(rows_per_band).cast("long").alias("rows_per_band"),
                "s_ppm",
                F.expr(sql_lsh_scurve("__sq", rows_per_band, bands, "spark"))
                .cast("long")
                .alias("p_cand_ppm"),
                F.col("nc").alias("n_candidate_pairs"),
            )
        )
        out = piece if out is None else out.unionByName(piece)
    return out
