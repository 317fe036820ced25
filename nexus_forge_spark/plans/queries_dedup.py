"""The dedup contract-query family, registered by driver_queries.py.  The
other families import its queries by name, so it imports none of theirs."""

from nexus_forge_spark.plans._qshared import *  # noqa: F401,F403



def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the sorted distinct token set, with
    duplicate-group size (exact dedup on bag-of-words signature)."""
    docs = load_table(spark, "documents", sf_dir)
    fp = F.md5(F.array_join(F.sort_array(F.array_distinct(F.split(F.col("text"), " "))), " "))
    d = docs.select("doc_id", fp.alias("fp"))
    w = Window.partitionBy("fp")
    return d.withColumn("dup_count", F.count(F.lit(1)).over(w)).select(
        "doc_id", "fp", "dup_count"
    )


def sql_doc_fingerprint() -> str:
    return """WITH d AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
  FROM documents
)
SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dup_count FROM d"""


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality scoring: token count, distinct ratio, stopword ratio,
    mean token length — per doc, all native exprs."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda w: w.isin("the", "a")))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    return docs.select(
        "doc_id",
        "lang",
        n.cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
        (F.size(F.array_distinct(toks)) / n).cast("double").alias("distinct_ratio"),
        (stop / n).cast("double").alias("stopword_ratio"),
        (total_len / n).cast("double").alias("mean_token_len"),
    )


def sql_doc_token_stats() -> str:
    return """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang,
  CAST(len(toks) AS INT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
  CAST(len(list_filter(toks, w -> w IN ('the', 'a'))) AS DOUBLE) / len(toks) AS stopword_ratio,
  CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) AS mean_token_len
FROM d"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nexus_forge_spark.operators.dedup import exact_dup_groups

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    dups = docs.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    return exact_dup_groups(docs.unionByName(dups))


def sql_dedup_exact() -> str:
    return """WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents
),
sig AS (
  SELECT doc_id,
         md5(array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')) AS sig
  FROM docs
),
groups AS (
  SELECT sig, count(*) AS dup_count, min(doc_id) AS canonical_id FROM sig GROUP BY sig
)
SELECT s.doc_id, s.sig, g.dup_count, g.canonical_id
FROM sig s JOIN groups g USING (sig)"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified with true word-
    bigram Jaccard >= 0.5."""
    from nexus_forge_spark.operators import dedup as D

    docs = _docs_with_mutants(spark, sf_dir)
    sigs = D.minhash_signatures(docs, num_hashes=_MINHASH_K, shingle_n=2)
    cand = D.lsh_candidate_pairs(sigs, bands=_MINHASH_BANDS, rows_per_band=_MINHASH_ROWS)
    return _bigram_jaccard_verify(docs, cand)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup maintenance: the original docs are the stored
    corpus (band table persisted in production), the mutants arrive as a
    new batch.  New candidates come from a delta-vs-base probe join plus a
    delta-delta self-join — the base NEVER re-self-joins, so per-increment
    candidate cost tracks the delta.  The result (stored base pairs ∪
    incremental pairs, same Jaccard verify) must hash-equal the full
    recompute oracle (sql_dedup_minhash), proving the decomposition."""
    from nexus_forge_spark.operators import dedup as D

    docs = _docs_with_mutants(spark, sf_dir)
    is_delta = F.col("doc_id") >= 1000000
    sigs = D.minhash_signatures(
        docs, num_hashes=_MINHASH_K, shingle_n=2
    ).localCheckpoint(eager=True)
    base_sigs, delta_sigs = sigs.where(~is_delta), sigs.where(is_delta)
    base_bands = D.lsh_band_table(base_sigs, _MINHASH_BANDS, _MINHASH_ROWS)
    delta_bands = D.lsh_band_table(delta_sigs, _MINHASH_BANDS, _MINHASH_ROWS)
    base_pairs = D.lsh_candidate_pairs(
        base_sigs, bands=_MINHASH_BANDS, rows_per_band=_MINHASH_ROWS, materialize=False
    )
    new_pairs = D.incremental_lsh_pairs(base_bands, delta_bands)
    cand = base_pairs.unionByName(new_pairs).distinct()
    return _bigram_jaccard_verify(docs, cand)


def sql_dedup_incremental() -> str:
    # the decomposition must reproduce the full-recompute pair set exactly
    return sql_dedup_minhash()


def sql_dedup_minhash() -> str:
    k, bands, rows = _MINHASH_K, _MINHASH_BANDS, _MINHASH_ROWS
    return f"""WITH {_MUTANT_DOCS_SQL},
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM docs
),
shingles AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 2 THEN
      list_distinct([array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))])
    ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
grams AS (SELECT doc_id, unnest(sh) AS g FROM shingles),
hashed AS (
  SELECT doc_id,
    ('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483647 AS h1,
    ('0x' || substr(md5(g), 17, 15))::BIGINT % 2147483647 AS h2
  FROM grams
),
mh AS (
  SELECT doc_id, i, min((h1 + i * h2) % 2147483647) AS m
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, {k - 1})) AS i)
  GROUP BY doc_id, i
),
sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b,
    array_to_string(list_transform(s[b*{rows}+1:b*{rows}+{rows}], x -> CAST(x AS VARCHAR)), '|') AS key
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS b)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
),
jac AS (
  SELECT c.a, c.b,
    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
          len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.a
  JOIN shingles sb ON sb.doc_id = c.b
)
SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.5"""


def q_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup with the ENFORCED mega-block cap (the acting
    half of P133 — block_cap_audit is the measuring half): band buckets
    above BLOCK_CAP rows are dropped BEFORE the candidate self-join, so
    one hot bucket can never emit its quadratic fan-out.  At sf0.01 the
    cap genuinely bites (75 blocks of size 4-6 drop), so this hash
    differs from dedup_minhash by exactly the pairs whose every shared
    bucket was hot — the oracle applies the identical cap rule."""
    from nexus_forge_spark.operators import dedup as D

    docs = _docs_with_mutants(spark, sf_dir)
    sigs = D.minhash_signatures(docs, num_hashes=_MINHASH_K, shingle_n=2)
    cand = D.lsh_candidate_pairs(
        sigs,
        bands=_MINHASH_BANDS,
        rows_per_band=_MINHASH_ROWS,
        max_block_size=BLOCK_CAP,
    )
    return _bigram_jaccard_verify(docs, cand)


def sql_dedup_capped() -> str:
    base = sql_dedup_minhash()
    plain = """cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
),"""
    assert plain in base, "sql_dedup_minhash cand CTE shape changed"
    capped = f"""sz AS (
  SELECT b, key, count(*) AS m FROM bands GROUP BY b, key
),
kept AS (SELECT b, key FROM sz WHERE m <= {BLOCK_CAP}),
cbands AS (
  SELECT bd.* FROM bands bd SEMI JOIN kept k ON bd.b = k.b AND bd.key = k.key
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM cbands l JOIN cbands r ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
),"""
    return base.replace(plain, capped)


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for 5 fixed query vectors."""
    from nexus_forge_spark.operators.similarity import cosine_topk

    emb = load_table(spark, "embeddings", sf_dir)
    return cosine_topk(emb, [0, 1, 2, 3, 4], k=5, round_digits=3)


def sql_ann_cosine() -> str:
    return """WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0,1,2,3,4)
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round(
      list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
      (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))) *
       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))),
    3) AS score
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit majority-vote signature, 4x15-bit
    pigeonhole chunk blocking, Hamming <= 8 (same algorithm in the oracle:
    Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT bit-identically)."""
    from nexus_forge_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs_with_mutants(spark, sf_dir), max_distance=8)


def sql_simhash_pairs() -> str:
    return f"""WITH {_MUTANT_DOCS_SQL},
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t FROM docs
),
hashed AS (
  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM toks
),
votes AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed CROSS JOIN (SELECT unnest(range(60)) AS b) b
  GROUP BY doc_id, b.b
),
sigs AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sig
  FROM votes GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, sig, c.c AS chunk, (sig >> (c.c * 15)) & 32767 AS ckey
  FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS c) c
),
pairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.sig AS sig_a, r.sig AS sig_b
  FROM chunks l JOIN chunks r
    ON l.chunk = r.chunk AND l.ckey = r.ckey AND l.doc_id < r.doc_id
)
SELECT a, b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 8"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard near-dup pairs (shared-shingle candidate
    join, true-Jaccard verify >= 0.8)."""
    from nexus_forge_spark.operators import dedup as D

    return D.ngram_jaccard_pairs(
        _docs_with_mutants(spark, sf_dir), shingle_n=2, threshold=0.8
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.py containment_pairs):
    12-token excerpts of every 2nd document (ids +3000000) are wholesale
    inclusions their tiny Jaccard hides; C(excerpt in original) >= 0.8
    finds them via a rarest-first prefix probe against the full inverted
    index."""
    from nexus_forge_spark.operators.dedup import containment_pairs

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    excerpts = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 12), " "
        ).alias("text"),
    )
    pool = docs.unionByName(excerpts)
    # trigram shingles: the synthetic corpus draws from a small vocabulary,
    # so even the rarest BIGRAMS have corpus-wide document frequency and the
    # inverted-index probe degenerates toward all-pairs; trigram df collapses
    # and the prefix probe regains its selectivity (12s -> ~2s at sf0.1)
    return containment_pairs(pool, shingle_n=3, threshold=0.8)


def sql_dedup_containment() -> str:
    return rf"""WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
    array_to_string(string_split_regex(trim(text), '\s+')[1:12], ' ') AS text
  FROM documents WHERE doc_id % 2 = 0
),
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM docs
),
shingles AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3 THEN
      list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)])
    ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
grams AS (SELECT doc_id, unnest(sh) AS g FROM shingles),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM grams l JOIN grams r ON l.g = r.g AND l.doc_id <> r.doc_id
),
cont AS (
  SELECT c.a AS contained, c.b AS container,
    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
          len(sa.sh), 6) AS containment
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.a
  JOIN shingles sb ON sb.doc_id = c.b
  WHERE len(sa.sh) > 0
)
SELECT contained, container, containment FROM cont WHERE containment >= 0.8"""


def sql_dedup_ngram_jaccard() -> str:
    return f"""WITH {_MUTANT_DOCS_SQL},
{_SHINGLES_SQL},
grams AS (SELECT doc_id, unnest(sh) AS g FROM shingles),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM grams l JOIN grams r ON l.g = r.g AND l.doc_id < r.doc_id
),
jac AS (
  SELECT c.a, c.b,
    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
          len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.a
  JOIN shingles sb ON sb.doc_id = c.b
)
SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.8"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling fingerprint (min md5 over 4-token shingles)
    with duplicate-group size — robust to local edits.  explode+codegen-agg
    path (~10x over the interpreted HOF transform at sf0.1)."""
    from nexus_forge_spark.operators.text import rolling_fingerprint_agg

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    d = rolling_fingerprint_agg(docs, "text", "doc_id", 4)
    w = Window.partitionBy("fp")
    return d.withColumn("dup_count", F.count(F.lit(1)).over(w))


def sql_rolling_fingerprint() -> str:
    return r"""WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
),
fp AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 4 THEN
      list_min([md5(array_to_string(toks[i:i+3], ' ')) FOR i IN range(1, len(toks) - 2)])
    ELSE md5(array_to_string(toks, ' ')) END AS fp
  FROM t
)
SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dup_count FROM fp"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: deterministic perturbed mutants
    (vec_id+100000, first component +0.5) must pair with their originals at
    cosine >= 0.9; random pairs stay far below."""
    from nexus_forge_spark.operators.similarity import cosine_pairs

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .where(F.col("vec_id") % 17 == 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    mut = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + F.lit(0.5)),
            F.slice("v", F.lit(2), F.size("v") - 1),
        ).alias("v"),
    )
    return cosine_pairs(
        emb.unionByName(mut), threshold=0.9, vec_col="v", round_digits=3
    )


def sql_embedding_neardup() -> str:
    return """WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 17 = 0
),
pool AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000, list_concat([v[1] + 0.5], v[2:len(v)]) FROM base
),
scored AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
    list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS score
  FROM pool a JOIN pool b ON a.vec_id < b.vec_id
)
SELECT a, b, round(score, 3) AS score FROM scored WHERE score >= 0.9"""


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked embedding near-dup over the FULL embeddings table (the
    scale path; the brute-force query keeps the exact baseline): quantized
    integer hyperplane banding (engine-exact signatures) -> candidate
    equi-join on (band, key) -> cosine verify on candidates only."""
    from nexus_forge_spark.operators.similarity import lsh_cosine_pairs

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mut = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + F.lit(0.5)),
            F.slice("v", F.lit(2), F.size("v") - 1),
        ).alias("v"),
    )
    return lsh_cosine_pairs(
        emb.unionByName(mut), dim=64, threshold=0.9, vec_col="v", round_digits=3
    )


def sql_embedding_neardup_lsh() -> str:
    from nexus_forge_spark.operators.similarity import quantized_planes

    bands, rows_per_band = 8, 8
    planes = quantized_planes(64, bands * rows_per_band, 42)

    def proj(p: list[int]) -> str:
        terms = [f"qv[{i + 1}]*({w})" for i, w in enumerate(p) if w != 0]
        return " + ".join(terms) or "0"

    def band_key(b: int) -> str:
        # per-band packed sign bits — mirrors lsh_cosine_pairs exactly
        return " + ".join(
            f"(CASE WHEN ({proj(planes[b * rows_per_band + j])}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(rows_per_band)
        )

    key_cols = ", ".join(f"({band_key(b)}) AS k{b}" for b in range(bands))
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, k{b} AS key FROM sigs"
        for b in range(bands)
    )
    return f"""WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pool AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000, list_concat([v[1] + 0.5], v[2:len(v)]) FROM base
),
qs AS (
  SELECT vec_id, v, list_transform(v, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS qv
  FROM pool
),
sigs AS (SELECT vec_id, {key_cols} FROM qs),
banded AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM banded l
  JOIN banded r ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id
),
scored AS (
  SELECT c.a, c.b,
    list_dot_product(pa.v, pb.v) /
    (sqrt(list_dot_product(pa.v, pa.v)) * sqrt(list_dot_product(pb.v, pb.v))) AS score
  FROM cand c
  JOIN pool pa ON pa.vec_id = c.a
  JOIN pool pb ON pb.vec_id = c.b
)
SELECT a, b, round(score, 3) AS score FROM scored WHERE score >= 0.9"""


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image modality stage (rows-only driver check: the Arrow-batched
    mapInPandas decode is not SQL-expressible).  Synthetic payloads are
    genuine 4x4 P6 PPMs, so this runs the REAL numpy decode + block-mean
    embedding on every image row (multimodal.py, imagecodec.py)."""
    from nexus_forge_spark.operators.multimodal import (
        extract_image_features,
        media_from_documents,
    )
    from nexus_forge_spark.sources import flat_to_interleaved

    docs = flat_to_interleaved(load_table(spark, "documents", sf_dir))
    return extract_image_features(media_from_documents(docs)).orderBy(
        "doc_id", "media_ref"
    )


def q_image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level dedup over perceptual dHash signatures (rows-only
    driver check: the decode is not SQL-expressible).  Two-tier plan —
    the 100 TB architecture: exact-hash clusters collapse FIRST via one
    groupBy election (identical signatures pair quadratically; a 16-image
    payload pool makes this explicit), then dedup.hamming_pairs runs the
    pigeonhole-blocked near-join over the DISTINCT signatures only.
    Output: one row per distinct perceptual hash — keeper ref, exact-copy
    count, and how many OTHER distinct hashes sit within Hamming<=6."""
    from nexus_forge_spark.operators.dedup import hamming_pairs
    from nexus_forge_spark.operators.multimodal import (
        image_dhash_signatures,
        media_from_documents,
    )
    from nexus_forge_spark.sources import flat_to_interleaved

    docs = flat_to_interleaved(load_table(spark, "documents", sf_dir))
    sigs = image_dhash_signatures(media_from_documents(docs))
    clusters = sigs.groupBy("dhash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("media_ref").alias("keeper_ref"),
    )
    near = hamming_pairs(
        clusters.select(F.col("dhash").alias("sig"), "keeper_ref"),
        max_distance=6,
        sig_col="sig",
        id_col="keeper_ref",
    )
    partners = (
        near.select(F.col("a").alias("keeper_ref"))
        .unionAll(near.select(F.col("b").alias("keeper_ref")))
        .groupBy("keeper_ref")
        .agg(F.count(F.lit(1)).cast("long").alias("n_near"))
    )
    return (
        clusters.join(partners, "keeper_ref", "left")
        .select(
            "keeper_ref",
            F.conv(F.col("dhash").cast("string"), 10, 16).alias("dhash_hex"),
            "n_copies",
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
        )
        .orderBy("keeper_ref")
    )


def q_audio_hash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-level dedup over perceptual energy-gradient hashes (rows-only
    driver check: the RIFF decode is not SQL-expressible) — the audio twin
    of image_dhash_neardup, demonstrating hamming_pairs is one generic
    near-join for every bit-signature modality.  Same two-tier plan:
    exact-hash clusters collapse first, then the pigeonhole-blocked
    Hamming join runs over DISTINCT signatures only."""
    from nexus_forge_spark.operators.dedup import hamming_pairs
    from nexus_forge_spark.operators.multimodal import (
        audio_fingerprint_signatures,
        media_from_documents,
    )
    from nexus_forge_spark.sources import flat_to_interleaved

    docs = flat_to_interleaved(load_table(spark, "documents", sf_dir))
    sigs = audio_fingerprint_signatures(media_from_documents(docs))
    clusters = sigs.groupBy("ahash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("media_ref").alias("keeper_ref"),
    )
    near = hamming_pairs(
        clusters.select(F.col("ahash").alias("sig"), "keeper_ref"),
        max_distance=6,
        sig_col="sig",
        id_col="keeper_ref",
    )
    partners = (
        near.select(F.col("a").alias("keeper_ref"))
        .unionAll(near.select(F.col("b").alias("keeper_ref")))
        .groupBy("keeper_ref")
        .agg(F.count(F.lit(1)).cast("long").alias("n_near"))
    )
    return (
        clusters.join(partners, "keeper_ref", "left")
        .select(
            "keeper_ref",
            F.conv(F.col("ahash").cast("string"), 10, 16).alias("ahash_hex"),
            "n_copies",
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
        )
        .orderBy("keeper_ref")
    )


def q_video_hash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-level dedup over majority-dHash fingerprints (rows-only
    driver check) — third modality through the SAME two-tier plan and
    the SAME generic hamming_pairs pigeonhole join as images and audio."""
    from nexus_forge_spark.operators.dedup import hamming_pairs
    from nexus_forge_spark.operators.multimodal import (
        media_from_documents,
        video_fingerprint_signatures,
    )
    from nexus_forge_spark.sources import flat_to_interleaved

    docs = flat_to_interleaved(load_table(spark, "documents", sf_dir))
    sigs = video_fingerprint_signatures(media_from_documents(docs))
    clusters = sigs.groupBy("vhash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("media_ref").alias("keeper_ref"),
    )
    near = hamming_pairs(
        clusters.select(F.col("vhash").alias("sig"), "keeper_ref"),
        max_distance=6,
        sig_col="sig",
        id_col="keeper_ref",
    )
    partners = (
        near.select(F.col("a").alias("keeper_ref"))
        .unionAll(near.select(F.col("b").alias("keeper_ref")))
        .groupBy("keeper_ref")
        .agg(F.count(F.lit(1)).cast("long").alias("n_near"))
    )
    return (
        clusters.join(partners, "keeper_ref", "left")
        .select(
            "keeper_ref",
            F.conv(F.col("vhash").cast("string"), 10, 16).alias("vhash_hex"),
            "n_copies",
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
        )
        .orderBy("keeper_ref")
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality stage (rows-only driver check).  Synthetic payloads
    are genuine PCM16 WAVs, so this runs the REAL RIFF decode + RMS /
    zero-crossing / spectral-centroid features on every audio row
    (multimodal.py, audiocodec.py)."""
    from nexus_forge_spark.operators.multimodal import (
        extract_audio_features,
        media_from_documents,
    )
    from nexus_forge_spark.sources import flat_to_interleaved

    docs = flat_to_interleaved(load_table(spark, "documents", sf_dir))
    return extract_audio_features(media_from_documents(docs)).orderBy(
        "doc_id", "media_ref"
    )


def q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video modality stage (rows-only driver check).  Synthetic payloads
    are genuine 4-frame uncompressed AVIs, so this runs the REAL RIFF/DIB
    parse + luma/motion features on every video row (multimodal.py,
    videocodec.py)."""
    from nexus_forge_spark.operators.multimodal import (
        extract_video_features,
        media_from_documents,
    )
    from nexus_forge_spark.sources import flat_to_interleaved

    docs = flat_to_interleaved(load_table(spark, "documents", sf_dir))
    return extract_video_features(media_from_documents(docs)).orderBy(
        "doc_id", "media_ref"
    )




def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5: centroids = every 29th vector,
    nprobe=2 — the ANN scale path (brute force = ann_cosine_topk baseline)."""
    from nexus_forge_spark.operators.similarity import ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.where(F.col("vec_id") % 29 == 1)
    return ivf_topk(emb, cents, [0, 1, 2, 3, 4], k=5, nprobe=2)


def sql_ann_ivf() -> str:
    cos = (
        "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
        "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
        "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), {d})"
    )
    return f"""WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id % 29 = 1
),
assigned AS (
  SELECT * FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.embedding', b='c.cv', d=6)} DESC, c.centroid_id
           ) AS _r
    FROM embeddings e CROSS JOIN cents c
  ) WHERE _r = 1
),
queries AS (
  SELECT vec_id AS query_id, embedding AS qv FROM assigned WHERE vec_id IN (0,1,2,3,4)
),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {cos.format(a='q.qv', b='c.cv', d=6)} DESC, c.centroid_id
           ) AS _r
    FROM queries q CROSS JOIN cents c
  ) WHERE _r <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {cos.format(a='p.qv', b='a.embedding', d=4)} AS score
  FROM probes p JOIN assigned a ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, score,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5"""


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal (Lee et al. 2022): per-doc count and
    integer-ppm fraction of k-token windows whose window-key occurs more
    than once anywhere in the corpus.  Window volume is O(tokens); the
    global window count joins ALREADY-AGGREGATED (window, doc) partials,
    never a collect_list — no skew amplification at 100 TB."""
    from nexus_forge_spark.operators.dedup import duplicated_window_stats

    docs = _docs_with_mutants(spark, sf_dir)
    return duplicated_window_stats(docs, k=SUBSTR_K)


def sql_dedup_substring() -> str:
    k = SUBSTR_K
    return rf"""WITH {_MUTANT_DOCS_SQL},
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM docs
),
wins AS (
  SELECT doc_id,
    unnest([md5(array_to_string(t[i:i+{k - 1}], ' '))
            FOR i IN range(1, len(t) - {k} + 2)]) AS wkey
  FROM toks WHERE len(t) >= {k}
),
wd AS (SELECT doc_id, wkey, count(*) AS c_wd FROM wins GROUP BY doc_id, wkey),
tot AS (SELECT wkey, sum(c_wd) AS c FROM wd GROUP BY wkey),
dup AS (
  SELECT doc_id, sum(c_wd) AS n_dup FROM wd JOIN tot USING (wkey)
  WHERE c > 1 GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(greatest(len(t) - {k - 1}, 0) AS BIGINT) AS n_windows
  FROM toks
)
SELECT t.doc_id, n_windows,
  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_windows,
  CAST(coalesce(n_dup, 0) * 1000000 // greatest(n_windows, 1) AS BIGINT) AS dup_ppm
FROM totals t LEFT JOIN dup USING (doc_id)"""


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-paragraph removal (Dolma/Gopher cleaning):
    every paragraph occurrence except the globally first (lowest
    (doc_id, pos)) is dropped and each doc's text rebuilt in order.
    First-occurrence election is a partial-agg groupBy-min on the
    paragraph hash — no window over a hot key — so a paragraph repeated
    10^6 times across the corpus costs one row per map partition."""
    from nexus_forge_spark.operators.curation import remove_duplicate_paragraphs

    return remove_duplicate_paragraphs(_line_docs(spark, sf_dir))


def sql_dedup_paragraphs() -> str:
    return rf"""WITH {_LINE_DOCS_SQL},
rawp AS (
  SELECT doc_id,
    unnest(string_split(text, chr(10))) AS para,
    unnest(range(len(string_split(text, chr(10))))) AS pos
  FROM ldocs
),
p AS (
  SELECT doc_id, pos, para, md5(para) AS h,
         doc_id * 1000000 + pos AS okey
  FROM rawp WHERE trim(para) <> ''
),
firstocc AS (SELECT h, min(okey) AS fo FROM p GROUP BY h),
kept AS (
  SELECT p.doc_id, p.pos, p.para
  FROM p JOIN firstocc f ON p.h = f.h AND p.okey = f.fo
),
rebuilt AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_paragraphs FROM p GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(r.text, '') AS text,
  CAST(coalesce(t.n_paragraphs, 0) AS BIGINT) AS n_paragraphs,
  CAST(coalesce(t.n_paragraphs, 0) - coalesce(r.n_kept, 0) AS BIGINT)
    AS n_removed
FROM (SELECT doc_id FROM ldocs) d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over originals + perturbed mutants: coarse-cluster with the
    IVF quantizer, cosine-compare within clusters only, components pick the
    canonical representative.  Mutants whose perturbation keeps them in the
    original's cluster dedup against it — the method's documented
    approximation, deterministic here."""
    from nexus_forge_spark.operators.similarity import semantic_dedup

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .where(F.col("vec_id") % 17 == 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    mut = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + F.lit(0.5)),
            F.slice("v", F.lit(2), F.size("v") - 1),
        ).alias("v"),
    )
    pool = emb.unionByName(mut)
    return semantic_dedup(
        pool, centroid_stride=SEMDEDUP_STRIDE, threshold=SEMDEDUP_T, vec_col="v"
    )


def sql_semantic_dedup() -> str:
    cos = (
        "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
        "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
        "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), {d})"
    )
    return f"""WITH RECURSIVE pool AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 17 = 0
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
    list_concat([CAST(embedding[1] AS DOUBLE) + 0.5], CAST(embedding[2:] AS DOUBLE[])) AS v
  FROM embeddings WHERE vec_id % 17 = 0
),
cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM pool WHERE vec_id % {SEMDEDUP_STRIDE} = 1
),
assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT p.vec_id, p.v, c.centroid_id,
      row_number() OVER (
        PARTITION BY p.vec_id
        ORDER BY {cos.format(a='p.v', b='c.cv', d=6)} DESC, c.centroid_id
      ) AS _r
    FROM pool p CROSS JOIN cents c
  ) WHERE _r = 1
),
p AS (
  SELECT l.vec_id AS a, r.vec_id AS b
  FROM assigned l JOIN assigned r ON l.centroid_id = r.centroid_id
   AND l.vec_id < r.vec_id
  WHERE {cos.format(a='l.v', b='r.v', d=6)} >= {SEMDEDUP_T}
),
edges AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
nodes AS (SELECT DISTINCT a AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
),
comp AS (SELECT n, min(m) AS canonical_id FROM reach GROUP BY n)
SELECT pool.vec_id,
  coalesce(comp.canonical_id, pool.vec_id) AS canonical_id,
  coalesce(comp.canonical_id, pool.vec_id) = pool.vec_id AS keep
FROM pool LEFT JOIN comp ON comp.n = pool.vec_id"""


def q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range windowed aggregation: per order, the customer's rolling
    30-day order count and revenue (integral cents) over a RANGE frame
    keyed on the order timestamp — the time-decayed feature/monitoring
    primitive ROWS frames cannot express (gaps and ties change what '30
    days' means).  One shuffle on the customer key; the range frame
    sorts within the partition only (customer history length bounds the
    frame scan, no hot-key funnel beyond the customer's own orders)."""
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # NTZ won't cast straight to BIGINT; via TIMESTAMP under the session's
    # pinned UTC zone the wall-clock epoch seconds equal DuckDB's epoch()
    ts = F.col("o_orderdate").cast("timestamp").cast("long")
    lo = -(_ROLL_DAYS * 86400)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(ts)
        .rangeBetween(lo, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).cast("long").alias("orders_30d"),
        F.sum(cents).over(w).cast("long").alias("revenue_30d_cents"),
    )


def sql_rolling_revenue() -> str:
    secs = _ROLL_DAYS * 86400
    return f"""SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(count(*) OVER w AS BIGINT) AS orders_30d,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
    AS revenue_30d_cents
FROM orders
WINDOW w AS (
  PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
  RANGE BETWEEN {secs} PRECEDING AND CURRENT ROW
)"""


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set semantic decontamination (operators/similarity.py
    semantic_decontaminate): corpus embeddings vs a benchmark built from
    perturbed copies of every 23rd corpus vector (paraphrase stand-ins
    that n-gram decontamination would miss) plus the raw originals of
    every 41st — flagged when >= 0.9 cosine within a shared IVF cell
    (nprobe=1, mirrored by the oracle).  Corpus side: one map-side
    centroid assignment + one broadcast join, never self-shuffles."""
    from nexus_forge_spark.operators.similarity import semantic_decontaminate

    corpus = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = corpus.where(F.col("vec_id") % 23 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.05)),
            F.slice("embedding", F.lit(2), F.size("embedding") - 1),
        ).alias("embedding"),
    )
    raw = corpus.where(F.col("vec_id") % 41 == 0).select(
        (F.col("vec_id") + 600000).alias("vec_id"), "embedding"
    )
    bench = pert.unionByName(raw)
    return semantic_decontaminate(
        corpus, bench, centroid_stride=_SDC_STRIDE, threshold=_SDC_T
    )


def sql_semantic_decontaminate() -> str:
    cos = (
        "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
        "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
        "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
    )
    assign = (
        "SELECT vec_id, v, centroid_id FROM ("
        "SELECT p.vec_id, p.v, c.centroid_id, "
        "row_number() OVER (PARTITION BY p.vec_id "
        f"ORDER BY {cos.format(a='p.v', b='c.cv')} DESC, c.centroid_id) AS _r "
        "FROM {side} p CROSS JOIN cents c) WHERE _r = 1"
    )
    return f"""WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
bench AS (
  SELECT vec_id + 500000 AS vec_id,
    list_concat([v[1] + 0.05], v[2:]) AS v
  FROM corpus WHERE vec_id % 23 = 0
  UNION ALL
  SELECT vec_id + 600000 AS vec_id, v FROM corpus WHERE vec_id % 41 = 0
),
cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM bench
  WHERE vec_id % {_SDC_STRIDE} = 1
),
ca AS ({assign.format(side='corpus')}),
ba AS ({assign.format(side='bench')}),
hits AS (
  SELECT DISTINCT ca.vec_id
  FROM ca JOIN ba ON ca.centroid_id = ba.centroid_id
  WHERE {cos.format(a='ca.v', b='ba.v')} >= {_SDC_T}
)
SELECT c.vec_id, h.vec_id IS NOT NULL AS contaminated
FROM corpus c LEFT JOIN hits h ON c.vec_id = h.vec_id"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the documents table (Robertson/Lucene
    idf), per-term contributions in BIGINT micro-units."""
    from nexus_forge_spark.operators.text import bm25_scores

    return bm25_scores(
        load_table(spark, "documents", sf_dir), BM25_TERMS, k1=BM25_K1, b=BM25_B
    )


def sql_bm25_search() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    k1, b = BM25_K1, BM25_B
    return rf"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents
),
lens AS (
  SELECT doc_id,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS dl
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
    {_lnq('(2 * count(*) + 2)')} AS l2num
  FROM lens
),
tf AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
  FROM toks WHERE t IN ({terms}) GROUP BY doc_id, t
),
dfreq AS (
  SELECT t, count(*) AS df, {_lnq('(2 * count(*) + 1)')} AS l2den
  FROM tf GROUP BY t
),
idf AS (
  SELECT t, CAST({_l2micro('(l2num - l2den)')} AS BIGINT) AS idf_micro
  FROM dfreq, stats
),
contrib AS (
  SELECT tf.doc_id,
    CAST(round(
      idf_micro * (tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)))
    ) AS BIGINT) AS c_micro
  FROM tf JOIN idf USING (t) JOIN lens USING (doc_id), stats
)
SELECT doc_id, sum(c_micro) AS score_micro FROM contrib GROUP BY doc_id"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ asymmetric-distance top-5 (Jégou et al. 2011): 64-dim float
    vectors quantized to 8 one-byte codes against deterministic sampled
    codebooks; queries keep exact vectors and rank the corpus by BIGINT
    lookup-table distances — the memory lever that fits a 10^12-vector
    search structure in executor RAM (256 B -> 8 B per vector)."""
    from nexus_forge_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, "embeddings", sf_dir)
    return pq_adc_topk(
        emb, [0, 1, 2, 3, 4], k=5,
        n_sub=PQ_SUB, sub_dim=PQ_DIM, n_codes=PQ_CODES, stride=PQ_STRIDE,
    )


def sql_ann_pq() -> str:
    ns, d, nc, st = PQ_SUB, PQ_DIM, PQ_CODES, PQ_STRIDE
    l2 = _sql_sq_l2
    return f"""WITH sample AS (
  SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
  FROM embeddings WHERE vec_id % {st} = 1
),
sub AS (SELECT unnest(range(0, {ns})) AS sub_idx),
cb AS (
  SELECT sub_idx, code_id,
         embedding[(sub_idx*{d}+1):(sub_idx*{d}+{d})] AS cw
  FROM sample, sub WHERE code_id < {nc}
),
subs AS (
  SELECT vec_id, sub_idx,
         embedding[(sub_idx*{d}+1):(sub_idx*{d}+{d})] AS sv
  FROM embeddings, sub
),
enc AS (
  SELECT vec_id, sub_idx, code_id FROM (
    SELECT s.vec_id, s.sub_idx, cb.code_id,
      row_number() OVER (
        PARTITION BY s.vec_id, s.sub_idx
        ORDER BY CAST(round(({l2('s.sv', 'cb.cw', d)}) * 1000000) AS BIGINT),
                 cb.code_id
      ) AS _r
    FROM subs s JOIN cb USING (sub_idx)
  ) WHERE _r = 1
),
qsubs AS (
  SELECT vec_id AS query_id, sub_idx,
         embedding[(sub_idx*{d}+1):(sub_idx*{d}+{d})] AS qs
  FROM embeddings, sub WHERE vec_id IN (0, 1, 2, 3, 4)
),
lut AS (
  SELECT query_id, sub_idx, code_id,
    CAST(round(({l2('qs', 'cw', d)}) * 1000000) AS BIGINT) AS pd_micro
  FROM qsubs JOIN cb USING (sub_idx)
),
adc AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, sum(l.pd_micro) AS dist_micro
  FROM enc e JOIN lut l ON l.sub_idx = e.sub_idx AND l.code_id = e.code_id
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id
)
SELECT query_id, neighbor_id, dist_micro,
  CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY dist_micro, neighbor_id
  ) AS INT) AS rank
FROM adc
QUALIFY rank <= 5"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup clustering: MinHash+LSH candidates, true-Jaccard
    verify, then large-star/small-star connected components assign every
    clustered doc its canonical (min) representative — the full dedup loop
    a training pipeline runs, with the same O(log^2 n)-round component
    algorithm the KG canonicalizer uses."""
    from nexus_forge_spark.operators.canonicalize import connected_components

    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    comp = connected_components(pairs)
    return comp.select(
        F.col("entity_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def sql_dedup_components() -> str:
    return f"""WITH RECURSIVE p AS (
  SELECT a, b FROM ({sql_dedup_minhash()})
),
edges AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
nodes AS (SELECT DISTINCT a AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
)
SELECT CAST(n AS BIGINT) AS doc_id, CAST(min(m) AS BIGINT) AS canonical_id
FROM reach GROUP BY n"""


def q_dedup_twotier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier LSH candidate generation (operators/dedup.py
    lsh_candidate_pairs two_tier=True): identical-signature clusters are
    collapsed to one representative before the band join — k copies of a
    boilerplate page cost k-1 star edges instead of the O(k^2) clique a
    RefinedWeb-style crawl would otherwise pay — then connected components
    over the RAW candidate graph.  The oracle builds the naive CLIQUE
    candidate graph and runs the same components, so hash-equality proves
    the two-tier candidate graph is component-equal to the quadratic one."""
    from nexus_forge_spark.operators import dedup as D
    from nexus_forge_spark.operators.canonicalize import connected_components

    docs = _docs_with_mutants(spark, sf_dir)
    sigs = D.minhash_signatures(docs, num_hashes=_MINHASH_K, shingle_n=2)
    cand = D.lsh_candidate_pairs(
        sigs, bands=_MINHASH_BANDS, rows_per_band=_MINHASH_ROWS, two_tier=True
    )
    comp = connected_components(cand)
    return comp.select(
        F.col("entity_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def sql_dedup_twotier() -> str:
    # Naive clique candidates (no two-tier) + recursive components: the
    # Spark side's star+representative graph must land in identical
    # components.
    k, bands, rows = _MINHASH_K, _MINHASH_BANDS, _MINHASH_ROWS
    return f"""WITH RECURSIVE {_MUTANT_DOCS_SQL},
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM docs
),
shingles AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 2 THEN
      list_distinct([array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))])
    ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
),
grams AS (SELECT doc_id, unnest(sh) AS g FROM shingles),
hashed AS (
  SELECT doc_id,
    ('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483647 AS h1,
    ('0x' || substr(md5(g), 17, 15))::BIGINT % 2147483647 AS h2
  FROM grams
),
mh AS (
  SELECT doc_id, i, min((h1 + i * h2) % 2147483647) AS m
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, {k - 1})) AS i)
  GROUP BY doc_id, i
),
sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY doc_id),
bandtab AS (
  SELECT doc_id, b,
    array_to_string(list_transform(s[b*{rows}+1:b*{rows}+{rows}], x -> CAST(x AS VARCHAR)), '|') AS key
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS b)
),
p AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bandtab l JOIN bandtab r ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id
),
edges AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
nodes AS (SELECT DISTINCT a AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
)
SELECT CAST(n AS BIGINT) AS doc_id, CAST(min(m) AS BIGINT) AS canonical_id
FROM reach GROUP BY n"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup, the FIRST dedup stage of C4/RefinedWeb pipelines
    (operators/curation.py): three messy deterministic variants per doc —
    uppercase scheme/host + www + default port + tracking params + param
    reorder + fragment + trailing slash — must canonicalize to ONE URL,
    then a groupBy-min election keeps the smallest variant id.  The
    oracle computes the ground-truth canonical form directly from
    (source, doc_id), so ANY canonicalization slip is a hash mismatch.
    Map-side string exprs + one hash aggregation; no window, no UDF."""
    from nexus_forge_spark.operators.curation import (
        canonicalize_urls,
        url_dedup_election,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    base = F.concat(F.col("source"), F.lit(".example.com"))
    did = F.col("doc_id").cast("string")
    variants = (
        docs.select(
            (F.col("doc_id") * 10).alias("id"),
            F.concat(
                F.lit("HTTPS://WWW."),
                F.upper(base),
                F.lit(":443/docs/"),
                did,
                F.lit("/?b=2&utm_source=rss&a=1#frag"),
            ).alias("url"),
        )
        .unionByName(
            docs.select(
                (F.col("doc_id") * 10 + 1).alias("id"),
                F.concat(
                    F.lit("https://"), base, F.lit("/docs/"), did, F.lit("?a=1&b=2")
                ).alias("url"),
            )
        )
        .unionByName(
            docs.select(
                (F.col("doc_id") * 10 + 2).alias("id"),
                F.concat(
                    F.lit("https://"),
                    base,
                    F.lit(":443/docs/"),
                    did,
                    F.lit("?b=2&a=1&fbclid=XYZ"),
                ).alias("url"),
            )
        )
    )
    return url_dedup_election(canonicalize_urls(variants), "url_canon", "id")


def sql_url_dedup() -> str:
    return """SELECT
  'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
    || '?a=1&b=2' AS url_canon,
  CAST(doc_id * 10 AS BIGINT) AS keeper_id,
  CAST(3 AS BIGINT) AS n_variants
FROM documents"""


def q_dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REWRITE (Lee et al. 2022, operators/dedup.py
    remove_duplicated_spans): every duplicated k-token window occurrence
    except the globally first is excised and the doc text rebuilt.  The
    per-window election is one count+min-struct hash aggregate (map-side
    combine — never a window function over the hot wkey), and the span
    merge + gap-slice rebuild are pure array expressions per doc.  On the
    mutant corpus the mutants (suffix copies) collapse to empty strings
    while the originals survive — both directions of the election are
    exercised.  The oracle recomputes covered positions directly
    (row_number election + per-position anti-join), independent of the
    interval-merge algebra."""
    from nexus_forge_spark.operators.dedup import remove_duplicated_spans

    docs = _docs_with_mutants(spark, sf_dir)
    return remove_duplicated_spans(docs, k=SUBSTR_K)


def sql_dedup_substring_rewrite() -> str:
    k = SUBSTR_K
    return rf"""WITH {_MUTANT_DOCS_SQL},
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM docs
),
wins AS (
  SELECT doc_id, i - 1 AS start, md5(array_to_string(t[i:i+{k - 1}], ' ')) AS wkey
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {k} + 1)) AS i)
  WHERE len(t) >= {k}
),
ranked AS (
  SELECT doc_id, start,
    row_number() OVER (PARTITION BY wkey ORDER BY doc_id, start) AS rn,
    count(*) OVER (PARTITION BY wkey) AS c
  FROM wins
),
covered AS (
  SELECT DISTINCT doc_id, p
  FROM ranked, LATERAL (SELECT unnest(generate_series(start, start + {k} - 1)) AS p)
  WHERE c > 1 AND rn > 1
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)
),
kept AS (
  SELECT tp.doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
    count(*) AS n_kept
  FROM tokpos tp LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.p
  WHERE c.doc_id IS NULL GROUP BY tp.doc_id
),
totals AS (SELECT doc_id, len(t) AS n FROM toks)
SELECT t.doc_id, coalesce(clean_text, '') AS clean_text,
  CAST(n AS BIGINT) AS n_tokens,
  CAST(n - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
  CAST((n - coalesce(n_kept, 0)) * 1000000 // greatest(n, 1) AS BIGINT)
    AS removed_ppm
FROM totals t LEFT JOIN kept USING (doc_id)"""


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval (operators/similarity.py rrf_fuse): three
    retrievers' top-20 lists — BM25, raw query-term frequency (both
    lexical, genuinely overlapping, so list consensus is exercised), and
    dense cosine (query vector = embedding 0, the 1:1-aligned id space)
    — fused by reciprocal rank fusion, the calibration-free score
    combiner hybrid RAG retrieval defaults to.  Fusion is a
    map-side-combined aggregate over the concatenated top-n lists (never
    the corpus); integer div keeps engines bit-identical."""
    from pyspark.sql import Window

    from nexus_forge_spark.operators.similarity import cosine_topk, rrf_fuse
    from nexus_forge_spark.operators.text import bm25_scores, tokens

    docs = load_table(spark, "documents", sf_dir)
    rank_w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))

    def topn(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("rank", F.row_number().over(rank_w))
            .where(F.col("rank") <= HYBRID_TOPN)
            .select("doc_id", "rank")
        )

    lex = topn(
        bm25_scores(docs, BM25_TERMS, k1=BM25_K1, b=BM25_B).select(
            "doc_id", F.col("score_micro").alias("score")
        )
    )
    tf = topn(
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .where(F.col("t").isin(BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    emb = load_table(spark, "embeddings", sf_dir)
    dense = (
        cosine_topk(
            emb, [HYBRID_DENSE_QUERY], k=HYBRID_TOPN, round_digits=3
        )
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    fused = rrf_fuse([lex, tf, dense], id_col="doc_id")
    return fused.select(
        "doc_id",
        F.col("rrf_micro").cast("long").alias("rrf_micro"),
        F.col("n_lists").cast("long").alias("n_lists"),
        F.col("rank_0").cast("long").alias("rank_lex"),
        F.col("rank_1").cast("long").alias("rank_tf"),
        F.col("rank_2").cast("long").alias("rank_dense"),
    )


def sql_hybrid_rrf() -> str:
    n, qid = HYBRID_TOPN, HYBRID_DENSE_QUERY
    terms_list = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""WITH bm25 AS ({sql_bm25_search()}),
lex AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, CAST(row_number() OVER (
      ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
    FROM bm25
  ) WHERE rank <= {n}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),
scored AS (
  SELECT e.vec_id AS doc_id,
    round(
      list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
      (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))) *
       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                             CAST(e.embedding AS DOUBLE[])))),
    3) AS score
  FROM q, embeddings e WHERE e.vec_id <> {qid}
),
dense AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, CAST(row_number() OVER (
      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM scored
  ) WHERE rank <= {n}
),
tfreq AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, CAST(row_number() OVER (
      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS score FROM (
        SELECT doc_id,
          unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
        FROM documents
      ) WHERE t IN ({terms_list})
      GROUP BY doc_id
    )
  ) WHERE rank <= {n}
),
u AS (
  SELECT doc_id, 0 AS src, rank FROM lex
  UNION ALL
  SELECT doc_id, 1 AS src, rank FROM tfreq
  UNION ALL
  SELECT doc_id, 2 AS src, rank FROM dense
)
SELECT doc_id,
  CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro,
  CAST(count(*) AS BIGINT) AS n_lists,
  CAST(min(CASE WHEN src = 0 THEN rank END) AS BIGINT) AS rank_lex,
  CAST(min(CASE WHEN src = 1 THEN rank END) AS BIGINT) AS rank_tf,
  CAST(min(CASE WHEN src = 2 THEN rank END) AS BIGINT) AS rank_dense
FROM u GROUP BY doc_id"""


def q_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label-consistency audit (mislabel detection): for
    29 probe vectors, the top-5 cosine neighbors vote on a label
    (majority, min-label tie-break) and disagreement with the vector's
    OWN label flags a mislabel candidate — the k-NN screening pass a
    labeled-corpus curation pipeline runs before training.  Composes the
    graded cosine_topk with one broadcast label join and one
    vote-election aggregate."""
    from nexus_forge_spark.operators.similarity import cosine_topk

    emb = load_table(spark, "embeddings", sf_dir)
    labels = emb.select("vec_id", F.col("label").cast("int").alias("lbl"))
    topk = cosine_topk(emb, _KNN_IDS, k=_KNN_K, round_digits=3)
    votes = (
        topk.join(
            F.broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "lbl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    elected = votes.groupBy("query_id").agg(
        F.min_by(
            "lbl",
            F.struct((-F.col("votes")).alias("nv"), F.col("lbl").alias("l")),
        ).alias("top_label"),
        F.max("votes").alias("votes"),
    )
    own = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "lbl", "own_label"
    )
    return (
        elected.join(F.broadcast(own), "query_id")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("own_label").cast("int").alias("own_label"),
            F.col("top_label").cast("int").alias("top_label"),
            F.col("votes").cast("long").alias("votes"),
            (F.col("own_label") == F.col("top_label")).alias("consistent"),
        )
    )


def sql_knn_label_consistency() -> str:
    ids = ", ".join(str(i) for i in _KNN_IDS)
    return f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({ids})
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round(
      list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) /
      (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))) *
       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                             CAST(e.embedding AS DOUBLE[])))),
    3) AS score
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {_KNN_K}
),
votes AS (
  SELECT t.query_id, CAST(e.label AS INT) AS lbl,
         CAST(count(*) AS BIGINT) AS votes
  FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
  GROUP BY t.query_id, lbl
),
elected AS (
  SELECT query_id, lbl AS top_label, votes FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY votes DESC, lbl) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT CAST(el.query_id AS BIGINT) AS query_id,
  CAST(e.label AS INT) AS own_label,
  el.top_label,
  el.votes,
  CAST(e.label AS INT) = el.top_label AS consistent
FROM elected el JOIN embeddings e ON el.query_id = e.vec_id"""


def q_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (similarity.py
    maxsim_topk): multi-vector docs are synthesized by grouping 4
    consecutive embeddings per doc; every 50th vector is a query token
    (2 tokens per query).  score(q,d) = sum over query tokens of the max
    BIGINT dot against d's tokens, top-5 docs per query.  Vectors
    floor-quantize once (IEEE-identical on both engines); the query side
    broadcasts and MaxSim is two map-side-combinable hash aggregates."""
    from nexus_forge_spark.operators.similarity import maxsim_topk

    emb = load_table(spark, "embeddings", sf_dir)
    quant = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 1000).cast("long"),
    )
    docs = emb.select(
        F.expr("vec_id div 4").cast("long").alias("doc_id"), quant.alias("qv")
    )
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.expr("vec_id div 100").cast("long").alias("query_id"),
        F.col("vec_id").alias("tok_id"),
        quant.alias("qv"),
    )
    return maxsim_topk(docs, queries, k=5)


def sql_maxsim_retrieval() -> str:
    quant = (
        "list_transform(CAST(embedding AS DOUBLE[]), "
        "x -> CAST(floor(x * 1000) AS BIGINT))"
    )
    return f"""WITH dt AS (
  SELECT vec_id // 4 AS doc_id, {quant} AS dv FROM embeddings
),
qt AS (
  SELECT vec_id // 100 AS query_id, vec_id AS tok_id, {quant} AS qv
  FROM embeddings WHERE vec_id % 50 = 0
),
per_tok AS (
  SELECT query_id, doc_id, tok_id,
    max(CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(dv AS DOUBLE[]))
             AS BIGINT)) AS m
  FROM qt, dt GROUP BY query_id, doc_id, tok_id
),
scored AS (
  SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS score_q
  FROM per_tok GROUP BY query_id, doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_q DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id, score_q, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5"""


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup audit (dedup.py cdc_dedup_stats):
    chunk boundaries where the trailing-8-char window hashes to 0 mod 32
    (so boundaries survive insertions — the LBFS/rsync trick), exact
    chunk-hash first-occurrence election via two chained hash aggregates,
    per-doc duplicate-byte report.  The position explode is map-side
    O(chars); the election join shuffles on chunk_hash (never broadcast
    — distinct chunks are corpus-sized)."""
    from nexus_forge_spark.operators.dedup import cdc_dedup_stats

    docs = load_table(spark, "documents", sf_dir)
    return cdc_dedup_stats(docs, window=CDC_W, divisor=CDC_D)


def sql_cdc_dedup() -> str:
    h = (
        f"('0x' || substr(md5(substr(t, p - {CDC_W - 1}, {CDC_W}) || ':cdc'), "
        f"1, 15))::BIGINT % {CDC_D}"
    )
    return f"""WITH pos AS (
  SELECT doc_id, text AS t,
    unnest(CASE WHEN length(text) >= {CDC_W}
                THEN range({CDC_W}, length(text) + 1)
                ELSE [length(text)] END) AS p
  FROM documents
),
bounds AS (
  SELECT doc_id, list_sort(list(DISTINCT p)) AS bs
  FROM pos
  WHERE {h} = 0 OR p = length(t)
  GROUP BY doc_id
),
chunks AS (
  SELECT b.doc_id,
    CASE WHEN i = 1 THEN 1 ELSE bs[i - 1] + 1 END AS start,
    bs[i] - CASE WHEN i = 1 THEN 0 ELSE bs[i - 1] END AS chunk_len,
    md5(substr(d.text,
               CASE WHEN i = 1 THEN 1 ELSE bs[i - 1] + 1 END,
               bs[i] - CASE WHEN i = 1 THEN 0 ELSE bs[i - 1] END))
      AS chunk_hash
  FROM bounds b JOIN documents d USING (doc_id),
       LATERAL unnest(generate_series(1, len(bs))) AS u(i)
),
per_doc AS (
  SELECT chunk_hash, doc_id, min(start) AS s0
  FROM chunks GROUP BY chunk_hash, doc_id
),
winners AS (
  SELECT chunk_hash, min(doc_id) AS d0, arg_min(s0, doc_id) AS ws0
  FROM per_doc GROUP BY chunk_hash
)
SELECT c.doc_id,
  CAST(count(*) AS BIGINT) AS n_chunks,
  CAST(sum(c.chunk_len) AS BIGINT) AS n_bytes,
  CAST(sum(CASE WHEN c.doc_id = w.d0 AND c.start = w.ws0 THEN 0 ELSE 1 END)
       AS BIGINT) AS n_dup_chunks,
  CAST(sum(CASE WHEN c.doc_id = w.d0 AND c.start = w.ws0 THEN 0
                ELSE c.chunk_len END) AS BIGINT) AS dup_bytes
FROM chunks c JOIN winners w USING (chunk_hash)
GROUP BY c.doc_id"""


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (similarity.py mmr_select) after retrieval:
    4 query vectors take their top-8 integer-dot candidates, then greedy
    re-ranking picks 3 per query maximizing lam*rel - (1-lam)*max-sim-
    to-picked (maxsim floored at 0: dissimilar items pay no penalty).
    k driver rounds, each one query-keyed argmax over ALL queries at
    once + a broadcast pick-fold — the kcenter pattern.  The oracle
    unrolls the 3 rounds; all arithmetic BIGINT."""
    from nexus_forge_spark.operators.similarity import intdot, mmr_select

    emb = load_table(spark, "embeddings", sf_dir)
    quant = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 1000).cast("long"),
    )
    base = emb.select(F.col("vec_id"), quant.alias("qv"))
    queries = base.where(F.col("vec_id") % 150 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("quv")
    )
    scored = (
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            intdot(F.col("quv"), F.col("qv")).alias("rel"),
            "qv",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id")
    )
    cand = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= MMR_CAND
    )
    return mmr_select(cand, k=MMR_K, lam_ppm=MMR_LAM)


def sql_mmr_rerank() -> str:
    quant = (
        "list_transform(CAST(embedding AS DOUBLE[]), "
        "x -> CAST(floor(x * 1000) AS BIGINT))"
    )
    idot = (
        "CAST(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) "
        "AS BIGINT)"
    )
    lam, lam1 = MMR_LAM, 1_000_000 - MMR_LAM
    ctes = [
        f"""base AS (SELECT vec_id, {quant} AS qv FROM embeddings),
q AS (SELECT vec_id AS query_id, qv AS quv FROM base WHERE vec_id % 150 = 0),
scored AS (
  SELECT q.query_id, b.vec_id AS doc_id,
    {idot.format(a='q.quv', b='b.qv')} AS rel, b.qv
  FROM base b, q WHERE b.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, doc_id, rel, qv FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, doc_id) AS rn
    FROM scored
  ) WHERE rn <= {MMR_CAND}
),
st0 AS (SELECT query_id, doc_id, rel, qv,
               CAST(0 AS BIGINT) AS maxsim FROM cand)"""
    ]
    for r in range(1, MMR_K + 1):
        prev = f"st{r - 1}"
        ctes.append(
            f"""s{r} AS (
  SELECT query_id, doc_id, rel, qv,
    {lam} * rel - {lam1} * maxsim AS mmr_score
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY {lam} * rel - {lam1} * maxsim DESC, doc_id) AS prn
    FROM {prev}
  ) WHERE prn = 1
)"""
        )
        ctes.append(
            f"""st{r} AS (
  SELECT p.query_id, p.doc_id, p.rel, p.qv,
    greatest(p.maxsim, {idot.format(a='p.qv', b='s.qv')}) AS maxsim
  FROM {prev} p JOIN s{r} s USING (query_id)
  WHERE p.doc_id <> s.doc_id
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT query_id, doc_id, rel, CAST(mmr_score AS BIGINT) AS mmr_score, "
        f"{r} AS rank FROM s{r}"
        for r in range(1, MMR_K + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\n{sel}"


def q_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental chunk-level dedup (dedup.py cdc_incremental_dup_stats):
    every fifth doc arrives as the new ingest batch and probes the rest
    of the corpus's distinct chunk-hash index — dup if the chunk content
    already exists in the corpus OR an earlier (doc, start) within the
    batch claimed it.  O(delta) ingest audit; the index probe is a
    hash-keyed join, never broadcast."""
    from nexus_forge_spark.operators.dedup import cdc_incremental_dup_stats

    docs = load_table(spark, "documents", sf_dir)
    existing = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    return cdc_incremental_dup_stats(
        existing, new, window=CDC_W, divisor=CDC_D
    )


def sql_cdc_incremental() -> str:
    h = (
        f"('0x' || substr(md5(substr(t, p - {CDC_W - 1}, {CDC_W}) || ':cdc'), "
        f"1, 15))::BIGINT % {CDC_D}"
    )

    def chunks_cte(src_filter: str, prefix: str) -> str:
        return f"""{prefix}pos AS (
  SELECT doc_id, text AS t,
    unnest(CASE WHEN length(text) >= {CDC_W}
                THEN range({CDC_W}, length(text) + 1)
                ELSE [length(text)] END) AS p
  FROM documents WHERE {src_filter}
),
{prefix}bounds AS (
  SELECT doc_id, list_sort(list(DISTINCT p)) AS bs
  FROM {prefix}pos
  WHERE {h} = 0 OR p = length(t)
  GROUP BY doc_id
),
{prefix}chunks AS (
  SELECT b.doc_id,
    CASE WHEN i = 1 THEN 1 ELSE bs[i - 1] + 1 END AS start,
    bs[i] - CASE WHEN i = 1 THEN 0 ELSE bs[i - 1] END AS chunk_len,
    md5(substr(d.text,
               CASE WHEN i = 1 THEN 1 ELSE bs[i - 1] + 1 END,
               bs[i] - CASE WHEN i = 1 THEN 0 ELSE bs[i - 1] END))
      AS chunk_hash
  FROM {prefix}bounds b JOIN documents d USING (doc_id),
       LATERAL unnest(generate_series(1, len(bs))) AS u(i)
)"""

    return f"""WITH {chunks_cte("doc_id % 5 <> 0", "old_")},
{chunks_cte("doc_id % 5 = 0", "new_")},
idx AS (SELECT DISTINCT chunk_hash FROM old_chunks),
per_doc AS (
  SELECT chunk_hash, doc_id, min(start) AS s0
  FROM new_chunks GROUP BY chunk_hash, doc_id
),
winners AS (
  SELECT chunk_hash, min(doc_id) AS d0, arg_min(s0, doc_id) AS ws0
  FROM per_doc GROUP BY chunk_hash
),
occ AS (
  SELECT c.*, w.d0, w.ws0, i.chunk_hash IS NOT NULL AS in_corpus
  FROM new_chunks c JOIN winners w USING (chunk_hash)
  LEFT JOIN idx i USING (chunk_hash)
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_chunks,
  CAST(sum(chunk_len) AS BIGINT) AS n_bytes,
  CAST(sum(CASE WHEN in_corpus OR NOT (doc_id = d0 AND start = ws0)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
  CAST(sum(CASE WHEN in_corpus OR NOT (doc_id = d0 AND start = ws0)
            THEN chunk_len ELSE 0 END) AS BIGINT) AS dup_bytes
FROM occ GROUP BY doc_id"""


def q_dedup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-ensemble attribution audit: the SAME mutant corpus through
    three already-graded detectors — MinHash-LSH (bit 1), SimHash
    pigeonhole (bit 2), exact bigram-Jaccard (bit 4) — merged per
    normalized pair into a method bitmap + method count.  The audit a
    pipeline owner reads to decide which detector earns its cost:
    unique-contribution pairs have n_methods = 1.  One union + one
    (a, b) aggregate on top of the three candidate plans; nothing
    re-scans the corpus."""
    tag = lambda df, bit: df.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"),
        F.lit(bit).alias("bit"),
    ).distinct()
    pairs = (
        tag(q_dedup_minhash(spark, sf_dir), 1)
        .unionByName(tag(q_simhash_pairs(spark, sf_dir), 2))
        .unionByName(tag(q_dedup_ngram_jaccard(spark, sf_dir), 4))
    )
    return (
        pairs.groupBy("a", "b")
        .agg(
            F.sum("bit").cast("long").alias("methods_bitmap"),
            F.count(F.lit(1)).cast("long").alias("n_methods"),
        )
    )


def sql_dedup_ensemble() -> str:
    return f"""WITH mh AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b, 1 AS bit
  FROM ({sql_dedup_minhash()})
),
sh AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b, 2 AS bit
  FROM ({sql_simhash_pairs()})
),
ng AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b, 4 AS bit
  FROM ({sql_dedup_ngram_jaccard()})
)
SELECT a, b, CAST(sum(bit) AS BIGINT) AS methods_bitmap,
       CAST(count(*) AS BIGINT) AS n_methods
FROM (SELECT * FROM mh UNION ALL SELECT * FROM sh UNION ALL SELECT * FROM ng)
GROUP BY a, b"""


def q_winnowing_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (operators/text.py
    winnowing_fingerprints, the MOSS algorithm): per-window shingle-
    hash minima with the >= w+k-1 match guarantee — the positional
    fingerprints that find plagiarism SPANS, not just whole-doc
    near-dups.  BIGINT-packed (hash, pos) keys keep the argmin an
    integer min with deterministic ties."""
    from nexus_forge_spark.operators.text import winnowing_fingerprints

    return winnowing_fingerprints(load_table(spark, "documents", sf_dir))


def sql_winnowing_fp() -> str:
    from nexus_forge_spark.operators.text import sql_winnowing_fingerprints

    return sql_winnowing_fingerprints("SELECT doc_id, text FROM documents")
