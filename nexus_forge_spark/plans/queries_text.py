"""The text contract-query family (``q_*`` Spark plans, ``sql_*`` DuckDB
oracles), registered by driver_queries.py."""

from nexus_forge_spark.plans._qshared import *  # noqa: F401,F403
from nexus_forge_spark.plans.queries_dedup import (
    q_dedup_minhash, sql_dedup_components, sql_dedup_minhash,
)



def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic + quality scoring per doc."""
    from nexus_forge_spark.operators.text import language_id, quality_features

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    out = quality_features(docs)
    return out.select(
        "doc_id",
        language_id(F.col("text")).alias("lang_pred"),
        "n_tokens",
        "distinct_ratio",
        "mean_token_len",
        "quality_score",
    )


def sql_lang_quality() -> str:
    from nexus_forge_spark.operators.text import LANG_PROFILES

    score_cols = []
    for lang, words in LANG_PROFILES.items():
        wl = ", ".join(f"'{w}'" for w in words)
        score_cols.append(f"len(list_filter(toks, w -> w IN ({wl}))) AS s_{lang}")
    langs = list(LANG_PROFILES)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pick = "CASE "
    for l in langs:  # first profile in order wins ties (Spark loop is reversed-otherwise)
        pick += f"WHEN s_{l} = best AND best > 0 THEN '{l}' "
    pick += "ELSE 'und' END"
    return f"""WITH base AS (
  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents
),
feat AS (
  SELECT doc_id, text, toks,
    {', '.join(score_cols)},
    len(toks) AS n_tokens,
    len(list_distinct(toks)) AS n_distinct,
    list_sum(list_transform(toks, w -> length(w))) AS total_len,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1) AS alpha
  FROM base
),
feat2 AS (
  SELECT doc_id, {best} AS best, *,
    CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
    CAST(total_len AS DOUBLE) / n_tokens AS mean_token_len
  FROM feat
)
SELECT doc_id, {pick} AS lang_pred,
  CAST(n_tokens AS INT) AS n_tokens,
  distinct_ratio,
  mean_token_len,
  round(least(distinct_ratio * 2, 1.0) * 0.4 +
        least(mean_token_len / 8.0, 1.0) * 0.3 +
        alpha * 0.3, 6) AS quality_score
FROM feat2"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and BPE-ish regex pieces
    (word / number / punctuation runs)."""
    from nexus_forge_spark.operators.text import regex_token_count, token_count

    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        regex_token_count(F.col("text")).alias("n_pieces"),
    )


def sql_token_count() -> str:
    return r"""SELECT doc_id,
  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_pieces
FROM documents"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (curation op): keep decisions
    are a pure map-side hash-threshold filter — reproducible at any scale,
    no RNG state, no shuffle."""
    from nexus_forge_spark.operators.curation import stratified_sample

    docs = load_table(spark, "documents", sf_dir)
    return stratified_sample(docs, STRAT_FRACTIONS).select("doc_id", "lang")


def sql_stratified_sample() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {int(round(v * 1_000_000))}"
        for k, v in sorted(STRAT_FRACTIONS.items())
    )
    return f"""SELECT doc_id, lang FROM documents
WHERE {_sql_ppm_hash('doc_id', 'strat')} < CASE lang {cases} ELSE 0 END"""


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing (curation op): downsample sources to
    the 4:2:1:1 target with integer-ppm thresholds computed from one tiny
    aggregate; the keep decision stays map-side."""
    from nexus_forge_spark.operators.curation import domain_mix

    docs = load_table(spark, "documents", sf_dir)
    return domain_mix(docs, MIX_WEIGHTS).select("doc_id", "source")


def sql_domain_mix() -> str:
    src_list = ", ".join(f"'{k}'" for k in sorted(MIX_WEIGHTS))
    w_cases = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_WEIGHTS.items())
    )
    return f"""WITH d AS (
  SELECT doc_id, source FROM documents WHERE source IN ({src_list})
),
w AS (
  SELECT source, CASE source {w_cases} END AS w, count(*) AS n
  FROM d GROUP BY source
),
s AS (SELECT min(n * 1000000 // w) AS scale FROM w),
t AS (SELECT source, (scale * w) // n AS thr FROM w, s)
SELECT d.doc_id, d.source FROM d JOIN t USING (source)
WHERE {_sql_ppm_hash('d.doc_id', 'mix')} < thr"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing (curation op): hash-bucketed streams,
    per-bucket sequential fill inside an Arrow batch; (bucket, seq, pos)
    is a pure function of the id set, so the DuckDB oracle replays the
    identical packing with a recursive CTE."""
    from nexus_forge_spark.operators.curation import pack_sequences
    from nexus_forge_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(
        docs, max_tokens=PACK_MAX_TOKENS, n_buckets=PACK_BUCKETS
    )


def sql_pack_sequences() -> str:
    cap, nb = PACK_MAX_TOKENS, PACK_BUCKETS
    return rf"""WITH RECURSIVE base AS (
  SELECT doc_id,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
    ({_sql_ppm_hash('doc_id', 'pack')}) % {nb} AS bucket
  FROM documents
),
toks AS (
  SELECT doc_id, n_tokens, bucket,
    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM base
),
rec AS (
  SELECT bucket, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS seq,
    n_tokens AS fill, CAST(0 AS BIGINT) AS pos
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.bucket, t.rn, t.doc_id, t.n_tokens,
    CASE WHEN r.fill + t.n_tokens > {cap} THEN r.seq + 1 ELSE r.seq END,
    CASE WHEN r.fill + t.n_tokens > {cap} THEN t.n_tokens
         ELSE r.fill + t.n_tokens END,
    CASE WHEN r.fill + t.n_tokens > {cap} THEN 0 ELSE r.pos + 1 END
  FROM rec r JOIN toks t ON t.bucket = r.bucket AND t.rn = r.rn + 1
)
SELECT doc_id, bucket, seq, pos, n_tokens FROM rec"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter (curation op): per-rule features + keep
    verdict + fired-rule audit trail, all map-side Column expressions."""
    from nexus_forge_spark.operators.curation import gopher_quality_filter

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    out = gopher_quality_filter(
        docs,
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        min_mean_word_len=QF_MIN_MWL,
        max_mean_word_len=QF_MAX_MWL,
        min_stopword_hits=QF_MIN_STOPS,
        min_alpha_word_ratio=QF_MIN_ALPHA,
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("mean_word_len", 4).alias("mean_word_len"),
        "stopword_hits",
        F.round("alpha_word_ratio", 4).alias("alpha_word_ratio"),
        "keep",
        F.array_join("fail_reasons", ",").alias("fail_reasons"),
    )


def sql_quality_filter() -> str:
    stops = ", ".join(f"'{w}'" for w in ("the", "a", "of", "and", "to", "in", "is"))
    return rf"""WITH f AS (
  SELECT doc_id,
    len(string_split_regex(trim(lower(text)), '\s+')) AS n,
    CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS ml,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        w -> w IN ({stops}))) AS sw,
    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
      / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS aw
  FROM documents
),
r AS (
  SELECT doc_id, n, ml, sw, aw,
    list_filter([
      CASE WHEN n < {QF_MIN_TOKENS} THEN 'too_few_tokens' END,
      CASE WHEN n > {QF_MAX_TOKENS} THEN 'too_many_tokens' END,
      CASE WHEN ml < {QF_MIN_MWL} THEN 'mean_word_len_low' END,
      CASE WHEN ml > {QF_MAX_MWL} THEN 'mean_word_len_high' END,
      CASE WHEN sw < {QF_MIN_STOPS} THEN 'too_few_stopwords' END,
      CASE WHEN aw < {QF_MIN_ALPHA} THEN 'alpha_ratio_low' END
    ], x -> x IS NOT NULL) AS reasons
  FROM f
)
SELECT doc_id, CAST(n AS INT) AS n_tokens, round(ml, 4) AS mean_word_len,
  CAST(sw AS INT) AS stopword_hits, round(aw, 4) AS alpha_word_ratio,
  len(reasons) = 0 AS keep,
  coalesce(array_to_string(reasons, ','), '') AS fail_reasons
FROM r"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition heuristics (Rae et al. 2021 §A1.1): duplicate-line
    and duplicate-line-character fractions (pure array exprs, map-side) plus
    top-2-gram and duplicated-5-gram character fractions (one (doc, gram)
    keyed shuffle, partial-agg combined) — all integer ppm."""
    from nexus_forge_spark.operators.curation import repetition_signals

    return repetition_signals(
        _line_docs(spark, sf_dir), top_n=REP_TOP_N, dup_n=REP_DUP_N
    )


def sql_repetition_signals() -> str:
    tn, dn = REP_TOP_N, REP_DUP_N
    return rf"""WITH {_LINE_DOCS_SQL},
lines AS (
  SELECT doc_id,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                x -> x <> '') AS l
  FROM ldocs
),
linestats AS (
  SELECT doc_id,
    CAST(len(l) AS BIGINT) AS n_lines,
    CAST((len(l) - len(list_distinct(l))) * 1000000
         // greatest(len(l), 1) AS BIGINT) AS dup_line_ppm,
    CAST((list_aggregate(list_transform(l, x -> len(x)), 'sum')
          - list_aggregate(list_transform(list_distinct(l), x -> len(x)), 'sum'))
         * 1000000
         // greatest(list_aggregate(list_transform(l, x -> len(x)), 'sum'), 1)
         AS BIGINT) AS dup_line_char_ppm
  FROM lines
),
wtoks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM ldocs
),
g{tn} AS (
  SELECT doc_id, unnest([array_to_string(t[i:i+{tn - 1}], ' ')
                         FOR i IN range(1, len(t) - {tn} + 2)]) AS g
  FROM wtoks WHERE len(t) >= {tn}
),
gc{tn} AS (
  SELECT doc_id, g, count(*) AS c, CAST(len(g) - {tn - 1} AS BIGINT) AS glen
  FROM g{tn} GROUP BY doc_id, g
),
pd{tn} AS (
  SELECT doc_id, sum(c * glen) AS total_chars, max(c) AS top_c
  FROM gc{tn} GROUP BY doc_id
),
topg AS (
  SELECT gc.doc_id, min(gc.g) AS top_g
  FROM gc{tn} gc JOIN pd{tn} pd ON gc.doc_id = pd.doc_id AND gc.c = pd.top_c
  GROUP BY gc.doc_id
),
topstats AS (
  SELECT pd.doc_id,
    CAST(pd.top_c * gc.glen * 1000000
         // greatest(pd.total_chars, 1) AS BIGINT) AS top_ngram_char_ppm
  FROM pd{tn} pd
  JOIN topg ON topg.doc_id = pd.doc_id
  JOIN gc{tn} gc ON gc.doc_id = pd.doc_id AND gc.g = topg.top_g
),
g{dn} AS (
  SELECT doc_id, unnest([array_to_string(t[i:i+{dn - 1}], ' ')
                         FOR i IN range(1, len(t) - {dn} + 2)]) AS g
  FROM wtoks WHERE len(t) >= {dn}
),
gc{dn} AS (
  SELECT doc_id, g, count(*) AS c, CAST(len(g) - {dn - 1} AS BIGINT) AS glen
  FROM g{dn} GROUP BY doc_id, g
),
dupstats AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN c > 1 THEN c * glen ELSE 0 END) * 1000000
         // greatest(sum(c * glen), 1) AS BIGINT) AS dup_ngram_char_ppm
  FROM gc{dn} GROUP BY doc_id
)
SELECT ls.doc_id, ls.n_lines, ls.dup_line_ppm, ls.dup_line_char_ppm,
  CAST(coalesce(t.top_ngram_char_ppm, 0) AS BIGINT) AS top_ngram_char_ppm,
  CAST(coalesce(d.dup_ngram_char_ppm, 0) AS BIGINT) AS dup_ngram_char_ppm
FROM linestats ls
LEFT JOIN topstats t USING (doc_id)
LEFT JOIN dupstats d USING (doc_id)"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (C4/Dolma cleaning): mask emails, IPv4s, and phone numbers,
    report per-doc match counts.  Synthetic docs carry no PII, so the query
    deterministically seeds some (doc_id % 5/7/11 → email/phone/ip suffixes)
    before scrubbing.  Map-side only — regex count + chained replace."""
    from nexus_forge_spark.operators.curation import redact_pii

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(t, F.lit(" contact alice.smith@example.org now")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 7 == 0, F.concat(t, F.lit(" call 555-123-4567"))
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 11 == 0, F.concat(t, F.lit(" from 192.168.1.100"))
    ).otherwise(t)
    return redact_pii(docs.select("doc_id", t.alias("text")))


def sql_pii_redact() -> str:
    from nexus_forge_spark.operators.curation import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    masks = {name: mask for name, _, mask in PII_PATTERNS}
    return rf"""WITH seeded AS (
  SELECT doc_id,
    text
      || CASE WHEN doc_id % 5 = 0
              THEN ' contact alice.smith@example.org now' ELSE '' END
      || CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN ' from 192.168.1.100' ELSE '' END
      AS text
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, '{pats["email"]}', '{masks["email"]}', 'g'),
      '{pats["ipv4"]}', '{masks["ipv4"]}', 'g'),
    '{pats["phone"]}', '{masks["phone"]}', 'g') AS text,
  CAST(len(regexp_extract_all(text, '{pats["email"]}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{pats["ipv4"]}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '{pats["phone"]}')) AS BIGINT) AS n_phone
FROM seeded"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appx C): flag corpus docs sharing
    any word 8-gram with a deterministic 'benchmark' slice (doc_id % 17).
    Benchmark grams broadcast into a semi-join probe — corpus never
    shuffles; grams travel as xxhash64 longs."""
    from nexus_forge_spark.operators.curation import decontaminate

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    return decontaminate(docs, bench, n=DECON_N)


def sql_decontaminate() -> str:
    n = DECON_N
    return rf"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
),
cg AS (
  SELECT doc_id,
    unnest(list_distinct(
      [array_to_string(t[i:i+{n - 1}], ' ')
       FOR i IN range(1, len(t) - {n} + 2)])) AS g
  FROM toks WHERE len(t) >= {n}
),
bg AS (SELECT DISTINCT g FROM cg WHERE doc_id % 17 = 0),
hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM cg WHERE g IN (SELECT g FROM bg) GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id)
SELECT d.doc_id,
  CAST(coalesce(t.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
  CAST(coalesce(h.n_contaminated, 0) * 1000000
       // greatest(coalesce(t.n_grams, 0), 1) AS BIGINT) AS contaminated_ppm
FROM (SELECT doc_id FROM documents) d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN hits h USING (doc_id)"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED Dolma-style cleaning pipeline in one plan: Gopher
    quality filter -> PII redaction -> corpus-level duplicate-paragraph
    removal, per-document audit output.  Input is the line-structured
    corpus with deterministic PII seeded in, so every stage has real work.
    Quality + redaction fuse into the scan stage; only the paragraph-dedup
    election and the per-doc rebuild shuffle."""
    from nexus_forge_spark.operators.curation import curate_corpus

    docs = _line_docs(spark, sf_dir)
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(t, F.lit(" contact alice.smith@example.org now")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 7 == 0, F.concat(t, F.lit(" call 555-123-4567"))
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 11 == 0, F.concat(t, F.lit(" from 192.168.1.100"))
    ).otherwise(t)
    seeded = docs.select("doc_id", t.alias("text"))
    return curate_corpus(
        seeded,
        quality=dict(
            min_tokens=QF_MIN_TOKENS,
            max_tokens=QF_MAX_TOKENS,
            min_mean_word_len=QF_MIN_MWL,
            max_mean_word_len=QF_MAX_MWL,
            min_stopword_hits=QF_MIN_STOPS,
            min_alpha_word_ratio=QF_MIN_ALPHA,
        ),
    )


def sql_curation_pipeline() -> str:
    from nexus_forge_spark.operators.curation import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    masks = {name: mask for name, _, mask in PII_PATTERNS}
    stops = ", ".join(f"'{w}'" for w in ("the", "a", "of", "and", "to", "in", "is"))
    return rf"""WITH {_LINE_DOCS_SQL},
seeded AS (
  SELECT doc_id, {_SEED_PII_SQL} AS text FROM ldocs
),
fq AS (
  SELECT doc_id, text,
    len(string_split_regex(trim(lower(text)), '\s+')) AS n,
    CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS ml,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        w -> w IN ({stops}))) AS sw,
    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
      / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS aw
  FROM seeded
),
rq AS (
  SELECT doc_id, text, n,
    (n >= {QF_MIN_TOKENS} AND n <= {QF_MAX_TOKENS}
     AND ml >= {QF_MIN_MWL} AND ml <= {QF_MAX_MWL}
     AND sw >= {QF_MIN_STOPS} AND aw >= {QF_MIN_ALPHA}) AS q_keep
  FROM fq
),
red AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '{pats["email"]}', '{masks["email"]}', 'g'),
        '{pats["ipv4"]}', '{masks["ipv4"]}', 'g'),
      '{pats["phone"]}', '{masks["phone"]}', 'g') AS text,
    len(regexp_extract_all(text, '{pats["email"]}'))
      + len(regexp_extract_all(text, '{pats["ipv4"]}'))
      + len(regexp_extract_all(text, '{pats["phone"]}')) AS n_pii
  FROM rq WHERE q_keep
),
rawp AS (
  SELECT doc_id,
    unnest(string_split(text, chr(10))) AS para,
    unnest(range(len(string_split(text, chr(10))))) AS pos
  FROM red
),
p AS (
  SELECT doc_id, pos, para, md5(para) AS h,
         doc_id * 1000000 + pos AS okey
  FROM rawp WHERE trim(para) <> ''
),
firstocc AS (SELECT h, min(okey) AS fo FROM p GROUP BY h),
keptp AS (
  SELECT p.doc_id, p.pos, p.para
  FROM p JOIN firstocc f ON p.h = f.h AND p.okey = f.fo
),
rebuilt AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
         count(*) AS n_kept
  FROM keptp GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_paragraphs FROM p GROUP BY doc_id)
SELECT s.doc_id,
  coalesce(rq.q_keep, false) AS q_keep,
  CAST(coalesce(rq.n, 0) AS BIGINT) AS n_tokens,
  CAST(coalesce(red.n_pii, 0) AS BIGINT) AS n_pii,
  CAST(coalesce(t.n_paragraphs, 0) AS BIGINT) AS n_paragraphs,
  CAST(coalesce(t.n_paragraphs, 0) - coalesce(r.n_kept, 0) AS BIGINT)
    AS n_removed,
  CAST(CASE WHEN coalesce(r.text, '') <> ''
       THEN len(string_split_regex(trim(r.text), '\s+')) ELSE 0 END
       AS BIGINT) AS final_tokens,
  (coalesce(rq.q_keep, false) AND coalesce(r.text, '') <> '') AS kept_final
FROM (SELECT doc_id FROM seeded) s
LEFT JOIN rq USING (doc_id)
LEFT JOIN red USING (doc_id)
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)"""


def q_prepare_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL five-stage training-corpus assembly in ONE composed plan
    (operators/curation.py prepare_training_corpus): Gopher quality
    filter -> PII redaction -> corpus duplicate-paragraph removal ->
    exact-substring span dedup -> deterministic hash split; emits only
    survivors with their final text and split label.  Input seeds PII
    strings AND a shared 12-token span (docs % 3) so every stage has
    real work: the span's first occurrence survives, every later doc
    loses it to the ExactSubstr rewrite.  The oracle recomputes all five
    stages independently (covered positions per-token, row_number
    election) — hash equality pins the whole composition."""
    from nexus_forge_spark.operators.curation import prepare_training_corpus

    docs = _line_docs(spark, sf_dir)
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(t, F.lit(" contact alice.smith@example.org now")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 7 == 0, F.concat(t, F.lit(" call 555-123-4567"))
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 11 == 0, F.concat(t, F.lit(" from 192.168.1.100"))
    ).otherwise(t)
    t = F.when(F.col("doc_id") % 3 == 0, F.concat(t, F.lit(_SPAN_SEED))).otherwise(t)
    seeded = docs.select("doc_id", t.alias("text"))
    return prepare_training_corpus(
        seeded,
        quality=dict(
            min_tokens=QF_MIN_TOKENS,
            max_tokens=QF_MAX_TOKENS,
            min_mean_word_len=QF_MIN_MWL,
            max_mean_word_len=QF_MAX_MWL,
            min_stopword_hits=QF_MIN_STOPS,
            min_alpha_word_ratio=QF_MIN_ALPHA,
        ),
        k=SUBSTR_K,
        splits=_SPLITS,
    )


def sql_prepare_training_corpus() -> str:
    from nexus_forge_spark.operators.curation import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    masks = {name: mask for name, _, mask in PII_PATTERNS}
    stops = ", ".join(f"'{w}'" for w in ("the", "a", "of", "and", "to", "in", "is"))
    k = SUBSTR_K
    names = sorted(_SPLITS)
    ppms = [int(round(_SPLITS[n] * 1_000_000)) for n in names]
    draw = _sql_ppm_hash("doc_id", "split")
    cases, cum = [], 0
    for name, p in zip(names[:-1], ppms[:-1]):
        cum += p
        cases.append(f"WHEN {draw} < {cum} THEN '{name}'")
    ladder = " ".join(cases)
    return rf"""WITH {_LINE_DOCS_SQL},
seeded AS (
  SELECT doc_id, {_SEED_PII_SQL}
      || CASE WHEN doc_id % 3 = 0 THEN '{_SPAN_SEED}' ELSE '' END AS text
  FROM ldocs
),
fq AS (
  SELECT doc_id, text,
    len(string_split_regex(trim(lower(text)), '\s+')) AS n,
    CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS ml,
    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        w -> w IN ({stops}))) AS sw,
    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
      / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS aw
  FROM seeded
),
rq AS (
  SELECT doc_id, text FROM fq
  WHERE n >= {QF_MIN_TOKENS} AND n <= {QF_MAX_TOKENS}
    AND ml >= {QF_MIN_MWL} AND ml <= {QF_MAX_MWL}
    AND sw >= {QF_MIN_STOPS} AND aw >= {QF_MIN_ALPHA}
),
red AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '{pats["email"]}', '{masks["email"]}', 'g'),
        '{pats["ipv4"]}', '{masks["ipv4"]}', 'g'),
      '{pats["phone"]}', '{masks["phone"]}', 'g') AS text
  FROM rq
),
rawp AS (
  SELECT doc_id,
    unnest(string_split(text, chr(10))) AS para,
    unnest(range(len(string_split(text, chr(10))))) AS pos
  FROM red
),
p AS (
  SELECT doc_id, pos, para, md5(para) AS h,
         doc_id * 1000000 + pos AS okey
  FROM rawp WHERE trim(para) <> ''
),
firstocc AS (SELECT h, min(okey) AS fo FROM p GROUP BY h),
keptp AS (
  SELECT p.doc_id, p.pos, p.para
  FROM p JOIN firstocc f ON p.h = f.h AND p.okey = f.fo
),
rebuilt AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
  FROM keptp GROUP BY doc_id
),
toks2 AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM rebuilt WHERE text <> ''
),
wins2 AS (
  SELECT doc_id, i - 1 AS start, md5(array_to_string(t[i:i+{k - 1}], ' ')) AS wkey
  FROM toks2, LATERAL (SELECT unnest(generate_series(1, len(t) - {k} + 1)) AS i)
  WHERE len(t) >= {k}
),
ranked2 AS (
  SELECT doc_id, start,
    row_number() OVER (PARTITION BY wkey ORDER BY doc_id, start) AS rn,
    count(*) OVER (PARTITION BY wkey) AS c
  FROM wins2
),
covered2 AS (
  SELECT DISTINCT doc_id, pp
  FROM ranked2, LATERAL (SELECT unnest(generate_series(start, start + {k} - 1)) AS pp)
  WHERE c > 1 AND rn > 1
),
tokpos2 AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM toks2, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)
),
kept2 AS (
  SELECT tp.doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
    count(*) AS n_kept
  FROM tokpos2 tp LEFT JOIN covered2 c ON tp.doc_id = c.doc_id AND tp.pos = c.pp
  WHERE c.doc_id IS NULL GROUP BY tp.doc_id
),
surv AS (
  SELECT t2.doc_id, coalesce(k2.clean_text, '') AS text,
    CAST(coalesce(k2.n_kept, 0) AS BIGINT) AS n_tokens_final,
    CAST(len(t2.t) - coalesce(k2.n_kept, 0) AS BIGINT) AS n_span_removed
  FROM toks2 t2 LEFT JOIN kept2 k2 USING (doc_id)
)
SELECT doc_id, CASE {ladder} ELSE '{names[-1]}' END AS split,
  text, n_tokens_final, n_span_removed
FROM surv WHERE text <> ''"""


# 32 x 2-dim subspaces, 128 sampled codewords: measured recall@5 = 0.72 vs
# exact L2 at sf0.01 (coarser 8x8/16 codebooks measured 0.12 — more, smaller
# subspaces beat more codes on these embeddings)
def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM scoring (unigram variant): mean negative
    log-prob of each doc's tokens under the corpus unigram distribution,
    in engine-exact integer micro-nats."""
    from nexus_forge_spark.operators.text import unigram_logprob_scores

    return unigram_logprob_scores(load_table(spark, "documents", sf_dir))


def sql_unigram_nll() -> str:
    return rf"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents
),
counts AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
counts2 AS (SELECT t, {_lnq('c')} AS l2c FROM counts),
total AS (SELECT sum(c) AS n_total FROM counts),
total2 AS (SELECT {_lnq('n_total')} AS l2n FROM total),
scored AS (
  SELECT doc_id,
    CAST({_l2micro('(l2n - l2c)')} AS BIGINT) AS nll_micro
  FROM toks JOIN counts2 USING (t), total2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  sum(nll_micro) AS sum_nll_micro,
  CAST(sum(nll_micro) // count(*) AS BIGINT) AS mean_nll_micro
FROM scored GROUP BY doc_id"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training (operators/bpe.py): one
    corpus-wide shuffle to the word-frequency table, then 16 merge
    iterations, each a pair-count aggregation over that small table plus a
    single-row argmax collect.  Returns the learned merge table; the
    oracle replays the SAME algorithm as 16 unrolled SQL iterations
    (pair-zip CTE + argmax CTE + list_reduce merge application per step),
    so matching hashes pin the full iterative training trajectory —
    including the (freq desc, pair asc) tie-break — across engines."""
    from nexus_forge_spark.operators.bpe import bpe_train, word_frequencies

    docs = load_table(spark, "documents", sf_dir)
    merges = bpe_train(word_frequencies(docs), _BPE_MERGES)
    rows = [(i + 1, l, r, f) for i, (l, r, f) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, lhs string, rhs string, freq bigint"
    )


def sql_bpe_train() -> str:
    selects = "\nUNION ALL ".join(
        f"SELECT {i} AS rank, lhs, rhs, freq FROM p{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
    return "WITH " + _bpe_train_ctes(_BPE_MERGES) + "\n" + selects


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE corpus encoding via distinct-word factoring: the 16-merge chain
    (16 chained native regexp_replace calls, one codegen projection) runs
    once per DISTINCT word; a broadcast join fans token counts back out to
    occurrences and aggregates per document.  The oracle re-trains with
    the unrolled CTE chain and joins its final w16 tokenization the same
    way."""
    from nexus_forge_spark.operators.bpe import (
        bpe_token_counts,
        bpe_train,
        word_frequencies,
    )

    docs = load_table(spark, "documents", sf_dir)
    merges = bpe_train(word_frequencies(docs), _BPE_MERGES)
    out = bpe_token_counts(docs, merges)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_bpe_tokens"
    )


def sql_bpe_encode() -> str:
    k = _BPE_MERGES
    return (
        "WITH "
        + _bpe_train_ctes(k)
        + f""",
doc_words AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(sum(len(v.toks)) AS BIGINT) AS n_bpe_tokens
FROM doc_words JOIN w{k} AS v USING (word)
GROUP BY doc_id"""
    )


def q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer-interpolated bigram corpus-LM scoring — the CCNet
    upgrade of unigram_nll (operators/text.py): per-doc mean -ln of
    lam*P(w|prev) + (1-lam)*P(w) in engine-exact integer micro-nats (both
    interpolation weights derived from the SAME integer ppm; 1-lam in
    doubles is NOT the nearest double to 0.1)."""
    from nexus_forge_spark.operators.text import bigram_logprob_scores

    return bigram_logprob_scores(
        load_table(spark, "documents", sf_dir), lam_ppm=_BIGRAM_LAM_PPM
    )


def sql_bigram_nll() -> str:
    # Version-stable rendering — see sql_kn_bigram_nll and the round-4
    # hardening note above.
    lam = _BIGRAM_LAM_PPM
    oml = 1_000_000 - _BIGRAM_LAM_PPM
    q30x30 = 30 * 1_073_741_824
    ln_ctes, ln_fin = _lnq30_unrolled_ctes(
        "bg", "rates1", ["doc_id", "prev", "w"], "pq", "l2p"
    )
    return rf"""WITH base AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
),
pairs AS MATERIALIZED (
  SELECT doc_id, t[i] AS prev, t[i+1] AS w
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
),
toks AS MATERIALIZED (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents
),
cu AS MATERIALIZED (SELECT w, count(*) AS cu FROM toks GROUP BY w),
total AS MATERIALIZED (SELECT CAST(sum(cu) AS BIGINT) AS n_total FROM cu),
cb AS MATERIALIZED (SELECT prev, w, count(*) AS cb FROM pairs GROUP BY prev, w),
cp AS MATERIALIZED (SELECT prev, sum(cb) AS cp FROM cb GROUP BY prev),
j0 AS MATERIALIZED (
  SELECT cb.prev AS prev, cb.w AS w,
    CAST(cb.cb AS BIGINT) AS cb,
    CAST(cp.cp AS BIGINT) AS cp,
    CAST(cu.cu AS BIGINT) AS cu,
    total.n_total AS n_total
  FROM cb
  JOIN cp ON cb.prev = cp.prev
  JOIN cu ON cb.w = cu.w
  CROSS JOIN total
),
j1 AS MATERIALIZED (
  SELECT prev, w, cb, cp, cu, n_total,
    {_bl_case('cb')} AS blb, {_bl_case('cu')} AS blu
  FROM j0
),
j2 AS MATERIALIZED (
  SELECT prev, w,
    {_q30_div_portable('cb', 'cp', 'blb')} AS q1,
    {_q30_div_portable('cu', 'n_total', 'blu')} AS q2
  FROM j1
),
rates0 AS MATERIALIZED (
  SELECT pairs.doc_id AS doc_id, pairs.prev AS prev, pairs.w AS w,
    greatest(({lam} * j2.q1 + {oml} * j2.q2) // 1000000, 1) AS pq
  FROM pairs JOIN j2 ON pairs.prev = j2.prev AND pairs.w = j2.w
),
rates1 AS MATERIALIZED (SELECT doc_id, prev, w, pq FROM rates0),
{ln_ctes},
scored AS MATERIALIZED (
  SELECT doc_id,
    CAST({_l2micro(f'({q30x30} - l2p)')} AS BIGINT) AS nll_micro
  FROM {ln_fin}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(nll_micro) AS BIGINT) AS sum_nll_micro,
  CAST(CAST(sum(nll_micro) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT)
    AS mean_nll_micro
FROM scored GROUP BY doc_id"""


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval via the anchor-group positional algorithm
    (operators/text.py phrase_search): tokens not in the phrase are
    filtered MAP-SIDE before the single (doc, anchor) shuffle, so at
    100 TB the shuffle carries only the query terms' postings.  The
    oracle counts phrase positions directly on the token arrays —
    independent of the posting/anchor algebra."""
    from nexus_forge_spark.operators.text import phrase_search

    return phrase_search(load_table(spark, "documents", sf_dir), _PHRASE)


def sql_phrase_search() -> str:
    conds = " AND ".join(
        f"t[i + {j}] = '{w}'" for j, w in enumerate(_PHRASE)
    )
    return rf"""WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
),
hits AS (
  SELECT doc_id
  FROM base, LATERAL (
    SELECT unnest(generate_series(1, len(t) - {len(_PHRASE) - 1})) AS i
  )
  WHERE {conds}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM hits GROUP BY doc_id"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF keyword extraction per document (operators/text.py
    tfidf_topk): weight = tf * ln(N/df) rounded ONCE to integer micro
    units, per-doc ranking ordered by the ROUNDED integer so rank ties
    are engine-exact.  df table derives from the tf table (no second
    corpus pass) and broadcasts back."""
    from nexus_forge_spark.operators.text import tfidf_topk

    return tfidf_topk(load_table(spark, "documents", sf_dir), k=_TFIDF_K)


def sql_tfidf_keywords() -> str:
    return rf"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
dfreq2 AS (SELECT term, {_lnq('df_docs')} AS l2df FROM dfreq),
n AS (SELECT count(*) AS n_docs FROM documents),
n2 AS (SELECT {_lnq('n_docs')} AS l2n FROM n),
weighted AS (
  SELECT doc_id, term,
    CAST(tf * {_l2micro('(l2n - l2df)')} AS BIGINT) AS tfidf_micro
  FROM tf JOIN dfreq2 USING (term), n2
),
ranked AS (
  SELECT doc_id, term, tfidf_micro,
    CAST(row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf_micro DESC, term) AS INT) AS rank
  FROM weighted
)
SELECT doc_id, term, rank, tfidf_micro FROM ranked WHERE rank <= {_TFIDF_K}"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k PMI collocations (operators/text.py pmi_collocations):
    vocab-sized count tables with map-side combine, totals derived from
    the count tables (no second corpus pass), min_count-pruned candidate
    table broadcast against the streaming unigram table, micro-nat
    integer rounding ONCE, top-k ordered by the rounded integer
    (TakeOrderedAndProject, never a global vocab sort)."""
    from nexus_forge_spark.operators.text import pmi_collocations

    return pmi_collocations(
        load_table(spark, "documents", sf_dir), min_count=_PMI_MIN_COUNT, k=_PMI_K
    )


def sql_pmi_collocations() -> str:
    return rf"""WITH base AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
),
pairs AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
),
toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents
),
cu AS (SELECT w, count(*) AS cu FROM toks GROUP BY w),
cu2 AS (SELECT w, {_lnq('cu')} AS l2cu FROM cu),
nu AS (SELECT sum(cu) AS n_uni FROM cu),
nu2 AS (SELECT {_lnq('n_uni')} AS l2nu FROM nu),
cb AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY w1, w2),
nb AS (SELECT sum(cb) AS n_bi FROM cb),
nb2 AS (SELECT {_lnq('n_bi')} AS l2nb FROM nb),
cb2 AS (
  SELECT w1, w2, cb, {_lnq('cb')} AS l2cb FROM cb
  WHERE cb >= {_PMI_MIN_COUNT}
),
l2 AS (
  SELECT w1, w2, cb AS n_pair,
    (l2cb - l2nb + 2 * l2nu - c1.l2cu - c2.l2cu) AS l2v
  FROM cb2 JOIN cu2 c1 ON cb2.w1 = c1.w JOIN cu2 c2 ON cb2.w2 = c2.w, nb2, nu2
),
scored AS (
  SELECT w1, w2, n_pair, CAST({_l2micro('l2v')} AS BIGINT) AS pmi_micro FROM l2
)
SELECT * FROM scored ORDER BY pmi_micro DESC, w1, w2 LIMIT {_PMI_K}"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking for RAG/training contexts
    (operators/curation.py chunk_documents): map-side only — sequence +
    posexplode + slice over the token array, no shuffle, no join.  The
    oracle enumerates chunk starts independently with generate_series."""
    from nexus_forge_spark.operators.curation import chunk_documents

    return chunk_documents(
        load_table(spark, "documents", sf_dir),
        chunk_size=_CHUNK_SIZE,
        overlap=_CHUNK_OVERLAP,
    )


def sql_chunk_documents() -> str:
    step = _CHUNK_SIZE - _CHUNK_OVERLAP
    return rf"""WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 1
),
chunks AS (
  SELECT doc_id, CAST(i // {step} AS INT) AS chunk_id, CAST(i AS INT) AS start,
    t[i + 1 : least(i + {_CHUNK_SIZE}, len(t))] AS ck
  FROM base, LATERAL (SELECT unnest(generate_series(0, len(t) - 1, {step})) AS i)
  WHERE i = 0 OR i + {_CHUNK_OVERLAP} < len(t)
)
SELECT doc_id, chunk_id, start, CAST(len(ck) AS INT) AS n_tokens,
  array_to_string(ck, ' ') AS chunk_text
FROM chunks"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe train/valid/test assignment
    (operators/curation.py hash_split): one md5 per row + a literal
    cumulative-ppm CASE ladder, map-side only — the same id lands in the
    same split on any cluster size / row order / partitioning."""
    from nexus_forge_spark.operators.curation import hash_split

    docs = load_table(spark, "documents", sf_dir)
    return hash_split(docs, _SPLITS).select("doc_id", "split")


def sql_hash_split() -> str:
    names = sorted(_SPLITS)
    ppms = [int(round(_SPLITS[k] * 1_000_000)) for k in names]
    draw = _sql_ppm_hash("doc_id", "split")
    cases = []
    cum = 0
    for name, p in zip(names[:-1], ppms[:-1]):
        cum += p
        cases.append(f"WHEN {draw} < {cum} THEN '{name}'")
    ladder = " ".join(cases)
    return f"""SELECT doc_id,
  CASE {ladder} ELSE '{names[-1]}' END AS split
FROM documents"""


def q_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization stage (curation.normalize_unicode) over
    documents seeded with the real-world mess: decomposed combining
    accents (NFC recomposes), zero-width spaces, tab runs, and padded
    newlines — every seeded class must come out rewritten and flagged.
    The NFC step is the Arrow-batched pandas UDF escape hatch; the
    oracle runs DuckDB's native nfc_normalize + the same regex chain,
    so hash equality pins the UDF's semantics exactly."""
    from nexus_forge_spark.operators.curation import normalize_unicode

    docs = _line_docs(spark, sf_dir)
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(t, F.lit(" café crème")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(t, F.lit(" zero\u200bwidth\u200d joined\ufeff")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(t, F.lit("\ttab\t\truns \n  padded line")),
    ).otherwise(t)
    seeded = docs.select("doc_id", t.alias("text"))
    return normalize_unicode(seeded)


def sql_normalize_unicode() -> str:
    from nexus_forge_spark.operators.curation import ZERO_WIDTH_CHARS

    return rf"""WITH {_LINE_DOCS_SQL},
seeded AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
       THEN ' cafe' || chr(769) || ' cre' || chr(768) || 'me' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
       THEN ' zero' || chr(8203) || 'width' || chr(8205) || ' joined'
            || chr(65279) ELSE '' END
    || CASE WHEN doc_id % 5 = 0
       THEN chr(9) || 'tab' || chr(9) || chr(9) || 'runs ' || chr(10)
            || '  padded line' ELSE '' END AS text
  FROM ldocs
),
cleaned AS (
  SELECT doc_id, text,
    trim(
      regexp_replace(
        regexp_replace(
          regexp_replace(nfc_normalize(text), '[{ZERO_WIDTH_CHARS}]', '', 'g'),
          '[ \t]+', ' ', 'g'),
        ' ?\n ?', chr(10), 'g'),
      ' ') AS clean
  FROM seeded
)
SELECT doc_id, clean AS text, clean <> text AS changed FROM cleaned"""


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (operators/curation.py c4_line_cleaning,
    Raffel et al. 2020 §2.2): the line-structured corpus is decorated so
    every rule fires — line j%3==0 gains terminal punctuation (kept),
    j%3==1 stays unterminated (dropped), j%3==2 mentions javascript
    (dropped); every 7th doc gains a curly brace and every 11th a lorem
    ipsum line (both doc-level rejections).  Entirely map-side: the
    whole filter fuses into the scan."""
    from nexus_forge_spark.operators.curation import c4_line_cleaning

    base = _line_docs(spark, sf_dir)
    lines = F.split(F.col("text"), "\n")
    dec = F.transform(
        lines,
        lambda ln, j: F.when(j % 3 == 0, F.concat(ln, F.lit(".")))
        .when(j % 3 == 1, ln)
        .otherwise(F.concat(ln, F.lit(" javascript."))),
    )
    text2 = F.concat(
        F.array_join(dec, "\n"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" {")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("\nlorem ipsum dolor sit amet consectetur adipiscing."),
        ).otherwise(F.lit("")),
    )
    corpus = base.select("doc_id", text2.alias("text"))
    return c4_line_cleaning(corpus)


def sql_c4_line_filter() -> str:
    from nexus_forge_spark.operators.curation import sql_c4_line_cleaning

    corpus = rf"""WITH {_LINE_DOCS_SQL},
sp AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM ldocs),
dec AS (
  SELECT doc_id,
    [CASE WHEN j % 3 = 0 THEN l[j+1] || '.'
          WHEN j % 3 = 1 THEN l[j+1]
          ELSE l[j+1] || ' javascript.' END
     FOR j IN range(0, len(l))] AS d
  FROM sp
)
SELECT doc_id,
  array_to_string(d, chr(10))
  || CASE WHEN doc_id % 7 = 0 THEN ' {{' ELSE '' END
  || CASE WHEN doc_id % 11 = 0
      THEN chr(10) || 'lorem ipsum dolor sit amet consectetur adipiscing.'
      ELSE '' END AS text
FROM dec"""
    return sql_c4_line_cleaning(corpus, out_cols=["doc_id"])


def q_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift gate (operators/profile.py token_divergence): unigram
    distribution shift between two corpus slices (sources src0-9 vs
    src10-19 standing in for two crawl snapshots), per-token
    total-variation contribution in integer ppm, top-50 movers.  ONE
    map-side-combined token aggregate carries both sides' counts; side
    totals attach by broadcast; top-k is TakeOrderedAndProject."""
    from nexus_forge_spark.operators.profile import token_divergence

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "side",
        F.when(F.col("source").isin(_DIVERGENCE_LEFT_SRCS), "a").otherwise("b"),
    )
    return token_divergence(docs, "side", "a", "b", top_k=50)


def sql_corpus_divergence() -> str:
    srcs = ", ".join(f"'{s}'" for s in _DIVERGENCE_LEFT_SRCS)
    return rf"""WITH toks AS (
  SELECT CASE WHEN source IN ({srcs}) THEN 'a' ELSE 'b' END AS side,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
),
counts AS (
  SELECT token,
    CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS c_left,
    CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS c_right
  FROM toks GROUP BY token
),
tot AS (
  SELECT CAST(greatest(sum(c_left), 1) AS BIGINT) AS n_left,
         CAST(greatest(sum(c_right), 1) AS BIGINT) AS n_right
  FROM counts
)
SELECT token, c_left, c_right,
  CAST(c_left * 1000000 // n_left AS BIGINT) AS p_left_ppm,
  CAST(c_right * 1000000 // n_right AS BIGINT) AS p_right_ppm,
  CAST(c_left * 1000000 // n_left - c_right * 1000000 // n_right AS BIGINT)
    AS drift_ppm
FROM counts, tot
ORDER BY abs(c_left * 1000000 // n_left - c_right * 1000000 // n_right) DESC,
         token
LIMIT 50"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle novelty (operators/text.py ngram_novelty): share
    of each document's distinct 5-gram set that occurs in at least one
    other document — the boilerplate/memorization scan whole-doc dedup
    signatures miss.  Shingles move as xxhash64 longs; doc-frequency agg
    and the join share the shingle key; final rollup is a per-doc
    hash aggregate.  Oracle uses md5 shingle keys — equality semantics,
    not hash values, are the contract."""
    from nexus_forge_spark.operators.text import ngram_novelty

    docs = load_table(spark, "documents", sf_dir)
    return ngram_novelty(docs, k=NOVELTY_K)


def sql_ngram_novelty() -> str:
    k = NOVELTY_K
    return rf"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
),
pairs AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+{k - 1}], ' ')) AS skey
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {k - 1})) AS i)
  WHERE len(t) >= {k}
),
dfq AS (SELECT skey, CAST(count(*) AS BIGINT) AS nd FROM pairs GROUP BY skey)
SELECT p.doc_id,
  CAST(count(*) AS BIGINT) AS n_shingles,
  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
  CAST((count(*) - sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)) * 1000000
       // count(*) AS BIGINT) AS novelty_ppm
FROM pairs p JOIN dfq USING (skey)
GROUP BY p.doc_id"""


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling (operators/curation.py priority_sample;
    Duffield-Lund-Thorup JACM'07): k=100 documents sampled proportional
    to n_chars in ONE map-side pass + a (k+1)-row TakeOrderedAndProject;
    each kept row carries the threshold-based unbiased subset-sum weight
    estimate w_est = max(w, 2^60 div tau).  Integer-only algebra, so the
    DuckDB oracle reproduces the sample hash-for-hash."""
    from nexus_forge_spark.operators.curation import priority_sample

    docs = load_table(spark, "documents", sf_dir)
    return priority_sample(docs, "n_chars", k=PRIO_K)


def sql_priority_sample() -> str:
    k = PRIO_K
    two60 = 1 << 60
    return f"""WITH cand AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':prio'), 1, 15))::BIGINT
      + 1 AS u
  FROM documents
),
pr AS (SELECT doc_id, w, greatest(u // w, 1) AS prio FROM cand),
topk1 AS (SELECT * FROM pr ORDER BY prio, doc_id LIMIT {k + 1}),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY prio, doc_id) AS rn,
         count(*) OVER () AS n_cand
  FROM topk1
),
tau AS (
  SELECT max(CASE WHEN rn = {k + 1} THEN prio END) AS tau,
         max(n_cand) AS n_cand
  FROM ranked
)
SELECT r.doc_id, r.w, r.prio,
  CAST(CASE WHEN t.n_cand <= {k} THEN r.w
            ELSE greatest(r.w, {two60} // t.tau) END AS BIGINT) AS w_est
FROM ranked r, tau t WHERE r.rn <= {k}"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit (operators/bpe.py bpe_fertility): BPE
    tokens per word by LANGUAGE under the corpus-trained 16-merge table
    — the multilingual-fairness metric (slices the merge table
    under-serves pay more tokens per word).  The merge chain runs once
    per distinct word; the per-language rollup is one hash aggregate.
    The oracle re-trains with the unrolled CTE chain and replays the
    same integer fertility algebra."""
    from nexus_forge_spark.operators.bpe import (
        bpe_fertility,
        bpe_train,
        word_frequencies,
    )

    docs = load_table(spark, "documents", sf_dir)
    merges = bpe_train(word_frequencies(docs), _BPE_MERGES)
    return bpe_fertility(docs, merges, group_col="lang")


def sql_tokenizer_fertility() -> str:
    k = _BPE_MERGES
    return (
        "WITH "
        + _bpe_train_ctes(k)
        + f""",
doc_words AS (
  SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(len(v.toks)) AS BIGINT) AS n_bpe_tokens,
  CAST(sum(len(v.toks)) * 1000 // count(*) AS BIGINT) AS fertility_milli
FROM doc_words JOIN w{k} AS v USING (word)
GROUP BY lang"""
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling at tau=2 (curation.py temperature_mix):
    domain target share is sqrt-proportional (XLM-R style upsample of
    small domains), materialized as an EXACT per-document copy count —
    full_copies for every doc plus one extra for the hash-ranked first
    ``extras`` docs, so per-domain totals hit the integer target exactly.
    sqrt is the one float step and IEEE requires it correctly rounded;
    everything after floor(sqrt(n)*1e6) is BIGINT on both engines."""
    from nexus_forge_spark.operators.curation import temperature_mix

    docs = load_table(spark, "documents", sf_dir)
    return temperature_mix(docs)


def sql_temperature_mix() -> str:
    h = _sql_ppm_hash("d.doc_id", "tmix")
    return f"""WITH counts AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS w_scaled
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS t, CAST(sum(w_scaled) AS BIGINT) AS w
  FROM counts
),
plan AS (
  SELECT domain, n_docs, w_scaled,
    CAST(t * w_scaled // w AS BIGINT) AS target_count
  FROM counts, tot
),
plan2 AS (
  SELECT *, target_count // n_docs AS full_copies,
    target_count % n_docs AS extras
  FROM plan
),
ranked AS (
  SELECT d.doc_id, p.domain, p.n_docs, p.target_count, p.full_copies,
    p.extras,
    row_number() OVER (PARTITION BY p.domain ORDER BY {h}, d.doc_id) - 1
      AS rank0
  FROM documents d JOIN plan2 p ON d.source = p.domain
)
SELECT doc_id, domain, n_docs, target_count,
  CAST(full_copies + CASE WHEN rank0 < extras THEN 1 ELSE 0 END AS BIGINT)
    AS n_copies
FROM ranked"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (curation.py dsir_weights; Xie et al. 2023):
    target distribution = the English docs, raw pool = everything else.
    Per-doc log importance weight = sum over hashed-unigram features of
    the add-one-smoothed target/source log-ratio in integer micro-nats;
    Gumbel-top-k (hash-seeded) resamples the top 100 pool docs.  Bucket
    counts, the <=1024-row lr table, and the two totals broadcast; the
    corpus shuffles once on doc_id and selection is
    TakeOrderedAndProject, never a global sort."""
    from nexus_forge_spark.operators.curation import dsir_weights

    docs = load_table(spark, "documents", sf_dir)
    return dsir_weights(
        docs,
        F.col("lang") == "en",
        n_buckets=DSIR_BUCKETS,
        top_k=DSIR_K,
    )


def sql_dsir_select() -> str:
    b = (
        "('0x' || substr(md5(__t || ':dsir'), 1, 15))::BIGINT"
        f" % {DSIR_BUCKETS}"
    )
    g_h = _sql_ppm_hash("doc_id", "dsir:g")
    l2_2m, l2_1m = lnq30_py(2_000_000), lnq30_py(1_000_000)
    return rf"""WITH feats AS (
  SELECT doc_id, lang = 'en' AS is_target,
    {b} AS __b
  FROM (
    SELECT doc_id, lang,
      unnest(string_split_regex(trim(lower(text)), '\s+')) AS __t
    FROM documents
  )
),
counts AS (
  SELECT __b,
    CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
    CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cs
  FROM feats GROUP BY __b
),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cs) AS BIGINT) AS ns
        FROM counts),
tot2 AS (
  SELECT {_lnq(f'(ns + {DSIR_BUCKETS})')} AS l2ns,
         {_lnq(f'(nt + {DSIR_BUCKETS})')} AS l2nt
  FROM tot
),
lr0 AS (
  SELECT __b, {_lnq('(ct + 1)')} AS l2ct, {_lnq('(cs + 1)')} AS l2cs
  FROM counts
),
lr AS (
  SELECT __b,
    CAST({_l2micro('(l2ct - l2cs + l2ns - l2nt)')} AS BIGINT) AS lr_micro
  FROM lr0, tot2
),
scored AS (
  SELECT doc_id, is_target,
    CAST(count(*) AS BIGINT) AS n_feats,
    CAST(sum(lr_micro) AS BIGINT) AS weight_micro
  FROM feats JOIN lr USING (__b)
  GROUP BY doc_id, is_target
),
gum0 AS (
  SELECT *, greatest(
    CAST({_l2micro(f'({l2_2m} - ' + _lnq(f'(2 * ({g_h}) + 1)') + ')')} AS BIGINT),
    1) AS gin
  FROM scored
),
keyed AS (
  SELECT doc_id, is_target, n_feats, weight_micro,
    weight_micro +
    CAST({_l2micro(f'({l2_1m} - ' + _lnq('gin') + ')')} AS BIGINT) AS key_micro
  FROM gum0
),
winners AS (
  SELECT doc_id FROM keyed WHERE NOT is_target
  ORDER BY key_micro DESC, doc_id LIMIT {DSIR_K}
)
SELECT k.doc_id, k.is_target, k.n_feats, k.weight_micro, k.key_micro,
  w.doc_id IS NOT NULL AS selected
FROM keyed k LEFT JOIN winners w ON k.doc_id = w.doc_id"""


def q_mine_acronyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acronym/expansion mining (text.py mine_acronyms, the Schwartz-
    Hearst initialism rule): parenthesized 2-6 letter uppercase tokens
    verify iff the initials of the preceding |SF| words spell them —
    the alias-table enrichment pass a resolver runs over a raw corpus.
    The corpus has no organic parentheticals, so five deterministic
    sentence plants cycle by doc_id%5: an ambiguous acronym (two long
    forms for WHO), a clean one, a rejected initials-mismatch, and a
    no-op.  Extraction is map-side regex; one pair-keyed hash agg."""
    from nexus_forge_spark.operators.text import mine_acronyms

    docs = load_table(spark, "documents", sf_dir)
    plant = F.element_at(
        F.array(*[F.lit(s) for s in ACRO_PLANTS]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    planted = docs.select(
        "doc_id", F.concat(F.col("text"), plant).alias("text")
    )
    return mine_acronyms(planted)


def sql_mine_acronyms() -> str:
    cases = " ".join(
        f"WHEN {i} THEN '{s.replace(chr(39), chr(39) * 2)}'"
        for i, s in enumerate(ACRO_PLANTS)
    )
    re = r"([A-Za-z]+(?: [A-Za-z]+){1,5}) \(([A-Z]{2,6})\)"
    return rf"""WITH planted AS (
  SELECT doc_id, text || CASE doc_id % 5 {cases} END AS text
  FROM documents
),
ms AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text, '{re}', 1)) AS lf,
    unnest(regexp_extract_all(text, '{re}', 2)) AS sf
  FROM planted
),
verified AS (
  SELECT doc_id, sf AS acronym,
    lower(array_to_string(ws[len(ws) - length(sf) + 1 :], ' ')) AS expansion
  FROM (SELECT doc_id, sf, string_split(lf, ' ') AS ws FROM ms)
  WHERE len(ws) >= length(sf)
    AND upper(array_to_string(
          list_transform(ws[len(ws) - length(sf) + 1 :],
                         w -> substr(w, 1, 1)), '')) = sf
)
SELECT acronym, expansion,
  CAST(count(*) AS BIGINT) AS n_mentions,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM verified GROUP BY acronym, expansion"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve (text.py vocab_growth_curve):
    distinct types seen at every power-of-2 token-stream prefix in
    corpus order — the tokenizer-sizing / dedup-health audit.  Global
    token positions come from the exchange-free range-partition ranking
    (no SinglePartition window); the curve aggregates the vocab-sized
    first-occurrence table against a <=63-row broadcast grid."""
    from nexus_forge_spark.operators.text import vocab_growth_curve

    return vocab_growth_curve(load_table(spark, "documents", sf_dir))


def sql_vocab_growth() -> str:
    return r"""WITH toks AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t,
    generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1)
      AS pos
  FROM documents
),
ranked AS (
  SELECT t, row_number() OVER (ORDER BY doc_id, pos) AS gpos FROM toks
),
firsts AS (SELECT t, min(gpos) AS first_pos FROM ranked GROUP BY t),
total AS (SELECT max(gpos) AS n FROM ranked),
grid AS (
  SELECT CAST(1::BIGINT << k AS BIGINT) AS prefix_tokens
  FROM generate_series(0, 62) s(k), total
  WHERE (1::BIGINT << k) <= n
  UNION
  SELECT n FROM total
)
SELECT prefix_tokens,
  CAST(count(*) AS BIGINT) AS n_types,
  CAST(count(*) * 1000000 // prefix_tokens AS BIGINT) AS types_ppm
FROM firsts JOIN grid ON first_pos <= prefix_tokens
GROUP BY prefix_tokens"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade (text.py
    readability_scores) in integer micro-units: vowel-group syllables
    with the silent-e discount, BIGINT-division formulas, one map-side
    projection over the corpus."""
    from nexus_forge_spark.operators.text import readability_scores

    return readability_scores(load_table(spark, "documents", sf_dir))


def sql_readability() -> str:
    return r"""WITH base AS (
  SELECT doc_id, trim(lower(text)) AS t FROM documents
),
feats AS (
  SELECT doc_id,
    greatest(len(regexp_extract_all(t, '[.!?]+')), 1)::BIGINT AS s,
    greatest(len(string_split_regex(t, '\s+')), 1)::BIGINT AS w,
    len(regexp_extract_all(t, '[aeiouy]+'))::BIGINT AS groups,
    len(list_filter(string_split_regex(t, '\s+'),
        tok -> regexp_matches(tok, '[^aeiouy]e$')
               AND len(regexp_extract_all(tok, '[aeiouy]+')) > 1))::BIGINT
      AS silent
  FROM base
)
SELECT doc_id, s AS n_sentences, w AS n_words,
  greatest(groups - silent, w) AS n_syllables,
  CAST(206835000 - 1015000 * w // s
       - 84600000 * greatest(groups - silent, w) // w AS BIGINT)
    AS ease_micro,
  CAST(390000 * w // s + 11800000 * greatest(groups - silent, w) // w
       - 15590000 AS BIGINT) AS grade_micro
FROM feats"""


def q_domain_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quantile calibration (profile.py
    domain_quantile_calibration) of doc length: each doc's n_chars is
    re-expressed as its integer-ppm percentile WITHIN its own source —
    the domain-fair thresholding trick (a global cutoff over-prunes
    whole domains whose raw distribution sits low).  Ties share a rank;
    rank window and count share ONE domain exchange."""
    from nexus_forge_spark.operators.profile import domain_quantile_calibration

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    return domain_quantile_calibration(docs, "n_chars", "source")


def sql_domain_calibration() -> str:
    return """SELECT doc_id, source, n_chars,
  CAST((rank() OVER (PARTITION BY source ORDER BY n_chars) - 1) * 1000000
       // greatest(count(*) OVER (PARTITION BY source) - 1, 1) AS BIGINT)
    AS pct_ppm
FROM documents"""


def q_curate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-assembly v2 in ONE plan: plant domain banners ->
    strip_boilerplate (domain-frequency rule) -> readability on the
    CLEANED text -> per-domain quantile calibration of the ease score ->
    domain-fair keep floor at the 25th percentile.  Every stage is the
    graded operator itself (not a re-implementation), every number
    integer — the point is that the session's curation operators compose
    engine-exactly end to end."""
    from nexus_forge_spark.operators.curation import strip_boilerplate
    from nexus_forge_spark.operators.profile import domain_quantile_calibration
    from nexus_forge_spark.operators.text import readability_scores

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "source",
        F.concat(
            F.lit("PROMO BANNER FOR "),
            F.col("source"),
            F.lit("\n"),
            F.col("text"),
        ).alias("text"),
    )
    cleaned = strip_boilerplate(docs, max_doc_ratio_ppm=BOILER_PPM)
    ease = readability_scores(cleaned).select("doc_id", "ease_micro")
    scored = cleaned.select("doc_id", "source", "n_removed").join(ease, "doc_id")
    calib = domain_quantile_calibration(scored, "ease_micro", "source")
    return (
        scored.join(calib.select("doc_id", "pct_ppm"), "doc_id")
        .select(
            "doc_id",
            "source",
            "n_removed",
            "ease_micro",
            "pct_ppm",
            (F.col("pct_ppm") >= CURATE2_FLOOR_PPM).alias("kept"),
        )
    )


def sql_curate_v2() -> str:
    return f"""WITH cleaned AS (
  SELECT * FROM (
    WITH docs AS (
      SELECT doc_id, source,
        'PROMO BANNER FOR ' || source || chr(10) || text AS text
      FROM documents
    ),
    paras AS (
      SELECT doc_id, source AS dom, pos - 1 AS pos, para, md5(para) AS h
      FROM (
        SELECT doc_id, source,
          unnest(string_split(text, chr(10))) AS para,
          generate_subscripts(string_split(text, chr(10)), 1) AS pos
        FROM docs
      )
      WHERE trim(para) != ''
    ),
    domain_docs AS (SELECT source AS dom, count(*) AS n_dom
                    FROM docs GROUP BY source),
    freq AS (
      SELECT dom, h, count(DISTINCT doc_id) AS n_with
      FROM paras GROUP BY dom, h
    ),
    boiler AS (
      SELECT dom, h FROM freq JOIN domain_docs USING (dom)
      WHERE n_with * 1000000 >= {BOILER_PPM} * n_dom
    ),
    kept AS (
      SELECT p.* FROM paras p
      ANTI JOIN boiler b ON p.dom = b.dom AND p.h = b.h
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
        CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs
               FROM paras GROUP BY doc_id)
    SELECT d.doc_id, d.source, coalesce(r.text, '') AS text,
      CAST(coalesce(t.n_paragraphs, 0) - coalesce(r.n_kept, 0) AS BIGINT)
        AS n_removed
    FROM docs d LEFT JOIN totals t USING (doc_id)
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
  )
),
feats AS (
  SELECT doc_id, source, n_removed,
    greatest(len(regexp_extract_all(trim(lower(text)), '[.!?]+')), 1)::BIGINT
      AS s,
    greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)::BIGINT
      AS w,
    len(regexp_extract_all(trim(lower(text)), '[aeiouy]+'))::BIGINT
      AS groups,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        tok -> regexp_matches(tok, '[^aeiouy]e$')
               AND len(regexp_extract_all(tok, '[aeiouy]+')) > 1))::BIGINT
      AS silent
  FROM cleaned
),
scored AS (
  SELECT doc_id, source, n_removed,
    CAST(206835000 - 1015000 * w // s
         - 84600000 * greatest(groups - silent, w) // w AS BIGINT)
      AS ease_micro
  FROM feats
)
SELECT doc_id, source, n_removed, ease_micro,
  CAST((rank() OVER (PARTITION BY source ORDER BY ease_micro) - 1) * 1000000
       // greatest(count(*) OVER (PARTITION BY source) - 1, 1) AS BIGINT)
    AS pct_ppm,
  CAST((rank() OVER (PARTITION BY source ORDER BY ease_micro) - 1) * 1000000
       // greatest(count(*) OVER (PARTITION BY source) - 1, 1) AS BIGINT)
    >= {CURATE2_FLOOR_PPM} AS kept
FROM scored"""


def q_card_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card PII audit (curation.py card_pii_audit): 13-19 digit
    runs verified with the Luhn checksum — the precision upgrade over
    bare digit regexes (order ids stop false-positiving).  Planted
    cycling by doc_id%4: two valid cards, one checksum-failing run, one
    clean doc.  One map-side projection."""
    from nexus_forge_spark.operators.curation import card_pii_audit

    docs = load_table(spark, "documents", sf_dir)
    plant = F.element_at(
        F.array(*[F.lit(s) for s in CARD_PLANTS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    return card_pii_audit(
        docs.select("doc_id", F.concat("text", plant).alias("text"))
    )


def sql_card_pii() -> str:
    cases = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(CARD_PLANTS)
    )
    luhn = (
        "list_sum(list_transform(range(1, length(reverse(r)) + 1), "
        "i -> CASE WHEN i % 2 = 0 THEN "
        "CASE WHEN 2 * (ascii(substr(reverse(r), CAST(i AS INT), 1)) - 48) > 9 "
        "THEN 2 * (ascii(substr(reverse(r), CAST(i AS INT), 1)) - 48) - 9 "
        "ELSE 2 * (ascii(substr(reverse(r), CAST(i AS INT), 1)) - 48) END "
        "ELSE ascii(substr(reverse(r), CAST(i AS INT), 1)) - 48 END)) "
        "% 10 = 0"
    )
    return f"""WITH planted AS (
  SELECT doc_id, text || CASE doc_id % 4 {cases} END AS text
  FROM documents
),
runs AS (
  SELECT doc_id, regexp_extract_all(text, '[0-9]{{13,19}}') AS rs
  FROM planted
),
occ AS (
  SELECT doc_id, unnest(rs) AS r FROM runs
),
valid AS (
  SELECT doc_id, r FROM occ WHERE {luhn}
),
vagg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_valid,
    string_agg('****' || substr(r, length(r) - 3, 4), ',' ORDER BY r)
      AS valid_runs
  FROM valid GROUP BY doc_id
)
SELECT runs.doc_id, CAST(len(rs) AS BIGINT) AS n_candidates,
  coalesce(v.n_valid, 0) AS n_luhn_valid,
  coalesce(v.valid_runs, '') AS valid_runs
FROM runs LEFT JOIN vagg v ON runs.doc_id = v.doc_id"""


def q_block_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-size capping audit (dedup.py block_cap_audit): the LSH band
    table of the mutant corpus capped at 3 rows per block — prices the
    mega-block safety valve with comparison work before/after and
    planted-truth pair completeness before/after (a truth pair loses
    recall only if EVERY block it shared was dropped).  At sf0.01 the
    cap genuinely bites: 75 blocks of size 4-6 drop."""
    from nexus_forge_spark.operators.dedup import (
        block_cap_audit,
        lsh_band_table,
        minhash_signatures,
    )

    docs = _docs_with_mutants(spark, sf_dir)
    sigs = minhash_signatures(docs, num_hashes=_MINHASH_K, shingle_n=2)
    bands = lsh_band_table(
        sigs, bands=_MINHASH_BANDS, rows_per_band=_MINHASH_ROWS
    )
    truth = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1000000).alias("b")
    )
    return block_cap_audit(bands, cap=BLOCK_CAP, truth=truth)


def sql_block_cap() -> str:
    base = sql_dedup_minhash()
    prefix = base[: base.index("cand AS (")]
    return f"""{prefix}sz AS (
  SELECT b, key, CAST(count(*) AS BIGINT) AS m FROM bands GROUP BY b, key
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
    CAST(sum(CASE WHEN m > {BLOCK_CAP} THEN 1 ELSE 0 END) AS BIGINT)
      AS n_blocks_dropped,
    CAST(sum(CASE WHEN m > {BLOCK_CAP} THEN m ELSE 0 END) AS BIGINT)
      AS rows_in_dropped,
    CAST(sum(m * (m - 1) // 2) AS BIGINT) AS work_before,
    CAST(sum(CASE WHEN m <= {BLOCK_CAP} THEN m * (m - 1) // 2 ELSE 0 END)
         AS BIGINT) AS work_after
  FROM sz
),
truth AS (
  SELECT DISTINCT least(doc_id, doc_id + 1000000) AS ta,
         greatest(doc_id, doc_id + 1000000) AS tb
  FROM documents
),
kept AS (SELECT b, key FROM sz WHERE m <= {BLOCK_CAP}),
capped AS (SELECT bd.* FROM bands bd SEMI JOIN kept k
           ON bd.b = k.b AND bd.key = k.key),
fb AS (
  SELECT CAST(count(*) AS BIGINT) AS found_before FROM (
    SELECT DISTINCT t.ta, t.tb
    FROM truth t
    JOIN bands l ON l.doc_id = t.ta
    JOIN bands r ON r.doc_id = t.tb AND r.b = l.b AND r.key = l.key
  )
),
fa AS (
  SELECT CAST(count(*) AS BIGINT) AS found_after FROM (
    SELECT DISTINCT t.ta, t.tb
    FROM truth t
    JOIN capped l ON l.doc_id = t.ta
    JOIN capped r ON r.doc_id = t.tb AND r.b = l.b AND r.key = l.key
  )
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS truth_pairs FROM truth)
SELECT s.*, nt.truth_pairs, fb.found_before, fa.found_after,
  CAST(fb.found_before * 1000000 // greatest(nt.truth_pairs, 1) AS BIGINT)
    AS completeness_before_ppm,
  CAST(fa.found_after * 1000000 // greatest(nt.truth_pairs, 1) AS BIGINT)
    AS completeness_after_ppm
FROM stats s, nt, fb, fa"""


def q_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training (bpe.py
    unigram_lm_train, Kudo 2018) — hard-EM with Viterbi E-steps in
    deterministic integer micro-nats: the word table is the corpus'
    distinct tokens PLUS adjacent-token compounds (so the LM genuinely
    has subword structure to discover — the compounds decompose back
    into the corpus' morphemes), seeded from top substrings + all
    chars, two EM rounds.  The oracle unrolls the per-position Viterbi
    DP and backtrace as CTEs, so hash equality pins the entire training
    trajectory: seed election, integer costs, argmin tie rule, char
    floor."""
    from nexus_forge_spark.operators.bpe import unigram_lm_train

    toks = load_table(spark, "documents", sf_dir).select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    uni = toks.select(F.explode("t").alias("word"))
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), i -> concat(t[i], t[i+1]))"
            )
        ).alias("word")
    )
    words = (
        uni.unionByName(big)
        .where((F.col("word") != "") & (F.length("word") <= 16))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return unigram_lm_train(words, rounds=2, max_piece_len=6, vocab_size=60)


def sql_unigram_lm_vocab() -> str:
    from nexus_forge_spark.operators.bpe import sql_unigram_lm

    words = r"""SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
  SELECT unnest(t) AS word
  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents)
  UNION ALL
  SELECT t[i.i] || t[i.i + 1] AS word
  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents),
       UNNEST(range(1, len(t))) AS i(i)
)
WHERE word <> '' AND length(word) <= 16
GROUP BY word"""
    return sql_unigram_lm(
        words, rounds=2, max_piece_len=6, vocab_size=60, max_word_len=16
    )


def q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fertility of the TRAINED unigram-LM tokenizer (bpe.py
    unigram_fertility): train on tokens + compounds (same spec as
    unigram_lm_vocab), then Viterbi-encode the real corpus words with
    the final costs and roll up pieces-per-word in integer milli per
    source — the tokenizer-quality readout.  The oracle re-derives the
    whole vocab AND runs one more unrolled DP chain with the final
    costs, so the hash pins train + encode together."""
    from nexus_forge_spark.operators.bpe import (
        unigram_fertility,
        unigram_lm_train,
    )

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    uni = toks.select(F.explode("t").alias("word"))
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), i -> concat(t[i], t[i+1]))"
            )
        ).alias("word")
    )
    words = (
        uni.unionByName(big)
        .where((F.col("word") != "") & (F.length("word") <= 16))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    vocab = unigram_lm_train(words, rounds=2, max_piece_len=6, vocab_size=60)
    return unigram_fertility(docs, vocab, group_col="source")


def sql_unigram_fertility_q() -> str:
    from nexus_forge_spark.operators.bpe import sql_unigram_fertility

    words = r"""SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
  SELECT unnest(t) AS word
  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents)
  UNION ALL
  SELECT t[i.i] || t[i.i + 1] AS word
  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents),
       UNNEST(range(1, len(t))) AS i(i)
)
WHERE word <> '' AND length(word) <= 16
GROUP BY word"""
    corpus = r"""SELECT source AS grp, word, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
  FROM documents
)
WHERE word <> '' GROUP BY grp, word"""
    return sql_unigram_fertility(
        words, corpus, rounds=2, max_piece_len=6, vocab_size=60,
        max_word_len=16,
    )


def q_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style Group-DRO mixture learning (curation.py
    domain_reweight): per-source unigram-LM mean NLL -> excess over the
    corpus mean -> 5 rounds of exact-integer polynomial multiplicative
    weights with largest-remainder renormalization to 1e6 ppm.  The
    mixture-LEARNING counterpart of domain_mix/temperature_mix: sources
    the proxy LM finds hard gain weight; weights sum to exactly 1e6
    every round by construction."""
    from nexus_forge_spark.operators.curation import domain_reweight
    from nexus_forge_spark.operators.text import unigram_logprob_scores

    docs = load_table(spark, "documents", sf_dir)
    nll = unigram_logprob_scores(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return domain_reweight(nll, "source", "mean_nll_micro")


def sql_domain_reweight_q() -> str:
    from nexus_forge_spark.operators.curation import sql_domain_reweight

    losses = f"""SELECT n.doc_id, n.mean_nll_micro, d.source
FROM ({sql_unigram_nll()}) n JOIN documents d ON n.doc_id = d.doc_id"""
    return sql_domain_reweight(losses)


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, the final
    step their pipeline ships): per SOURCE, documents are ranked by
    corpus-LM mean NLL (the fixed-point unigram LM here) and split into
    head/middle/tail terciles — head (lowest perplexity) is the training
    slice, tail is the suspect slice.  Composes unigram_nll + the
    domain-calibration ranking into ONE plan: the NLL join-back and one
    source-keyed window, all integer (rank ppm, tercile by integer
    div)."""
    from nexus_forge_spark.operators.text import unigram_logprob_scores

    docs = load_table(spark, "documents", sf_dir)
    nll = unigram_logprob_scores(docs)
    j = nll.join(docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy("mean_nll_micro", "doc_id")
    n = Window.partitionBy("source")
    return j.select(
        "doc_id",
        "source",
        "mean_nll_micro",
        F.expr(
            "CAST((CAST(row_number() OVER (PARTITION BY source "
            "ORDER BY mean_nll_micro, doc_id) AS BIGINT) - 1) * 1000000 "
            "div count(*) OVER (PARTITION BY source) AS BIGINT)"
        ).alias("rank_ppm"),
        F.expr(
            "CASE (CAST(row_number() OVER (PARTITION BY source "
            "ORDER BY mean_nll_micro, doc_id) AS BIGINT) - 1) * 3 "
            "div count(*) OVER (PARTITION BY source) "
            "WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END"
        ).alias("bucket"),
    )


def sql_ccnet_buckets() -> str:
    return f"""WITH nll AS ({sql_unigram_nll()}),
j AS (
  SELECT n.doc_id, d.source, n.mean_nll_micro
  FROM nll n JOIN documents d ON n.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, source, mean_nll_micro,
    CAST(row_number() OVER (PARTITION BY source
      ORDER BY mean_nll_micro, doc_id) AS BIGINT) - 1 AS rn,
    count(*) OVER (PARTITION BY source) AS n
  FROM j
)
SELECT doc_id, source, mean_nll_micro,
  CAST(rn * 1000000 // n AS BIGINT) AS rank_ppm,
  CASE rn * 3 // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
    ELSE 'tail' END AS bucket
FROM ranked"""


def q_lsh_parameter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bands, rows_per_band) tuning table for the MinHash dedup family
    (dedup.py lsh_parameter_audit): each config sharing the 64-hash
    budget gets its analytic S-curve P(candidate | jaccard=s) in Q30
    integer fixed point (no pow/libm) AND the measured candidate-pair
    count on this corpus — the block_cap_audit work-vs-recall trade
    moved to tuning time.  One signature pass shared by every config."""
    from nexus_forge_spark.operators.dedup import lsh_parameter_audit

    return lsh_parameter_audit(
        load_table(spark, "documents", sf_dir), LSH_AUDIT_CONFIGS, LSH_AUDIT_GRID
    )


def sql_lsh_parameter_audit() -> str:
    from nexus_forge_spark.operators.dedup import sql_lsh_scurve

    k = 64
    grid = ", ".join(str(s) for s in LSH_AUDIT_GRID)
    pieces = []
    for bands, rows in LSH_AUDIT_CONFIGS:
        curve = sql_lsh_scurve("sq", rows, bands, "duck")
        pieces.append(f"""(
  SELECT CAST({bands} AS BIGINT) AS bands,
    CAST({rows} AS BIGINT) AS rows_per_band,
    g.s_ppm, CAST({curve} AS BIGINT) AS p_cand_ppm, nc.n_candidate_pairs
  FROM (
    SELECT coalesce(sum(m * (m - 1) // 2), 0) AS n_candidate_pairs FROM (
      SELECT b, key, count(*) AS m FROM (
        SELECT doc_id, b,
          array_to_string(list_transform(
            s[b*{rows}+1:b*{rows}+{rows}], x -> CAST(x AS VARCHAR)), '|') AS key
        FROM sig CROSS JOIN (
          SELECT unnest(generate_series(0, {bands - 1})) AS b)
      ) GROUP BY b, key
    )
  ) nc,
  (SELECT s_ppm, (s_ppm * CAST(1073741824 AS BIGINT)) // 1000000 AS sq
   FROM (SELECT unnest([{grid}]) AS s_ppm)) g
)""")
        # the analytic curve and the measured count are orthogonal: the
        # cross join denormalizes the per-config count onto the grid rows
    union = "\nUNION ALL\n".join(pieces)
    return rf"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
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
sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY doc_id)
{union}"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID audit (text.py language_id, the stopword-
    profile n-gram classifier): classify every document, then the
    confusion matrix against the corpus's labeled ``lang`` column —
    including the honest failure mode (zh has no stopword profile, so
    its docs land in 'und' or a false European hit).  All map-side until
    one tiny (true, pred) aggregate."""
    from nexus_forge_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(
            F.col("lang").alias("true_lang"),
            language_id(F.col("text")).alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def sql_lang_id_confusion() -> str:
    from nexus_forge_spark.operators.text import LANG_PROFILES

    hit_cols = []
    for lang, words in LANG_PROFILES.items():
        lst = ", ".join(f"'{w}'" for w in words)
        hit_cols.append(
            f"len(list_filter(toks, t -> t IN ({lst}))) AS h_{lang}"
        )
    langs = list(LANG_PROFILES)
    best = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    pred_cases = " ".join(
        f"WHEN h_{lg} = {best} THEN '{lg}'" for lg in langs
    )
    return rf"""WITH toks AS (
  SELECT lang AS true_lang,
    string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents
),
hits AS (
  SELECT true_lang, {', '.join(hit_cols)} FROM toks
),
pred AS (
  SELECT true_lang,
    CASE WHEN {best} = 0 THEN 'und' {pred_cases} END AS pred_lang
  FROM hits
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang"""


def q_heldout_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free LM scoring (text.py heldout_unigram_nll): unigram
    counts from the hash-assigned 80% train split only; held-out docs
    score with add-one smoothing over train vocab + 1, unseen tokens at
    the smoothing floor — the eval hygiene whole-corpus NLL skips."""
    from nexus_forge_spark.operators.text import heldout_unigram_nll

    return heldout_unigram_nll(load_table(spark, "documents", sf_dir))


def sql_heldout_nll() -> str:
    h = _sql_ppm_hash("doc_id", "lmsplit")
    return rf"""WITH toks AS (
  SELECT doc_id, {h} < 800000 AS tr,
    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents
),
counts AS (SELECT t, count(*) AS c FROM toks WHERE tr GROUP BY t),
counts2 AS (SELECT t, {_lnq('(c + 1)')} AS l2c FROM counts),
totals AS (SELECT sum(c) AS n_train, count(*) AS v_train FROM counts),
totals2 AS (SELECT {_lnq('(n_train + v_train + 1)')} AS l2n FROM totals),
scored AS (
  SELECT k.doc_id,
    CASE WHEN c.l2c IS NULL THEN 1 ELSE 0 END AS unseen,
    CAST({_l2micro('(l2n - coalesce(c.l2c, 0))')} AS BIGINT) AS nll_micro
  FROM toks k LEFT JOIN counts2 c USING (t), totals2
  WHERE NOT k.tr
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(unseen) AS BIGINT) AS n_unseen,
  sum(nll_micro) AS sum_nll_micro,
  CAST(sum(nll_micro) // count(*) AS BIGINT) AS mean_nll_micro
FROM scored GROUP BY doc_id"""


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (operators/text.py rake_keywords): top-3
    candidate phrases per document by the classic deg/freq word-score
    sum, in exact BIGINT ppm.  Purely per-document algebra — the window
    and both aggregates share one doc_id Exchange and there is NO
    corpus-wide state, so the operator is embarrassingly parallel at
    10^12 docs (contrast tfidf_topk's vocabulary join)."""
    from nexus_forge_spark.operators.text import rake_keywords

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return rake_keywords(docs, _RAKE_STOPWORDS, k=3)


def sql_rake_keywords() -> str:
    from nexus_forge_spark.operators.text import sql_rake_keywords

    return sql_rake_keywords(
        "SELECT doc_id, text FROM documents", _RAKE_STOPWORDS, k=3
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + l-diversity release audit (operators/curation.py
    k_anonymity_audit): customers quasi-identified by (nation,
    acctbal-kilobucket), sensitive attribute = market segment.  ONE
    map-side-combined aggregate; output is equivalence-class-sized.
    The release-level governance check beside the row-level PII ops."""
    from nexus_forge_spark.operators.curation import k_anonymity_audit

    cust = load_table(spark, "customer", sf_dir).select(
        "c_nationkey",
        F.expr("CAST(floor(c_acctbal) AS BIGINT) DIV 1000").alias("bal_kbucket"),
        "c_mktsegment",
    )
    return k_anonymity_audit(
        cust, ["c_nationkey", "bal_kbucket"], "c_mktsegment", k=5, min_l=2
    )


def sql_k_anonymity() -> str:
    from nexus_forge_spark.operators.curation import sql_k_anonymity_audit

    return sql_k_anonymity_audit(
        "SELECT * FROM customer",
        [
            "c_nationkey",
            "CAST(floor(c_acctbal) AS BIGINT) // 1000 AS bal_kbucket",
        ],
        "c_mktsegment",
        k=5,
        min_l=2,
    )


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law corpus diagnostic (operators/text.py zipf_fit): the
    least-squares slope of ln(freq) vs ln(rank) over the top token
    frequencies, in engine-exact milli-nat fixed point (intlog, capped
    top_n so the BIGINT normal equations cannot overflow — Spark's
    DECIMAL(38,0) DIV wraps silently past 63 bits, measured)."""
    from nexus_forge_spark.operators.text import tokens, zipf_fit

    docs = load_table(spark, "documents", sf_dir).select("text")
    freqs = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return zipf_fit(freqs, top_n=40)


def sql_zipf_slope() -> str:
    from nexus_forge_spark.operators.text import sql_zipf_fit

    freqs = r"""SELECT t AS term, count(*) AS freq FROM (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t FROM documents
) GROUP BY t"""
    return sql_zipf_fit(freqs, top_n=40)


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (operators/
    curation.py neyman_allocation): a 1000-row audit budget split
    across order priorities proportional to N_h * S_h over integral
    price cents — big AND volatile strata earn seats; largest-remainder
    rounding makes the total exactly the budget.  One fact aggregate;
    the allocation window runs on the 5-row strata table."""
    from nexus_forge_spark.operators.curation import neyman_allocation

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderpriority", F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return neyman_allocation(orders, "o_orderpriority", "cents", budget=1000)


def sql_neyman_allocation_q() -> str:
    from nexus_forge_spark.operators.curation import sql_neyman_allocation

    return sql_neyman_allocation(
        "SELECT * FROM orders",
        "o_orderpriority",
        "CAST(floor(o_totalprice * 100) AS BIGINT)",
        budget=1000,
    )


def q_kn_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (operators/text.py
    kn_bigram_scores): absolute-discount d=3/4 with the continuation-
    probability backoff — the production-LM smoothing (Chen & Goodman
    1998) beside the Jelinek-Mercer mix bigram_nll grades.  All four
    count tables from ONE bigram aggregate; probabilities in Q30
    integer fixed point, -ln via the deterministic intlog, zero
    libm."""
    from nexus_forge_spark.operators.text import kn_bigram_scores

    return kn_bigram_scores(load_table(spark, "documents", sf_dir))


def sql_kn_bigram_nll() -> str:
    # Version-stable rendering (see the round-4 hardening note above):
    # identical integer algorithm to the Spark operator, expressed with
    # explicit ON/CROSS joins, comparison-CASE bit lengths, multiplicative
    # q30_div, and the unrolled MATERIALIZED lnq30 chain.
    q30x30 = 30 * 1_073_741_824
    d_num, d_den = 3, 4
    ln_ctes, ln_fin = _lnq30_unrolled_ctes(
        "kn", "rates1", ["doc_id", "prev", "w"], "pq", "l2p"
    )
    return rf"""WITH base AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
),
pairs AS MATERIALIZED (
  SELECT doc_id, t[i] AS prev, t[i+1] AS w
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
),
cb AS MATERIALIZED (SELECT prev, w, count(*) AS cb FROM pairs GROUP BY prev, w),
cp AS MATERIALIZED (
  SELECT prev, sum(cb) AS cp, count(*) AS nf FROM cb GROUP BY prev
),
nb AS MATERIALIZED (SELECT w, count(*) AS nb FROM cb GROUP BY w),
tt AS MATERIALIZED (SELECT count(*) AS tt FROM cb),
j0 AS MATERIALIZED (
  SELECT cb.prev AS prev, cb.w AS w,
    CAST(greatest({d_den} * cb.cb - {d_num}, 0) AS BIGINT) AS disc,
    CAST({d_den} * cp.cp AS BIGINT) AS dcp,
    CAST(cp.nf AS BIGINT) AS nf,
    CAST(nb.nb AS BIGINT) AS nb,
    CAST(tt.tt AS BIGINT) AS tt
  FROM cb
  JOIN cp ON cb.prev = cp.prev
  JOIN nb ON cb.w = nb.w
  CROSS JOIN tt
),
j1 AS MATERIALIZED (
  SELECT prev, w, disc, dcp, nf, nb, tt,
    {_bl_case('disc')} AS bld, {_bl_case('nb')} AS bln
  FROM j0
),
j2 AS MATERIALIZED (
  SELECT prev, w, dcp, nf,
    {_q30_div_portable('disc', 'dcp', 'bld')} AS q1,
    {_q30_div_portable('nb', 'tt', 'bln')} AS pc
  FROM j1
),
rates0 AS MATERIALIZED (
  SELECT pairs.doc_id AS doc_id, pairs.prev AS prev, pairs.w AS w,
    greatest(j2.q1 + ({d_num} * j2.nf * j2.pc) // j2.dcp, 1) AS pq
  FROM pairs JOIN j2 ON pairs.prev = j2.prev AND pairs.w = j2.w
),
rates1 AS MATERIALIZED (SELECT doc_id, prev, w, pq FROM rates0),
{ln_ctes},
scored AS MATERIALIZED (
  SELECT doc_id,
    CAST({_l2micro(f'({q30x30} - l2p)')} AS BIGINT) AS nll_micro
  FROM {ln_fin}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(nll_micro) AS BIGINT) AS sum_nll_micro,
  CAST(CAST(sum(nll_micro) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT)
    AS mean_nll_micro
FROM scored GROUP BY doc_id"""


def q_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus assembly (operators/curation.py budget_pack):
    greedy quality-ranked fill to an exact token budget with per-domain
    ceilings — domain-windowed cap pass, then the two-phase exact
    global prefix sum (range repartition + per-partition offsets), so
    the 'take the best B tokens' step never single-partitions at
    100 TB.  Quality here is integer lexical diversity
    (distinct-token ppm); ties break on doc_id."""
    from nexus_forge_spark.operators.curation import budget_pack
    from nexus_forge_spark.operators.text import tokens

    docs = load_table(spark, "documents", sf_dir)
    scored = (
        docs.select(
            "doc_id",
            F.col("source").alias("domain"),
            tokens(F.col("text")).alias("t"),
        )
        .where(F.size("t") >= 1)
        .select(
            "doc_id",
            "domain",
            F.size("t").cast("long").alias("n_tokens"),
            F.expr(
                "CAST(size(array_distinct(t)) * 1000000 DIV size(t) AS BIGINT)"
            ).alias("quality_ppm"),
        )
    )
    return budget_pack(scored, _PACK_BUDGET, _PACK_DOMAIN_CAP)


def sql_budget_pack_q() -> str:
    from nexus_forge_spark.operators.curation import sql_budget_pack

    scored = r"""SELECT doc_id, source AS domain,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT) AS quality_ppm
FROM (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
) WHERE len(t) >= 1"""
    return sql_budget_pack(scored, _PACK_BUDGET, _PACK_DOMAIN_CAP)


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords (Mihalcea & Tarau, EMNLP 2004):
    content tokens (len >= 4) adjacent in the filtered sequence form
    an undirected word graph; 5 rounds of the integer micro-ppm
    PageRank (operators/graph.py pagerank — bit-exact truncating
    recurrence) rank the vocabulary; top 25 by (rank, word).  Pure
    composition: the word graph is vocab-sized, the corpus is read
    once."""
    from nexus_forge_spark.operators.graph import pagerank
    from nexus_forge_spark.operators.text import tokens

    docs = load_table(spark, "documents", sf_dir)
    filt = docs.select(
        F.expr(
            f"filter(split(trim(lower(text)), '\\\\s+'), t -> length(t) >= {_TEXTRANK_MINLEN})"
        ).alias("t")
    ).where(F.size("t") >= 2)
    pairs = filt.select(
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    und = (
        pairs.where(F.col("w1") != F.col("w2"))
        .select(F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b"))
        .distinct()
    )
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ranks = pagerank(edges, iterations=_TEXTRANK_ITERS)
    return (
        ranks.orderBy(F.col("rank_micro").desc(), F.col("node"))
        .limit(_TEXTRANK_TOPK)
        .select(F.col("node").alias("word"), "rank_micro")
    )


def sql_textrank_keywords() -> str:
    from nexus_forge_spark.operators.graph import DAMPING_PCT, PPM

    parts = [
        rf"""WITH base AS (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     t -> length(t) >= {_TEXTRANK_MINLEN}) AS t
  FROM documents
),
pairs AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
  WHERE len(t) >= 2
),
und AS (
  SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
  FROM pairs WHERE w1 <> w2
),
edges AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
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
    for i in range(_TEXTRANK_ITERS):
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
SELECT node AS word, CAST(r AS BIGINT) AS rank_micro
FROM r{_TEXTRANK_ITERS}
ORDER BY r DESC, node
LIMIT {_TEXTRANK_TOPK}"""
    )
    return "".join(parts)


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count-of-counts (operators/text.py
    good_turing_counts): N_r and the adjusted r* in integer ppm over
    the documents BIGRAM universe (sparse enough that GT bites) —
    the unseen-mass / smoothing diagnostic
    read before trusting MLE counts, with the r+1 shift as an
    explicit join so sparse count-of-counts never mis-shift."""
    from nexus_forge_spark.operators.text import good_turing_counts

    return good_turing_counts(load_table(spark, "documents", sf_dir), ngram=2)


def sql_good_turing() -> str:
    from nexus_forge_spark.operators.text import sql_good_turing_counts

    return sql_good_turing_counts("SELECT text FROM documents", ngram=2)


def q_mondrian_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian k-anonymity generalization cells (operators/
    curation.py mondrian_partition, LeFevre ICDE'06 relaxed variant):
    customers partitioned on (acctbal cents, nationkey) by median-
    rank splits of the widest dimension until cells can't split at
    k=50 — the generalization lattice the k_anonymity_audit gate
    would then verify.  Rank splits are total-order deterministic."""
    from nexus_forge_spark.operators.curation import mondrian_partition

    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
        F.col("c_nationkey").cast("long").alias("nation"),
    )
    return mondrian_partition(
        cust, ["bal_cents", "nation"], "c_custkey", k=50, depth=4
    )


def sql_mondrian_cells() -> str:
    from nexus_forge_spark.operators.curation import sql_mondrian_partition

    src = """SELECT c_custkey,
       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
       CAST(c_nationkey AS BIGINT) AS nation
FROM customer"""
    return sql_mondrian_partition(
        src, ["bal_cents", "nation"], "c_custkey", k=50, depth=4
    )


def q_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit (operators/text.py
    source_overlap_matrix): distinct-trigram jaccard for every source
    pair — the measurement decontaminate acts on."""
    from nexus_forge_spark.operators.text import source_overlap_matrix

    return source_overlap_matrix(
        load_table(spark, "documents", sf_dir), shingle_n=3
    )


def sql_contamination_matrix() -> str:
    from nexus_forge_spark.operators.text import sql_source_overlap_matrix

    return sql_source_overlap_matrix(
        "SELECT source, text FROM documents", shingle_n=3
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware split (operators/curation.py leakage_safe_split):
    the verified near-dup pairs from the dedup family become components,
    and the split keys on the CLUSTER canonical — mutants and their
    originals always land on the same side.  Graded against an oracle
    that recomputes components + the same hash split from scratch."""
    from nexus_forge_spark.operators.curation import leakage_safe_split

    docs = _docs_with_mutants(spark, sf_dir)
    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    return leakage_safe_split(docs, pairs, train_pct=80)


def sql_leakage_safe_split() -> str:
    from nexus_forge_spark.operators.sketches import sql_hash60

    bucket = sql_hash60("canonical_id", "split") + " % 100"
    return f"""WITH {_MUTANT_DOCS_SQL},
mapped AS (
  SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id
  FROM docs d LEFT JOIN ({sql_dedup_components()}) c ON c.doc_id = d.doc_id
)
SELECT doc_id, canonical_id,
  CASE WHEN {bucket} < 80 THEN 'train' ELSE 'test' END AS split
FROM mapped"""


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition gate (operators/text.py
    script_profile) over a deterministically multilingualized corpus:
    a hash-selected quarter of docs gains Cyrillic tokens, a quarter
    Han, a quarter a mixed tail — so Latin/Cyrillic/Han/digit/other and
    the dominant-script argmax all carry live signal at sf0.01."""
    from nexus_forge_spark.operators.sketches import hash60
    from nexus_forge_spark.operators.text import script_profile

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    h = F.pmod(hash60(F.col("doc_id"), "scr"), F.lit(4))
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(h == 1, F.lit(" привет мир данные"))
            .when(h == 2, F.lit(" 世界 数据 你好"))
            .when(h == 3, F.lit(" мир 世界 2024"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return script_profile(aug)


def sql_script_mix() -> str:
    from nexus_forge_spark.operators.sketches import sql_hash60
    from nexus_forge_spark.operators.text import sql_script_profile

    h = f"({sql_hash60('doc_id', 'scr')} % 4)"
    src = f"""SELECT doc_id,
  text || CASE {h}
    WHEN 1 THEN ' привет мир данные'
    WHEN 2 THEN ' 世界 数据 你好'
    WHEN 3 THEN ' мир 世界 2024'
    ELSE '' END AS text
FROM documents"""
    return sql_script_profile(src)


_NB_POS_SOURCES = ["src0", "src1", "src2"]


def _nb_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with a REAL class signal: reference-source docs carry a
    distinctive vocabulary tail ('curated reference corpus editorial') on
    a hash-selected 3/4 of rows, and the same tail leaks into a
    hash-selected ~1/8 of the rest — so the classifier must actually
    separate distributions (both predicted classes occur, with errors)
    instead of reading the degenerate prior."""
    from nexus_forge_spark.operators.sketches import hash60

    docs = load_table(spark, "documents", sf_dir)
    is_pos = F.col("source").isin(_NB_POS_SOURCES)
    h = F.pmod(hash60(F.col("doc_id"), "nb"), F.lit(8))
    tail = F.lit(" curated reference corpus editorial")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(is_pos & (h < 6), tail)
            .when(~is_pos & (h == 0), tail)
            .otherwise(F.lit("")),
        ).alias("text"),
        "source",
    )


_NB_DOCS_SQL = """SELECT doc_id,
  text || CASE
    WHEN source IN ('src0', 'src1', 'src2')
         AND ({h}) < 6 THEN ' curated reference corpus editorial'
    WHEN source NOT IN ('src0', 'src1', 'src2')
         AND ({h}) = 0 THEN ' curated reference corpus editorial'
    ELSE '' END AS text,
  source
FROM documents"""


def q_nb_source_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-trained multinomial Naive Bayes (operators/text.py
    naive_bayes_source_scores): docs from the reference sources are the
    positive class; per-doc log-odds in integer micro-nats — the
    CCNet-style quality-classification gate, fully oracle-graded because
    training is pure aggregation."""
    from nexus_forge_spark.operators.text import naive_bayes_source_scores

    return naive_bayes_source_scores(_nb_docs(spark, sf_dir), _NB_POS_SOURCES)


def sql_nb_source_classifier() -> str:
    from nexus_forge_spark.operators.sketches import sql_hash60
    from nexus_forge_spark.operators.text import sql_naive_bayes_source_scores

    src = _NB_DOCS_SQL.format(h=sql_hash60("doc_id", "nb") + " % 8")
    return sql_naive_bayes_source_scores(src, _NB_POS_SOURCES)


def q_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style span-overlap pairs (operators/text.py
    span_overlap_report) over the winnowing fingerprints of the
    mutant-augmented corpus: originals and their first-token-dropped
    mutants share most selected fingerprints, so every planted pair
    must surface with high coverage; template fingerprints beyond the
    hot cap are dropped AND counted."""
    from nexus_forge_spark.operators.text import (
        span_overlap_report,
        winnowing_fingerprints,
    )

    docs = _docs_with_mutants(spark, sf_dir)
    return span_overlap_report(winnowing_fingerprints(docs))


def sql_span_overlap() -> str:
    from nexus_forge_spark.operators.text import (
        sql_span_overlap_report,
        sql_winnowing_fingerprints,
    )

    fps = sql_winnowing_fingerprints(
        f"WITH {_MUTANT_DOCS_SQL} SELECT doc_id, text FROM docs"
    )
    return sql_span_overlap_report(f"({fps})")
