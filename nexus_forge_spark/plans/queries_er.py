"""The er contract-query family (``q_*`` Spark plans, ``sql_*`` DuckDB
oracles), registered by driver_queries.py."""

from nexus_forge_spark.plans._qshared import *  # noqa: F401,F403
from nexus_forge_spark.plans.queries_dedup import q_dedup_minhash, sql_dedup_minhash



def q_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance similarity self-join (PassJoin segment
    pigeonhole, operators/editjoin.py): part names ∪ deterministic typo
    mutants (5th char dropped, ed=1), all unordered pairs with
    levenshtein <= 1.  Candidate generation is ONE equi-join on short
    (len, seg_idx, segment) keys — no cartesian — with JVM threshold-
    levenshtein verification; the oracle is the brute-force length-
    filtered cross join, so any pigeonhole false negative shows up as a
    row-count mismatch."""
    from nexus_forge_spark.operators.editjoin import edit_distance_pairs

    part = load_table(spark, "part", sf_dir).where(
        F.col("p_partkey") <= _EDITJOIN_PART_CAP
    )
    corpus = part.select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    ).unionByName(
        part.select(
            (F.col("p_partkey") + 1000000).alias("id"),
            F.concat(
                F.substring("p_name", 1, 4), F.expr("substring(p_name, 6)")
            ).alias("name"),
        )
    )
    return edit_distance_pairs(corpus, max_dist=1)


def sql_edit_distance_join() -> str:
    return f"""WITH corpus AS (
  SELECT p_partkey AS id, p_name AS name FROM part WHERE p_partkey <= {_EDITJOIN_PART_CAP}
  UNION ALL
  SELECT p_partkey + 1000000, substr(p_name, 1, 4) || substr(p_name, 6)
  FROM part WHERE p_partkey <= {_EDITJOIN_PART_CAP}
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
FROM corpus a JOIN corpus b
  ON a.id < b.id
 AND abs(length(a.name) - length(b.name)) <= 1
 AND levenshtein(a.name, b.name) <= 1"""


def q_snm_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking + verify (operators/blocking.py):
    part names ∪ typo mutants sorted by name, every record paired with
    its 8 successors (exchange-free parallel ranking + one equi-join on
    the block id — no global window, no SinglePartition), verified with
    JVM levenshtein <= 2.  The typo mutants share their original's first
    4 chars, so they sort adjacent and SNM recovers them — the recall
    story the oracle checks pair-for-pair."""
    from nexus_forge_spark.operators.blocking import sorted_neighborhood_pairs

    part = load_table(spark, "part", sf_dir)
    corpus = part.select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    ).unionByName(
        part.select(
            (F.col("p_partkey") + 1000000).alias("id"),
            F.concat(
                F.substring("p_name", 1, 4), F.expr("substring(p_name, 6)")
            ).alias("name"),
        )
    )
    pairs = sorted_neighborhood_pairs(corpus, "id", "name", window=_SNM_WINDOW)
    named = (
        pairs.join(
            corpus.withColumnRenamed("id", "id_a").withColumnRenamed(
                "name", "name_a"
            ),
            "id_a",
        )
        .join(
            corpus.withColumnRenamed("id", "id_b").withColumnRenamed(
                "name", "name_b"
            ),
            "id_b",
        )
    )
    dist = F.levenshtein("name_a", "name_b", 2)
    return (
        named.select(
            "id_a", "id_b", "rn_a", "rn_b", dist.alias("dist")
        )
        .where(F.col("dist") >= 0)
        .select(
            "id_a",
            "id_b",
            F.col("rn_a").cast("long").alias("rn_a"),
            F.col("rn_b").cast("long").alias("rn_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def sql_snm_blocking() -> str:
    return f"""WITH corpus AS (
  SELECT p_partkey AS id, p_name AS name FROM part
  UNION ALL
  SELECT p_partkey + 1000000, substr(p_name, 1, 4) || substr(p_name, 6)
  FROM part
),
ranked AS (
  SELECT id, name, row_number() OVER (ORDER BY name, id) AS rn FROM corpus
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(a.rn AS BIGINT) AS rn_a, CAST(b.rn AS BIGINT) AS rn_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
FROM ranked a JOIN ranked b
  ON b.rn > a.rn AND b.rn <= a.rn + {_SNM_WINDOW}
WHERE levenshtein(a.name, b.name) <= 2"""


def q_er_blocking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality metrics (operators/er.py blocking_metrics) for
    the MinHash+LSH blocker against the planted near-dup ground truth
    (doc, doc+1000000 mutants): reduction ratio (comparison-space
    pruning) and pair completeness (blocker recall) in integer ppm —
    measuring what the losslessness/recall docstrings claim."""
    from nexus_forge_spark.operators.er import blocking_metrics

    cand = q_dedup_minhash(spark, sf_dir).select("a", "b")
    docs = load_table(spark, "documents", sf_dir)
    truth = docs.select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + 1000000).alias("b"),
    )
    n_records = 2 * docs.count()
    return blocking_metrics(cand, truth, n_records)


def sql_er_blocking_metrics() -> str:
    return f"""WITH lsh AS (SELECT a, b FROM ({sql_dedup_minhash()})),
cand AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM lsh WHERE a <> b
),
truth AS (
  SELECT DISTINCT least(doc_id, doc_id + 1000000) AS a,
         greatest(doc_id, doc_id + 1000000) AS b
  FROM documents
),
n AS (SELECT 2 * count(*) AS nr FROM documents),
tp AS (SELECT nr * (nr - 1) // 2 AS total FROM n),
covered AS (
  SELECT c.a, c.b FROM cand c JOIN truth t ON c.a = t.a AND c.b = t.b
),
counts AS (
  SELECT (SELECT count(*) FROM cand) AS n_candidates,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM covered) AS n_truth_covered
)
SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_truth_covered AS BIGINT) AS n_truth_covered,
       CAST(((tp.total - n_candidates) * 1000000) // tp.total AS BIGINT)
         AS reduction_ratio_ppm,
       CAST(CASE WHEN n_truth > 0
            THEN (n_truth_covered * 1000000) // n_truth ELSE 0 END AS BIGINT)
         AS pair_completeness_ppm
FROM counts, tp"""


def q_er_fs_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage decisions (operators/er.py
    fs_classify) over the MinHash+LSH candidate pairs: four agreement
    fields (strong text Jaccard, source, language, 64-char length
    bucket) contribute integer milli-weights and the summed
    log-likelihood score thresholds into match / possible / nonmatch —
    the multi-evidence upgrade of the resolver's single lexical score.
    Scoring is one map-side projection over the blocked pairs; the two
    per-side feature lookups broadcast."""
    from nexus_forge_spark.operators.er import fs_classify

    pairs = q_dedup_minhash(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang"
    )
    texts = _docs_with_mutants(spark, sf_dir).select(
        "doc_id", F.length("text").alias("len")
    )
    feat = (
        texts.withColumn("base_id", F.col("doc_id") % 1000000)
        .join(F.broadcast(docs), F.col("base_id") == docs.doc_id)
        .select(
            texts.doc_id.alias("id"),
            "source",
            "lang",
            F.expr("len div 64").alias("len_bucket"),
        )
    )
    fa = feat.select(
        F.col("id").alias("a"), F.col("source").alias("src_a"),
        F.col("lang").alias("lang_a"), F.col("len_bucket").alias("lb_a"),
    )
    fb = feat.select(
        F.col("id").alias("b"), F.col("source").alias("src_b"),
        F.col("lang").alias("lang_b"), F.col("len_bucket").alias("lb_b"),
    )
    enriched = (
        pairs.join(F.broadcast(fa), "a")
        .join(F.broadcast(fb), "b")
        .select(
            "a",
            "b",
            (F.col("jaccard") >= 0.8).alias("text_strong"),
            (F.col("src_a") == F.col("src_b")).alias("same_source"),
            (F.col("lang_a") == F.col("lang_b")).alias("same_lang"),
            (F.col("lb_a") == F.col("lb_b")).alias("len_bucket_eq"),
        )
    )
    return fs_classify(enriched, _FS_WEIGHTS, _FS_UPPER, _FS_LOWER).select(
        "a", "b", "text_strong", "same_source", "same_lang",
        "len_bucket_eq", "score_milli", "decision",
    )


def sql_er_fs_scores() -> str:
    from nexus_forge_spark.operators.er import sql_fs_classify

    pairs_sql = f"""WITH {_MUTANT_DOCS_SQL},
lsh AS (SELECT * FROM ({sql_dedup_minhash()})),
feat AS (
  SELECT t.doc_id AS id, d.source, d.lang, length(t.text) // 64 AS len_bucket
  FROM docs t JOIN documents d ON t.doc_id % 1000000 = d.doc_id
)
SELECT p.a, p.b,
       p.jaccard >= 0.8 AS text_strong,
       fa.source = fb.source AS same_source,
       fa.lang = fb.lang AS same_lang,
       fa.len_bucket = fb.len_bucket AS len_bucket_eq
FROM lsh p
JOIN feat fa ON p.a = fa.id
JOIN feat fb ON p.b = fb.id"""
    return sql_fs_classify(
        pairs_sql,
        _FS_WEIGHTS,
        _FS_UPPER,
        _FS_LOWER,
        out_cols=[
            "a", "b", "text_strong", "same_source", "same_lang",
            "len_bucket_eq",
        ],
    )


def q_er_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution — the full Fellegi-Sunter pipeline
    composed in ONE plan: MinHash+LSH blocking -> multi-evidence FS
    scoring (q_er_fs_scores) -> 'match' edges -> large-star/small-star
    connected components -> per-cluster golden-record election (majority
    vote, min-value tie-break) over source and lang, plus cluster sizes.
    Every stage is the already-graded operator; this grades their
    composition, the shape a production dedup/ER job actually runs.
    Scale: blocking is the banded equi-join, CC touches match edges
    only, elections are two map-side-combined hash aggregates."""
    scored = q_er_fs_scores(spark, sf_dir)
    edges = scored.where(F.col("decision") == "match").select("a", "b")
    ids = _docs_with_mutants(spark, sf_dir).select(
        F.col("doc_id").alias("entity_id")
    )
    mapping = CC.connected_components(edges, ids)
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang"
    )
    feat = (
        _docs_with_mutants(spark, sf_dir)
        .select(F.col("doc_id").alias("entity_id"))
        .withColumn("base_id", F.col("entity_id") % 1000000)
        .join(F.broadcast(docs), F.col("base_id") == docs.doc_id)
        .select("entity_id", "source", "lang")
    )
    values = feat.select(
        "entity_id", F.lit("source").alias("attr"), F.col("source").alias("value")
    ).unionByName(
        feat.select(
            "entity_id", F.lit("lang").alias("attr"), F.col("lang").alias("value")
        )
    )
    golden = CC.golden_records(values, mapping, attr_col="attr")
    sizes = mapping.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return golden.join(sizes, "canonical_id").select(
        F.col("canonical_id").alias("cluster_id"),
        F.col("n_members").cast("long").alias("n_members"),
        "attr",
        "value",
        F.col("support").cast("long").alias("support"),
    )


def sql_er_resolution() -> str:
    return f"""WITH RECURSIVE scored AS (SELECT * FROM ({sql_er_fs_scores()}) s),
{_MUTANT_DOCS_SQL},
edges AS (
  SELECT a, b FROM scored WHERE decision = 'match'
  UNION SELECT b, a FROM scored WHERE decision = 'match'
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
mapping AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
feat AS (
  SELECT t.doc_id AS id, d.source, d.lang
  FROM docs t JOIN documents d ON t.doc_id % 1000000 = d.doc_id
),
vals AS (
  SELECT m.cluster_id, 'source' AS attr, f.source AS value
  FROM feat f JOIN mapping m ON f.id = m.id
  UNION ALL
  SELECT m.cluster_id, 'lang' AS attr, f.lang AS value
  FROM feat f JOIN mapping m ON f.id = m.id
),
counted AS (
  SELECT cluster_id, attr, value, CAST(count(*) AS BIGINT) AS cnt
  FROM vals GROUP BY cluster_id, attr, value
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id, attr ORDER BY cnt DESC, value) AS rn
  FROM counted
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
  FROM mapping GROUP BY cluster_id
)
SELECT r.cluster_id, s.n_members, r.attr, r.value, r.cnt AS support
FROM ranked r JOIN sizes s USING (cluster_id) WHERE rn = 1"""


def q_soundex_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking profile (er.py soundex_code, implemented from
    scratch backref-free so RE2 runs the identical chain): soundex key
    per part-name word, per-key block sizes + distinct spellings — the
    classic cheap ER blocker for misspelled names, and this report is
    its block-size skew audit.  Map-side key + one hash agg."""
    from nexus_forge_spark.operators.er import soundex_code

    words = (
        load_table(spark, "part", sf_dir)
        .select(F.explode(F.split(F.col("p_name"), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    return (
        words.select(soundex_code(F.col("w")).alias("code"), "w")
        .where(F.col("code").isNotNull())
        .groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.countDistinct("w").cast("long").alias("n_spellings"),
            F.min("w").alias("example"),
        )
    )


def sql_soundex_blocks() -> str:
    from nexus_forge_spark.operators.er import sql_soundex_code

    code = sql_soundex_code("w")
    return f"""WITH words AS (
  SELECT unnest(string_split(p_name, ' ')) AS w FROM part
),
coded AS (
  SELECT {code} AS code, w FROM words WHERE w <> ''
)
SELECT code, CAST(count(*) AS BIGINT) AS n_words,
  CAST(count(DISTINCT w) AS BIGINT) AS n_spellings,
  min(w) AS example
FROM coded WHERE code IS NOT NULL GROUP BY code"""


def q_er_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep (er.py pr_curve) for the Fellegi-Sunter scorer
    against the planted mutant ground truth: precision/recall/F1 in
    integer ppm at every distinct score — the evidence-based way to set
    the match threshold.  Recall counts blocker-missed truth pairs, so
    the curve is honest about the full pipeline, not just the scorer.
    The cumulative sweep windows over the DISTINCT-SCORE table only."""
    from nexus_forge_spark.operators.er import pr_curve

    scored = q_er_fs_scores(spark, sf_dir).select("a", "b", "score_milli")
    docs = load_table(spark, "documents", sf_dir)
    truth = docs.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1000000).alias("b")
    )
    return pr_curve(scored, truth)


def sql_er_pr_curve() -> str:
    return f"""WITH fs AS (SELECT a, b, score_milli FROM ({sql_er_fs_scores()})),
truth AS (
  SELECT DISTINCT least(doc_id, doc_id + 1000000) AS ta,
         greatest(doc_id, doc_id + 1000000) AS tb
  FROM documents
),
npos AS (SELECT count(*) AS np FROM truth),
pairs AS (
  SELECT least(a, b) AS pa, greatest(a, b) AS pb, max(score_milli) AS s
  FROM fs GROUP BY least(a, b), greatest(a, b)
),
labeled AS (
  SELECT p.s,
    CASE WHEN t.ta IS NOT NULL THEN 1 ELSE 0 END AS pos
  FROM pairs p LEFT JOIN truth t ON p.pa = t.ta AND p.pb = t.tb
),
per AS (
  SELECT s, sum(pos) AS np_s, sum(1 - pos) AS nn FROM labeled GROUP BY s
),
cum AS (
  SELECT s AS threshold,
    CAST(sum(np_s) OVER w AS BIGINT) AS tp,
    CAST(sum(nn) OVER w AS BIGINT) AS fp
  FROM per
  WINDOW w AS (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pr AS (
  SELECT threshold, tp, fp, CAST(n.np - tp AS BIGINT) AS fn,
    CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS prec_ppm,
    CAST(tp * 1000000 // n.np AS BIGINT) AS rec_ppm
  FROM cum, npos n
)
SELECT *,
  CAST(CASE WHEN prec_ppm + rec_ppm = 0 THEN 0
       ELSE 2 * prec_ppm * rec_ppm // (prec_ppm + rec_ppm) END AS BIGINT)
    AS f1_ppm
FROM pr"""


def q_er_em_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised Fellegi-Sunter EM (operators/er.py em_fs_train,
    Splink-style): learn m/u/lambda in exact integer ppm from the SAME
    unlabeled blocked pairs er_fs_scores hand-weights, then score every
    pair with the learned posterior.  Two EM rounds = two map-side
    aggregates over a localCheckpointed gamma table (the LSH blocker
    runs once, not once per round); the M-step is driver-side exact
    integer division on a single collected row, so the whole fit adds
    zero data shuffles to the blocking cost at any scale."""
    from nexus_forge_spark.operators.er import em_fs_train

    gammas = q_er_fs_scores(spark, sf_dir).select("a", "b", *_EM_FS_GAMMAS)
    out, _params = em_fs_train(gammas, _EM_FS_GAMMAS, rounds=2)
    return out


def sql_er_em_fs() -> str:
    from nexus_forge_spark.operators.er import sql_em_fs_train

    return sql_em_fs_train(
        f"SELECT * FROM ({sql_er_fs_scores()})", _EM_FS_GAMMAS, rounds=2
    )


def q_er_meta_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking with Weighted Node Pruning (operators/blocking.py
    meta_blocking_wnp): four redundancy-positive blocking schemes over
    parts (name adjective, name noun, brand|type, size-decade) feed the
    CBS comparison graph; size-decade blocks exceed max_block and are
    PURGED, and WNP keeps only pairs at or above their endpoints' mean
    edge weight — the standard ER answer to quadratic block cost."""
    from nexus_forge_spark.operators.blocking import meta_blocking_wnp

    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    )
    ent = F.concat(F.lit("part:"), F.col("p_partkey").cast("string"))
    words = F.split(F.col("p_name"), " ")
    assigns = (
        part.select(ent.alias("entity"), F.concat(F.lit("w1:"), words[0]).alias("block"))
        .unionByName(
            part.select(ent.alias("entity"), F.concat(F.lit("w2:"), words[1]).alias("block"))
        )
        .unionByName(
            part.select(
                ent.alias("entity"),
                F.concat(F.lit("bt:"), F.col("p_brand"), F.lit("|"), F.col("p_type")).alias("block"),
            )
        )
        .unionByName(
            part.select(
                ent.alias("entity"),
                F.concat(F.lit("sz:"), F.expr("p_size DIV 10").cast("string")).alias("block"),
            )
        )
    )
    return meta_blocking_wnp(assigns, max_block=256)


def sql_er_meta_blocking() -> str:
    from nexus_forge_spark.operators.blocking import sql_meta_blocking_wnp

    assigns = """SELECT 'part:' || p_partkey AS entity,
       'w1:' || string_split(p_name, ' ')[1] AS block FROM part
UNION ALL
SELECT 'part:' || p_partkey, 'w2:' || string_split(p_name, ' ')[2] FROM part
UNION ALL
SELECT 'part:' || p_partkey, 'bt:' || p_brand || '|' || p_type FROM part
UNION ALL
SELECT 'part:' || p_partkey, 'sz:' || CAST(p_size // 10 AS VARCHAR) FROM part"""
    return sql_meta_blocking_wnp(assigns, max_block=256)


def q_er_one_to_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed greedy 1-1 assignment (operators/er.py
    one_to_one_matching, Preis local-max matching): the FS-scored
    near-dup candidate pairs resolve into a non-conflicting one-to-one
    pairing — each round two window-free argmax aggregates lock the
    locally heaviest edges, fixed 4 rounds on both engines.  The
    textbook greedy is a sequential scan of a globally sorted edge
    list; this is its order-free distributed equivalent."""
    from nexus_forge_spark.operators.er import one_to_one_matching

    edges = q_er_fs_scores(spark, sf_dir).select("a", "b", F.col("score_milli").alias("score"))
    return one_to_one_matching(edges, rounds=4)


def sql_er_one_to_one() -> str:
    from nexus_forge_spark.operators.er import sql_one_to_one_matching

    return sql_one_to_one_matching(
        f"SELECT a, b, score_milli AS score FROM ({sql_er_fs_scores()})", rounds=4
    )


def q_er_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed cluster-level ER evaluation (operators/er.py
    bcubed_metrics): the end-to-end FS pipeline's connected components
    scored against the planted truth (base_id = entity_id % 1e6) —
    per-item precision/recall averaged via pure (pred, truth) CELL
    algebra, so the evaluation costs one cells aggregate regardless of
    corpus size.  Complements the pairwise er_pr_curve."""
    from nexus_forge_spark.operators.er import bcubed_metrics

    scored = q_er_fs_scores(spark, sf_dir)
    edges = scored.where(F.col("decision") == "match").select("a", "b")
    ids = _docs_with_mutants(spark, sf_dir).select(F.col("doc_id").alias("entity_id"))
    mapping = CC.connected_components(edges, ids)
    assigns = mapping.select(
        F.col("entity_id").alias("item"),
        F.col("canonical_id").alias("pred_cluster"),
        (F.col("entity_id") % 1000000).alias("true_cluster"),
    )
    return bcubed_metrics(assigns)


def sql_er_bcubed() -> str:
    from nexus_forge_spark.operators.er import sql_bcubed_metrics

    assigns = f"""WITH RECURSIVE scored AS (SELECT * FROM ({sql_er_fs_scores()}) s),
{_MUTANT_DOCS_SQL},
edges AS (
  SELECT a, b FROM scored WHERE decision = 'match'
  UNION SELECT b, a FROM scored WHERE decision = 'match'
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
mapping AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT id AS item, cluster_id AS pred_cluster, id % 1000000 AS true_cluster
FROM mapping"""
    return sql_bcubed_metrics(assigns)


def q_er_muc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUC link-based coreference score (operators/er.py muc_metrics)
    of the same FS-pipeline clustering er_bcubed grades — the standard
    two-metric coref protocol (MUC counts minimum link edits and
    ignores singletons; B-cubed prices them), both pure (pred, truth)
    cell algebra."""
    from nexus_forge_spark.operators.er import muc_metrics

    scored = q_er_fs_scores(spark, sf_dir)
    edges = scored.where(F.col("decision") == "match").select("a", "b")
    ids = _docs_with_mutants(spark, sf_dir).select(F.col("doc_id").alias("entity_id"))
    mapping = CC.connected_components(edges, ids)
    assigns = mapping.select(
        F.col("entity_id").alias("item"),
        F.col("canonical_id").alias("pred_cluster"),
        (F.col("entity_id") % 1000000).alias("true_cluster"),
    )
    return muc_metrics(assigns)


def sql_er_muc() -> str:
    from nexus_forge_spark.operators.er import sql_muc_metrics

    assigns = f"""WITH RECURSIVE scored AS (SELECT * FROM ({sql_er_fs_scores()}) s),
{_MUTANT_DOCS_SQL},
edges AS (
  SELECT a, b FROM scored WHERE decision = 'match'
  UNION SELECT b, a FROM scored WHERE decision = 'match'
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
mapping AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT id AS item, cluster_id AS pred_cluster, id % 1000000 AS true_cluster
FROM mapping"""
    return sql_muc_metrics(assigns)


def q_er_em_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (operators/er.py calibration_bins) for the
    EM-learned Fellegi-Sunter posterior: decile buckets of w_ppm vs the
    observed planted-duplicate rate — the check that the unsupervised
    fit is CALIBRATED before its threshold drives merges.  One
    broadcast truth join + one bucket aggregate over the scored
    pairs."""
    from nexus_forge_spark.operators.er import calibration_bins

    scored = q_er_em_fs(spark, sf_dir).select("a", "b", "w_ppm")
    docs = load_table(spark, "documents", sf_dir)
    truth = docs.select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1000000).alias("b")
    )
    return calibration_bins(scored, truth, bins=10)


def sql_er_em_calibration() -> str:
    from nexus_forge_spark.operators.er import sql_calibration_bins

    scored = f"SELECT a, b, w_ppm FROM ({sql_er_em_fs()})"
    truth = "SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents"
    return sql_calibration_bins(scored, truth, bins=10)


def q_er_clerical_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Fellegi-Sunter CLERICAL band (the third decision region of
    the 1969 model beside match/non-match): pairs whose EM-learned
    posterior lands between the two thresholds get queued for human
    review, hardest-first (closest to the 500000 ppm boundary, ties
    on the pair id) — the review-queue selection every production
    linkage runs.  Pure composition over er_em_fs; top-k via
    TakeOrderedAndProject, no global sort."""
    scored = q_er_em_fs(spark, sf_dir).select("a", "b", "w_ppm")
    band = scored.where(
        (F.col("w_ppm") >= _CLERICAL_LO) & (F.col("w_ppm") <= _CLERICAL_HI)
    )
    return (
        band.withColumn(
            "uncertainty", F.abs(F.col("w_ppm") - F.lit(500_000)).cast("long")
        )
        .orderBy("uncertainty", "a", "b")
        .limit(_CLERICAL_K)
    )


def sql_er_clerical_queue() -> str:
    return f"""SELECT a, b, w_ppm,
       CAST(abs(w_ppm - 500000) AS BIGINT) AS uncertainty
FROM ({sql_er_em_fs()})
WHERE w_ppm BETWEEN {_CLERICAL_LO} AND {_CLERICAL_HI}
ORDER BY uncertainty, a, b
LIMIT {_CLERICAL_K}"""


_DS_WORKERS = 7


def _ds_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic annotation table: 7 workers label orders with
    'is fulfilled' (truth = o_orderstatus = 'F'), each covering a
    hash-selected ~4/5 of items and flipping the truth with a
    worker-specific error rate (5%..41%) — the standard crowd-label
    test bed, fully deterministic."""
    from nexus_forge_spark.operators.sketches import hash60

    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("item"),
        (F.col("o_orderstatus") == "F").cast("int").alias("truth"),
    )
    wk = spark.range(_DS_WORKERS).select(F.col("id").cast("int").alias("worker"))
    j = orders.crossJoin(F.broadcast(wk))
    keyed = j.select(
        "item",
        "worker",
        "truth",
        F.pmod(
            hash60(F.concat_ws(":", "item", "worker"), "dslab"), F.lit(1000)
        ).alias("h"),
    )
    return keyed.where(F.col("h") % 5 != 0).select(
        "item",
        "worker",
        F.when(
            F.col("h") < 50 + 60 * F.col("worker"),
            1 - F.col("truth"),
        )
        .otherwise(F.col("truth"))
        .alias("label"),
    )


_DS_LABELS_SQL = """SELECT item, worker,
  CASE WHEN h < 50 + 60 * worker THEN 1 - truth ELSE truth END AS label
FROM (
  SELECT o.o_orderkey AS item, w.worker,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS truth,
         ({h}) AS h
  FROM orders o
  CROSS JOIN (SELECT unnest(generate_series(0, {n})) AS worker) w
)
WHERE h % 5 <> 0"""


def q_dawid_skene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crowd-label aggregation (operators/curation.py
    dawid_skene_labels): hard-EM Dawid-Skene over 7 deterministic noisy
    annotators — worker confusions and item posteriors refine each
    other for 4 fixed rounds, all in integer micro-nat log-odds."""
    from nexus_forge_spark.operators.curation import dawid_skene_labels

    return dawid_skene_labels(_ds_labels(spark, sf_dir))


def sql_dawid_skene() -> str:
    from nexus_forge_spark.operators.curation import sql_dawid_skene_labels
    from nexus_forge_spark.operators.sketches import sql_hash60

    src = _DS_LABELS_SQL.format(
        h=sql_hash60(
            "CAST(o.o_orderkey AS VARCHAR) || ':' || CAST(w.worker AS VARCHAR)",
            "dslab",
        )
        + " % 1000",
        n=_DS_WORKERS - 1,
    )
    return sql_dawid_skene_labels(src)
