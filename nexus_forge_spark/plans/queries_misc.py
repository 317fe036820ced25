"""The misc contract-query family (``q_*`` Spark plans, ``sql_*`` DuckDB
oracles), registered by driver_queries.py."""

from nexus_forge_spark.plans._qshared import *  # noqa: F401,F403
from nexus_forge_spark.plans.queries_dedup import q_dedup_minhash, sql_dedup_components



# -------------------------------------------------------- relational queries

def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice — the reference's
    top-k-candidates-per-mention shape (SURVEY.md §2.6) on relational data."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def sql_window_topk() -> str:
    return """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
  FROM orders
) WHERE rn <= 3"""


def q_groupagg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape in integral cents (BIGINT) so no decimal/float
    representation choice exists anywhere for a result normalizer to
    diverge on: per-row round(x*100) is exact (sources carry 2-dp values),
    sums are 64-bit integer adds on both Spark and the DuckDB oracle."""
    li = load_table(spark, "lineitem", sf_dir)
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty_cents"),
            F.sum(price_c).alias("sum_base_price_cents"),
            # price_cents * (100 - disc_cents) is in units of 1e-4 currency.
            F.sum(price_c * (F.lit(100) - disc_c)).alias("sum_disc_price_e4"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def sql_groupagg_lineitem() -> str:
    return """SELECT l_returnflag, l_linestatus,
  sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qty_cents,
  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_base_price_cents,
  sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS sum_disc_price_e4,
  count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""


def q_es_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """forge.elastic with a real ES search body (S4/S6): bool query with
    filter/must/must_not/should+minimum_should_match over the customer
    index, wildcard/prefix/match_phrase text clauses, sort + from/size
    pagination, _source projection.  The compiled plan is a single pruned
    parquet scan with every pushable predicate pushed."""
    from nexus_forge_spark.forge import SparkForge, SparkForgeConfig

    forge = SparkForge(spark, SparkForgeConfig())
    return forge.elastic(ES_SEARCH_BODY, index=load_table(spark, "customer", sf_dir))


def sql_es_search() -> str:
    return """SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_acctbal >= 1000 AND c_acctbal < 9000
  AND c_mktsegment IN ('BUILDING', 'MACHINERY')
  AND c_name LIKE 'Customer#%1%'
  AND NOT coalesce(c_nationkey = 7, FALSE)
  AND ((CASE WHEN starts_with(c_name, 'Customer#0000001') THEN 1 ELSE 0 END)
     + (CASE WHEN contains(lower(c_mktsegment), 'ing') THEN 1 ELSE 0 END)) >= 1
ORDER BY c_custkey LIMIT 50 OFFSET 10"""





def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (§2.6, read_only_store.py:33-34 defaults
    limit=100 offset=0): deterministic order + apply_filters paging —
    page 3 of the purchase events by event_id."""
    from nexus_forge_spark.operators.search import apply_filters, paths

    ev = load_table(spark, "events", sf_dir).orderBy("event_id")
    return apply_filters(
        ev, paths().event_type == "purchase", limit=100, offset=200
    ).select("event_id", "user_id", "event_type")


def sql_limit_offset() -> str:
    return """SELECT event_id, user_id, event_type
FROM events WHERE event_type = 'purchase'
ORDER BY event_id LIMIT 100 OFFSET 200"""


def q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: local-supplier revenue per nation for
    one region and one order-date year (1996 — the synthetic tables span 1995-2001), in integral e4 units — the
    classic multi-join the optimizer must plan as broadcast-dim hash
    joins with the date filter pushed to the orders scan (plan-health
    test pins no SortMergeJoin on the dim edges and PushedFilters
    present).  The customer-nation == supplier-nation equality rides the
    join keys, not a post-filter."""
    region = load_table(spark, "region", sf_dir).where(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, "nation", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(price_c * (F.lit(100) - disc_c)).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue_e4").desc(), "n_name")
    )


def sql_star_join_revenue() -> str:
    return """SELECT n_name,
  sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS revenue_e4,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue_e4 DESC, n_name"""


def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus percentiles of per-doc token counts with NO
    single-reducer sort and NO sketch error (operators/ranking.py):
    global_row_numbers ranks in parallel, then a broadcast join picks the
    integer-exact target ranks ``(p*n + 99) // 100`` — the float-ceil
    formulation mis-rounds at representable boundaries, so both engines
    use the same integer arithmetic."""
    from nexus_forge_spark.operators.ranking import exact_percentiles
    from nexus_forge_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf_dir).select(
        token_count(F.col("text")).cast("long").alias("v")
    )
    return exact_percentiles(docs, "v", _PCTS)


def sql_exact_percentiles() -> str:
    values = ",".join(f"({p})" for p in _PCTS)
    return rf"""WITH t AS (
  SELECT CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS v
  FROM documents
),
r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n FROM t)
SELECT CAST(p AS INT) AS p, v AS value
FROM r JOIN (VALUES {values}) qs(p) ON rn = GREATEST(1, (p * n + 99) // 100)
ORDER BY p"""


def q_global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global row numbers WITHOUT the Exchange-SinglePartition trap
    (operators/ranking.py): range partition on the order keys, map-side
    pid/mid tagging, one one-row-per-partition stats agg, broadcast
    offsets back.  The oracle is the naive global window — identical
    output, but the Spark plan stays fully parallel (plan-health test
    pins SinglePartition absent)."""
    from nexus_forge_spark.operators.ranking import global_row_numbers

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("int").alias("n_chars"),
    )
    return global_row_numbers(docs, ["n_chars", "doc_id"])


def sql_global_row_number() -> str:
    return """SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(row_number() OVER (ORDER BY length(text), doc_id) AS BIGINT) AS rn
FROM documents"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-bigram cardinality via mergeable HyperLogLog
    registers (operators/sketches.py).  At 100 TB the sketch (2^p rows per
    group) map-side combines, so the shuffle carries kilobytes where exact
    COUNT(DISTINCT) would shuffle the full vocabulary.  The estimate stays
    engine-exact: integral harmonic numerator + one IEEE multiply/divide
    chain (no transcendentals)."""
    from nexus_forge_spark.operators import sketches as SK

    regs = SK.hll_sketch(_bigram_tokens(spark, sf_dir), "tok", ["lang"], precision=7)
    return SK.hll_estimate(regs, ["lang"], precision=7)


def sql_hll_distinct() -> str:
    from nexus_forge_spark.operators import sketches as SK

    inner = (
        "SELECT lang, toks[i] || ' ' || toks[i+1] AS tok "
        "FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents), "
        "LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)"
    )
    return SK.sql_hll_estimate(inner, "tok", ["lang"], precision=7)


def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimation from two KMV signatures: original docs vs
    their near-dup mutants, over word-bigram sets.  Each side reduces to k
    minimum hashes (mergeable bottom-k); the Jaccard estimate is the
    fraction of the union's k least hashes present in both — constant-size
    state however large either corpus is."""
    from nexus_forge_spark.operators import sketches as SK

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    mutants = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+\s*", "").alias("text"),
    )

    def grams(frame: DataFrame) -> DataFrame:
        return frame.select(F.split("text", " ").alias("t")).select(
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                    " (a, b) -> concat(a, ' ', b))"
                )
            ).alias("tok")
        )

    sig_a = SK.kmv_signature(grams(docs), "tok", k=_KMV_K, salt="kmv")
    sig_b = SK.kmv_signature(grams(mutants), "tok", k=_KMV_K, salt="kmv")
    return SK.kmv_jaccard(sig_a, sig_b, k=_KMV_K)


def sql_kmv_jaccard() -> str:
    from nexus_forge_spark.operators.sketches import sql_hash60

    k = _KMV_K
    h = sql_hash60("toks[i] || ' ' || toks[i+1]", "kmv")
    return f"""WITH sides AS (
  SELECT 'a' AS side, text FROM documents
  UNION ALL
  SELECT 'b' AS side, regexp_replace(text, '^\\S+\\s*', '') AS text FROM documents
),
hashes AS (
  SELECT DISTINCT side, {h} AS h
  FROM (SELECT side, string_split(text, ' ') AS toks FROM sides),
       LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
),
sig AS (
  SELECT side, h FROM (
    SELECT side, h, row_number() OVER (PARTITION BY side ORDER BY h) AS rank
    FROM hashes
  ) WHERE rank <= {k}
),
u AS (
  SELECT h, max(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS in_b
  FROM sig GROUP BY h
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (ORDER BY h) AS rank FROM u
  ) WHERE rank <= {k}
)
SELECT CAST(count(*) AS BIGINT) AS k_used,
  CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
  CAST(floor(CAST(sum(in_a * in_b) * 1000000 AS BIGINT)
       / CAST(count(*) AS DOUBLE)) AS BIGINT) AS jaccard_ppm
FROM topk"""


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountMin heavy hitters: estimate the frequency of the exact top-20
    tokens from a d x w counter sketch (depth 4, width 256 — 1024 BIGINTs
    total, sum-mergeable across batches).  The candidate probe broadcasts
    the sketch, so the big side never shuffles.  cms_est >= exact_cnt by
    construction (one-sided error)."""
    from pyspark.sql import Window

    from nexus_forge_spark.operators import sketches as SK

    toks = (
        load_table(spark, "documents", sf_dir)
        .select(F.explode(F.split("text", " ")).alias("token"))
    )
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    win = Window.orderBy(F.col("exact_cnt").desc(), F.col("token"))
    top = (
        exact.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= _CMS_TOPN)
        .select("token", "exact_cnt", "rank")
    )
    sketch = SK.countmin_sketch(
        toks, "token", depth=_CMS_DEPTH, width=_CMS_WIDTH, salt="cms"
    )
    est = SK.countmin_lookup(
        sketch, top.select("token"), "token",
        depth=_CMS_DEPTH, width=_CMS_WIDTH, salt="cms",
    )
    return top.join(est, "token").select(
        F.col("rank").cast("int").alias("rank"),
        "token",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
    )


def sql_cms_heavy_hitters() -> str:
    from nexus_forge_spark.operators.sketches import sql_hash60

    d, w, n = _CMS_DEPTH, _CMS_WIDTH, _CMS_TOPN
    bucket = sql_hash60("token || '#' || CAST(row AS VARCHAR)", "cms")
    return f"""WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY token
),
top AS (
  SELECT * FROM (
    SELECT token, exact_cnt,
           CAST(row_number() OVER (ORDER BY exact_cnt DESC, token) AS INT) AS rank
    FROM exact
  ) WHERE rank <= {n}
),
cells AS (
  SELECT row, CAST({bucket} % {w} AS INT) AS col, count(*) AS cnt
  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, {d - 1})) AS row)
  GROUP BY row, col
),
probes AS (
  SELECT t.token, r.row, CAST({sql_hash60("t.token || '#' || CAST(r.row AS VARCHAR)", "cms")} % {w} AS INT) AS col
  FROM top t CROSS JOIN (SELECT unnest(generate_series(0, {d - 1})) AS row) r
)
SELECT t.rank, t.token, t.exact_cnt,
  CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
FROM top t JOIN probes p ON p.token = t.token
LEFT JOIN cells c ON c.row = p.row AND c.col = p.col
GROUP BY t.rank, t.token, t.exact_cnt"""


def q_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: near-dup clusters (MinHash+LSH -> verify ->
    connected components) + per-doc quality score (token count), then
    keep-best election per cluster (max score, tie -> min doc_id) via one
    min_by hash agg — the keep-the-best-copy loop a real training
    pipeline runs instead of keep-min-id.  Mutants have their first token
    dropped, so the original wins every mixed cluster; singletons keep
    themselves."""
    from nexus_forge_spark.operators.canonicalize import connected_components
    from nexus_forge_spark.operators.curation import (
        elect_cluster_representatives,
    )
    from nexus_forge_spark.operators.text import token_count

    docs = _docs_with_mutants(spark, sf_dir)
    pairs = q_dedup_minhash(spark, sf_dir).select("a", "b")
    comp = connected_components(pairs)
    scored = (
        docs.select(
            "doc_id", token_count(F.col("text")).cast("long").alias("score")
        )
        .join(
            comp.select(
                F.col("entity_id").alias("doc_id"), "canonical_id"
            ),
            "doc_id",
            "left",
        )
        .withColumn(
            "cluster_id", F.coalesce("canonical_id", "doc_id")
        )
        .drop("canonical_id")
    )
    out = elect_cluster_representatives(scored, "doc_id", "cluster_id", "score")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("score").cast("long").alias("score"),
        "keep",
    )


def sql_quality_dedup() -> str:
    return f"""WITH {_MUTANT_DOCS_SQL},
comp AS ({sql_dedup_components()}),
scored AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS score
  FROM docs
),
clustered AS (
  SELECT s.doc_id, coalesce(c.canonical_id, s.doc_id) AS cluster_id, s.score
  FROM scored s LEFT JOIN comp c ON c.doc_id = s.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id AS rep,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY score DESC, doc_id) AS rk
  FROM clustered
)
SELECT c.doc_id, c.cluster_id, c.score, (c.doc_id = r.rep) AS keep
FROM clustered c
JOIN (SELECT cluster_id, rep FROM ranked WHERE rk = 1) r USING (cluster_id)"""


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership filter (operators/sketches.py): build the packed
    63-bit word table over the distinct tokens of 'en' docs, probe the
    distinct 'de' tokens plus guaranteed-absent mutants.  Membership is
    the fourth mergeable-sketch axis (HLL=cardinality, KMV=similarity,
    CMS=frequency): bit_or partial-combines map-side, the probe
    broadcasts the word table so the candidate side never shuffles, and
    truly_present pins the no-false-negative contract row by row."""
    from nexus_forge_spark.operators import sketches as SK

    docs = load_table(spark, "documents", sf_dir)

    def toks(lang: str) -> DataFrame:
        return (
            docs.where(F.col("lang") == lang)
            .select(F.explode(F.split("text", " ")).alias("token"))
            .distinct()
        )

    en, de = toks("en"), toks("de")
    probes = de.unionByName(
        de.select(F.concat(F.col("token"), F.lit("~q")).alias("token"))
    )
    sketch = SK.bloom_sketch(
        en, "token", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K, salt="bloomq"
    )
    hits = SK.bloom_probe(
        sketch, probes, "token", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K, salt="bloomq"
    )
    return hits.join(
        en.withColumn("truly_present", F.lit(True)), "token", "left"
    ).select(
        "token",
        "maybe_present",
        F.coalesce("truly_present", F.lit(False)).alias("truly_present"),
    )


def sql_bloom_membership() -> str:
    from nexus_forge_spark.operators.sketches import sql_bloom_probe

    en = ("SELECT DISTINCT unnest(string_split(text, ' ')) AS token "
          "FROM documents WHERE lang = 'en'")
    de = ("SELECT DISTINCT unnest(string_split(text, ' ')) AS token "
          "FROM documents WHERE lang = 'de'")
    probe = f"SELECT token FROM ({de}) UNION SELECT token || '~q' FROM ({de})"
    inner = sql_bloom_probe(
        en, probe, "token", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K, salt="bloomq"
    )
    return f"""WITH res AS ({inner}), en AS ({en})
SELECT res.v AS token, res.maybe_present,
  (en.token IS NOT NULL) AS truly_present
FROM res LEFT JOIN en ON en.token = res.v"""


def q_profile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column data-quality profile of the customer table —
    nulls, exact distincts, min/max — all columns in ONE aggregation
    (multiple exact count_distincts plan as a single Expand scan), then
    unpivoted to long format with stack.  The ingestion quick-look every
    100 TB pipeline runs before trusting its input."""
    from nexus_forge_spark.operators.profile import profile_table

    cust = load_table(spark, "customer", sf_dir)
    return profile_table(
        cust, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    ).orderBy("column")


def sql_profile_customers() -> str:
    parts = []
    for c in ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]:
        parts.append(
            f"""SELECT '{c}' AS "column",
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
  CAST(min({c}) AS VARCHAR) AS min_value,
  CAST(max({c}) AS VARCHAR) AS max_value
FROM customer"""
        )
    return "\nUNION ALL\n".join(parts)


def q_histogram_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width histogram of customer account balances in integer
    cent bins: floor(x*100) scaling (IEEE-identical cross-engine) and
    truncating-integer bin assignment, so every bin edge and count is
    engine-exact — the float (v-lo)/width formulation mis-bins at
    representable boundaries (ADVICE-r1 PPJoin ceil class)."""
    from nexus_forge_spark.operators.profile import numeric_histogram

    cust = load_table(spark, "customer", sf_dir)
    return numeric_histogram(cust, "c_acctbal", bins=HIST_BINS, scale=100)


def sql_histogram_acctbal() -> str:
    b = HIST_BINS
    return rf"""WITH s AS (
  SELECT CAST(floor(c_acctbal * 100) AS BIGINT) AS v
  FROM customer WHERE c_acctbal IS NOT NULL
),
m AS (SELECT min(v) AS lo, max(v) - min(v) + 1 AS span FROM s),
assigned AS (
  SELECT least({b - 1}, ((v - lo) * {b}) // span) AS bin FROM s, m
),
c AS (SELECT bin, count(*) AS n FROM assigned GROUP BY bin),
g AS (SELECT unnest(range({b})) AS bin)
SELECT CAST(g.bin AS INT) AS bin,
  CAST(lo + (g.bin * span) // {b} AS BIGINT) AS lo_scaled,
  CAST(lo + ((g.bin + 1) * span) // {b} AS BIGINT) AS hi_scaled,
  CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM g CROSS JOIN m LEFT JOIN c ON c.bin = g.bin"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout statistics over lineitem (l_partkey,
    l_suppkey): both keys normalize to 16 bits with exact integer
    arithmetic, interleave into one z-code (a single codegen
    projection), and the top 8 bits bucket rows into 256 quadtree
    cells.  Per-cell min/max EXTENTS on BOTH raw keys are the payoff
    being demonstrated: range-partitioning a 100 TB table on this
    z-code bounds both dimensions per file, so parquet/Iceberg min-max
    stats prune two-dimensional filters — sort on one key and the other
    key's extent per file is the full domain.  The DuckDB oracle runs
    the identical interleave expression."""
    from nexus_forge_spark.functions.layout import morton_code, normalize_to_bits

    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    mm = li.agg(
        F.min("l_partkey").alias("xlo"),
        (F.max("l_partkey") - F.min("l_partkey") + 1).alias("xspan"),
        F.min("l_suppkey").alias("ylo"),
        (F.max("l_suppkey") - F.min("l_suppkey") + 1).alias("yspan"),
    ).collect()[0]
    x = normalize_to_bits(F.col("l_partkey"), mm["xlo"], mm["xspan"], ZORDER_BITS)
    y = normalize_to_bits(F.col("l_suppkey"), mm["ylo"], mm["yspan"], ZORDER_BITS)
    z = morton_code(x, y, ZORDER_BITS)
    return (
        li.select(
            "l_partkey",
            "l_suppkey",
            F.shiftrightunsigned(z, ZORDER_BUCKET_SHIFT).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.max("l_partkey") - F.min("l_partkey")).cast("long").alias("x_span"),
            (F.max("l_suppkey") - F.min("l_suppkey")).cast("long").alias("y_span"),
        )
        .orderBy("bucket")
    )


def sql_zorder_layout() -> str:
    from nexus_forge_spark.functions.layout import morton_sql, normalize_sql

    xn = normalize_sql("l_partkey", "m.xlo", "m.xspan", ZORDER_BITS)
    yn = normalize_sql("l_suppkey", "m.ylo", "m.yspan", ZORDER_BITS)
    return rf"""WITH m AS (
  SELECT min(l_partkey) AS xlo,
         max(l_partkey) - min(l_partkey) + 1 AS xspan,
         min(l_suppkey) AS ylo,
         max(l_suppkey) - min(l_suppkey) + 1 AS yspan
  FROM lineitem
),
coded AS (
  SELECT l_partkey, l_suppkey,
    {morton_sql(f"({xn})", f"({yn})", ZORDER_BITS)} >> {ZORDER_BUCKET_SHIFT}
      AS bucket
  FROM lineitem CROSS JOIN m
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
  CAST(max(l_partkey) - min(l_partkey) AS BIGINT) AS x_span,
  CAST(max(l_suppkey) - min(l_suppkey) AS BIGINT) AS y_span
FROM coded GROUP BY bucket"""


def q_equidepth_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram (operators/profile.py
    equidepth_histogram): 8 equal-frequency buckets over customer
    balances via the exchange-free parallel ranking — ntile semantics
    ((rn-1)*k div n) without the Exchange SinglePartition that a global
    window would plan."""
    from nexus_forge_spark.operators.profile import equidepth_histogram

    cust = load_table(spark, "customer", sf_dir)
    return equidepth_histogram(cust, "c_acctbal", buckets=_EQD_BUCKETS, scale=100)


def sql_equidepth_acctbal() -> str:
    from nexus_forge_spark.operators.profile import sql_equidepth_histogram

    return sql_equidepth_histogram(
        "SELECT c_acctbal FROM customer", "c_acctbal", _EQD_BUCKETS, scale=100
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level ROLLUP aggregation (returnflag -> linestatus -> grand
    total) in integral cents, with per-dimension GROUPING flags to
    disambiguate subtotal NULLs from data NULLs — the OLAP cube slice a
    reporting layer asks of the same lineitem feed.  One Expand + one
    hash aggregate: Spark evaluates every grouping set in a single
    map-side-combined pass, no per-level rescans."""
    li = load_table(spark, "lineitem", sf_dir)
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.sum(price_c * (F.lit(100) - disc_c)).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "g_flag",
            "g_status",
            "revenue_e4",
            "n_items",
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


def sql_rollup_revenue() -> str:
    return """SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
  sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS revenue_e4,
  count(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_flag, g_status, l_returnflag, l_linestatus"""


def q_outliers_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation robust outlier detection on customer balances
    (operators/profile.py robust_outliers): median/MAD flags carried as
    exact integers (med2 = 2*median of cents, mad4 = 2*median of
    |2*cents - med2|) so the |v-med| > 3*MAD test is a cross-multiplied
    BIGINT comparison — no float division for a normalizer to diverge
    on.  The fact table never shuffles; the two per-nation order
    statistics broadcast back onto it."""
    from nexus_forge_spark.operators.profile import robust_outliers

    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    return robust_outliers(
        cust, value_col="c_acctbal", group_cols=["c_nationkey"], scale=100, k=3
    ).select(
        "c_custkey", "c_nationkey", "value_units", "med2", "mad4", "is_outlier"
    )


def sql_outliers_acctbal() -> str:
    from nexus_forge_spark.operators.profile import sql_robust_outliers

    return sql_robust_outliers(
        "SELECT c_custkey, c_nationkey, c_acctbal FROM customer",
        value_col="c_acctbal",
        group_cols=["c_nationkey"],
        out_cols=["c_custkey", "c_nationkey"],
        scale=100,
        k=3,
    )


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (returnflag, shipmode): all four grouping sets —
    cells, both one-dimension marginals, grand total — with GROUPING
    flags, integral e4 revenue.  Complements the ROLLUP row: CUBE's
    cross-marginals (per-shipmode totals across flags) are the pivot-
    table ask ROLLUP's prefix hierarchy cannot produce.  Still ONE
    Expand + one map-side-combined hash aggregate."""
    li = load_table(spark, "lineitem", sf_dir).withColumn(
        "ship_month", F.month("l_shipdate").cast("int")
    )
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.cube("l_returnflag", "ship_month")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("ship_month").cast("int").alias("g_month"),
            F.sum(price_c * (F.lit(100) - disc_c)).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "l_returnflag", "ship_month", "g_flag", "g_month",
            "revenue_e4", "n_items",
        )
    )


def sql_cube_revenue() -> str:
    return """SELECT l_returnflag, CAST(month(l_shipdate) AS INT) AS ship_month,
  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
  CAST(GROUPING(month(l_shipdate)) AS INT) AS g_month,
  sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS revenue_e4,
  count(*) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, month(l_shipdate))"""


def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier (skyline) audit of the parts catalog: flag each
    part as frontier/dominated under (cheapest price, largest size)
    preference.  The Spark side uses the prefix-max reduction
    (ranking.pareto_audit_2d — one key shuffle + a distinct-key prefix
    scan, no self-join); the oracle states the dominance DEFINITION as a
    quadratic NOT EXISTS, so hash== proves the reduction correct."""
    from nexus_forge_spark.operators.ranking import pareto_audit_2d

    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return pareto_audit_2d(part, "p_retailprice", "p_size").select(
        F.col("p_partkey").cast("long").alias("part_key"),
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("int").alias("size"),
        F.col("on_frontier"),
    )


def sql_pareto_parts() -> str:
    return """SELECT CAST(p.p_partkey AS BIGINT) AS part_key,
  CAST(p.p_retailprice AS DOUBLE) AS price,
  CAST(p.p_size AS INT) AS size,
  NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
  ) AS on_frontier
FROM part p"""


def q_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery profile: g3 error (min fraction of
    rows to delete for the FD to hold) for five candidate FDs across
    three tables — the schema-discovery pass that picks merge keys and
    blocking attributes before entity resolution.  Each FD is two chained
    map-side-combinable hash aggregates; no joins, no windows."""
    from nexus_forge_spark.operators.profile import fd_profile

    outs = []
    for table, cands in _FD_CANDIDATES.items():
        outs.append(fd_profile(load_table(spark, table, sf_dir), cands, table))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def sql_fd_profile() -> str:
    parts = []
    for table, cands in _FD_CANDIDATES.items():
        for lhs, rhs in cands:
            name = f"{table}: " + ",".join(lhs) + " -> " + rhs
            lhs_sql = ", ".join(lhs)
            parts.append(
                f"""SELECT '{name}' AS fd,
  CAST(count(*) AS BIGINT) AS lhs_groups,
  CAST(sum(_n) AS BIGINT) AS n_rows,
  CAST(sum(_n) - sum(_keep) AS BIGINT) AS violations,
  CAST(((sum(_n) - sum(_keep)) * 1000000) // sum(_n) AS BIGINT) AS g3_ppm
FROM (
  SELECT {lhs_sql}, sum(_c) AS _n, max(_c) AS _keep
  FROM (SELECT {lhs_sql}, {rhs}, count(*) AS _c FROM {table} GROUP BY ALL)
  GROUP BY ALL
)"""
            )
    return "\nUNION ALL\n".join(parts)


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-frequency boilerplate removal (curation.py
    strip_boilerplate, the CCNet/RefinedWeb nav-bar/footer rule): a
    paragraph in >=34% of its own domain's docs strips domain-wide.  The
    corpus has no organic boilerplate, so the query plants it: every doc
    gets its domain's banner (100% — always strips) and docs with
    doc_id%3==0 get a survey invite (~33% of each domain — straddles the
    floor, so SOME domains strip it and others keep it, exercising the
    per-domain decision).  Ratio test is integer cross-multiplied; the
    boilerplate table is tiny by construction and broadcast-anti-joins."""
    from nexus_forge_spark.operators.curation import strip_boilerplate

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "source",
        F.concat(
            F.lit("PROMO BANNER FOR "),
            F.col("source"),
            F.lit("\n"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("TAKE OUR SURVEY\n")
            ).otherwise(F.lit("")),
            F.col("text"),
        ).alias("text"),
    )
    return strip_boilerplate(docs, max_doc_ratio_ppm=BOILER_PPM)


def sql_strip_boilerplate() -> str:
    return f"""WITH docs AS (
  SELECT doc_id, source,
    'PROMO BANNER FOR ' || source || chr(10) ||
    CASE WHEN doc_id % 3 = 0 THEN 'TAKE OUR SURVEY' || chr(10) ELSE '' END ||
    text AS text
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
domain_docs AS (SELECT source AS dom, count(*) AS n_dom FROM docs GROUP BY source),
freq AS (
  SELECT dom, h, count(DISTINCT doc_id) AS n_with FROM paras GROUP BY dom, h
),
boiler AS (
  SELECT dom, h FROM freq JOIN domain_docs USING (dom)
  WHERE n_with * 1000000 >= {BOILER_PPM} * n_dom AND n_with >= 2
),
kept AS (
  SELECT p.* FROM paras p ANTI JOIN boiler b ON p.dom = b.dom AND p.h = b.h
),
rebuilt AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
    CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs
  FROM paras GROUP BY doc_id
)
SELECT d.doc_id, d.source, coalesce(r.text, '') AS text,
  coalesce(t.n_paragraphs, 0) AS n_paragraphs,
  CAST(coalesce(t.n_paragraphs, 0) - coalesce(r.n_kept, 0) AS BIGINT)
    AS n_removed
FROM docs d LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r ON d.doc_id = r.doc_id"""


def q_layout_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max file-skipping effectiveness audit (layout.py
    layout_skip_audit): the same lineitem rows filed two ways — Morton
    quadtree cells vs x-sorted ranges — probed with five box predicates
    (y-slab, x-slab, center box, full domain, x-point) under the exact
    parquet/Iceberg row-group pruning rule.  Shows WHY z-order exists:
    the y-slab prunes under zorder and scans 100% under xsort.  After
    two <=256-cell aggregates nothing touches the corpus."""
    from nexus_forge_spark.functions.layout import layout_skip_audit

    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    mm = li.agg(
        F.min("l_partkey").alias("xlo"),
        (F.max("l_partkey") - F.min("l_partkey") + 1).alias("xspan"),
        F.min("l_suppkey").alias("ylo"),
        (F.max("l_suppkey") - F.min("l_suppkey") + 1).alias("yspan"),
    ).collect()[0]
    xlo, xspan, ylo, yspan = mm["xlo"], mm["xspan"], mm["ylo"], mm["yspan"]
    preds = [
        (1, xlo, xlo + xspan - 1, ylo, ylo + yspan // 4 - 1),
        (2, xlo, xlo + xspan // 4 - 1, ylo, ylo + yspan - 1),
        (3, xlo + xspan // 4, xlo + xspan // 2 - 1,
         ylo + yspan // 4, ylo + yspan // 2 - 1),
        (4, xlo, xlo + xspan - 1, ylo, ylo + yspan - 1),
        (5, xlo + xspan // 3, xlo + xspan // 3, ylo, ylo + yspan - 1),
    ]
    return layout_skip_audit(
        li, "l_partkey", "l_suppkey", preds, SKIP_BITS, SKIP_CELL_BITS
    )


def sql_layout_skip_audit() -> str:
    from nexus_forge_spark.functions.layout import morton_sql, normalize_sql

    xn = normalize_sql("l_partkey", "m.xlo", "m.xspan", SKIP_BITS)
    yn = normalize_sql("l_suppkey", "m.ylo", "m.yspan", SKIP_BITS)
    return rf"""WITH m AS (
  SELECT min(l_partkey) AS xlo,
         max(l_partkey) - min(l_partkey) + 1 AS xspan,
         min(l_suppkey) AS ylo,
         max(l_suppkey) - min(l_suppkey) + 1 AS yspan
  FROM lineitem
),
preds AS (
  SELECT 1 AS pred_id, xlo AS x_lo, xlo + xspan - 1 AS x_hi,
         ylo AS y_lo, ylo + yspan // 4 - 1 AS y_hi FROM m
  UNION ALL SELECT 2, xlo, xlo + xspan // 4 - 1, ylo, ylo + yspan - 1 FROM m
  UNION ALL SELECT 3, xlo + xspan // 4, xlo + xspan // 2 - 1,
                      ylo + yspan // 4, ylo + yspan // 2 - 1 FROM m
  UNION ALL SELECT 4, xlo, xlo + xspan - 1, ylo, ylo + yspan - 1 FROM m
  UNION ALL SELECT 5, xlo + xspan // 3, xlo + xspan // 3,
                      ylo, ylo + yspan - 1 FROM m
),
coded AS (
  SELECT l_partkey AS xv, l_suppkey AS yv,
    {morton_sql(f"({xn})", f"({yn})", SKIP_BITS)}
      >> {2 * SKIP_BITS - SKIP_CELL_BITS} AS zcell,
    ({xn}) >> {SKIP_BITS - SKIP_CELL_BITS} AS xcell
  FROM lineitem CROSS JOIN m
),
ext AS (
  SELECT 'zorder' AS layout, zcell AS cell,
    min(xv) AS fx_min, max(xv) AS fx_max,
    min(yv) AS fy_min, max(yv) AS fy_max,
    CAST(count(*) AS BIGINT) AS n_rows
  FROM coded GROUP BY zcell
  UNION ALL
  SELECT 'xsort', xcell,
    min(xv), max(xv), min(yv), max(yv), CAST(count(*) AS BIGINT)
  FROM coded GROUP BY xcell
)
SELECT layout, CAST(pred_id AS BIGINT) AS pred_id,
  CAST(count(*) AS BIGINT) AS n_files,
  CAST(sum(CASE WHEN fx_max < x_lo OR fx_min > x_hi
                  OR fy_max < y_lo OR fy_min > y_hi
            THEN 0 ELSE 1 END) AS BIGINT) AS n_scanned,
  CAST(sum(CASE WHEN fx_max < x_lo OR fx_min > x_hi
                  OR fy_max < y_lo OR fy_min > y_hi
            THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
  CAST(sum(CASE WHEN fx_max < x_lo OR fx_min > x_hi
                  OR fy_max < y_lo OR fy_min > y_hi
            THEN 0 ELSE 1 END) * 1000000 // count(*) AS BIGINT) AS scan_ppm
FROM ext CROSS JOIN preds
GROUP BY layout, pred_id"""


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous/HRW sharding (curation.py rendezvous_shard) at N=8 and
    N=9 side by side with the moved flag — the stable-routing guarantee
    a resumable pipeline rescale depends on: only the docs the NEW shard
    wins move (hash-mod would reshuffle ~half).  Pure map-side greatest
    over (hash, -shard) structs, no shuffle."""
    from nexus_forge_spark.operators.curation import rendezvous_shard

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    out = rendezvous_shard(docs, HRW_N, out_col="shard_n")
    out = rendezvous_shard(out, HRW_N + 1, out_col="shard_n1")
    return out.select(
        "doc_id",
        "shard_n",
        "shard_n1",
        (F.col("shard_n") != F.col("shard_n1")).alias("moved"),
    )


def sql_rendezvous_shards() -> str:
    def assign(n, name):
        h = (
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || s "
            "|| ':hrw'), 1, 15))::BIGINT"
        )
        return f"""{name} AS (
  SELECT doc_id, CAST(s AS BIGINT) AS {name}_shard
  FROM (
    SELECT doc_id, s,
      row_number() OVER (PARTITION BY doc_id ORDER BY {h} DESC, s) AS rn
    FROM documents, generate_series(0, {n - 1}) g(s)
  ) WHERE rn = 1
)"""

    return f"""WITH {assign(HRW_N, 'a8')},
{assign(HRW_N + 1, 'a9')}
SELECT d.doc_id, a8.a8_shard AS shard_n, a9.a9_shard AS shard_n1,
  a8.a8_shard <> a9.a9_shard AS moved
FROM documents d JOIN a8 USING (doc_id) JOIN a9 USING (doc_id)"""


def q_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (profile.py benford_audit) on order
    totals — the fabricated/truncated-data screen; observed vs Benford
    ppm with absolute deviation, all integer.  One map-side digit
    projection + a 9-row agg."""
    from nexus_forge_spark.operators.profile import benford_audit

    return benford_audit(load_table(spark, "orders", sf_dir), "o_totalprice")


def sql_benford_prices() -> str:
    from nexus_forge_spark.operators.profile import BENFORD_PPM

    vals = ", ".join(
        f"({d + 1}, {ppm})" for d, ppm in enumerate(BENFORD_PPM)
    )
    return f"""WITH digits AS (
  SELECT CAST(substr(CAST(abs(CAST(floor(o_totalprice * 100) AS BIGINT))
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice IS NOT NULL
),
counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits
  WHERE digit > 0 GROUP BY digit
),
total AS (SELECT sum(n) AS total FROM counts),
expect(digit, benford_ppm) AS (VALUES {vals})
SELECT e.digit, coalesce(c.n, 0) AS n,
  CAST(coalesce(c.n, 0) * 1000000 // t.total AS BIGINT) AS observed_ppm,
  CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
  CAST(abs(coalesce(c.n, 0) * 1000000 // t.total - e.benford_ppm) AS BIGINT)
    AS abs_dev_ppm
FROM expect e LEFT JOIN counts c ON e.digit = c.digit, total t"""


def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini concentration (profile.py group_gini) of customer
    account balances — the hot-key/inequality measure a partitioning
    planner reads before choosing salt factors.  Exact integer rank
    algebra; rank window + aggregates share one group exchange."""
    from nexus_forge_spark.operators.profile import group_gini

    cust = load_table(spark, "customer", sf_dir).where(
        F.col("c_acctbal") >= 0
    )
    return group_gini(cust, "c_acctbal", "c_nationkey").select(
        F.col("grp").cast("long").alias("grp"), "n", "sum_v", "gini_ppm"
    )


def sql_gini_revenue() -> str:
    return """WITH staged AS (
  SELECT c_nationkey AS grp,
    CAST(floor(c_acctbal * 100) AS BIGINT) AS v,
    row_number() OVER (PARTITION BY c_nationkey ORDER BY
                       CAST(floor(c_acctbal * 100) AS BIGINT)) AS rn
  FROM customer WHERE c_acctbal >= 0 AND c_acctbal IS NOT NULL
)
SELECT CAST(grp AS BIGINT) AS grp, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(v) AS BIGINT) AS sum_v,
  CAST((2 * sum(rn * v) - (count(*) + 1) * sum(v)) * 1000000
       // (count(*) * sum(v)) AS BIGINT) AS gini_ppm
FROM staged GROUP BY grp HAVING sum(v) > 0"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag quantity-weighted median of lineitem extended price
    (profile.py group_weighted_median): smallest price whose running
    quantity reaches half the flag's total — integer cross-multiplied,
    one group exchange shared by both windows."""
    from nexus_forge_spark.operators.profile import group_weighted_median

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return group_weighted_median(li, "l_extendedprice", "qty", "l_returnflag")


def sql_weighted_median() -> str:
    return """WITH staged AS (
  SELECT l_returnflag AS grp,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
    CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
),
cum AS (
  SELECT grp, v, w,
    sum(w) OVER (PARTITION BY grp ORDER BY v, w
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
    sum(w) OVER (PARTITION BY grp) AS totw
  FROM staged
)
SELECT grp, CAST(min(v) AS BIGINT) AS wmedian_scaled,
  CAST(max(totw) AS BIGINT) AS total_weight
FROM cum WHERE cumw * 2 >= totw GROUP BY grp"""


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval (profile.py
    poisson_bootstrap_ci) for mean doc length: 64 hash-seeded Poisson(1)
    resample weights, ALL aggregates in one map-side pass (no explode,
    weights projected first — the SimHash CSE lesson), order statistics
    at fixed positions of the sorted resample means.  Error bars for
    corpus metrics that one pass at 100 TB can actually afford."""
    from nexus_forge_spark.operators.profile import poisson_bootstrap_ci

    return poisson_bootstrap_ci(
        load_table(spark, "documents", sf_dir), "n_chars", n_resamples=BOOT_B
    )


def sql_bootstrap_ci() -> str:
    from nexus_forge_spark.operators.profile import POISSON1_CDF_PPM

    def w(b: int) -> str:
        u = (
            f"('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#{b}' "
            f"|| ':boot'), 1, 15))::BIGINT % 1000000"
        )
        ladder = " ".join(
            f"WHEN u{b} < {c} THEN {k}"
            for k, c in enumerate(POISSON1_CDF_PPM)
        )
        return f"{u} AS u{b}", f"CASE {ladder} ELSE 9 END AS w{b}"

    us, ws = zip(*[w(b) for b in range(BOOT_B)])
    sums = ", ".join(
        f"CAST(sum(w{b} * x) AS BIGINT) AS swx{b}, "
        f"CAST(sum(w{b}) AS BIGINT) AS sw{b}"
        for b in range(BOOT_B)
    )
    means = ", ".join(
        f"CAST(swx{b} * 1000000 // sw{b} AS BIGINT)" for b in range(BOOT_B)
    )
    lo_i = max(1, BOOT_B // 50)
    med_i, hi_i = BOOT_B // 2, BOOT_B - max(1, BOOT_B // 50) + 1
    return f"""WITH staged AS (
  SELECT x, {', '.join(f'CASE {" ".join(f"WHEN u{b} < {c} THEN {k}" for k, c in enumerate(POISSON1_CDF_PPM))} ELSE 9 END AS w{b}' for b in range(BOOT_B))}
  FROM (
    SELECT CAST(n_chars AS BIGINT) AS x, {', '.join(us)}
    FROM documents WHERE n_chars IS NOT NULL
  )
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, {sums}
  FROM staged
),
m AS (SELECT *, list_sort([{means}]) AS ms FROM agg)
SELECT CAST({BOOT_B} AS BIGINT) AS n_resamples, n AS n_rows,
  CAST(sx * 1000000 // n AS BIGINT) AS mean_micro,
  ms[{lo_i}] AS lo_micro, ms[{med_i}] AS med_micro, ms[{hi_i}] AS hi_micro
FROM m"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (functions/layout.py
    compaction_plan — Iceberg rewrite_data_files binPack): a synthetic
    file listing (one 'file' per (event_type, day) with bytes ~ row
    count) is binned per partition into >= target groups by one
    key-partitioned cumulative-sum window — pure window algebra, no
    driver-side listing, the maintenance pass behind the store's
    compact() seam."""
    from nexus_forge_spark.functions.layout import compaction_plan

    ev = load_table(spark, "events", sf_dir)
    files = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
            .cast("long")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg((F.count(F.lit(1)) * 1000).cast("long").alias("bytes"))
    )
    return compaction_plan(
        files, COMPACT_TARGET, key_col="event_type", file_col="day"
    )


def sql_compaction_plan() -> str:
    t = COMPACT_TARGET
    return f"""WITH files AS (
  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
    CAST(count(*) * 1000 AS BIGINT) AS bytes
  FROM events
  GROUP BY event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT)
),
staged AS (
  SELECT event_type, day, bytes,
    sum(bytes) OVER (PARTITION BY event_type ORDER BY bytes DESC, day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - bytes AS cum_before
  FROM files
),
grouped AS (
  SELECT event_type, day, bytes, CAST(cum_before // {t} AS BIGINT) AS grp
  FROM staged
)
SELECT event_type, day, bytes, grp,
  CAST(sum(bytes) OVER (PARTITION BY event_type, grp) AS BIGINT) AS grp_bytes,
  CAST(count(*) OVER (PARTITION BY event_type, grp) AS BIGINT) AS grp_files,
  bytes >= {t} AS already_compact
FROM grouped"""


def q_es_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES script_score relevance (functions/esdsl.py): the reference
    dense-linker body — a range-filtered query rescored by
    cosineSimilarity(params.qv, 'embedding') + 1.0
    (es_query_builder.py:430-434) — compiled to a _score Column (one
    zip_with dot product + doc norm, map-side, no UDF).  Closes SURVEY
    S4's last ES gap (esdsl was filter-context only).  Scores rounded to
    3 digits for engine-stable hashing, the cosine_topk discipline."""
    from nexus_forge_spark.functions.esdsl import es_search

    body = {
        "query": {
            "script_score": {
                "query": {"range": {"vec_id": {"lt": ES_SCORE_MAX_ID}}},
                "script": {
                    "source": "cosineSimilarity(params.qv, 'embedding') + 1.0",
                    "params": {"qv": ES_SCORE_VEC},
                },
            }
        }
    }
    emb = load_table(spark, "embeddings", sf_dir)
    return es_search(emb, body).select(
        "vec_id", F.round(F.col("_score"), 3).alias("score")
    )


def sql_es_script_score() -> str:
    qv = ", ".join(repr(float(x)) for x in ES_SCORE_VEC)
    qnorm = repr(sum(float(x) * float(x) for x in ES_SCORE_VEC) ** 0.5)
    return f"""WITH q AS (SELECT [{qv}]::DOUBLE[] AS qv)
SELECT vec_id,
  round(
    list_dot_product(qv, CAST(embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[]))) * {qnorm})
    + 1.0, 3) AS score
FROM embeddings, q
WHERE vec_id < {ES_SCORE_MAX_ID}"""


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log2-bucketed quantile sketch (sketches.py hdr_sketch —
    the HdrHistogram/KLL-alternative with deterministic integer
    semantics): per-source doc-length p50/p90/p99 computed from FOUR
    per-shard sketches merged with hdr_merge.  The oracle sketches the
    whole table directly, so hash== PROVES merge == direct (the same
    contract hll_sliding_distinct pins for HLL).  <= 6.25% relative
    error by construction; every partition pre-reduces to <= ~960
    bucket rows before any shuffle."""
    from nexus_forge_spark.operators.sketches import (
        hdr_merge,
        hdr_quantiles,
        hdr_sketch,
    )

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "__shard", F.pmod(F.col("doc_id"), F.lit(4))
    )
    shard_sketches = hdr_sketch(docs, "n_chars", ["source", "__shard"])
    merged = hdr_merge(shard_sketches.drop("__shard"), ["source"])
    return hdr_quantiles(merged, HDR_QS_PPM, ["source"]).select(
        "source",
        F.col("q_ppm").cast("long").alias("q_ppm"),
        F.col("est").cast("long").alias("est"),
    )


def sql_hdr_quantiles() -> str:
    from nexus_forge_spark.operators.sketches import sql_hdr_bin, sql_hdr_lb

    qbin = sql_hdr_bin("greatest(CAST(n_chars AS BIGINT), 0)", "duck")
    lb = sql_hdr_lb("qbin", "duck")
    qs = ", ".join(str(q) for q in HDR_QS_PPM)
    return f"""WITH sk AS (
  SELECT source, {qbin} AS qbin, count(*) AS cnt
  FROM documents GROUP BY source, {qbin}
),
cum AS (
  SELECT source, qbin,
    sum(cnt) OVER (PARTITION BY source ORDER BY qbin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(cnt) OVER (PARTITION BY source) AS n
  FROM sk
),
qs AS (SELECT unnest([{qs}]) AS q_ppm),
hit AS (
  SELECT source, q_ppm, qbin FROM cum, qs
  WHERE cum >= (q_ppm * n + 999999) // 1000000
)
SELECT source, CAST(q_ppm AS BIGINT) AS q_ppm,
  CAST(min({lb}) AS BIGINT) AS est
FROM hit GROUP BY source, q_ppm"""


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (operators/graph.py degree_assortativity)
    of the undirected co-purchase graph: the one-number diagnostic for
    whether hubs attach to hubs (positive) or to leaves (negative, the
    typical bipartite-projection shape) — i.e. whether hub mitigation
    is the binding scale concern.  Exact HUGEINT correlation sums, a
    sanctioned correctly-rounded float tail."""
    from nexus_forge_spark.operators.graph import degree_assortativity

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
    return degree_assortativity(edges)


def sql_degree_assortativity_q() -> str:
    from nexus_forge_spark.operators.graph import sql_degree_assortativity

    edges = f"""SELECT DISTINCT o.o_custkey AS a, {PART_NODE_OFFSET} + l.l_partkey AS b
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"""
    return sql_degree_assortativity(edges)


def q_mi_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mutual information (operators/profile.py
    mutual_information) between customer market segment and nation —
    micro-nat MI, both marginal entropies, and Strehl-Ghosh NMI in
    ppm, every logarithm the deterministic fixed-point intlog.  The
    association screen that decides composite blocking keys and
    stratification axes before a 100 TB ER run."""
    from nexus_forge_spark.operators.profile import mutual_information

    cust = load_table(spark, "customer", sf_dir).select(
        "c_mktsegment", "c_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_mktsegment", "n_name")
    return mutual_information(joined, "c_mktsegment", "n_name")


def sql_mi_segment_nation() -> str:
    from nexus_forge_spark.operators.profile import sql_mutual_information

    src = """SELECT c_mktsegment, n_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"""
    return sql_mutual_information(src, "c_mktsegment", "n_name")


def q_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (operators/profile.py psi_report)
    of the returned-lineitem price distribution vs the rest — the
    model-risk drift gate in engine-exact micro-PSI: integer-cent
    bins, ppm shares clamped at the standard epsilon, intlog terms,
    zero libm."""
    from nexus_forge_spark.operators.profile import psi_report

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    a = li.where(F.col("l_returnflag") == "R").select("cents")
    b = li.where(F.col("l_returnflag") != "R").select("cents")
    return psi_report(a, b, "cents", _PSI_LO, _PSI_HI, _PSI_BINS)


def sql_psi_price_drift() -> str:
    from nexus_forge_spark.operators.profile import sql_psi_report

    a = """SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
FROM lineitem WHERE l_returnflag = 'R'"""
    b = """SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
FROM lineitem WHERE l_returnflag <> 'R'"""
    return sql_psi_report(a, b, "cents", _PSI_LO, _PSI_HI, _PSI_BINS)


def q_ams_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS F2 self-join-size estimates (operators/sketches.py
    ams_f2_sketch/estimate, Alon-Matias-Szegedy): per predicate of
    the co-purchase triple slice, the sketch a join planner prices
    shuffle skew with — 9 sign-sum estimators in ONE map-side
    aggregate, exact integer median of Z^2."""
    from nexus_forge_spark.operators.sketches import (
        ams_f2_estimate,
        ams_f2_sketch,
    )

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    rows = (
        orders.select(
            F.lit("placed").alias("pred"), F.col("o_custkey").alias("v")
        )
        .unionByName(
            li.select(F.lit("contains").alias("pred"), F.col("l_partkey").alias("v"))
        )
        .unionByName(
            li.select(F.lit("in_order").alias("pred"), F.col("l_orderkey").alias("v"))
        )
    )
    sk = ams_f2_sketch(rows, "v", ["pred"])
    return ams_f2_estimate(sk, ["pred"])


def sql_ams_selfjoin_size() -> str:
    from nexus_forge_spark.operators.sketches import sql_ams_f2

    src = """SELECT 'placed' AS pred, o_custkey AS v FROM orders
UNION ALL SELECT 'contains', l_partkey FROM lineitem
UNION ALL SELECT 'in_order', l_orderkey FROM lineitem"""
    return sql_ams_f2(src, "v", ["pred"])


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension drift between two embedding releases
    (operators/profile.py embedding_drift): release B shifts dims 0-3 by
    +0.05 on a hash-selected half of the vectors and rescales dim 7 by
    1.1 — those dims must light up in drift_ppm while the untouched dims
    stay near zero.  Integer micro-unit quantization makes every stat
    BIGINT-exact (no float accumulation order)."""
    from nexus_forge_spark.operators.profile import embedding_drift
    from nexus_forge_spark.operators.sketches import hash60

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    bump = F.pmod(hash60(F.col("vec_id"), "edrift"), F.lit(2)) == 0
    shifted = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v, i: F.when(bump & (i < 4), v + F.lit(0.05))
            .when(i == 7, v * F.lit(1.1))
            .otherwise(v),
        ).alias("embedding"),
    )
    return embedding_drift(emb, shifted)


def sql_embedding_drift() -> str:
    from nexus_forge_spark.operators.profile import sql_embedding_drift
    from nexus_forge_spark.operators.sketches import sql_hash60

    bump = f"({sql_hash60('vec_id', 'edrift')} % 2) = 0"
    src_a = "SELECT embedding FROM embeddings"
    src_b = f"""SELECT
  [CASE WHEN ({bump}) AND i < 5 THEN embedding[i] + 0.05
        WHEN i = 8 THEN embedding[i] * 1.1
        ELSE embedding[i] END
   FOR i IN range(1, len(embedding) + 1)] AS embedding
FROM embeddings"""
    return sql_embedding_drift(src_a, src_b)


def q_winsorized_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation winsorized + trimmed mean of customer account balance
    (operators/profile.py winsorized_group_stats): the robust central
    tendency a profiling pass quotes when the plain mean is hostage to a
    few extreme balances; exact integer percentile cuts, value-based
    trimming (tie-order-proof)."""
    from nexus_forge_spark.operators.profile import winsorized_group_stats

    cust = load_table(spark, "customer", sf_dir).select(
        "c_nationkey", "c_acctbal"
    )
    return winsorized_group_stats(cust, "c_nationkey", "c_acctbal")


def sql_winsorized_acctbal() -> str:
    from nexus_forge_spark.operators.profile import sql_winsorized_group_stats

    return sql_winsorized_group_stats(
        "SELECT c_nationkey, c_acctbal FROM customer", "c_nationkey", "c_acctbal"
    )


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (operators/curation.py t_closeness_audit):
    quasi-identifier = (nation, market segment), sensitive = account
    balance decile — classes whose balance DISTRIBUTION strays from the
    global one leak even when k-large/l-diverse.  Completes the privacy
    ladder beside k_anonymity_audit and mondrian_cells."""
    from nexus_forge_spark.operators.curation import t_closeness_audit

    cust = load_table(spark, "customer", sf_dir).select(
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 1000).cast("long")).alias("bal_decile"),
    )
    return t_closeness_audit(
        cust, ["c_nationkey", "c_mktsegment"], "bal_decile"
    )


def sql_t_closeness() -> str:
    from nexus_forge_spark.operators.curation import sql_t_closeness_audit

    src = """SELECT c_nationkey, c_mktsegment,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_decile
FROM customer"""
    return sql_t_closeness_audit(
        src, ["c_nationkey", "c_mktsegment"], "bal_decile"
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle (curation.py epoch_shuffle):
    2 epochs x 8 shards over the documents corpus — independent
    engine-portable permutations per epoch, shard-bounded rank (the only
    sort is one output file's worth).  The trainer-facing (epoch, shard,
    position) layout every LLM data pipeline materializes."""
    from nexus_forge_spark.operators.curation import epoch_shuffle

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    return epoch_shuffle(docs, "doc_id", epochs=2, shards=8)


def sql_epoch_shuffle_q() -> str:
    from nexus_forge_spark.operators.curation import sql_epoch_shuffle

    return sql_epoch_shuffle(
        "SELECT doc_id FROM documents", "doc_id", epochs=2, shards=8
    )
