"""Text analysis operators: language ID, quality scoring, token counting,
fingerprinting.  All native Column expressions (whole-stage codegen);
designed for a 100 TB corpus where every per-doc pass must be map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword profiles (n-gram/stopword heuristic language ID)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "fr": ["le", "la", "les", "de", "et", "un", "est"],
    "es": ["el", "la", "los", "de", "y", "un", "es"],
    "de": ["der", "die", "das", "und", "ein", "ist", "zu"],
}

TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish word/number/punct pieces


def tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text)).cast("int")


def regex_token_count(text: Column) -> Column:
    """BPE-ish piece count: words / numbers / punctuation runs."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).cast("int")


def _isin(words: list[str]):
    # closure factory: a two-param lambda would be treated by F.filter as the
    # (element, index) form
    return lambda w: w.isin(*words)


def language_id(text: Column, default: str = "und") -> Column:
    """argmax language by stopword profile; 'und' when no profile hits.
    Deterministic tiebreak: profile order."""
    toks = tokens(text)
    scores = [
        (lang, F.size(F.filter(toks, _isin(words))))
        for lang, words in LANG_PROFILES.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit(default)
    for lang, s in reversed(scores):
        out = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + a composite [0,1] score:
    length, distinct ratio, stopword ratio, mean token length, alpha ratio."""
    t = F.col(text_col)
    toks = tokens(t)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop = F.size(F.filter(toks, lambda w: w.isin(*LANG_PROFILES["en"])))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")) / F.greatest(
        F.length(t), F.lit(1)
    )
    distinct_ratio = (n_distinct / n).cast("double")
    stop_ratio = (stop / n).cast("double")
    mean_len = (total_len / n).cast("double")
    # composite: favor diverse, readable, alpha-heavy docs
    score = (
        F.least(distinct_ratio * 2, F.lit(1.0)) * 0.4
        + F.least(mean_len / F.lit(8.0), F.lit(1.0)) * 0.3
        + alpha.cast("double") * 0.3
    )
    return df.select(
        "*",
        n.cast("int").alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
        F.round(score, 6).alias("quality_score"),
    )


def rolling_fingerprint(text: Column, window: int = 4) -> Column:
    """Winnowing-style document fingerprint: md5 of every `window`-token
    shingle, keep the minimum — robust to local edits, engine-portable.

    Column form = interpreted higher-order transform (md5 outside codegen).
    Prefer rolling_fingerprint_agg for whole-corpus runs — measured ~10x
    faster at sf0.1 (same explode+codegen-agg finding as MinHash)."""
    toks = tokens(text)
    grams = F.when(
        F.size(toks) >= window,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - window),
            lambda i: F.md5(F.array_join(F.slice(toks, i + 1, window), " ")),
        ),
    ).otherwise(F.array(F.md5(F.array_join(toks, " "))))
    return F.array_min(grams)


def rolling_fingerprint_agg(
    df, text_col: str = "text", id_col: str = "doc_id", window: int = 4
):
    """(id, fp) via explode + whole-stage-codegen md5 + map-side partial
    min aggregation — the shuffle carries one per-partition minimum per
    doc, not the grams.  Same values as rolling_fingerprint."""
    toks = df.select(id_col, tokens(F.col(text_col)).alias("toks"))
    long_fp = (
        toks.where(F.size("toks") >= window)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.size("toks") - window)).alias("i"),
            "toks",
        )
        .select(
            id_col,
            F.md5(F.array_join(F.slice(F.col("toks"), F.col("i") + 1, window), " ")).alias("g"),
        )
        .groupBy(id_col)
        .agg(F.min("g").alias("fp"))
    )
    short_fp = toks.where(F.size("toks") < window).select(
        id_col, F.md5(F.array_join("toks", " ")).alias("fp")
    )
    return long_fp.unionByName(short_fp)


def unigram_logprob_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style corpus-LM scoring (Wenzek et al. 2020 use a KenLM 5-gram;
    the unigram variant keeps the same shape fully set-oriented): score each
    document by the mean negative log-probability of its tokens under the
    corpus unigram distribution — low = boilerplate-ish/common, high =
    rare-token-heavy.

    All integer micro-nats: per-token -ln p(t) = ln(n_total/c) is the
    deterministic fixed-point log of functions/intlog.py — pure BIGINT
    algebra, identical on any engine or libm (F.log is NOT correctly
    rounded and a 1-ulp libm difference can flip the micro-nat rounding;
    the round-2 heldout_nll driver red cell was this class) — so the
    per-doc sums and means are engine-exact.

    Scale posture: one token-keyed groupBy for the counts (partial agg
    map-side, vocab << corpus); the fixed-point log runs on the
    vocab-sized counts table, not per occurrence; the counts join back is
    deliberately UN-hinted — AQE upgrades it to broadcast from the
    RUNTIME bytes when the vocab fits an executor (natural-language
    vocabs) and keeps a shuffle join when it doesn't (10^8+ distinct
    tokens at web-corpus scale), which is the size-threshold guard made
    from measured sizes instead of a guessed row count.  One per-doc
    aggregate.  Output: (id, n_tokens, sum_nll_micro, mean_nll_micro).
    """
    from nexus_forge_spark.functions.intlog import lnq30_col, micro_from_l2_col

    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
    counts = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c")).withColumn(
        "l2c", lnq30_col("c")
    )
    total = counts.agg(F.sum("c").alias("n_total")).withColumn(
        "l2n", lnq30_col("n_total")
    )
    scored = (
        toks.join(counts, "t")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            micro_from_l2_col("(l2n - l2c)").alias("nll_micro"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("nll_micro").alias("sum_nll_micro"),
        F.expr("CAST(sum(nll_micro) div count(1) AS BIGINT)").alias(
            "mean_nll_micro"
        ),
    )


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam_ppm: int = 900_000,
) -> DataFrame:
    """Interpolated bigram corpus-LM scoring — the CCNet-style upgrade of
    :func:`unigram_logprob_scores` (Wenzek et al. 2020 filter on a real LM;
    a Jelinek-Mercer-interpolated bigram keeps the shape set-oriented):
    per bigram position, ``p = lam * c(prev,w)/c(prev.) + (1-lam) * c(w)/N``
    and the doc score is the mean ``-ln p`` in integer micro-nats.

    Engine exactness: the interpolated probability is computed entirely
    in BIGINT fixed point — each ratio leg as a Q30 quotient
    (intlog.q30_div, overflow-safe), the ppm-weighted combination in
    integer arithmetic, and -ln(p) as the deterministic fixed-point log
    of functions/intlog.py.  No doubles and no libm anywhere, so per-doc
    sums/means are engine-exact on any build.  Per-position NLL saturates
    at ln(2^30) ~ 20.79 nats (p floored at one Q30 ulp) — documented
    fixed-point semantics, far beyond any natural-language bigram.

    Scale posture: the bigram table shuffles once on (prev, w) with
    map-side combine (bigram vocab << corpus); context totals derive from
    the bigram table (no second corpus pass); unigram counts reuse the
    vocab-sized aggregate.  The fixed-point math runs on the joined
    vocab-sized rows; the count-table joins back to the corpus are
    UN-hinted (AQE broadcasts from runtime bytes when they fit, shuffle
    joins when a web-scale vocab doesn't).  Output: (id, n_bigrams,
    sum_nll_micro, mean_nll_micro) over docs with >= 2 tokens.
    """
    from nexus_forge_spark.functions.intlog import (
        Q30,
        lnq30_col,
        micro_from_l2_col,
        q30_div_col,
    )
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("t")).where(
        F.size("t") >= 2
    )
    pairs = base.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> struct(a AS prev, b AS w))"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.prev").alias("prev"), F.col("bg.w").alias("w"))
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    cu = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    total = cu.agg(F.sum("cu").alias("n_total"))
    cb = pairs.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("cb"))
    cp = cb.groupBy("prev").agg(F.sum("cb").alias("cp"))
    lam = int(lam_ppm)
    oml = 1_000_000 - lam
    p_q30 = F.greatest(
        F.expr(f"(({lam} * __q1 + {oml} * __q2) div 1000000)"), F.lit(1)
    )
    rates = (
        cb.join(cp, "prev")
        .join(cu, "w")
        .crossJoin(F.broadcast(total))
        .withColumn("__q1", q30_div_col("cb", "cp"))
        .withColumn("__q2", q30_div_col("cu", "n_total"))
        .withColumn("__pq", p_q30)
        .withColumn("__l2p", lnq30_col("__pq"))
        .select(
            "prev",
            "w",
            micro_from_l2_col(f"({30 * Q30} - __l2p)").alias("nll_micro"),
        )
    )
    scored = pairs.join(rates, ["prev", "w"]).select(F.col(id_col), "nll_micro")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("nll_micro").alias("sum_nll_micro"),
        F.expr("CAST(sum(nll_micro) div count(1) AS BIGINT)").alias(
            "mean_nll_micro"
        ),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Lucene variant:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf normalized by doc length /
    corpus mean length).

    Engine exactness: idf = ln((N+1)/(df+0.5)) = ln((2N+2)/(2df+1)) is an
    integer-ratio log, computed with the deterministic fixed-point log of
    functions/intlog.py (no libm); the tf-normalization is a chain of
    IEEE-required-correctly-rounded basic ops (+,*,/) over exact inputs,
    so ``round(idf_micro * tfnorm)`` is bit-identical on any engine.

    Scale posture: tf for the query terms only (map-side filter before the
    (doc, term) aggregate), df + corpus stats are two tiny broadcast
    aggregates; no shuffle touches non-matching tokens.  Output:
    (id, score_micro) for docs matching >= 1 term.
    """
    from nexus_forge_spark.functions.intlog import lnq30_col, micro_from_l2_col

    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
    lens = df.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).cast("double").alias("dl")
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).withColumn("l2num", lnq30_col("(2 * n_docs + 2)"))
    hits = toks.where(F.col("t").isin(query_terms))
    tf = hits.groupBy(id_col, "t").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df")).withColumn(
        "l2den", lnq30_col("(2 * df + 1)")
    )
    tfnorm = F.col("tf") / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "t")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_micro", micro_from_l2_col("(l2num - l2den)"))
        .select(
            F.col(id_col),
            F.round(F.col("idf_micro") * tfnorm).cast("long").alias("c_micro"),
        )
    )
    return contrib.groupBy(id_col).agg(F.sum("c_micro").alias("score_micro"))


def phrase_search(
    df,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-phrase retrieval over a positional posting list — the
    companion to :func:`bm25_scores` (ranked bag-of-words) for queries
    that need token ADJACENCY ("new york", code idioms, quoted spans).

    Plan (one shuffle, anchor-group algorithm): posexplode to positional
    postings, keep ONLY tokens that appear in the phrase (map-side filter
    — the corpus's non-matching tokens never reach a shuffle), emit one
    (doc, anchor=pos-slot, slot) row per phrase slot the token can fill
    (a token may fill several slots when the phrase repeats a word), then
    one (doc, anchor) aggregate: the phrase matches at an anchor iff all
    ``len(phrase)`` slots are present.  ``count(*)`` is exact here — a
    given (doc, anchor, slot) determines pos = anchor + slot, and each
    position emits each slot at most once.  Overlapping and repeated-word
    occurrences are counted correctly (unit-tested with periodic
    phrases), unlike substring replace-counting.

    Output: (id, n_occurrences) for docs containing the phrase.
    """
    k = len(phrase)
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    slots = F.array(*[F.when(F.col("tok") == w, F.lit(i)) for i, w in enumerate(phrase)])
    probe = (
        toks.where(F.col("tok").isin(*set(phrase)))
        .select(
            F.col(id_col),
            "pos",
            F.explode(F.filter(slots, lambda x: x.isNotNull())).alias("slot"),
        )
    )
    anchored = probe.select(
        F.col(id_col), (F.col("pos") - F.col("slot")).alias("anchor")
    ).where(F.col("anchor") >= 0)
    occ = (
        anchored.groupBy(id_col, "anchor")
        .agg(F.count(F.lit(1)).alias("nslots"))
        .where(F.col("nslots") == k)
    )
    return occ.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


def tfidf_topk(
    df,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF keywords per document — the classic corpus-analysis /
    keyword-extraction operator (weight = tf * ln(N / df)).

    Engine exactness: ``ln(N/df)`` is the deterministic fixed-point
    integer-ratio log of functions/intlog.py (no libm), tf is an exact
    integer multiplier of that BIGINT, and the per-doc ranking orders by
    the integer weight (desc, then term asc), so rank ties cannot depend
    on any float behavior at all.

    Scale posture: one (doc, term) aggregate with map-side combine; the
    document-frequency table is vocab-sized (derived FROM the tf table —
    no second corpus pass) and broadcast back; the per-doc top-k window
    partitions on the document id, whose group size is bounded by the
    doc's vocabulary — no hot keys.  Output: (id, term, rank,
    tfidf_micro).
    """
    from pyspark.sql import Window

    from nexus_forge_spark.functions.intlog import lnq30_col, micro_from_l2_col

    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs")).withColumn(
        "l2df", lnq30_col("df_docs")
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs")).withColumn(
        "l2n", lnq30_col("n_docs")
    )
    weighted = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            (F.col("tf") * micro_from_l2_col("(l2n - l2df)"))
            .cast("long")
            .alias("tfidf_micro"),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.col("tfidf_micro").desc(), F.col("term")
    )
    return (
        weighted.withColumn("rank", F.row_number().over(win).cast("int"))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "rank", "tfidf_micro")
    )


def pmi_collocations(
    df,
    min_count: int = 5,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the classic
    corpus-analysis operator (Church & Hanks 1990) for surfacing
    multi-word expressions ("new york", "machine learning") worth
    protecting from tokenizer splits or boosting in retrieval.

    ``pmi = ln( p(w1,w2) / (p(w1) * p(w2)) )`` with ``p(w1,w2) = cb/Nb``
    over adjacent-token bigrams and ``p(w) = cu/Nu`` over unigrams.

    Engine exactness: pmi decomposes into integer-count logs —
    ``ln(cb) - ln(Nb) + 2 ln(Nu) - ln(c1) - ln(c2)`` — summed in Q30
    fixed point (functions/intlog.py, no libm, no products that could
    overflow BIGINT at web scale the way ``cb * Nu^2`` would) and
    converted to micro-nats once; the global top-k orders by that BIGINT
    (desc, then w1, w2 asc) so the cutoff cannot depend on any float
    behavior.

    Scale posture: bigram and unigram count tables are vocab-sized
    (map-side combine shuffles), the totals derive FROM those tables (no
    second corpus pass), the min_count-pruned candidate table joins the
    unigram table UN-hinted — AQE broadcasts whichever side fits from
    runtime bytes (Zipf makes the pruned table small on natural corpora,
    but at web scale even "pairs seen >= min_count" can be 10^9 rows, so
    the hint must not be forced) — and the final top-k is an
    orderBy+limit — Spark's TakeOrderedAndProject, a per-partition heap
    + driver merge of k rows, never a global sort of the vocabulary.
    """
    base = df.select(tokens(F.col(text_col)).alias("t")).where(F.size("t") >= 2)
    pairs = base.select(
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    from nexus_forge_spark.functions.intlog import lnq30_col, micro_from_l2_col

    toks = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    cu = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu")).withColumn(
        "l2cu", lnq30_col("cu")
    )
    cb = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    nb = cb.agg(F.sum("cb").alias("n_bi")).withColumn("l2nb", lnq30_col("n_bi"))
    nu = cu.agg(F.sum("cu").alias("n_uni")).withColumn("l2nu", lnq30_col("n_uni"))
    # the min_count-pruned candidate table is usually small (Zipf), but at
    # web scale "pairs seen >= 5" can still be 10^9 rows — no forced
    # broadcast hint; AQE picks broadcast vs shuffle from RUNTIME bytes
    cand = cb.where(F.col("cb") >= min_count).withColumn(
        "l2cb", lnq30_col("cb")
    ).join(
        cu.select(F.col("w").alias("w1"), F.col("l2cu").alias("l2cu1")), "w1"
    )
    scored = (
        cand
        .join(cu.select(F.col("w").alias("w2"), F.col("l2cu").alias("l2cu2")), "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select(
            "w1",
            "w2",
            F.col("cb").alias("n_pair"),
            micro_from_l2_col(
                "(l2cb - l2nb + 2 * l2nu - l2cu1 - l2cu2)"
            ).alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), F.col("w1"), F.col("w2")
    ).limit(k)


def ngram_novelty(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty: how much of a document's distinct
    k-token shingle set also occurs in at least one OTHER document —
    the memorization / boilerplate scan a training pipeline runs to find
    template-heavy documents that exact- and near-dup passes (whole-doc
    signatures) both miss.  Complements dedup (pairwise) and
    decontaminate (cross-set): this is a per-doc profile over the whole
    corpus.

    Output: (doc_id, n_shingles, n_shared, novelty_ppm) for documents
    with >= k tokens, where novelty_ppm = (n_shingles - n_shared) * 1e6
    div n_shingles — pure BIGINT arithmetic, oracle-exact.

    Scale posture: shingles are interned to xxhash64 longs before any
    shuffle (the 64-bit key, not the k-word string, is what moves); the
    doc-frequency aggregate and the shingle->doc join share the shingle
    key so AQE/exchange-reuse co-locates them; the final per-doc rollup
    is a map-side-combined groupBy on the doc id.  No windows, no
    cross products; both shuffles are on keys whose cardinality grows
    with corpus size (no hot key: a shingle shared by every doc is still
    one aggregate row).
    """
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    acc = toks
    for i in range(1, k):
        shifted = F.slice(toks, i + 1, F.greatest(sz - i, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.slice(acc, 1, F.greatest(sz - k + 1, F.lit(0)))
    skeys = F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))
    pairs = (
        df.where(sz >= k)
        .select(F.col(id_col).alias("doc_id"), F.explode(skeys).alias("skey"))
    )
    docfreq = pairs.groupBy("skey").agg(F.count(F.lit(1)).cast("long").alias("nd"))
    return (
        pairs.join(docfreq, "skey")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.expr("(n_shingles - n_shared) * 1000000 div n_shingles")
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


ACRONYM_RE = r"([A-Za-z]+(?: [A-Za-z]+){1,5}) \(([A-Z]{2,6})\)"


def mine_acronyms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Acronym/expansion pair mining — the initialism core of
    Schwartz & Hearst (PSB 2003) "long form (SF)" extraction: a
    parenthesized 2-6 letter uppercase token is an acronym candidate,
    and it VERIFIES iff the initials of the |SF| words immediately
    before the parenthesis spell it (case-insensitive).  The verified
    (acronym, expansion) pairs with support counts are exactly the rows
    a resolver alias table wants appended (operators/resolve.py
    build_alias_table unions them like any other alias source).

    Both the candidate window and the verify step are leftmost-first
    regex + array algebra with identical semantics in Java regex and
    RE2, so the oracle mirrors them verbatim.

    Scale posture: extraction is map-side regexp_extract_all (bounded
    per-match work, no token self-join); aggregation is one
    (acronym, expansion)-keyed hash agg with map-side combine.
    """
    ms = df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all(F.col(text_col), F.lit(ACRONYM_RE), 1).alias(
                    "lf"
                ),
                F.regexp_extract_all(F.col(text_col), F.lit(ACRONYM_RE), 2).alias(
                    "sf"
                ),
            )
        ).alias("m"),
    )
    words = F.split(F.col("m.lf"), " ")
    n = F.length(F.col("m.sf"))
    # slice start must stay >= 1 (Spark errors on 0, counts from the END
    # on negatives) — a window with fewer words than the acronym has
    # letters can never verify, so give it an empty slice
    exp_words = F.when(
        F.size(words) >= n, F.slice(words, F.size(words) - n + 1, n)
    ).otherwise(F.array().cast("array<string>"))
    initials = F.upper(
        F.array_join(F.transform(exp_words, lambda w: F.substring(w, 1, 1)), "")
    )
    occ = (
        ms.where((F.size(words) >= n) & (initials == F.col("m.sf")))
        .select(
            F.col(id_col),
            F.col("m.sf").alias("acronym"),
            F.lower(F.array_join(exp_words, " ")).alias("expansion"),
        )
    )
    return occ.groupBy("acronym", "expansion").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
        F.countDistinct(id_col).cast("long").alias("n_docs"),
    )


def vocab_growth_curve(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Vocabulary growth (Heaps'-law) curve — the tokenizer-sizing and
    dedup-health audit: at every power-of-2 prefix of the token stream
    (corpus order = (doc_id, position), plus the full-corpus point),
    how many DISTINCT types have appeared?  Sub-linear growth is healthy
    natural text; near-linear growth screams unique-id/boilerplate noise.

    Output: (prefix_tokens, n_types, types_ppm) with integer ppm.

    Scale posture: token occurrences get exact global positions through
    the exchange-free range-partition ranking (operators/ranking.py —
    no SinglePartition window); first occurrence per type is one
    map-side-combined min; the curve itself aggregates the vocab-sized
    firsts table against a <=63-row broadcast grid.
    """
    from nexus_forge_spark.operators.ranking import global_row_numbers

    toks = df.select(
        F.col(id_col).alias("__d"),
        F.posexplode(tokens(F.col(text_col))).alias("__p", "__t"),
    )
    ranked = global_row_numbers(toks, ["__d", "__p"], out_col="__gpos")
    firsts = ranked.groupBy("__t").agg(F.min("__gpos").alias("__first"))
    total = ranked.agg(F.max("__gpos").alias("n")).collect()[0]["n"]
    grid = []
    k = 1
    while k <= total:
        grid.append(k)
        k <<= 1
    if not grid or grid[-1] != total:
        grid.append(total)
    spark = df.sparkSession
    grid_df = spark.createDataFrame(
        [(g,) for g in grid], "prefix_tokens long"
    )
    return (
        firsts.crossJoin(F.broadcast(grid_df))
        .where(F.col("__first") <= F.col("prefix_tokens"))
        .groupBy("prefix_tokens")
        .agg(F.count(F.lit(1)).cast("long").alias("n_types"))
        .select(
            "prefix_tokens",
            "n_types",
            F.expr("CAST(n_types * 1000000 div prefix_tokens AS BIGINT)").alias(
                "types_ppm"
            ),
        )
    )


def readability_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade in integer
    micro-units — the classic readability quality signal (very low ease
    = legalese/boilerplate, implausibly high = word salad).

    Heuristics, deterministic and engine-portable:
    * sentences = runs of ``[.!?]+`` (min 1);
    * words = whitespace tokens (min 1);
    * syllables per word = vowel-group count ``[aeiouy]+`` with the
      silent-e discount (trailing 'e' not preceded by a vowel drops one
      group when the word has >1), floored at 1.

    Scores are the standard formulas scaled to micro-units with BIGINT
    division (ease = 206.835 - 1.015 w/s - 84.6 syl/w), so both engines
    agree bit-for-bit; everything is one map-side projection.
    """
    t = F.lower(F.trim(F.col(text_col)))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), 0)), F.lit(1)
    ).cast("long")
    toks = F.split(t, r"\s+")
    n_words = F.greatest(F.size(toks), F.lit(1)).cast("long")
    groups = F.size(F.regexp_extract_all(t, F.lit(r"[aeiouy]+"), 0)).cast("long")
    # silent-e: a word ending in e where the e is its own vowel group
    # (not "ee"/"ie" etc.) counted one group too many
    silent = F.size(
        F.filter(
            toks,
            lambda w: w.rlike("[^aeiouy]e$")
            & (F.size(F.regexp_extract_all(w, F.lit(r"[aeiouy]+"), 0)) > 1),
        )
    ).cast("long")
    n_syll = F.greatest(groups - silent, n_words).cast("long")
    ease = (
        F.lit(206_835_000).cast("long")
        - F.expr(f"1015000 * __w div __s")
        - F.expr(f"84600000 * __y div __w")
    )
    grade = (
        F.expr("390000 * __w div __s")
        + F.expr("11800000 * __y div __w")
        - F.lit(15_590_000).cast("long")
    )
    return df.select(
        F.col(id_col),
        n_sent.alias("__s"),
        n_words.alias("__w"),
        n_syll.alias("__y"),
    ).select(
        id_col,
        F.col("__s").alias("n_sentences"),
        F.col("__w").alias("n_words"),
        F.col("__y").alias("n_syllables"),
        ease.alias("ease_micro"),
        grade.alias("grade_micro"),
    )


def heldout_unigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_ppm: int = 800_000,
    salt: str = "lmsplit",
) -> DataFrame:
    """Leakage-free corpus-LM scoring: unigram counts come ONLY from the
    hash-assigned train split, held-out docs score against them with
    add-one smoothing over (train vocab + 1 unseen bucket) — the eval
    hygiene :func:`unigram_logprob_scores` skips (whole-corpus counts
    let every doc score against its own tokens, deflating rare-token
    NLL).  Per-token -ln p = ln((n_train + v_train + 1)/(c + 1)) is the
    deterministic fixed-point integer-ratio log of functions/intlog.py —
    this query was the round-2 driver red cell when it used F.log (libm
    1-ulp differences flipped a micro-nat rounding on the driver's
    build); it is now a pure BIGINT function of the counts.

    Output: held-out docs only — (id, n_tokens, n_unseen, sum_nll_micro,
    mean_nll_micro), where n_unseen counts tokens outside the train
    vocabulary (scored at the smoothing floor).

    Scale posture: split is a map-side hash; counts one token-keyed
    map-side-combined agg over the train side; the vocab-sized counts
    join back onto the held-out explode UN-hinted (AQE broadcasts from
    runtime bytes when the vocab fits, shuffle-joins when a web-scale
    vocab doesn't); one per-doc aggregate.
    """
    from nexus_forge_spark.operators.curation import _ppm_hash

    is_train = _ppm_hash(F.col(id_col), salt) < train_ppm
    toks = df.select(
        F.col(id_col),
        is_train.alias("__tr"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    from nexus_forge_spark.functions.intlog import lnq30_col, micro_from_l2_col

    counts = (
        toks.where("__tr")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("l2c", lnq30_col("(c + 1)"))
    )
    totals = counts.agg(
        F.sum("c").alias("n_train"),
        F.count(F.lit(1)).alias("v_train"),
    ).withColumn("l2n", lnq30_col("(n_train + v_train + 1)"))
    scored = (
        toks.where(~F.col("__tr"))
        .join(counts, "t", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col("c").isNull().cast("long").alias("unseen"),
            micro_from_l2_col("(l2n - coalesce(l2c, 0))").alias("nll_micro"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("unseen").cast("long").alias("n_unseen"),
        F.sum("nll_micro").alias("sum_nll_micro"),
        F.expr("CAST(sum(nll_micro) div count(1) AS BIGINT)").alias(
            "mean_nll_micro"
        ),
    )


def rake_keywords(
    df,
    stopwords: list[str],
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal runs of content tokens between stopword/punctuation breaks;
    each word scores deg/freq where deg sums the lengths of the phrases
    its occurrences sit in and freq counts occurrences (both PER
    DOCUMENT, the classic formulation); a phrase scores the sum of its
    words' scores; top-k phrases per doc win.

    Engine exactness: word score is (deg * 1e6) DIV freq — exact BIGINT
    ppm, no float — and ranking orders by (score desc, phrase asc), so
    ties are text-deterministic.  A token counts as a word only if it
    equals its leading [a-z0-9]+ run (tokens carrying punctuation are
    phrase breaks, like stopwords).

    Scale: everything is per-document algebra — one posexplode, one
    row_number window and two hash aggregates, all partitioned by
    doc_id, so Catalyst shares a single Exchange; no corpus-wide state
    exists at all (unlike tf-idf there is no vocabulary table), making
    this embarrassingly parallel at 10^12 docs.

    Output: (id_col, phrase, score_ppm, rank), rank 1..k per doc.
    """
    stop = sorted(set(s.lower() for s in stopwords))
    toks = df.select(F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"))
    stripped = F.regexp_extract(F.col("tok"), "^[a-z0-9]+", 0)
    words = toks.select(
        F.col(id_col), "pos", stripped.alias("w")
    ).where(
        (stripped == F.col("tok")) & (stripped != "") & (~stripped.isin(stop))
    )
    w_rn = Window.partitionBy(id_col).orderBy("pos")
    ph = words.withColumn("grp", F.col("pos") - F.row_number().over(w_rn))
    plen = ph.withColumn(
        "plen", F.count(F.lit(1)).over(Window.partitionBy(id_col, "grp"))
    )
    wstats = plen.groupBy(id_col, "w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    ).withColumn("wscore", F.expr("(deg * 1000000) DIV freq"))
    scored = (
        plen.join(wstats.select(id_col, "w", "wscore"), [id_col, "w"])
        .groupBy(id_col, "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x.getField("w"),
                ),
                " ",
            ).alias("phrase"),
            F.sum("wscore").cast("long").alias("score_ppm"),
        )
        .select(id_col, "phrase", "score_ppm")
        .distinct()
    )
    w_top = Window.partitionBy(id_col).orderBy(
        F.col("score_ppm").desc(), F.col("phrase").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_top))
        .where(F.col("rank") <= k)
        .select(id_col, "phrase", "score_ppm", F.col("rank").cast("int").alias("rank"))
    )


def sql_rake_keywords(
    docs_sql: str,
    stopwords: list[str],
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle: the identical per-document RAKE algebra."""
    stop = ", ".join(f"'{s.lower()}'" for s in sorted(set(x.lower() for x in stopwords)))
    return f"""WITH docs AS MATERIALIZED ({docs_sql}),
toks AS (
  SELECT {id_col},
         CAST(unnest(generate_series(1, len(string_split_regex(trim(lower({text_col})), '\\s+')))) AS INT) - 1 AS pos,
         unnest(string_split_regex(trim(lower({text_col})), '\\s+')) AS tok
  FROM docs
),
words AS (
  SELECT {id_col}, pos, regexp_extract(tok, '^[a-z0-9]+') AS w
  FROM toks
  WHERE regexp_extract(tok, '^[a-z0-9]+') = tok
    AND tok <> '' AND tok NOT IN ({stop})
),
ph AS (
  SELECT {id_col}, pos, w,
         pos - row_number() OVER (PARTITION BY {id_col} ORDER BY pos) AS grp
  FROM words
),
plen AS (
  SELECT *, count(*) OVER (PARTITION BY {id_col}, grp) AS plen FROM ph
),
wstats AS (
  SELECT {id_col}, w, (sum(plen) * 1000000) // count(*) AS wscore
  FROM plen GROUP BY {id_col}, w
),
scored AS (
  SELECT DISTINCT p.{id_col}, phrase, score_ppm FROM (
    SELECT p.{id_col}, p.grp,
           string_agg(p.w, ' ' ORDER BY p.pos) AS phrase,
           CAST(sum(s.wscore) AS BIGINT) AS score_ppm
    FROM plen p JOIN wstats s ON p.{id_col} = s.{id_col} AND p.w = s.w
    GROUP BY p.{id_col}, p.grp
  ) p
)
SELECT {id_col}, phrase, score_ppm, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {id_col} ORDER BY score_ppm DESC, phrase ASC) AS rank
  FROM scored
) WHERE rank <= {k}"""


def zipf_fit(
    freqs: DataFrame,
    term_col: str = "term",
    freq_col: str = "freq",
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over a term-frequency table: least-squares slope of
    ln(freq) against ln(rank) for the top_n terms (rank by freq desc,
    term asc) — the corpus-health diagnostic (natural text ~ -1.0;
    boilerplate-heavy or synthetic corpora drift off).

    Engine exactness: logs are the deterministic fixed-point intlog
    micro-nats coarsened to MILLI-nats, and the normal-equation sums
    stay in BIGINT because top_n is capped at 1000 (documented bound:
    with x <= ln(1000)*1e3 and y <= ln(1e12)*1e3 every intermediate,
    including num*1000, fits in 63 bits — Spark's DECIMAL(38,0) DIV is
    broken for >63-bit operands, so the bound is load-bearing).
    slope_milli = (n*Sxy - Sx*Sy) * 1000 DIV (n*Sxx - Sx*Sx), both
    engines truncating toward zero on negatives (verified).

    Scale: the freq table is vocabulary-sized; top-n extraction is a
    TakeOrderedAndProject (never a global sort) and the fit is one
    aggregate over <= 1000 rows.  Output: one row (n_terms,
    slope_milli).
    """
    from nexus_forge_spark.functions.intlog import ln_micro_col

    if top_n > 1000:
        raise ValueError("top_n > 1000 would overflow the BIGINT normal equations")
    top = (
        freqs.select(F.col(term_col).alias("t"), F.col(freq_col).cast("long").alias("f"))
        .orderBy(F.col("f").desc(), F.col("t").asc())
        .limit(top_n)
    )
    w = Window.orderBy(F.col("f").desc(), F.col("t").asc())
    ranked = top.select(
        F.row_number().over(w).cast("long").alias("r"), "f"
    )  # <= top_n rows: the single-partition window is bounded, not corpus-sized
    logs = ranked.select(
        (ln_micro_col("r", "1") / F.lit(1000)).cast("long").alias("x"),
        (ln_micro_col("f", "1") / F.lit(1000)).cast("long").alias("y"),
    )
    agg = logs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE "
            "((n * sxy - sx * sy) * 1000) DIV (n * sxx - sx * sx) END"
        )
        .cast("long")
        .alias("slope_milli"),
    )


def sql_zipf_fit(
    freqs_sql: str,
    top_n: int = 1000,
) -> str:
    """DuckDB oracle for :func:`zipf_fit`.  freqs_sql -> (term, freq)."""
    from nexus_forge_spark.functions.intlog import ln_micro_sql

    x = ln_micro_sql("r", "1", "duck")
    y = ln_micro_sql("f", "1", "duck")
    return f"""WITH top AS MATERIALIZED (
  SELECT term AS t, CAST(freq AS BIGINT) AS f FROM ({freqs_sql})
  ORDER BY f DESC, t ASC LIMIT {top_n}
),
ranked AS (
  SELECT row_number() OVER (ORDER BY f DESC, t ASC) AS r, f FROM top
),
logs AS (
  SELECT CAST(({x}) // 1000 AS BIGINT) AS x,
         CAST(({y}) // 1000 AS BIGINT) AS y
  FROM ranked
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM logs
)
SELECT n AS n_terms,
       CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE
            ((n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx) END AS BIGINT)
       AS slope_milli
FROM agg"""


def kn_bigram_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    d_num: int = 3,
    d_den: int = 4,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    Chen & Goodman 1998 interpolated form every production LM
    pipeline ships) — the principled upgrade of the Jelinek-Mercer mix
    in :func:`bigram_logprob_scores`: the backoff distribution is the
    CONTINUATION probability (in how many distinct contexts does w
    appear) rather than raw frequency, so "Francisco" stops looking
    probable outside "San _":

        p(w|prev) = max(c(prev,w) - d, 0) / c(prev.)
                  + d * N1+(prev.) / c(prev.) * N1+(.w) / T

    with discount ``d = d_num/d_den`` (default 3/4) and T = distinct
    bigram types.  All four count tables fall out of ONE bigram
    aggregate (cb -> per-prev totals + distinct-continuation counts,
    per-w distinct-predecessor counts, one global type count): no
    second corpus pass.

    Engine exactness: the discount is applied in integer arithmetic
    (``d_den*cb - d_num`` over ``d_den*cp``), each probability leg is a
    Q30 fixed-point quotient (intlog.q30_div, overflow-safe), the
    interpolation weight ``d*N1+(prev.)/c(prev.)`` scales the Q30
    continuation probability in BIGINT (d_num * nf * pcont_q30 <=
    3 * nf * 2^30 — no overflow below ~2^31 distinct continuations
    per context, unreachable), and -ln(p) is the deterministic
    fixed-point log of functions/intlog.py.  No doubles, no libm.
    Output: (id, n_bigrams, sum_nll_micro, mean_nll_micro), docs with
    >= 2 tokens.
    """
    from nexus_forge_spark.functions.intlog import (
        Q30,
        lnq30_col,
        micro_from_l2_col,
        q30_div_col,
    )

    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("t")).where(
        F.size("t") >= 2
    )
    pairs = base.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> struct(a AS prev, b AS w))"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.prev").alias("prev"), F.col("bg.w").alias("w"))
    cb = pairs.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("cb"))
    cp = cb.groupBy("prev").agg(
        F.sum("cb").alias("cp"), F.count(F.lit(1)).alias("nf")
    )
    nb = cb.groupBy("w").agg(F.count(F.lit(1)).alias("nb"))
    tt = cb.agg(F.count(F.lit(1)).alias("tt"))
    rates = (
        cb.join(cp, "prev")
        .join(nb, "w")
        .crossJoin(F.broadcast(tt))
        .withColumn(
            "__disc", F.greatest(F.lit(d_den) * F.col("cb") - F.lit(d_num), F.lit(0))
        )
        .withColumn("__q1", q30_div_col("__disc", f"({d_den} * cp)"))
        .withColumn("__pc", q30_div_col("nb", "tt"))
        .withColumn(
            "__q2", F.expr(f"({d_num} * nf * __pc) div ({d_den} * cp)")
        )
        .withColumn("__pq", F.greatest(F.col("__q1") + F.col("__q2"), F.lit(1)))
        .withColumn("__l2p", lnq30_col("__pq"))
        .select(
            "prev",
            "w",
            micro_from_l2_col(f"({30 * Q30} - __l2p)").alias("nll_micro"),
        )
    )
    scored = pairs.join(rates, ["prev", "w"]).select(F.col(id_col), "nll_micro")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("nll_micro").alias("sum_nll_micro"),
        F.expr("CAST(sum(nll_micro) div count(1) AS BIGINT)").alias(
            "mean_nll_micro"
        ),
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token shingle,
    slide a window of ``w`` consecutive shingle hashes, and keep each
    window's minimum — the guarantee is that any match of length
    >= w + k - 1 tokens shares at least one selected fingerprint, at
    ~2/(w+1) density.  This is the POSITIONAL upgrade of
    :func:`rolling_fingerprint` (which keeps one global min per doc):
    the selected set supports partial-overlap / plagiarism-span
    detection, not just whole-doc near-dup.

    Engine exactness + hub safety: the (hash, position) pair is packed
    into ONE BIGINT key ``(h >> 17) * 2^20 + pos`` — a 43-bit shingle
    hash beside a 20-bit position stays under 2^63, so the
    per-window argmin is a plain integer ``min`` with the
    lexicographic tie-break "smallest position among equal hashes"
    built in: no DECIMAL arithmetic (Spark DECIMAL DIV wraps past 63
    bits) and no engine-specific min_by tie semantics anywhere.  The
    43-bit fingerprint space is the documented trade (births a
    collision only past ~10^6 distinct shingles per doc pair); docs
    are capped at 2^20 shingle positions, and the cap is ENFORCED —
    docs with more shingles are dropped (a >1M-token "document" is a
    concatenation artifact, not a fingerprintable unit; silently
    wrapped positions would corrupt fp/pos identically in both
    engines, invisible to the differential).  Shingle hashing is
    codegen md5 on exploded rows; window mins are a doc-partitioned
    window (parallel across docs, no global shuffle); docs with fewer
    than ``w`` shingles contribute their single overall min (the same
    short-doc semantics rolling_fingerprint uses).

    Output: distinct (id, pos, fp) — pos is the 0-based token index of
    the selected shingle, fp its 60-bit hash.
    """
    from pyspark.sql import Window

    from nexus_forge_spark.operators.sketches import hash60

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks")).where(
        (F.size("toks") >= k) & (F.size("toks") - k + 1 <= F.lit(1 << 20))
    )
    grams = (
        toks.select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.size("toks") - k)).alias("i"),
            "toks",
        )
        .select(
            id_col,
            F.col("i"),
            hash60(
                F.array_join(F.slice(F.col("toks"), F.col("i") + 1, k), " "), "win"
            ).alias("h"),
        )
        .withColumn(
            "key",
            F.expr("(h div 131072) * 1048576 + i"),
        )
    )
    wcnt = Window.partitionBy(id_col)
    wmin = (
        Window.partitionBy(id_col)
        .orderBy("i")
        .rowsBetween(Window.currentRow, w - 1)
    )
    wall = wcnt.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    keyed = grams.withColumn("n", F.count(F.lit(1)).over(wcnt)).withColumn(
        "mk",
        F.when(F.col("n") < w, F.min("key").over(wall)).otherwise(
            F.min("key").over(wmin)
        ),
    )
    sel = keyed.where((F.col("n") < w) | (F.col("i") <= F.col("n") - w)).select(
        id_col, F.col("mk")
    ).distinct()
    return sel.select(
        id_col,
        (F.col("mk") % 1_048_576).cast("long").alias("pos"),
        F.expr("CAST(mk div 1048576 AS BIGINT)").alias("fp"),
    )


def sql_winnowing_fingerprints(
    source_sql: str,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`winnowing_fingerprints`."""
    from nexus_forge_spark.operators.sketches import sql_hash60

    gram = "array_to_string(t[i + 1:i + " + str(k) + "], ' ')"
    h = sql_hash60(gram, "win")
    return rf"""WITH base AS (
  SELECT {id_col}, string_split_regex(trim(lower({text_col})), '\s+') AS t
  FROM ({source_sql})
  WHERE len(string_split_regex(trim(lower({text_col})), '\s+')) >= {k}
    AND len(string_split_regex(trim(lower({text_col})), '\s+')) - {k} + 1
        <= {1 << 20}
),
grams AS (
  SELECT {id_col}, i,
         (CAST({h} AS BIGINT) // 131072) * 1048576 + i AS key
  FROM base, LATERAL (
    SELECT unnest(generate_series(0, len(t) - {k})) AS i)
),
keyed AS (
  SELECT {id_col}, i,
         count(*) OVER (PARTITION BY {id_col}) AS n,
         CASE WHEN count(*) OVER (PARTITION BY {id_col}) < {w}
              THEN min(key) OVER (PARTITION BY {id_col})
              ELSE min(key) OVER (PARTITION BY {id_col} ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) END AS mk
  FROM grams
),
sel AS (
  SELECT DISTINCT {id_col}, mk FROM keyed
  WHERE n < {w} OR i <= n - {w}
)
SELECT {id_col}, CAST(mk % 1048576 AS BIGINT) AS pos,
       CAST(mk // 1048576 AS BIGINT) AS fp
FROM sel"""


def good_turing_counts(
    df: DataFrame,
    text_col: str = "text",
    max_r: int = 50,
    ngram: int = 1,
) -> DataFrame:
    """Good-Turing count-of-counts table (Good, 1953) over the token
    vocabulary: N_r = number of types seen exactly r times, and the
    adjusted count r* = (r+1) * N_{r+1} / N_r in integer ppm — the
    smoothing diagnostic every LM pipeline reads before trusting raw
    MLE counts (r* << r at small r means heavy unseen mass; the r=1
    row's N_1/N is the Turing estimate of unseen probability).

    One vocab aggregate -> one count-of-counts aggregate (both
    map-side combining) -> an equi-join of the N table onto itself at
    r+1 (lead() would silently skip ABSENT r values; sparse
    count-of-counts make that a real bug class, so the shift is an
    explicit join).  ``max_r`` bounds the output (smoothing only
    matters at small r) and the ppm numerator at (max_r+1) * vocab *
    1e6 — BIGINT-safe to 10^11 types.

    Output: (r, n_types, n_next, r_star_ppm) for r <= max_r,
    r_star_ppm = 0 where N_{r+1} is absent (the standard cutoff).
    ``ngram`` picks the type universe (1 = tokens, 2 = bigrams — the
    sparser universe where GT smoothing actually bites).
    """
    if ngram == 1:
        toks = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    elif ngram == 2:
        base = df.select(tokens(F.col(text_col)).alias("t")).where(
            F.size("t") >= 2
        )
        toks = base.select(
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                    " (a, b) -> concat(a, ' ', b))"
                )
            ).alias("w")
        )
    else:
        raise ValueError(f"ngram must be 1 or 2, got {ngram}")
    cu = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nr = cu.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).alias("n_types")
    )
    nxt = nr.select((F.col("r") - 1).alias("r"), F.col("n_types").alias("n_next"))
    return (
        nr.join(nxt, "r", "left")
        .where(F.col("r") <= max_r)
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_types").cast("long").alias("n_types"),
            F.coalesce("n_next", F.lit(0)).cast("long").alias("n_next"),
            F.expr(
                "CAST((r + 1) * coalesce(n_next, 0) * 1000000 div n_types"
                " AS BIGINT)"
            ).alias("r_star_ppm"),
        )
    )


def sql_good_turing_counts(
    source_sql: str, text_col: str = "text", max_r: int = 50, ngram: int = 1
) -> str:
    """DuckDB oracle for :func:`good_turing_counts`."""
    if ngram == 1:
        toks = rf"""toks AS (
  SELECT unnest(string_split_regex(trim(lower({text_col})), '\s+')) AS w
  FROM ({source_sql})
)"""
    else:
        toks = rf"""base AS (
  SELECT string_split_regex(trim(lower({text_col})), '\s+') AS t
  FROM ({source_sql})
  WHERE len(string_split_regex(trim(lower({text_col})), '\s+')) >= 2
),
toks AS (
  SELECT t[i] || ' ' || t[i+1] AS w
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
)"""
    return rf"""WITH {toks},
cu AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
nr AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_types FROM cu GROUP BY c)
SELECT CAST(n.r AS BIGINT) AS r, n.n_types,
       CAST(coalesce(x.n_types, 0) AS BIGINT) AS n_next,
       CAST((n.r + 1) * coalesce(x.n_types, 0) * 1000000 // n.n_types AS BIGINT)
         AS r_star_ppm
FROM nr n LEFT JOIN nr x ON x.r = n.r + 1
WHERE n.r <= {max_r}"""


def source_overlap_matrix(
    df: DataFrame,
    shingle_n: int = 3,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source n-gram contamination matrix (round-4): for every
    source pair, how much of each side's distinct shingle vocabulary the
    other side shares — the eval-integrity report behind
    train/benchmark decontamination (Brown et al. 2020 app. C runs
    exactly this audit before removal; the REMOVAL operator is
    curation.decontaminate, this is the measurement).

    Per source: the DISTINCT 60-bit shingle-hash set (one map-side
    explode + hash aggregate).  Pair overlap: ONE equi-join on the
    shingle hash — the join fans out only where sources genuinely share
    a gram, never the |A| x |B| cross — then jaccard in integer ppm.
    Output: (src_a, src_b, grams_a, grams_b, common, jaccard_ppm) for
    src_a < src_b.  At 100 TB the shingle sets would first pass through
    a KMV/minhash sketch (operators/sketches.py) — this exact form is
    the calibration baseline the sketched estimate is judged against.
    """
    from nexus_forge_spark.operators.dedup import word_shingles
    from nexus_forge_spark.operators.sketches import hash60

    grams = (
        df.select(
            F.col(source_col).alias("src"),
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("g"),
        )
        .select("src", hash60(F.col("g"), "ctm").alias("h"))
        .distinct()
    )
    totals = grams.groupBy("src").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ta = totals.select(
        F.col("src").alias("src_a"), F.col("n_grams").alias("grams_a")
    )
    tb = totals.select(
        F.col("src").alias("src_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        common.join(ta, "src_a")
        .join(tb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("grams_a").cast("long").alias("grams_a"),
            F.col("grams_b").cast("long").alias("grams_b"),
            F.col("common").cast("long").alias("common"),
            F.expr(
                "CAST(common * 1000000 div (grams_a + grams_b - common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


def sql_source_overlap_matrix(source_sql: str, shingle_n: int = 3) -> str:
    """DuckDB oracle for :func:`source_overlap_matrix`."""
    from nexus_forge_spark.operators.sketches import sql_hash60

    k = shingle_n
    gram = f"array_to_string(t[i + 1:i + {k}], ' ')"
    h = sql_hash60(gram, "ctm")
    return rf"""WITH base AS (
  SELECT source AS src,
         string_split_regex(trim(lower(text)), '\s+') AS t
  FROM ({source_sql})
),
grams AS (
  SELECT DISTINCT src,
    CASE WHEN len(t) >= {k} THEN {h}
         ELSE {sql_hash60("array_to_string(t, ' ')", "ctm")} END AS h
  FROM base, LATERAL (
    SELECT unnest(generate_series(0, greatest(len(t) - {k}, 0))) AS i)
  WHERE len(t) >= {k} OR i = 0
),
totals AS (SELECT src, count(*) AS n_grams FROM grams GROUP BY src),
common AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS common
  FROM grams a JOIN grams b ON a.h = b.h AND a.src < b.src
  GROUP BY 1, 2
)
SELECT c.src_a, c.src_b,
  CAST(ta.n_grams AS BIGINT) AS grams_a,
  CAST(tb.n_grams AS BIGINT) AS grams_b,
  CAST(c.common AS BIGINT) AS common,
  CAST(c.common * 1000000 // (ta.n_grams + tb.n_grams - c.common) AS BIGINT)
    AS jaccard_ppm
FROM common c
JOIN totals ta ON ta.src = c.src_a
JOIN totals tb ON tb.src = c.src_b"""


_SCRIPT_CLASSES = [
    # (name, java regex class, re2 regex class) — engine-verified equal
    ("latin", r"[\p{IsLatin}]", r"[\p{Latin}]"),
    ("cyrillic", r"[\p{IsCyrillic}]", r"[\p{Cyrillic}]"),
    ("han", r"[\p{IsHan}]", r"[\p{Han}]"),
    ("digit", "[0-9]", "[0-9]"),
]
_SCRIPT_ORDER = [n for n, _, _ in _SCRIPT_CLASSES]


def _dominant_case(col_of) -> str:
    """Fixed-priority argmax over the script-count columns: a later
    class wins only on a STRICTLY greater count, so ties resolve to the
    earlier class identically in both engines."""
    expr = f"'{_SCRIPT_ORDER[0]}'"
    seen = [col_of(_SCRIPT_ORDER[0])]
    for name in _SCRIPT_ORDER[1:]:
        best = seen[0] if len(seen) == 1 else f"greatest({', '.join(seen)})"
        expr = (
            f"CASE WHEN {col_of(name)} > {best} "
            f"THEN '{name}' ELSE {expr} END"
        )
        seen.append(col_of(name))
    return expr


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script composition per document (round-4): ppm of
    non-whitespace characters in Latin / Cyrillic / Han / digit / other,
    plus the dominant script — the charset gate a multilingual crawl
    runs beside language_id (mixed-script spam, mojibake, and
    wrong-language leakage surface here first; CCNet-style pipelines
    filter on it).

    Everything is codegen Column algebra: each class count is
    length(text) - length(regexp_replace(text, class, '')) — one scan,
    no explode, no UDF.  Java regex names scripts \\p{IsX}; the DuckDB
    oracle uses RE2's \\p{X} — the class syntax differs, the membership
    does not (engine-verified in tests).  ppm uses truncating integer
    div; 'other' is the non-whitespace remainder clamped at 0 (a char
    can match two classes only pathologically); dominant = fixed-order
    argmax, 'none' for empty docs.
    """
    txt = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        F.length(F.regexp_replace(txt, r"\s", "")).alias("__total"),
        *[
            (F.length(txt) - F.length(F.regexp_replace(txt, java, "")))
            .alias(f"__{name}")
            for name, java, _ in _SCRIPT_CLASSES
        ],
    )
    known = " + ".join(f"__{n}" for n in _SCRIPT_ORDER)
    ppm_cols = [
        F.expr(
            f"CAST(CASE WHEN __total > 0 THEN __{n} * 1000000 div __total"
            f" ELSE 0 END AS BIGINT)"
        ).alias(f"{n}_ppm")
        for n in _SCRIPT_ORDER
    ]
    other = F.expr(
        f"CAST(CASE WHEN __total > 0 THEN greatest(__total - ({known}), 0)"
        f" * 1000000 div __total ELSE 0 END AS BIGINT)"
    ).alias("other_ppm")
    dom = F.expr(
        f"CASE WHEN __total = 0 THEN 'none' "
        f"ELSE {_dominant_case(lambda n: f'__{n}')} END"
    ).alias("dominant")
    return staged.select(
        id_col,
        F.col("__total").cast("long").alias("n_chars"),
        *ppm_cols,
        other,
        dom,
    )


def sql_script_profile(source_sql: str) -> str:
    """DuckDB oracle for :func:`script_profile` (RE2 class syntax)."""
    sel = ",\n  ".join(
        f"(length(text) - length(regexp_replace(text, '{re2}', '', 'g')))"
        f" AS c_{n}"
        for n, _, re2 in _SCRIPT_CLASSES
    )
    known = " + ".join(f"c_{n}" for n in _SCRIPT_ORDER)
    ppm = ",\n  ".join(
        f"CAST(CASE WHEN total > 0 THEN c_{n} * 1000000 // total ELSE 0 END"
        f" AS BIGINT) AS {n}_ppm"
        for n in _SCRIPT_ORDER
    )
    dom = _dominant_case(lambda n: f"c_{n}")
    return rf"""WITH staged AS (
  SELECT doc_id,
  length(regexp_replace(text, '\s', '', 'g')) AS total,
  {sel}
  FROM ({source_sql})
)
SELECT doc_id, CAST(total AS BIGINT) AS n_chars,
  {ppm},
  CAST(CASE WHEN total > 0 THEN greatest(total - ({known}), 0) * 1000000
       // total ELSE 0 END AS BIGINT) AS other_ppm,
  CASE WHEN total = 0 THEN 'none' ELSE {dom} END AS dominant
FROM staged"""


def naive_bayes_source_scores(
    df: DataFrame,
    pos_sources: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Multinomial Naive-Bayes quality/source classifier (round-4): the
    CCNet/GPT-2-WebText discipline of scoring crawl text against a
    trusted reference slice, here trained ON the corpus itself — docs
    from ``pos_sources`` are the positive class, the rest negative —
    with add-one smoothing and the per-doc log-odds in deterministic
    integer micro-nats.

        log_odds(d) = ln(Np/Nn)                              (doc prior)
                    + sum_t tf(t,d) * [ln((cp_t+1)/(Tp+V))
                                       - ln((cn_t+1)/(Tn+V))]

    Why NB and not logistic regression: training is PURE COUNTING — two
    map-side-combinable aggregates (class-conditional token counts and
    class totals), no gradient loop, no floats — so the trained model is
    bit-identical on any engine and the whole operator stays
    oracle-gradable.  Every logarithm is the fixed-point intlog; token
    weights are computed once on the VOCAB-sized count table, then one
    join onto per-(doc, token) counts and one sum — at 100 TB the corpus
    shuffles once for the tf aggregate and once for the vocab join (AQE
    picks broadcast vs shuffle from runtime vocab bytes, the r3 vocab
    discipline).

    Output: (id, n_tokens, log_odds_micro, predicted 'pos'|'neg';
    ties at 0 -> 'pos').
    """
    from nexus_forge_spark.functions.intlog import ln_micro_col

    toks = df.select(
        F.col(id_col),
        F.col(source_col).isin(pos_sources).alias("is_pos"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    tf = toks.groupBy(id_col, "is_pos", "t").agg(
        F.count(F.lit(1)).alias("tf")
    )
    vocab = (
        tf.groupBy("t")
        .agg(
            F.sum(F.when(F.col("is_pos"), F.col("tf")).otherwise(0)).alias("cp"),
            F.sum(F.when(~F.col("is_pos"), F.col("tf")).otherwise(0)).alias("cn"),
        )
    )
    totals = vocab.agg(
        F.sum("cp").alias("tp"),
        F.sum("cn").alias("tn"),
        F.count(F.lit(1)).alias("v"),
    )
    doc_counts = df.select(
        F.col(source_col).isin(pos_sources).alias("is_pos")
    ).groupBy().agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(~F.col("is_pos"), 1).otherwise(0)).alias("nn"),
    )
    weights = (
        vocab.crossJoin(F.broadcast(totals))
        .select(
            "t",
            (
                ln_micro_col("(cp + 1)", "(tp + v)")
                - ln_micro_col("(cn + 1)", "(tn + v)")
            ).alias("w_micro"),
        )
    )
    scored = (
        tf.join(weights, "t")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("w_micro")).cast("long").alias("s"),
        )
    )
    return (
        scored.crossJoin(F.broadcast(doc_counts))
        .select(
            id_col,
            "n_tokens",
            (F.col("s") + ln_micro_col("np", "nn")).cast("long").alias(
                "log_odds_micro"
            ),
        )
        .select(
            id_col,
            "n_tokens",
            "log_odds_micro",
            F.when(F.col("log_odds_micro") >= 0, F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("predicted"),
        )
    )


def sql_naive_bayes_source_scores(
    source_sql: str, pos_sources: list[str]
) -> str:
    """DuckDB oracle for :func:`naive_bayes_source_scores`
    (``source_sql`` -> (doc_id, text, source))."""
    from nexus_forge_spark.functions.intlog import ln_micro_sql

    pos_in = ", ".join(f"'{s}'" for s in pos_sources)
    w = (
        f"({ln_micro_sql('(cp + 1)', '(tp + v)', 'duck')}"
        f" - {ln_micro_sql('(cn + 1)', '(tn + v)', 'duck')})"
    )
    prior = ln_micro_sql("np", "nn", "duck")
    return rf"""WITH base AS MATERIALIZED (
  SELECT doc_id, source IN ({pos_in}) AS is_pos,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM ({source_sql})
),
tf AS MATERIALIZED (
  SELECT doc_id, is_pos, t, count(*) AS tf
  FROM base, LATERAL (SELECT unnest(toks) AS t)
  GROUP BY doc_id, is_pos, t
),
vocab AS MATERIALIZED (
  SELECT t,
    sum(CASE WHEN is_pos THEN tf ELSE 0 END) AS cp,
    sum(CASE WHEN NOT is_pos THEN tf ELSE 0 END) AS cn
  FROM tf GROUP BY t
),
totals AS (
  SELECT CAST(sum(cp) AS BIGINT) AS tp, CAST(sum(cn) AS BIGINT) AS tn,
         CAST(count(*) AS BIGINT) AS v
  FROM vocab
),
docn AS (
  SELECT
    CAST(sum(CASE WHEN source IN ({pos_in}) THEN 1 ELSE 0 END) AS BIGINT) AS np,
    CAST(sum(CASE WHEN source NOT IN ({pos_in}) THEN 1 ELSE 0 END) AS BIGINT) AS nn
  FROM ({source_sql})
),
weights AS MATERIALIZED (
  SELECT t, CAST({w} AS BIGINT) AS w_micro
  FROM vocab CROSS JOIN totals
),
scored AS (
  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         CAST(sum(tf.tf * w.w_micro) AS BIGINT) AS s
  FROM tf JOIN weights w ON tf.t = w.t
  GROUP BY tf.doc_id
)
SELECT doc_id, n_tokens,
  CAST(s + ({prior}) AS BIGINT) AS log_odds_micro,
  CASE WHEN s + ({prior}) >= 0 THEN 'pos' ELSE 'neg' END AS predicted
FROM scored CROSS JOIN docn"""


def span_overlap_report(
    fps: DataFrame,
    min_shared: int = 2,
    hot_cap: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairwise span-overlap report over winnowing fingerprints — the
    MOSS output stage (Schleimer 2003 §5): which document pairs share
    selected fingerprints, how many, and what fraction of each side's
    fingerprint set that covers (partial-plagiarism / boilerplate-span
    evidence, where whole-doc near-dup scores stay low).

    Scale discipline: a fingerprint shared by more than ``hot_cap``
    documents is template noise whose pair expansion is quadratic — it
    is EXCLUDED from pairing and surfaced in the report via
    ``n_hot_dropped`` (the P133 measured-caps rule: cap, and say so, so
    silence never reads as coverage).  Pairing is one equi-join on the
    fingerprint value over the capped postings.

    Output: (a, b, n_shared, cov_a_ppm, cov_b_ppm, n_hot_dropped) for
    pairs sharing >= min_shared fingerprints, a < b; coverage is the
    shared count over each side's DISTINCT fingerprint count (hot ones
    included — the denominator reflects the true set).
    """
    distinct_fp = fps.select(id_col, "fp").distinct().localCheckpoint(
        eager=True
    )
    per_doc = distinct_fp.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    fp_freq = distinct_fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    hot = fp_freq.where(F.col("df") > hot_cap)
    n_hot = hot.count()
    cold = distinct_fp.join(hot.select("fp"), "fp", "left_anti")
    l = cold.alias("l")
    r = cold.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    na = per_doc.select(F.col(id_col).alias("a"), F.col("n_fp").alias("na"))
    nb = per_doc.select(F.col(id_col).alias("b"), F.col("n_fp").alias("nb"))
    return (
        pairs.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.expr("CAST(n_shared * 1000000 div na AS BIGINT)").alias(
                "cov_a_ppm"
            ),
            F.expr("CAST(n_shared * 1000000 div nb AS BIGINT)").alias(
                "cov_b_ppm"
            ),
            F.lit(n_hot).cast("long").alias("n_hot_dropped"),
        )
    )


def sql_span_overlap_report(
    fps_sql: str, min_shared: int = 2, hot_cap: int = 64
) -> str:
    """DuckDB oracle for :func:`span_overlap_report` (fps_sql ->
    (doc_id, pos, fp))."""
    return f"""WITH dfp AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM ({fps_sql})
),
per_doc AS (SELECT doc_id, count(*) AS n_fp FROM dfp GROUP BY doc_id),
freq AS (SELECT fp, count(*) AS df FROM dfp GROUP BY fp),
n_hot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM freq WHERE df > {hot_cap}
),
cold AS MATERIALIZED (
  SELECT d.doc_id, d.fp FROM dfp d JOIN freq f ON d.fp = f.fp
  WHERE f.df <= {hot_cap}
),
pairs AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_shared
  FROM cold l JOIN cold r ON l.fp = r.fp AND l.doc_id < r.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {min_shared}
)
SELECT p.a, p.b, CAST(p.n_shared AS BIGINT) AS n_shared,
  CAST(p.n_shared * 1000000 // na.n_fp AS BIGINT) AS cov_a_ppm,
  CAST(p.n_shared * 1000000 // nb.n_fp AS BIGINT) AS cov_b_ppm,
  n_hot.n AS n_hot_dropped
FROM pairs p
JOIN per_doc na ON na.doc_id = p.a
JOIN per_doc nb ON nb.doc_id = p.b
CROSS JOIN n_hot"""
