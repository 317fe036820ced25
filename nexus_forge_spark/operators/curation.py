"""Training-data curation: deterministic sampling, domain mixing, and
sequence packing over the documents table.

These are the corpus-assembly steps a large-scale training pipeline runs
after cleaning/dedup (the reference has no analogue — kgforge stops at
KG construction; these extend the engine the way SURVEY §2.6's dedup
family does).  Every decision is a pure function of the row's id and the
operator's parameters — no RNG state, no driver-side sampling — so runs
are reproducible, resumable, and oracle-checkable:

* keep/drop decisions hash the id with the engine-portable md5/conv
  pattern (Spark ``conv(substr(md5(x),1,15),16,10)`` == DuckDB
  ``('0x'||substr(md5(x),1,15))::BIGINT`` bit-identically, same trick as
  operators/dedup.py MinHash);
* all rate thresholds are computed in INTEGER parts-per-million, so no
  float rounding can differ between engines.

Scale posture: stratified_sample and domain_mix are map-side filters
(domain_mix adds one tiny aggregate over #domains rows, broadcast back);
pack_sequences shuffles once on the bucket key and runs the inherently
sequential next-fit loop per bucket inside an Arrow batch.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexus_forge_spark.functions.itermetrics import iterate

PPM = 1_000_000


def _ppm_hash(col, salt: str):
    """Engine-portable uniform draw in [0, PPM): first 15 md5 hex digits
    as a BIGINT, mod 1e6."""
    h = F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(":" + salt))), 1, 15),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(PPM))


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "strat",
    default: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its id-hash
    draw falls under the stratum's threshold.  Fractions are converted
    to integer parts-per-million ONCE here, so both engines compare
    against identical literals.  Map-side only — no shuffle, no state."""
    thresholds = {k: int(round(v * PPM)) for k, v in fractions.items()}
    thr = F.lit(int(round(default * PPM)))
    for k, t in sorted(thresholds.items()):
        thr = F.when(F.col(key_col) == k, F.lit(t)).otherwise(thr)
    return df.where(_ppm_hash(F.col(id_col), salt) < thr)


def domain_mix(
    df: DataFrame,
    weights: dict[str, int],
    key_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic domain mixing: downsample domains so the kept corpus
    approximates the target integer-weight proportions, keeping 100% of
    the binding (most under-represented relative to its weight) domain.

    scale      = min over domains of count[k] * PPM // weight[k]
    keep_ppm[k]= scale * weight[k] // count[k]   (<= PPM by construction)

    All BIGINT arithmetic (`div` on Spark, `//` on DuckDB — no floats
    anywhere) -> engine-exact thresholds; intermediate products stay in
    range while count[k] * PPM * max_weight < 2^63 (~9e12 rows per domain
    at weight 1000).  The aggregate runs
    over #domains rows and joins back broadcast-style; the keep decision
    is the same map-side ppm-hash filter as stratified_sample.  Domains
    absent from `weights` are dropped."""
    w = F.lit(None).cast("long")
    for k, v in sorted(weights.items()):
        if v <= 0:
            raise ValueError(f"weight for {k!r} must be positive")
        w = F.when(F.col(key_col) == k, F.lit(int(v))).otherwise(w)
    counts = (
        df.where(w.isNotNull())
        .groupBy(F.col(key_col).alias("__k"))
        .agg(F.count(F.lit(1)).alias("__n"), F.first(w).alias("__w"))
    )
    scale = counts.agg(
        F.min(F.expr(f"__n * {PPM} div __w")).alias("__scale")
    )
    thresholds = counts.crossJoin(F.broadcast(scale)).select(
        "__k",
        F.expr("__scale * __w div __n").cast("long").alias("__thr"),
    )
    return (
        df.join(
            F.broadcast(thresholds), df[key_col] == F.col("__k"), "inner"
        )
        .where(_ppm_hash(F.col(id_col), salt) < F.col("__thr"))
        .drop("__k", "__thr")
    )


GOPHER_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopword_hits: int = 2,
    min_alpha_word_ratio: float = 0.8,
    keep_only: bool = False,
) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1, the
    public heuristics): token-count bounds, mean-word-length bounds, a
    minimum stopword presence, and a minimum fraction of words containing
    an alphabetic character.  Adds the per-rule features, a ``keep``
    verdict, and ``fail_reasons`` (which rules fired) so the filter is
    auditable; ``keep_only=True`` drops rejected rows instead.

    Map-side only.  Mean word length avoids a per-token fold: it is
    (non-whitespace chars) / tokens, one regexp_replace + one length."""
    t = F.col(text_col)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    n = F.size(toks)
    mean_len = (
        F.length(F.regexp_replace(t, r"\s", "")) / F.greatest(n, F.lit(1))
    ).cast("double")
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*GOPHER_STOPWORDS)))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    alpha_ratio = (alpha_words / F.greatest(n, F.lit(1))).cast("double")
    rules = [
        (n < min_tokens, "too_few_tokens"),
        (n > max_tokens, "too_many_tokens"),
        (mean_len < min_mean_word_len, "mean_word_len_low"),
        (mean_len > max_mean_word_len, "mean_word_len_high"),
        (stop_hits < min_stopword_hits, "too_few_stopwords"),
        (alpha_ratio < min_alpha_word_ratio, "alpha_ratio_low"),
    ]
    reasons = F.filter(
        F.array(
            *[
                F.when(cond, F.lit(name)).otherwise(F.lit(None))
                for cond, name in rules
            ]
        ),
        lambda x: x.isNotNull(),
    )
    out = df.select(
        "*",
        n.cast("int").alias("n_tokens"),
        mean_len.alias("mean_word_len"),
        stop_hits.cast("int").alias("stopword_hits"),
        alpha_ratio.alias("alpha_word_ratio"),
        (F.size(reasons) == 0).alias("keep"),
        reasons.alias("fail_reasons"),
    )
    return out.where(F.col("keep")) if keep_only else out


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
) -> DataFrame:
    """Next-fit sequence packing: assign documents to training sequences
    of at most ``max_tokens`` tokens.

    Documents are hash-partitioned into ``n_buckets`` independent streams
    (the parallelism unit — at 10^9 docs raise n_buckets so each bucket's
    sequential scan stays small), ordered by id within a bucket, and
    packed next-fit: a document opens a new sequence when it no longer
    fits; an oversize document (> max_tokens) gets a sequence of its own.
    Deterministic: (bucket, seq, pos) is a pure function of the id set.

    The per-bucket loop is genuinely stateful-sequential (bin fill carries
    across rows), so it runs as an Arrow-batched applyInPandas per bucket
    — the same sanctioned escape hatch as the streaming state operator.
    Output: id, bucket, seq (per-bucket sequence index), pos (position in
    sequence), n_tokens.
    """
    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("bucket", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("pos", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        seqs, poss = [], []
        seq = pos = fill = 0
        first = True
        for tok in pdf[token_count_col]:
            tok = int(tok)
            if first:
                first = False
                fill = tok
            elif fill + tok > max_tokens:
                seq += 1
                pos = 0
                fill = tok
            else:
                pos += 1
                fill += tok
            seqs.append(seq)
            poss.append(pos)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "bucket": pdf["__bucket"],
                "seq": seqs,
                "pos": poss,
                "n_tokens": pdf[token_count_col].astype("int64"),
            }
        )

    bucketed = df.select(
        id_col,
        token_count_col,
        F.pmod(_ppm_hash(F.col(id_col), "pack"), F.lit(n_buckets)).alias(
            "__bucket"
        ),
    )
    return bucketed.groupBy("__bucket").applyInPandas(pack, schema)


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, "repetitious
    text" heuristics), integer parts-per-million so both engines agree
    bit-for-bit:

    * ``dup_line_ppm``        — repeated line occurrences / lines
                                (occurrences beyond the first of each
                                distinct line, the NeMo/Dolma convention);
    * ``dup_line_char_ppm``   — characters in those repeated occurrences /
                                characters in all lines;
    * ``top_ngram_char_ppm``  — characters (whitespace excluded) of the most
                                frequent word ``top_n``-gram's occurrences /
                                total n-gram characters.  Ties: max count,
                                then lexicographically smallest gram —
                                deterministic in both engines;
    * ``dup_ngram_char_ppm``  — characters of all ``dup_n``-gram occurrences
                                whose gram occurs > 1 time / total n-gram
                                characters (gram-space denominator keeps the
                                fraction <= 1 despite window overlap).

    Scale posture: line metrics are pure array expressions (map-side, no
    shuffle).  N-gram metrics explode to (doc, gram) and aggregate — one
    shuffle keyed by (doc, gram), partial-agg combined map-side; keys are
    doc-local so there is no cross-doc skew.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    chars_of = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    all_chars = chars_of(lines)
    distinct_chars = chars_of(F.array_distinct(lines))
    line_stats = df.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        ((n_lines - n_distinct).cast("long") * PPM).alias("__dl_num"),
        n_lines.cast("long").alias("__dl_den"),
        ((all_chars - distinct_chars) * PPM).alias("__dlc_num"),
        all_chars.alias("__dlc_den"),
    ).select(
        id_col,
        "n_lines",
        F.expr("CAST(__dl_num div greatest(__dl_den, 1) AS BIGINT)").alias(
            "dup_line_ppm"
        ),
        F.expr("CAST(__dlc_num div greatest(__dlc_den, 1) AS BIGINT)").alias(
            "dup_line_char_ppm"
        ),
    )

    def gram_rows(n: int) -> DataFrame:
        # explode the start-index sequence and join the slice in a
        # codegen'd projection — NOT transform(sequence, lambda), the
        # interpreted-HOF path measured ~10x slower on this exact shape
        # (rolling_fingerprint_agg / MinHash finding)
        toks = df.select(
            F.col(id_col),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__t"),
        )
        return (
            toks.where(F.size("__t") >= n)
            .select(
                F.col(id_col),
                F.explode(F.sequence(F.lit(0), F.size("__t") - n)).alias("i"),
                "__t",
            )
            .select(
                F.col(id_col),
                F.lit(n).alias("n"),
                F.array_join(F.slice(F.col("__t"), F.col("i") + 1, n), " ").alias("g"),
            )
        )

    # both gram sizes flow through ONE (doc, n, gram) shuffle and ONE
    # per-doc aggregate; the most-frequent gram (max count, lexicographic
    # min on ties) falls out of min(struct(-c, g)) — no joins at all
    ga = gram_rows(top_n)
    if dup_n != top_n:
        ga = ga.unionByName(gram_rows(dup_n))
    gc = ga.groupBy(id_col, "n", "g").agg(F.count(F.lit(1)).alias("c"))
    # chars excluding the joining spaces: len(g) - (n-1)
    glen = (F.length("g") - (F.col("n") - 1)).cast("long")
    chars = (F.col("c") * glen).cast("long")
    is_top, is_dup = F.col("n") == top_n, F.col("n") == dup_n
    stats = gc.groupBy(id_col).agg(
        F.sum(F.when(is_top, chars)).alias("t_total"),
        F.min(
            F.when(is_top, F.struct((-F.col("c")).alias("negc"), F.col("g").alias("g")))
        ).alias("t_top"),
        F.sum(F.when(is_dup, chars)).alias("d_total"),
        F.sum(F.when(is_dup & (F.col("c") > 1), chars)).alias("d_dup"),
    )
    gram_stats = stats.select(
        F.col(id_col),
        F.expr(
            f"CAST((-t_top.negc) * (length(t_top.g) - {top_n - 1}) * 1000000 "
            "div greatest(t_total, 1) AS BIGINT)"
        ).alias("top_ngram_char_ppm"),
        F.expr(
            "CAST(coalesce(d_dup, 0) * 1000000 div greatest(d_total, 1) AS BIGINT)"
        ).alias("dup_ngram_char_ppm"),
    )
    return (
        line_stats.join(gram_stats, id_col, "left")
        .select(
            id_col,
            "n_lines",
            "dup_line_ppm",
            "dup_line_char_ppm",
            F.coalesce("top_ngram_char_ppm", F.lit(0)).cast("long").alias(
                "top_ngram_char_ppm"
            ),
            F.coalesce("dup_ngram_char_ppm", F.lit(0)).cast("long").alias(
                "dup_ngram_char_ppm"
            ),
        )
    )


def remove_duplicate_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level duplicate-paragraph removal (the Dolma/Gopher cleaning
    step): every occurrence of a paragraph except the globally FIRST one
    (lowest (doc_id, position)) is dropped, and each document's text is
    rebuilt from its surviving paragraphs in order.  Whitespace-only
    paragraphs are dropped unconditionally.

    The transform actually REWRITES the corpus — the dedup family's other
    operators emit signals; this one emits the cleaned text plus
    (n_paragraphs, n_removed) audit counts.

    Scale posture: first-occurrence election is a groupBy-min on the
    paragraph hash (partial agg map-side — a paragraph duplicated 10^6
    times costs one row per partition, never a window sort on a hot key),
    one hash-keyed join back, one per-doc rebuild aggregate.  The order
    key packs (doc_id, pos) into one BIGINT so both engines elect the
    same winner without struct comparisons.
    """
    paras = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
        )
        .where(F.trim(F.col("para")) != "")
        .select(
            id_col,
            "pos",
            "para",
            F.md5(F.col("para")).alias("h"),
            (F.col(id_col).cast("long") * 1_000_000 + F.col("pos")).alias("okey"),
        )
    )
    first = paras.groupBy("h").agg(F.min("okey").alias("first_okey"))
    kept = paras.join(first, "h").where(F.col("okey") == F.col("first_okey"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    totals = paras.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_paragraphs")
    )
    return (
        df.select(F.col(id_col))
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_paragraphs", F.lit(0)).cast("long").alias("n_paragraphs"),
            (
                F.coalesce("n_paragraphs", F.lit(0)) - F.coalesce("n_kept", F.lit(0))
            ).cast("long").alias("n_removed"),
        )
    )


# ---- PII redaction --------------------------------------------------------
# Pattern order matters (emails are scrubbed before phones so a phone-like
# digit run inside a local-part can't be double-masked).  The regexes stay
# inside the Java-regex / RE2 common subset (no lookaround, no backrefs) so
# the Spark plan and a DuckDB/RE2 oracle produce byte-identical output.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mask emails / IPv4 addresses / NANP-style phone numbers (the C4 /
    Dolma PII scrub) and report per-document match counts.

    Purely map-side: three `regexp_extract_all` counts + three chained
    `regexp_replace` over the text column — zero shuffles, whole-stage
    codegen, embarrassingly parallel at any scale.  Counts are taken on
    the ORIGINAL text (before any replacement) so they are independent
    of pattern application order.
    """
    text = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = text
    for _, pat, mask in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, mask)
    return df.select(F.col(id_col), redacted.alias(text_col), *counts)


# ---- benchmark decontamination --------------------------------------------
def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Dolma): flag corpus
    documents sharing any word n-gram with a benchmark/eval set.

    Returns one row per corpus doc: distinct n-gram count, the number of
    those grams that appear anywhere in the benchmark, and the ppm ratio
    (integer, engine-exact).  Callers drop or trim docs above a threshold.

    Scale posture: both sides explode to DISTINCT (doc, gram-hash) pairs
    map-side; the benchmark side is tiny relative to the corpus (eval
    suites are ~10^6 grams), so Spark broadcasts its distinct-gram set
    into the probe join — the corpus is never shuffled.  Grams travel as
    xxhash64 longs, never strings.
    """

    def grams(frame: DataFrame, keep_id: bool):
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        g = F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i, n), " ")),
        )
        cols = [F.col(id_col)] if keep_id else []
        return (
            frame.where(F.size(toks) >= n)
            .select(*cols, F.explode(F.array_distinct(g)).alias("gh"))
        )

    corpus_grams = grams(df, keep_id=True)
    bench_grams = grams(benchmark, keep_id=False).distinct()
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    totals = corpus_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    return (
        df.select(F.col(id_col))
        .join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.expr(
                f"CAST(coalesce(n_contaminated, 0) * {PPM} "
                "div greatest(coalesce(n_grams, 0), 1) AS BIGINT)"
            ).alias("contaminated_ppm"),
        )
    )


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality: dict | None = None,
) -> DataFrame:
    """The composed Dolma-style cleaning pipeline: Gopher quality filter ->
    PII redaction -> corpus-level duplicate-paragraph removal, emitting a
    per-document audit row (every input doc appears, with the stage
    outcomes that applied to it).

    The audit output fans each stage into several consumers (the quality
    frame feeds both the keep-filter and the audit join; the redacted frame
    feeds the audit n_pii column AND the paragraph dedup, which itself
    scans its input three times for election/totals/rebuild).  Without a
    barrier Catalyst would re-execute the regex/tokenize lineage once per
    consumer — measured 4x wall time at sf0.1 — so this
    localCheckpoints the two reused stage outputs (the same measured
    pattern as dedup.py's signature checkpoint; at production scale this
    is where plans/checkpoint.py's durable stage boundary goes instead).

    Output: (doc_id, q_keep, n_tokens, n_pii, n_paragraphs, n_removed,
    final_tokens, kept_final) — kept_final marks docs that survived the
    filter AND still have text after global paragraph dedup.
    """
    q = gopher_quality_filter(df, text_col=text_col, **(quality or {})).select(
        id_col, text_col, "keep", "n_tokens"
    ).localCheckpoint(eager=True)
    kept = q.where(F.col("keep")).select(id_col, text_col)
    red = redact_pii(kept, text_col, id_col).localCheckpoint(eager=True)
    para = remove_duplicate_paragraphs(red, text_col, id_col)
    final_toks = (
        F.when(
            F.col(text_col) != "",
            F.size(F.split(F.trim(F.col(text_col)), r"\s+")),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        df.select(F.col(id_col))
        .join(
            q.select(
                id_col,
                F.col("keep").alias("q_keep"),
                F.col("n_tokens").cast("long").alias("n_tokens"),
            ),
            id_col,
            "left",
        )
        .join(
            red.select(
                id_col,
                (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone"))
                .cast("long")
                .alias("n_pii"),
            ),
            id_col,
            "left",
        )
        .join(
            para.select(
                id_col,
                "n_paragraphs",
                "n_removed",
                final_toks.alias("final_tokens"),
                (F.col(text_col) != "").alias("__nonempty"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("q_keep", F.lit(False)).alias("q_keep"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_pii", F.lit(0)).cast("long").alias("n_pii"),
            F.coalesce("n_paragraphs", F.lit(0))
            .cast("long")
            .alias("n_paragraphs"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("final_tokens", F.lit(0))
            .cast("long")
            .alias("final_tokens"),
            (
                F.coalesce("q_keep", F.lit(False))
                & F.coalesce("__nonempty", F.lit(False))
            ).alias("kept_final"),
        )
    )


def elect_cluster_representatives(
    scored: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware dedup election: keep ONE document per near-dup
    cluster — the highest ``score_col``, ties to the smallest id — and
    flag everything else for drop.  This is the keep-best step real
    training pipelines run after near-dup clustering (drop-all-but-one
    by id loses the best-quality copy; see Dolma / RefinedWeb dedup
    write-ups).

    One map-side-combine hash aggregation (``min_by`` over the
    (-score, id) struct — deterministic under any partitioning, NO
    window funneling hot clusters through per-group sorts) plus one
    equi-join back; scale posture identical to golden_records
    (canonicalize.py).

    Input: one row per (id, cluster, score).  Output: input columns +
    ``keep`` boolean.
    """
    reps = scored.groupBy(cluster_col).agg(
        F.min_by(
            F.col(id_col),
            F.struct(
                (-F.col(score_col)).alias("neg_score"),
                F.col(id_col).alias("id"),
            ),
        ).alias("_rep")
    )
    return (
        scored.join(reps, cluster_col)
        .withColumn("keep", F.col(id_col) == F.col("_rep"))
        .drop("_rep")
    )


# --------------------------------------------------------- URL-level dedup

TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAM_NAMES = ("gclid", "fbclid", "msclkid", "mc_eid", "igshid")


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "url_canon"
) -> DataFrame:
    """Canonical URL normalization — the FIRST dedup stage of C4/RefinedWeb
    style web pipelines (URL dedup runs before any content dedup because
    it needs no text comparison at all).  Pure map-side native string
    expressions; no UDF, no shuffle.

    Normalization (the standard safe subset):
      * strip the fragment (``#...``);
      * lowercase scheme and authority (host is case-insensitive, path is
        NOT — path case is preserved);
      * drop a leading ``www.`` and the scheme's default port
        (``:80`` http / ``:443`` https);
      * strip trailing slashes from the path (host root -> empty path);
      * drop tracking query params (``utm_*`` prefixes + the usual click
        ids), drop empty params, and SORT the survivors so param order
        cannot distinguish identical resources.
    """
    u = F.regexp_replace(F.col(url_col), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    auth = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    auth = F.regexp_replace(auth, r"^www\.", "")
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth)
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(u, r"\?([^#]*)", 1)

    def _keep(p):
        key = F.element_at(F.split(p, "="), 1)
        tracking = F.lit(False)
        for pref in TRACKING_PARAM_PREFIXES:
            tracking = tracking | key.startswith(pref)
        tracking = tracking | key.isin(*TRACKING_PARAM_NAMES)
        return (p != "") & ~tracking

    qcanon = F.array_join(F.array_sort(F.filter(F.split(query, "&"), _keep)), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(qcanon == "", F.lit("")).otherwise(F.concat(F.lit("?"), qcanon)),
    )
    return df.withColumn(out_col, canon)


def url_dedup_election(
    df: DataFrame, url_canon_col: str = "url_canon", id_col: str = "doc_id"
) -> DataFrame:
    """Elect ONE keeper per canonical URL (smallest id — deterministic
    under any partitioning) and count the collapsed variants.  A single
    map-side-combining hash aggregation on the canonical URL — no window,
    so crawl-frequency skew (one hot URL fetched millions of times) never
    funnels through a per-group sort.  Output: one row per canonical URL
    ``(url_canon, keeper_id, n_variants)``."""
    return df.groupBy(F.col(url_canon_col).alias("url_canon")).agg(
        F.min(F.col(id_col)).cast("long").alias("keeper_id"),
        F.count(F.lit(1)).cast("long").alias("n_variants"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows — the RAG/training
    chunking step (fixed context budget per chunk, ``overlap`` tokens of
    left context carried into each successor so boundary-spanning facts
    survive the cut).

    Chunk starts are ``0, step, 2*step, ...`` for ``step = chunk_size -
    overlap``, kept only while the chunk contributes at least one NEW
    token (``start == 0 or start + overlap < n_tokens`` — the previous
    chunk ends at ``start + overlap``, so a start at or past that bound
    would emit a pure-suffix duplicate); a doc shorter than one chunk
    yields exactly one chunk.  Deterministic: chunk_id is the start's
    ordinal, no RNG, no state.

    Scale posture: map-side only — ``sequence`` + ``posexplode`` +
    ``slice`` over the already-materialized token array; no shuffle, no
    join, fan-out bounded by n_tokens/step per row.  Output:
    (id, chunk_id, start, n_tokens, chunk_text).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    step = chunk_size - overlap
    from nexus_forge_spark.operators.text import tokens

    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("t")).where(
        F.size("t") >= 1
    )
    exploded = base.select(
        F.col(id_col),
        "t",
        F.posexplode(
            F.filter(
                F.sequence(F.lit(0), F.size("t") - 1, F.lit(step)),
                lambda s: (s == 0) | (s + overlap < F.size("t")),
            )
        ).alias("chunk_id", "start"),
    )
    ck = F.slice(F.col("t"), F.col("start") + 1, chunk_size)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("start").cast("int").alias("start"),
        F.size(ck).cast("int").alias("n_tokens"),
        F.array_join(ck, " ").alias("chunk_text"),
    )


def hash_split(
    df: DataFrame,
    splits: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/valid/test assignment by id hash — the
    leakage-safe alternative to random splitting: the same id lands in
    the same split on every run, on any cluster size, regardless of row
    order or partitioning, so re-ingesting a crawl can never migrate a
    held-out document into train.

    Thresholds are CUMULATIVE integer parts-per-million in sorted split
    order (ppm arithmetic only — no float comparison can differ between
    engines); any ppm remainder from rounding goes to the last split.

    Scale posture: map-side only — one md5 per row, a literal CASE
    ladder, no shuffle.  Output: input columns + ``split``.
    """
    if splits is None:
        splits = {"train": 0.98, "valid": 0.01, "test": 0.01}
    names = sorted(splits)
    ppms = [int(round(splits[k] * PPM)) for k in names]
    if sum(ppms) != PPM:
        raise ValueError(f"split fractions must sum to 1.0 (got {sum(ppms)} ppm)")
    draw = _ppm_hash(F.col(id_col), salt)
    bounds = []
    cum = 0
    for name, p in zip(names[:-1], ppms[:-1]):
        cum += p
        bounds.append((name, cum))
    expr = F.lit(names[-1])
    for name, b in reversed(bounds):
        expr = F.when(draw < b, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def prepare_training_corpus(
    df: DataFrame,
    quality: dict | None = None,
    k: int = 8,
    splits: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The FULL training-corpus assembly in one composed plan — the
    five-stage Dolma/RefinedWeb loop end to end: Gopher quality filter ->
    PII redaction -> corpus duplicate-paragraph removal -> exact-substring
    span dedup (Lee et al. ExactSubstr rewrite) -> deterministic
    train/valid/test hash split.  Where :func:`curate_corpus` emits the
    audit view, this one emits the corpus a trainer would actually read:
    only survivors, with their final cleaned text and split label.

    Output text is the normalized token stream (the span-rewrite stage
    tokenizes lowercased); docs emptied by any rewrite stage are dropped,
    not emitted as blanks.  Output: (id, split, text, n_tokens_final,
    n_span_removed).

    Scale posture: quality + redaction fuse into the scan (map-side
    Columns); the paragraph election and span election are each ONE hash
    aggregate with map-side combine; the split label is one md5.  The two
    corpus-rewrite stages each scan their input several times
    (election/totals/rebuild), so the stage boundaries are
    localCheckpointed — at production scale these are
    plans/checkpoint.py durable stage boundaries instead.
    """
    from nexus_forge_spark.operators.dedup import remove_duplicated_spans

    q = gopher_quality_filter(df, text_col=text_col, **(quality or {}))
    kept = q.where(F.col("keep")).select(id_col, text_col)
    red = redact_pii(kept, text_col, id_col).select(id_col, text_col)
    red = red.localCheckpoint(eager=True)
    para = remove_duplicate_paragraphs(red, text_col, id_col)
    base = para.where(F.col(text_col) != "").select(id_col, text_col)
    base = base.localCheckpoint(eager=True)
    spans = remove_duplicated_spans(base, k=k, text_col=text_col, id_col=id_col)
    survivors = spans.where(F.col("clean_text") != "")
    return hash_split(survivors, splits, id_col=id_col).select(
        F.col(id_col),
        "split",
        F.col("clean_text").alias(text_col),
        (F.col("n_tokens") - F.col("n_removed"))
        .cast("long")
        .alias("n_tokens_final"),
        F.col("n_removed").cast("long").alias("n_span_removed"),
    )


# zero-width / BOM code points stripped by normalize_unicode; the Java
# (Spark) and RE2 (DuckDB oracle) regex dialects spell them differently
# but match the identical set
ZERO_WIDTH_CHARS = "​‌‍﻿"


def normalize_unicode(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode text normalization — the C4/CCNet cleanup stage that runs
    BEFORE any hashing or dedup so visually-identical strings hash
    identically: NFC canonical composition (decomposed e+combining-acute
    becomes the single é code point), zero-width/BOM removal, and
    horizontal-whitespace collapse (space/tab runs to one space, line
    edges trimmed) with newlines PRESERVED so paragraph structure
    survives for remove_duplicate_paragraphs.

    Output: (id, text, changed) — ``changed`` flags rows the cleanup
    actually rewrote, so a pipeline can meter normalization drift.

    Scale posture: map-side only, no shuffle.  NFC has no JVM builtin,
    so that single step is an Arrow-batched pandas UDF (the §2.8
    vectorized escape hatch — one Python round per batch, never per
    row); the regex steps stay native Column exprs around it.
    """
    import unicodedata

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    cleaned = F.regexp_replace(
        _nfc(F.col(text_col)), f"[{ZERO_WIDTH_CHARS}]", ""
    )
    cleaned = F.regexp_replace(cleaned, "[ \\t]+", " ")
    cleaned = F.regexp_replace(cleaned, " ?\\n ?", "\n")
    cleaned = F.trim(cleaned)
    return df.select(
        F.col(id_col),
        cleaned.alias(text_col),
        (cleaned != F.col(text_col)).alias("changed"),
    )


def c4_line_cleaning(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, the public
    heuristics) — the layout-noise scrub that runs BEFORE Gopher-style
    document scoring: keep only lines that end in terminal punctuation,
    carry at least ``min_words_per_line`` words, and do not mention
    javascript (boilerplate cookie/JS warnings); then drop whole
    documents that retain fewer than ``min_kept_lines`` lines, contain a
    curly brace (code), or the phrase "lorem ipsum".

    Output: input columns + cleaned ``text`` (kept lines re-joined),
    n_lines / n_lines_kept, and the document ``keep`` verdict — rejected
    docs stay as auditable rows (filter on ``keep`` to drop).

    Map-side only: line split, per-line predicates, and the re-join are
    array expressions inside one codegen projection — at 100 TB this
    fuses into the scan, no shuffle, no UDF.
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def _line_ok(line):
        words = F.split(F.trim(line), r"\s+")
        return (
            F.substring(F.rtrim(line), -1, 1).isin(".", "!", "?", '"')
            & (F.size(words) >= min_words_per_line)
            & ~F.lower(line).contains("javascript")
        )

    kept = F.filter(lines, _line_ok)
    doc_ok = (
        (F.size(kept) >= min_kept_lines)
        & ~t.contains("{")
        & ~F.lower(t).contains("lorem ipsum")
    )
    others = [c for c in df.columns if c != text_col]
    return df.select(
        *others,
        F.array_join(kept, "\n").alias(text_col),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_lines_kept"),
        doc_ok.alias("keep"),
    )


def sql_c4_line_cleaning(
    source_sql: str,
    out_cols: list[str],
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> str:
    """DuckDB oracle rendering of the identical line algebra."""
    line_ok = (
        f"""right(rtrim(x), 1) IN ('.', '!', '?', '"')
      AND len(regexp_split_to_array(trim(x), '\\s+')) >= {min_words_per_line}
      AND NOT contains(lower(x), 'javascript')"""
    )
    outs = ", ".join(out_cols)
    return f"""WITH src AS ({source_sql}),
split AS (
  SELECT *, string_split({text_col}, chr(10)) AS __lines FROM src
),
kept AS (
  SELECT *, list_filter(__lines, x -> {line_ok}) AS __kept FROM split
)
SELECT {outs},
       array_to_string(__kept, chr(10)) AS {text_col},
       CAST(len(__lines) AS INT) AS n_lines,
       CAST(len(__kept) AS INT) AS n_lines_kept,
       len(__kept) >= {min_kept_lines}
         AND NOT contains({text_col}, '{{')
         AND NOT contains(lower({text_col}), 'lorem ipsum') AS keep
FROM kept"""


# ------------------------------------------------------- priority sampling

TWO60 = 1 << 60


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "prio",
) -> DataFrame:
    """Weighted priority sampling (Duffield, Lund & Thorup, "Priority
    sampling for estimation of arbitrary subset sums", JACM 54(6), 2007)
    — the one-pass scheme that turns "sample k documents proportional to
    weight" into a top-k, with unbiased subset-sum estimates attached.

    Each row draws ``u = hash60(id) + 1`` (uniform in [1, 2^60], the
    engine-portable md5/conv hash) and gets integer priority
    ``prio = max(u div w, 1)`` — the fixed-point rendering of the
    continuous priority u'/w.  The sample is the k smallest-priority
    rows; ``tau`` (the (k+1)-th smallest priority) yields the estimator
    ``w_est = max(w, 2^60 div tau)``: summing ``w_est`` over ANY subset
    of the sample is an (asymptotically, given the 2^-60 truncation)
    unbiased estimate of that subset's true total weight — the property
    that makes a k-row sample answer arbitrary weighted-count questions
    about a 100 TB corpus.

    All arithmetic is BIGINT, so Spark and DuckDB agree bit-for-bit;
    ties break on id.  Scale posture: the corpus pass is a map-side
    projection + TakeOrderedAndProject over (k+1) rows (partial top-k on
    every partition, no full sort, no shuffle); the estimator algebra
    and its k-row window run on the driver-sized candidate set only.
    Weights must be positive BIGINTs.
    """
    from pyspark.sql import Window

    from nexus_forge_spark.operators.sketches import hash60

    cand = df.select(
        F.col(id_col),
        F.col(weight_col).cast("long").alias("w"),
        (hash60(F.col(id_col), salt) + F.lit(1)).alias("u"),
    ).withColumn("prio", F.greatest(F.expr("u div w"), F.lit(1)))
    topk1 = cand.orderBy("prio", id_col).limit(k + 1)
    ranked = topk1.withColumn(
        "rn", F.row_number().over(Window.orderBy("prio", id_col))
    )
    stats = ranked.agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.max(F.when(F.col("rn") == k + 1, F.col("prio"))).alias("tau"),
    )
    return (
        ranked.where(F.col("rn") <= k)
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "w",
            "prio",
            F.when(F.col("n_cand") <= k, F.col("w"))
            .otherwise(
                F.greatest(F.col("w"), F.expr(f"{TWO60} div tau"))
            )
            .cast("long")
            .alias("w_est"),
        )
    )


def temperature_sampling_plan(
    df: DataFrame,
    key_col: str = "source",
    id_col: str = "doc_id",
    target_total: int | None = None,
) -> DataFrame:
    """Per-domain epoch plan for temperature sampling at tau=2 (XLM-R /
    multilingual-LM style): target share of domain i is
    ``n_i^0.5 / sum_j n_j^0.5``, so small domains are upsampled and huge
    ones downsampled while the total stays ``target_total`` (default: the
    corpus size).

    Exponent 1/2 is the one non-integer step: IEEE-754 requires sqrt to
    be correctly rounded (pow is NOT), so ``floor(sqrt(n) * 1e6)`` is the
    same BIGINT on every engine and all arithmetic after it is integer —
    ``target_i = T * w_i div W``, ``full_copies_i = target_i div n_i``,
    ``extras_i = target_i % n_i`` (extras = how many docs of the domain
    get one additional copy).

    Overflow bound: T * w_i < 2^63 holds while T * 1e6*sqrt(n_max) fits,
    i.e. up to ~1e9 docs per domain at 1e12 total; beyond that drop the
    1e6 weight scale a decade.

    Scale posture: one map-side-combined count per domain, one 2-row
    global aggregate, broadcast back — the corpus itself is never
    shuffled by the plan.
    """
    counts = df.groupBy(F.col(key_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    counts = counts.withColumn(
        "w_scaled", F.floor(F.sqrt(F.col("n_docs")) * PPM).cast("long")
    )
    tot = counts.agg(
        F.sum("n_docs").cast("long").alias("__t"),
        F.sum("w_scaled").cast("long").alias("__w"),
    )
    if target_total is not None:
        tot = tot.select(F.lit(int(target_total)).cast("long").alias("__t"), "__w")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_docs",
            "w_scaled",
            F.expr("__t * w_scaled div __w").cast("long").alias("target_count"),
        )
        .select(
            "*",
            F.expr("target_count div n_docs").cast("long").alias("full_copies"),
            F.expr("target_count % n_docs").cast("long").alias("extras"),
        )
    )


def temperature_mix(
    df: DataFrame,
    key_col: str = "source",
    id_col: str = "doc_id",
    target_total: int | None = None,
    salt: str = "tmix",
) -> DataFrame:
    """Materialize the temperature-sampling plan as an exact per-document
    copy count: every doc of domain i gets ``full_copies_i`` copies and
    the ``extras_i`` docs ranked first by id-hash get one more, so the
    per-domain total is EXACTLY ``target_i`` (hash-threshold draws would
    only hit it in expectation).  Docs from fully downsampled domains can
    get 0 copies — they are kept in the output with n_copies=0 so the
    caller can audit drops.

    Scale posture: plan is broadcast; the remainder rank is ONE window
    per domain ordered by (hash, id).  A single mega-domain serializes
    its rank into one partition — for that shape swap the window for the
    exchange-free global ranking (operators/ranking.py) per domain; at
    organic domain cardinality this is the cheaper plan (domains >>
    cores is not required, docs-per-domain >> cores is fine because the
    window sort spills).
    """
    from pyspark.sql import Window

    plan = F.broadcast(
        temperature_sampling_plan(df, key_col, id_col, target_total)
    )
    joined = df.join(plan, df[key_col] == plan["domain"], "inner")
    w = Window.partitionBy("domain").orderBy(
        _ppm_hash(F.col(id_col), salt), F.col(id_col)
    )
    rank0 = (F.row_number().over(w) - F.lit(1)).cast("long")
    return joined.select(
        F.col(id_col),
        F.col("domain"),
        F.col("n_docs"),
        F.col("target_count"),
        (
            F.col("full_copies")
            + (rank0 < F.col("extras")).cast("long")
        ).alias("n_copies"),
    )


def epoch_shuffle(
    docs: DataFrame,
    id_col: str = "doc_id",
    epochs: int = 2,
    shards: int = 8,
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic GLOBAL shuffle per training epoch — the step every
    LLM data pipeline runs between curation and the trainer: each epoch
    gets an independent pseudo-random permutation of the corpus, written
    as (epoch, shard, position) so the trainer streams shard files in
    position order.  key = md5-hash(id : salt : epoch) (the engine-
    portable _ppm_hash family); shard = key mod shards; position = rank
    within (epoch, shard) by (key, id) — reproducible on any cluster
    size, any engine (no RNG state).

    Scale posture: the permutation is MAP-SIDE (hash per row); the only
    shuffle is the per-(epoch, shard) rank, whose sort is bounded by the
    shard size — shards are chosen so output files are 100-500 MB, the
    same bound a trainer wants, so the window never sorts more than one
    output file's worth in a task.  Output: (epoch, id, shard,
    position).
    """
    e = docs.select(F.col(id_col)).crossJoin(
        F.broadcast(
            docs.sparkSession.range(epochs).select(
                F.col("id").cast("int").alias("epoch")
            )
        )
    )
    key = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(":" + salt + ":"),
                    F.col("epoch").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    keyed = e.select(
        "epoch",
        F.col(id_col),
        key.alias("k"),
    ).withColumn("shard", F.pmod(F.col("k"), F.lit(shards)).cast("int"))
    w = Window.partitionBy("epoch", "shard").orderBy("k", id_col)
    return keyed.select(
        "epoch",
        id_col,
        "shard",
        F.row_number().over(w).cast("long").alias("position"),
    )


def sql_epoch_shuffle(
    source_sql: str,
    id_col: str = "doc_id",
    epochs: int = 2,
    shards: int = 8,
    salt: str = "epoch",
) -> str:
    """DuckDB oracle for :func:`epoch_shuffle` — identical md5 key,
    shard mod, and rank.  source_sql -> one row per document."""
    key = (
        f"CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR) || "
        f"':{salt}:' || CAST(e.epoch AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
    return f"""WITH src AS MATERIALIZED ({source_sql}),
keyed AS (
  SELECT e.epoch, s.{id_col}, {key} AS k,
         CAST({key} % {shards} AS INT) AS shard
  FROM src s, (SELECT CAST(unnest(range({epochs})) AS INT) AS epoch) e
)
SELECT epoch, {id_col}, shard,
  CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY k, {id_col})
       AS BIGINT) AS position
FROM keyed"""


def domain_reweight(
    doc_losses: DataFrame,
    domain_col: str = "source",
    loss_col: str = "mean_nll_micro",
    eta_ppm: int = 200_000,
    rounds: int = 5,
) -> DataFrame:
    """DoReMi-style Group-DRO domain reweighting (Xie et al., NeurIPS
    2023) in exact integer arithmetic — the mixture-LEARNING counterpart
    of the static mixers (domain_mix/temperature_mix): domains whose
    loss exceeds the corpus reference get their sampling weight pushed
    up multiplicatively, round by round.

    Two deliberate deviations from the paper, both forced by the
    engine-exact contract: (1) the reference loss is the corpus mean
    (one-model variant; the paper's per-domain reference model needs a
    second training run), so excess_d = max(0, mean_loss_d - corpus
    mean) in micro-nats; (2) the update is the POLYNOMIAL
    multiplicative-weights variant w <- w * (1 + eta * excess) — exact
    in BIGINT, agreeing with the paper's exponential variant to O(eta^2)
    — followed by largest-remainder renormalization to EXACTLY 1e6 ppm
    each round (the attribution_credits discipline).

    Scale posture: ONE map-side-combinable aggregate over the doc-loss
    frame; everything after runs on the k-row domain table (the only
    windows rank k rows).  Output: (domain, n_docs, mean_loss_micro,
    excess_micro, weight_ppm), ordered by domain.
    """
    per = (
        doc_losses.groupBy(F.col(domain_col).alias("domain"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col(loss_col)).cast("long").alias("sum_loss"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("tn"),
        F.sum("sum_loss").cast("long").alias("ts"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    base = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_docs",
            F.expr("sum_loss DIV n_docs").cast("long").alias("mean_loss_micro"),
            F.expr("greatest(sum_loss DIV n_docs - ts DIV tn, 0)")
            .cast("long")
            .alias("excess_micro"),
            "k",
        )
        .localCheckpoint(eager=True)
    )
    w = base.select(
        "domain",
        F.expr(
            "CAST(1000000 DIV k + CASE WHEN row_number() "
            "OVER (ORDER BY domain) <= 1000000 % k THEN 1 ELSE 0 END "
            "AS BIGINT)"
        ).alias("w")
    )

    def reweight(w: DataFrame, rnd) -> DataFrame:
        raw = w.join(base.select("domain", "excess_micro"), "domain").select(
            "domain",
            F.expr(
                f"w * (1000000 + ({eta_ppm} * excess_micro) DIV 1000000)"
            )
            .cast("long")
            .alias("raw"),
        )
        s = raw.agg(F.sum("raw").cast("long").alias("s"))
        flo = raw.crossJoin(F.broadcast(s)).select(
            "domain",
            F.expr("raw * 1000000 DIV s").cast("long").alias("flo"),
            F.expr("raw * 1000000 % s").cast("long").alias("rem"),
        )
        wr = Window.orderBy(F.desc("rem"), F.asc("domain"))
        tot_flo = flo.agg(F.sum("flo").cast("long").alias("tf"))
        # k-row frame, but each round nests aggregates OF aggregates
        # (s, tot_flo) — without a per-round pin the final plan
        # re-executes the chain ~3^rounds times (the markov lesson:
        # the growing plan tree dominates the tiny job; measured
        # 85 s -> ~2 s at sf0.1)
        return rnd.checkpoint(
            flo.crossJoin(F.broadcast(tot_flo))
            .select(
                "domain",
                (
                    F.col("flo")
                    + (
                        F.row_number().over(wr)
                        <= (F.lit(1_000_000) - F.col("tf"))
                    ).cast("long")
                ).alias("w"),
            )
        )

    w = iterate(reweight, w, rounds)
    return (
        base.join(w, "domain")
        .select(
            "domain",
            "n_docs",
            "mean_loss_micro",
            "excess_micro",
            F.col("w").cast("long").alias("weight_ppm"),
        )
        .orderBy("domain")
    )


def sql_domain_reweight(
    losses_sql: str,
    domain: str = "source",
    loss: str = "mean_nll_micro",
    eta_ppm: int = 200_000,
    rounds: int = 5,
) -> str:
    """DuckDB oracle for :func:`domain_reweight` — identical integer
    algebra, rounds unrolled as CTEs."""
    ctes = []
    prev = "w0"
    for i in range(1, rounds + 1):
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT b.domain,
    CAST(p.w * (1000000 + ({eta_ppm} * b.excess_micro) // 1000000)
         AS BIGINT) AS raw
  FROM {prev} p JOIN base b ON p.domain = b.domain
),
f{i} AS MATERIALIZED (
  SELECT domain,
    CAST(raw * 1000000 // (SELECT sum(raw) FROM r{i}) AS BIGINT) AS flo,
    CAST(raw * 1000000 % (SELECT sum(raw) FROM r{i}) AS BIGINT) AS rem
  FROM r{i}
),
w{i} AS MATERIALIZED (
  SELECT domain, CAST(flo + CASE WHEN row_number()
      OVER (ORDER BY rem DESC, domain)
      <= 1000000 - (SELECT sum(flo) FROM f{i}) THEN 1 ELSE 0 END
    AS BIGINT) AS w
  FROM f{i}
)""")
        prev = f"w{i}"
    body = ",\n".join(ctes)
    return f"""WITH losses AS MATERIALIZED ({losses_sql}),
per AS (
  SELECT {domain} AS domain, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum({loss}) AS BIGINT) AS sum_loss
  FROM losses GROUP BY {domain}
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS tn,
    CAST(sum(sum_loss) AS BIGINT) AS ts,
    CAST(count(*) AS BIGINT) AS k
  FROM per
),
base AS MATERIALIZED (
  SELECT p.domain, p.n_docs,
    CAST(p.sum_loss // p.n_docs AS BIGINT) AS mean_loss_micro,
    CAST(greatest(p.sum_loss // p.n_docs - t.ts // t.tn, 0) AS BIGINT)
      AS excess_micro,
    t.k
  FROM per p CROSS JOIN tot t
),
w0 AS (
  SELECT domain, CAST(1000000 // k + CASE WHEN row_number()
      OVER (ORDER BY domain) <= 1000000 % k THEN 1 ELSE 0 END
    AS BIGINT) AS w
  FROM base
),
{body}
SELECT b.domain, b.n_docs, b.mean_loss_micro, b.excess_micro,
  CAST(v.w AS BIGINT) AS weight_ppm
FROM base b JOIN {prev} v ON b.domain = v.domain
ORDER BY b.domain"""


def dsir_weights(
    df: DataFrame,
    is_target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    top_k: int | None = None,
    salt: str = "dsir",
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every document by how target-like its hashed
    n-gram feature distribution is, then Gumbel-top-k resample from the
    raw pool proportionally to the importance weight.

    * Features are hashed unigrams: ``hash60(token) % n_buckets`` — the
      paper's hashed n-gram feature space (they use 10k buckets over
      uni+bigrams; bucket count is a parameter).
    * Per-bucket log-ratio with add-one smoothing:
      ``lr = ln(((ct+1) * (Ns+B)) / ((cs+1) * (Nt+B)))`` where ct/cs are
      target/source bucket counts and Nt/Ns the total target/source
      token counts.  Decomposed into integer-count logs
      (``ln(ct+1) - ln(cs+1) + ln(Ns+B) - ln(Nt+B)``) summed in Q30
      fixed point and converted to micro-nats once via
      functions/intlog.py — no libm anywhere (F.log is not correctly
      rounded; this operator shared the round-2 heldout_nll hazard
      class), so per-doc sums are engine-exact BIGINTs.
    * ``weight_micro = sum over token occurrences of lr_micro`` = the log
      importance weight of the doc (up to the shared normalizer, which
      cancels in top-k).
    * Gumbel key: ``key = weight + g`` with
      ``g = -ln(-ln((h+0.5)/1e6))`` from the doc-id hash — the Gumbel
      top-k trick samples k docs without replacement with probability
      proportional to the importance weight, deterministically here.
      The double negative log is two chained fixed-point logs:
      ``inner = ln(2e6/(2h+1))`` in micro-nats (floored at 1), then
      ``g = ln(1e6/inner)`` — a pure BIGINT function of the hash.
    * ``selected`` marks the top-k SOURCE docs by (key desc, id asc);
      target docs are scored for audit but never selected.

    Scale posture: bucket-count aggregates are map-side-combined over a
    B-row key space; the lr table (<= B rows) and the two scalar totals
    broadcast back, so scoring is one broadcast join + one per-doc
    aggregate — the corpus shuffles once on the doc key.  Selection is
    TakeOrderedAndProject(top_k) + a broadcast semi-mark, never a global
    sort.
    """
    B = int(n_buckets)
    from nexus_forge_spark.functions import intlog as IL
    from nexus_forge_spark.operators.sketches import hash60
    from nexus_forge_spark.operators.text import tokens

    base = df.select(
        F.col(id_col), F.col(text_col), is_target.alias("__is_target")
    )
    feats = base.select(
        id_col,
        "__is_target",
        F.explode(tokens(F.col(text_col))).alias("__t"),
    ).select(
        id_col, "__is_target", F.pmod(hash60(F.col("__t"), salt), F.lit(B)).alias("__b")
    )
    counts = feats.groupBy("__b").agg(
        F.sum(F.col("__is_target").cast("long")).alias("ct"),
        F.sum((~F.col("__is_target")).cast("long")).alias("cs"),
    )
    totals = counts.agg(
        F.sum("ct").cast("long").alias("nt"), F.sum("cs").cast("long").alias("ns")
    ).withColumn("l2ns", IL.lnq30_col(f"(ns + {B})")).withColumn(
        "l2nt", IL.lnq30_col(f"(nt + {B})")
    )
    lr = (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("l2ct", IL.lnq30_col("(ct + 1)"))
        .withColumn("l2cs", IL.lnq30_col("(cs + 1)"))
        .select(
            "__b",
            IL.micro_from_l2_col("(l2ct - l2cs + l2ns - l2nt)").alias("lr_micro"),
        )
    )
    scored = (
        feats.join(F.broadcast(lr), "__b")
        .groupBy(id_col, "__is_target")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("lr_micro").cast("long").alias("weight_micro"),
        )
    )
    # g = -ln(-ln((h+0.5)/1e6)) as two chained fixed-point integer logs:
    # inner = ln(2e6/(2h+1)) micro-nats (>= 1), g = ln(1e6/inner).
    l2_2m = IL.lnq30_py(2_000_000)
    l2_1m = IL.lnq30_py(1_000_000)
    scored = scored.withColumn(
        "__h", _ppm_hash(F.col(id_col), salt + ":g")
    ).withColumn(
        "__gin",
        F.greatest(
            IL.micro_from_l2_col(f"({l2_2m} - {IL.lnq30_sql('(2 * __h + 1)', 'spark')})"),
            F.lit(1),
        ),
    )
    gumbel = IL.micro_from_l2_col(f"({l2_1m} - {IL.lnq30_sql('__gin', 'spark')})")
    scored = scored.select(
        F.col(id_col),
        F.col("__is_target").alias("is_target"),
        "n_feats",
        "weight_micro",
        (F.col("weight_micro") + gumbel).alias("key_micro"),
    )
    if top_k is None:
        return scored
    winners = (
        scored.where(~F.col("is_target"))
        .orderBy(F.col("key_micro").desc(), F.col(id_col))
        .limit(int(top_k))
        .select(F.col(id_col).alias("__win_id"))
    )
    return scored.join(
        F.broadcast(winners),
        scored[id_col] == F.col("__win_id"),
        "left",
    ).select(
        id_col,
        "is_target",
        "n_feats",
        "weight_micro",
        "key_micro",
        F.col("__win_id").isNotNull().alias("selected"),
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    sep: str = "\n",
    max_doc_ratio_ppm: int = 50_000,
    min_support: int = 2,
) -> DataFrame:
    """Domain-frequency boilerplate removal (the CCNet/RefinedWeb rule
    that kills nav bars, cookie banners, and footers): a paragraph that
    occurs in at least ``max_doc_ratio_ppm`` parts-per-million of its
    OWN domain's documents — in at least ``min_support`` documents
    absolute — is boilerplate and is stripped from every document of
    that domain — unlike remove_duplicate_paragraphs, which keeps the
    first occurrence and only drops repeats.

    ``min_support`` (default 2, matching CCNet-style "repeated across
    documents" semantics) is the small-domain guard: for a domain with
    fewer than 1e6/ppm documents EVERY paragraph satisfies the ratio
    test with n_with=1, and without the absolute floor such domains
    would be silently emptied (round-2 ADVICE finding).

    The ratio test is integer cross-multiplied
    (``n_docs_with * 1e6 >= ppm * domain_docs``), so no float division
    can differ between engines.  Whitespace-only paragraphs strip
    unconditionally.

    Scale posture: one (domain, paragraph-hash) count-distinct aggregate
    (map-side partial), a broadcast domain-size table, and the surviving
    boilerplate table — tiny by construction, it lists only paragraphs
    above the frequency floor — broadcasts into an anti join; the corpus
    shuffles once on the doc key for the rebuild.
    """
    paras = (
        df.select(
            F.col(id_col),
            F.col(domain_col).alias("__dom"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
        )
        .where(F.trim(F.col("para")) != "")
        .select(id_col, "__dom", "pos", "para", F.md5("para").alias("h"))
    )
    domain_docs = df.groupBy(F.col(domain_col).alias("__dom")).agg(
        F.count(F.lit(1)).cast("long").alias("__n_dom")
    )
    freq = paras.groupBy("__dom", "h").agg(
        F.countDistinct(id_col).cast("long").alias("__n_with")
    )
    boiler = (
        freq.join(F.broadcast(domain_docs), "__dom")
        .where(
            (
                F.col("__n_with") * F.lit(1_000_000)
                >= F.lit(int(max_doc_ratio_ppm)) * F.col("__n_dom")
            )
            & (F.col("__n_with") >= F.lit(int(min_support)))
        )
        .select("__dom", "h")
    )
    kept = paras.join(F.broadcast(boiler), ["__dom", "h"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    totals = paras.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_paragraphs")
    )
    return (
        df.select(F.col(id_col), F.col(domain_col))
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            domain_col,
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_paragraphs", F.lit(0)).cast("long").alias("n_paragraphs"),
            (
                F.coalesce("n_paragraphs", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).cast("long").alias("n_removed"),
        )
    )


def rendezvous_shard(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "hrw",
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding — Thaler & Ravishankar
    1996, the stable-assignment trick behind consistent routing: a doc
    goes to the shard whose ``hash(doc, shard)`` is largest.  Growing
    N -> N+1 moves ONLY the docs the new shard wins (~1/(N+1) of them)
    and never reshuffles docs between surviving shards — exactly what a
    resumable 100 TB pipeline wants when it rescales its output layout
    (hash-mod moves ~half the corpus instead).

    Ties break to the SMALLER shard id (max hash, then min shard), so
    the assignment is a pure deterministic function of (id, salt, N).

    Scale posture: one map-side projection — the argmax is a
    ``greatest`` over n_shards (hash, -shard) structs, no explode, no
    shuffle, no state.
    """
    from nexus_forge_spark.operators.sketches import hash60

    best = F.greatest(
        *[
            F.struct(
                hash60(
                    F.concat(F.col(id_col).cast("string"), F.lit(f"#{s}")), salt
                ).alias("h"),
                F.lit(-s).alias("neg"),
            )
            for s in range(int(n_shards))
        ]
    )
    return df.withColumn(out_col, (-best.getField("neg")).cast("long"))


def luhn_valid(digits) -> "F.Column":
    """Luhn checksum (ISO/IEC 7812) over a digit string — the verify
    step that separates real payment-card numbers from arbitrary digit
    runs, so card-PII detection stops false-positiving on order ids and
    timestamps: from the RIGHT, double every second digit, subtract 9
    when the double exceeds 9, and the total must be ≡ 0 (mod 10).
    Pure integer Column algebra, engine-identical.
    """
    rev = F.reverse(digits)

    def term(i):
        d = F.ascii(F.substr(rev, i, F.lit(1))) - F.lit(48)
        dbl = d * 2
        return F.when(
            i % 2 == 0, F.when(dbl > 9, dbl - 9).otherwise(dbl)
        ).otherwise(d)

    total = F.aggregate(
        F.transform(F.sequence(F.lit(1), F.length(rev)), term),
        F.lit(0),
        lambda a, b: a + b,
    )
    return (F.length(digits) > 0) & (F.pmod(total, F.lit(10)) == 0)


def card_pii_audit(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Payment-card PII audit: 13-19 digit runs are candidates, the
    Luhn checksum verifies them — per doc, candidate and verified
    counts (the precision upgrade over the bare regex in redact_pii).
    Map-side regexp_extract_all + per-run integer checksum, no shuffle
    beyond the per-doc agg already inside the projection (none — this
    is one select).

    Verified runs are MASKED to ``****<last4>`` before they leave the
    operator (round-2 ADVICE: an audit table that stores the card
    numbers verbatim is itself a plaintext PII store); last-4 keeps the
    rows joinable to a remediation pass without retaining the PAN.
    """
    runs = F.regexp_extract_all(F.col(text_col), F.lit(r"[0-9]{13,19}"), 0)
    valid = F.filter(runs, luhn_valid)
    masked = F.transform(
        valid,
        lambda r: F.concat(F.lit("****"), F.substr(r, F.length(r) - 3, F.lit(4))),
    )
    return df.select(
        F.col(id_col),
        F.size(runs).cast("long").alias("n_candidates"),
        F.size(valid).cast("long").alias("n_luhn_valid"),
        F.array_join(masked, ",").alias("valid_runs"),
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    min_l: int = 2,
) -> DataFrame:
    """Privacy-risk audit before a corpus release: k-anonymity and
    l-diversity over the quasi-identifier combination.

    Every equivalence class (one row per distinct quasi-identifier
    tuple) reports its size, the number of distinct sensitive values
    it carries, and two flags: ``k_violation`` (size < k — the class
    re-identifies its members) and ``l_violation`` (distinct sensitive
    values < min_l — the class leaks its members' sensitive attribute
    even WITHOUT re-identification, the homogeneity attack k-anonymity
    alone misses).  Sweeney's k-anonymity and Machanavajjhala's
    l-diversity, re-rendered as two exact aggregates.

    Scale: ONE hash aggregate over the fact table (count +
    count-distinct share the same grouping), map-side combined; the
    output is class-sized, not row-sized.  Complements the row-level
    PII operators (redact_pii, card_pii_audit) with the release-level
    governance check.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("class_size"),
            F.countDistinct(sensitive_col).cast("long").alias("n_sensitive"),
        )
        .select(
            *quasi_cols,
            "class_size",
            "n_sensitive",
            (F.col("class_size") < k).alias("k_violation"),
            (F.col("n_sensitive") < min_l).alias("l_violation"),
        )
    )


def sql_k_anonymity_audit(
    source_sql: str,
    quasi_exprs: list[str],
    sensitive_expr: str,
    k: int = 5,
    min_l: int = 2,
) -> str:
    """DuckDB oracle for :func:`k_anonymity_audit`.  quasi_exprs are
    SELECT expressions aliased to the same names the Spark side uses."""
    q_sel = ", ".join(quasi_exprs)
    q_names = ", ".join(e.split(" AS ")[-1].strip() for e in quasi_exprs)
    return f"""WITH src AS MATERIALIZED (
  SELECT {q_sel}, {sensitive_expr} AS _sens FROM ({source_sql})
)
SELECT {q_names},
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(count(DISTINCT _sens) AS BIGINT) AS n_sensitive,
       count(*) < {k} AS k_violation,
       count(DISTINCT _sens) < {min_l} AS l_violation
FROM src GROUP BY {q_names}"""


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Optimal stratified-sample allocation (Neyman 1934): sample budget
    split across strata proportional to N_h * S_h — big AND
    high-variance strata earn more of the budget than proportional
    allocation gives them.

    Engine exactness: the spread term is the integer scaled variance
    SS_h = N_h * sum(x^2) - sum(x)^2 (exact BIGINT; x must be integral
    — pass cents), and w_h = floor(N_h * sqrt(SS_h)) is deterministic
    because IEEE-754 REQUIRES sqrt and multiply correctly rounded (the
    one sanctioned float step, same contract as temperature_mix).
    Integer allocations use the largest-remainder method: base =
    (budget * w_h) DIV sum(w), leftover seats go to the largest
    remainders (stratum asc tie-break) — total EXACTLY equals budget.

    Scale: one map-side-combined aggregate over the fact table; the
    allocation algebra runs on the strata table (vocabulary-sized), so
    the window there is bounded, not corpus-sized.  Output: (stratum,
    n_rows, weight, n_alloc).
    """
    # sum(x^2) and the SS term exceed BIGINT at warehouse scale: carry them
    # as DECIMAL(38,0) (== DuckDB HUGEINT, exact), convert once to double
    # for the sqrt (integer->double and sqrt are IEEE correctly rounded).
    x = F.col(value_col).cast("decimal(38,0)")
    stats = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).cast("long")).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    ss = (
        F.col("n_rows").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(38,0)") * F.col("sx").cast("decimal(38,0)")
    )
    w = stats.select(
        "stratum",
        "n_rows",
        F.floor(F.col("n_rows").cast("double") * F.sqrt(ss.cast("double")))
        .cast("long")
        .alias("weight"),
    )
    # budget * weight must fit BIGINT at ANY data magnitude: right-shift
    # every weight by k = max(0, bit_length(max_weight) - 40) first (a
    # deterministic normalization — allocation only reads weight RATIOS,
    # and the shifted algebra is the spec both engines run).  Overflow
    # was real: sf0.1 price cents produced weight ~1.4e16 and
    # budget*weight wrapped 2^63.
    mx = w.agg(F.max("weight").alias("mx")).select(
        F.expr("greatest(0, length(bin(greatest(mx, 1))) - 40)").alias("k")
    )
    ws = w.crossJoin(F.broadcast(mx)).select(
        "stratum",
        "n_rows",
        F.expr("shiftright(weight, CAST(k AS INT))").alias("weight"),
    )
    tot = ws.agg(F.sum("weight").alias("sw"))
    base = ws.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_rows",
        "weight",
        F.expr(f"CASE WHEN sw = 0 THEN 0 ELSE ({budget} * weight) DIV sw END").alias("base"),
        F.expr(f"CASE WHEN sw = 0 THEN 0 ELSE ({budget} * weight) % sw END").alias("rem"),
        F.col("sw"),
    )
    wleft = Window.orderBy(F.col("rem").desc(), F.col("stratum").asc())
    leftover = F.lit(budget) - F.sum("base").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return base.select(
        "stratum",
        F.col("n_rows").cast("long").alias("n_rows"),
        "weight",
        (
            F.col("base")
            + F.when(F.row_number().over(wleft) <= leftover, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_alloc"),
    )


def sql_neyman_allocation(
    source_sql: str, stratum_expr: str, value_expr: str, budget: int
) -> str:
    """DuckDB oracle for :func:`neyman_allocation`."""
    return f"""WITH src AS MATERIALIZED (
  SELECT {stratum_expr} AS stratum, CAST({value_expr} AS BIGINT) AS x FROM ({source_sql})
),
stats AS (
  SELECT stratum, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx
  FROM src GROUP BY stratum
),
w AS (
  SELECT stratum, n_rows,
         CAST(floor(CAST(n_rows AS DOUBLE) *
              sqrt(CAST(CAST(n_rows AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)))
              AS BIGINT) AS weight
  FROM stats
),
shift AS (
  SELECT greatest(0, length(bin(greatest(max(weight), 1))) - 40) AS k FROM w
),
ws AS (
  SELECT stratum, n_rows, weight >> s.k AS weight FROM w, shift s
),
tot AS (SELECT sum(weight) AS sw FROM ws),
base AS (
  SELECT stratum, n_rows, weight,
         CASE WHEN t.sw = 0 THEN 0 ELSE ({budget} * weight) // t.sw END AS base,
         CASE WHEN t.sw = 0 THEN 0 ELSE ({budget} * weight) % t.sw END AS rem
  FROM ws, tot t
),
seats AS (SELECT {budget} - sum(base) AS leftover FROM base)
SELECT b.stratum, b.n_rows, b.weight,
       CAST(b.base + CASE WHEN row_number() OVER (ORDER BY b.rem DESC, b.stratum ASC)
                          <= s.leftover THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
FROM base b, seats s"""


def budget_pack(
    df: DataFrame,
    token_budget: int,
    domain_cap: int,
    tokens_col: str = "n_tokens",
    quality_col: str = "quality_ppm",
    domain_col: str = "domain",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic budgeted corpus selection under per-domain caps —
    the "assemble exactly B training tokens, no domain above C" step of
    corpus curation (the data-constrained-scaling recipe: greedy
    quality-ranked fill with domain ceilings), as a fully distributed
    plan:

      stage 1 (cap):    within each domain, rank by (quality DESC, id)
                        and keep the prefix whose inclusive token
                        cumsum stays <= domain_cap;
      stage 2 (budget): rank survivors globally the same way and keep
                        the prefix with cumulative tokens <= budget.

    Ties break on the id column, so the pick is total-order
    deterministic regardless of partitioning.

    Scale posture: stage 1 is a domain-partitioned window (parallel
    across domains).  Stage 2 never funnels rows to one partition: it
    range-repartitions on the global order key, takes a per-partition
    window cumsum, and adds driver-computed per-partition token offsets
    (#partitions rows collected — the same two-phase exact-prefix
    pattern as ranking.global_row_numbers).  Output: the SELECTED rows
    (id, domain, tokens, quality, cum_tokens with cum_tokens the
    inclusive global prefix sum).
    """
    from pyspark.sql import Window

    base = df.select(id_col, domain_col, tokens_col, quality_col)
    wd = (
        Window.partitionBy(domain_col)
        .orderBy(F.col(quality_col).desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    surv = (
        base.withColumn("_dcum", F.sum(tokens_col).over(wd))
        .where(F.col("_dcum") <= domain_cap)
        .drop("_dcum")
    )
    keys = [F.col(quality_col).desc(), F.col(id_col)]
    part = (
        surv.repartitionByRange(*keys)
        if num_partitions is None
        else surv.repartitionByRange(num_partitions, *keys)
    )
    tagged = (
        part.sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wl = (
        Window.partitionBy("_pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stats = (
        tagged.groupBy("_pid").agg(F.sum(tokens_col).alias("_s")).orderBy("_pid")
        .collect()
    )
    offs, off = [], 0
    for r in stats:
        offs.append((int(r["_pid"]), off))
        off += int(r["_s"])
    offsets = tagged.sparkSession.createDataFrame(offs or [(0, 0)], "_pid int, _off long")
    return (
        tagged.withColumn("_lcum", F.sum(tokens_col).over(wl))
        .join(F.broadcast(offsets), "_pid")
        .withColumn("cum_tokens", (F.col("_lcum") + F.col("_off")).cast("long"))
        .where(F.col("cum_tokens") <= token_budget)
        .drop("_pid", "_lcum", "_off")
    )


def sql_budget_pack(
    source_sql: str,
    token_budget: int,
    domain_cap: int,
    tokens_col: str = "n_tokens",
    quality_col: str = "quality_ppm",
    domain_col: str = "domain",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`budget_pack` (plain window cumsums —
    the single-node semantics the distributed two-phase plan must
    reproduce exactly)."""
    return f"""WITH base AS (
  SELECT {id_col}, {domain_col}, {tokens_col}, {quality_col}
  FROM ({source_sql})
),
surv AS (
  SELECT * FROM (
    SELECT *, sum({tokens_col}) OVER (
      PARTITION BY {domain_col}
      ORDER BY {quality_col} DESC, {id_col}
      ROWS UNBOUNDED PRECEDING) AS _dcum
    FROM base)
  WHERE _dcum <= {domain_cap}
)
SELECT {id_col}, {domain_col}, {tokens_col}, {quality_col},
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM (
  SELECT {id_col}, {domain_col}, {tokens_col}, {quality_col},
         sum({tokens_col}) OVER (
           ORDER BY {quality_col} DESC, {id_col}
           ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM surv)
WHERE cum_tokens <= {token_budget}"""


def mondrian_partition(
    df: DataFrame,
    qi_cols: list[str],
    id_col: str,
    k: int = 50,
    depth: int = 4,
) -> DataFrame:
    """Mondrian multidimensional k-anonymity partitioning (LeFevre,
    DeWitt, Ramakrishnan, ICDE 2006, the relaxed variant): recursively
    split the quasi-identifier space — each round, every partition
    with >= 2k rows splits at the MEDIAN RANK of its widest-range
    dimension (ties to the first dimension in ``qi_cols`` order) —
    until depth is exhausted or no partition can split.  The output
    partitions are the generalization cells: publish each row with its
    cell's [min, max] per QI instead of the raw values and the release
    is k-anonymous by construction (every split leaves both sides
    >= floor(n/2) >= k).

    Determinism: the split is by RANK over (value, id) — the relaxed-
    Mondrian tie handling — so equal QI values may land on both sides
    but the cut point is a total-order function of the data, never of
    partitioning or visit order.  All range comparisons are BIGINT
    (inputs are the repo's integer-cents discipline).

    Scale posture: per round, one stats aggregate per partition (cell
    count x dims rows), one rank window PARTITIONED BY CELL (parallel
    across cells, a cell never crosses executors' sort boundaries
    needlessly), one pid update — depth rounds total, each one
    Exchange on the cell id.

    Output: one row per final cell — (pid, n, <dim>_min/_max per QI).
    """
    from pyspark.sql import Window

    if not qi_cols:
        raise ValueError("mondrian_partition: need at least one QI column")
    cur = df.select(
        F.lit(1).cast("long").alias("pid"), id_col, *qi_cols
    ).localCheckpoint(eager=True)

    def split(cur: DataFrame, rnd) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in qi_cols:
            aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
        stats = cur.groupBy("pid").agg(*aggs)
        # widest-range dimension, ties to the first listed
        dim_expr = None
        best_range = None
        for c in qi_cols:
            rng = F.col(f"_hi_{c}") - F.col(f"_lo_{c}")
            if dim_expr is None:
                dim_expr, best_range = F.lit(c), rng
            else:
                dim_expr = F.when(rng > best_range, F.lit(c)).otherwise(dim_expr)
                best_range = F.greatest(rng, best_range)
        stats = stats.select(
            "pid", "_n", dim_expr.alias("_dim"), best_range.alias("_rng")
        )
        joined = cur.join(F.broadcast(stats), "pid")
        vd = None
        for c in qi_cols:
            vd = (
                F.when(F.col("_dim") == c, F.col(c))
                if vd is None
                else vd.when(F.col("_dim") == c, F.col(c))
            )
        w = Window.partitionBy("pid").orderBy(vd.asc(), F.col(id_col).asc())
        ranked = joined.withColumn("_rn", F.row_number().over(w))
        splittable = (F.col("_n") >= 2 * k) & (F.col("_rng") > 0)
        new_pid = F.when(
            ~splittable, F.col("pid")
        ).otherwise(
            F.when(F.col("_rn") <= F.expr("_n DIV 2"), F.col("pid") * 2)
            .otherwise(F.col("pid") * 2 + 1)
        )
        return rnd.checkpoint(
            ranked.select(new_pid.cast("long").alias("pid"), id_col, *qi_cols)
        )

    cur = iterate(split, cur, depth)
    out_aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in qi_cols:
        out_aggs += [
            F.min(c).cast("long").alias(f"{c}_min"),
            F.max(c).cast("long").alias(f"{c}_max"),
        ]
    return cur.groupBy("pid").agg(*out_aggs)


def sql_mondrian_partition(
    source_sql: str,
    qi_cols: list[str],
    id_col: str,
    k: int = 50,
    depth: int = 4,
) -> str:
    """DuckDB oracle for :func:`mondrian_partition`: identical rounds
    unrolled."""
    qs = ", ".join(qi_cols)
    parts = [
        f"c0 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS pid, {id_col}, {qs} "
        f"FROM ({source_sql}))"
    ]
    for t in range(depth):
        stat_cols = ", ".join(
            f"min({c}) AS _lo_{c}, max({c}) AS _hi_{c}" for c in qi_cols
        )
        dim_case = f"'{qi_cols[0]}'"
        rng_expr = f"(_hi_{qi_cols[0]} - _lo_{qi_cols[0]})"
        for c in qi_cols[1:]:
            dim_case = (
                f"CASE WHEN (_hi_{c} - _lo_{c}) > {rng_expr} THEN '{c}' "
                f"ELSE {dim_case} END"
            )
            rng_expr = f"greatest((_hi_{c} - _lo_{c}), {rng_expr})"
        vd_case = " ".join(
            f"WHEN s._dim = '{c}' THEN x.{c}" for c in qi_cols
        )
        parts.append(
            f"""st{t} AS MATERIALIZED (
  SELECT pid, count(*) AS _n, {stat_cols} FROM c{t} GROUP BY pid)"""
        )
        parts.append(
            f"""sd{t} AS MATERIALIZED (
  SELECT pid, _n, {dim_case} AS _dim, {rng_expr} AS _rng FROM st{t})"""
        )
        parts.append(
            f"""rk{t} AS MATERIALIZED (
  SELECT x.pid, x.{id_col}, {', '.join('x.' + c for c in qi_cols)},
         s._n, s._rng,
         row_number() OVER (
           PARTITION BY x.pid
           ORDER BY CASE {vd_case} END ASC, x.{id_col} ASC) AS _rn
  FROM c{t} x JOIN sd{t} s ON s.pid = x.pid)"""
        )
        parts.append(
            f"""c{t + 1} AS MATERIALIZED (
  SELECT CASE WHEN _n < {2 * k} OR _rng <= 0 THEN pid
              WHEN _rn <= _n // 2 THEN pid * 2 ELSE pid * 2 + 1 END AS pid,
         {id_col}, {qs}
  FROM rk{t})"""
        )
    out_cols = ", ".join(
        f"CAST(min({c}) AS BIGINT) AS {c}_min, "
        f"CAST(max({c}) AS BIGINT) AS {c}_max"
        for c in qi_cols
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT pid, CAST(count(*) AS BIGINT) AS n, {out_cols}
FROM c{depth} GROUP BY pid"""
    )


def leakage_safe_split(
    docs: DataFrame,
    dup_pairs: DataFrame,
    train_pct: int = 80,
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/test split that cannot leak through near-duplicates
    (round-4): documents are split by the canonical id of their near-dup
    CLUSTER, not their own id, so two near-duplicate documents can never
    land on opposite sides of the boundary — the failure mode a plain
    per-doc hash split has on any deduplicated-but-not-perfectly corpus
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", measures exactly this train-test leakage).

    ``dup_pairs`` is whatever verified near-dup edge set the pipeline
    already produced (MinHash+LSH candidates after jaccard verify, the
    dedup_components input).  Components use the O(log^2 n)
    large-star/small-star CC; unclustered docs are their own canonical.
    The split decision is hash60(canonical) % 100 < train_pct — pure
    map-side after one left join of the (small) cluster mapping onto the
    corpus.  Output: (id, canonical_id, split in {'train','test'}).
    """
    from nexus_forge_spark.operators.canonicalize import connected_components
    from nexus_forge_spark.operators.sketches import hash60

    comp = connected_components(dup_pairs).select(
        F.col("entity_id").alias(id_col), F.col("canonical_id").alias("__c")
    )
    out = (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__c"), F.col(id_col)).alias("canonical_id"),
        )
    )
    bucket = F.pmod(hash60(F.col("canonical_id"), "split"), F.lit(100))
    return out.select(
        id_col,
        "canonical_id",
        F.when(bucket < train_pct, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


DAWID_SKENE_ROUNDS = 4


def dawid_skene_labels(
    labels: DataFrame,
    rounds: int = DAWID_SKENE_ROUNDS,
    item_col: str = "item",
    worker_col: str = "worker",
    label_col: str = "label",
) -> DataFrame:
    """Crowd / weak-supervision label aggregation by Dawid-Skene
    (1979) in its hard-EM form — the annotation-quality workhorse
    behind every labeled training set built from multiple imperfect
    annotators (or labeling functions, Snorkel-style): workers get
    per-class confusion rates, items get posterior labels, and the two
    refine each other.

    Hard EM keeps everything ENGINE-EXACT INTEGER (soft EM needs exp();
    this repo has a deterministic log, not a deterministic exp):

      init     item estimate = majority vote (ties -> 1);
      M-step   worker confusion counts against current estimates,
               Laplace +1 / +2 smoothed;
      E-step   item log-odds = prior + sum over its labels of
               ln(P(label|1) / P(label|0)) in fixed-point micro-nats;
               estimate = (log-odds >= 0).

    A FIXED round count keeps the unrolled SQL oracle bit-identical
    (rounds past convergence are no-ops once estimates stop flipping).
    Shape per round: one worker-level aggregate (workers x 4 counts) +
    one broadcast join of the worker table back onto labels + one item
    aggregate — the label table shuffles on (worker) then (item), both
    partial-combined.  Output: (item, label_est, log_odds_micro,
    n_labels).
    """
    from nexus_forge_spark.functions.intlog import ln_micro_col

    lab = labels.select(
        F.col(item_col).alias("i"),
        F.col(worker_col).alias("wk"),
        F.col(label_col).cast("int").alias("l"),
    ).localCheckpoint(eager=True)
    est = lab.groupBy("i").agg(
        (F.sum("l") * 2 >= F.count(F.lit(1))).cast("int").alias("e")
    )

    def em_round(est: DataFrame, rnd) -> DataFrame:
        joined = lab.join(est, "i")
        conf = joined.groupBy("wk").agg(
            F.sum(F.expr("CASE WHEN e = 1 AND l = 1 THEN 1 ELSE 0 END")).alias("n11"),
            F.sum(F.expr("CASE WHEN e = 1 AND l = 0 THEN 1 ELSE 0 END")).alias("n01"),
            F.sum(F.expr("CASE WHEN e = 0 AND l = 1 THEN 1 ELSE 0 END")).alias("n10"),
            F.sum(F.expr("CASE WHEN e = 0 AND l = 0 THEN 1 ELSE 0 END")).alias("n00"),
        )
        # prior log-odds computed ONCE on the one-row aggregate — the
        # interpreted intlog fold per ITEM row was the measured 347 s
        # outlier at sf0.1 (150k items x 4 rounds x a no-codegen fold)
        prior = est.agg(
            F.sum(F.expr("CASE WHEN e = 1 THEN 1 ELSE 0 END")).alias("p1"),
            F.sum(F.expr("CASE WHEN e = 0 THEN 1 ELSE 0 END")).alias("p0"),
        ).select(ln_micro_col("(p1 + 1)", "(p0 + 1)").alias("prior_lo"))
        # the log folds run on the WORKER-sized frame (7 rows), never on
        # the label rows — evaluated per label they were the other half
        # of the measured sf0.1 outlier (interpreted fold x 840k rows)
        wtab = conf.select(
            "wk",
            ln_micro_col(
                "((n11 + 1) * (n10 + n00 + 2))", "((n10 + 1) * (n11 + n01 + 2))"
            ).alias("w1"),
            ln_micro_col(
                "((n01 + 1) * (n10 + n00 + 2))", "((n00 + 1) * (n11 + n01 + 2))"
            ).alias("w0"),
        )
        weighted = (
            lab.join(F.broadcast(wtab), "wk")
            .select(
                "i",
                F.when(F.col("l") == 1, F.col("w1"))
                .otherwise(F.col("w0"))
                .alias("w_micro"),
            )
        )
        return rnd.checkpoint(
            weighted.groupBy("i")
            .agg(F.sum("w_micro").alias("s"), F.count(F.lit(1)).alias("n"))
            .crossJoin(F.broadcast(prior))
            .select(
                "i",
                "n",
                (F.col("s") + F.col("prior_lo")).alias("lo"),
            )
            .select(
                "i",
                "n",
                "lo",
                (F.col("lo") >= 0).cast("int").alias("e"),
            )
        )

    est = iterate(em_round, est, rounds)
    return est.select(
        F.col("i").alias("item"),
        F.col("e").cast("int").alias("label_est"),
        F.col("lo").cast("long").alias("log_odds_micro"),
        F.col("n").cast("long").alias("n_labels"),
    )


def sql_dawid_skene_labels(
    source_sql: str, rounds: int = DAWID_SKENE_ROUNDS
) -> str:
    """DuckDB oracle for :func:`dawid_skene_labels` (source ->
    (item, worker, label)), rounds unrolled as MATERIALIZED CTEs."""
    from nexus_forge_spark.functions.intlog import ln_micro_sql

    w1 = ln_micro_sql(
        "((n11 + 1) * (n10 + n00 + 2))", "((n10 + 1) * (n11 + n01 + 2))", "duck"
    )
    w0 = ln_micro_sql(
        "((n01 + 1) * (n10 + n00 + 2))", "((n00 + 1) * (n11 + n01 + 2))", "duck"
    )
    pri = ln_micro_sql("(p1 + 1)", "(p0 + 1)", "duck")
    ctes = []
    prev = "e0"
    for r in range(1, rounds + 1):
        ctes.append(f"""conf{r} AS MATERIALIZED (
  SELECT l.wk,
    sum(CASE WHEN e.e = 1 AND l.l = 1 THEN 1 ELSE 0 END) AS n11,
    sum(CASE WHEN e.e = 1 AND l.l = 0 THEN 1 ELSE 0 END) AS n01,
    sum(CASE WHEN e.e = 0 AND l.l = 1 THEN 1 ELSE 0 END) AS n10,
    sum(CASE WHEN e.e = 0 AND l.l = 0 THEN 1 ELSE 0 END) AS n00
  FROM lab l JOIN {prev} e ON l.i = e.i GROUP BY l.wk
),
wt{r} AS MATERIALIZED (
  SELECT wk, CAST({w1} AS BIGINT) AS w1, CAST({w0} AS BIGINT) AS w0
  FROM conf{r}
),
pr{r} AS (
  SELECT CAST({pri} AS BIGINT) AS prior_lo
  FROM (
    SELECT sum(CASE WHEN e = 1 THEN 1 ELSE 0 END) AS p1,
           sum(CASE WHEN e = 0 THEN 1 ELSE 0 END) AS p0
    FROM {prev}
  )
),
e{r} AS MATERIALIZED (
  SELECT l.i,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l.l = 1 THEN w.w1 ELSE w.w0 END)
              + max(prior_lo) AS BIGINT) AS lo,
         CASE WHEN sum(CASE WHEN l.l = 1 THEN w.w1 ELSE w.w0 END)
                   + max(prior_lo) >= 0
              THEN 1 ELSE 0 END AS e
  FROM lab l JOIN wt{r} w ON l.wk = w.wk CROSS JOIN pr{r}
  GROUP BY l.i
)""")
        prev = f"e{r}"
    body = ",\n".join(ctes)
    return f"""WITH lab AS MATERIALIZED (
  SELECT item AS i, worker AS wk, CAST(label AS INT) AS l
  FROM ({source_sql})
),
e0 AS MATERIALIZED (
  SELECT i, CASE WHEN sum(l) * 2 >= count(*) THEN 1 ELSE 0 END AS e
  FROM lab GROUP BY i
),
{body}
SELECT i AS item, CAST(e AS INT) AS label_est,
       CAST(lo AS BIGINT) AS log_odds_micro, n AS n_labels
FROM {prev}"""


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_ppm: int = 200_000,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) — the
    third rung of the privacy ladder after k-anonymity and l-diversity
    (both already here): an equivalence class leaks when the
    DISTRIBUTION of its sensitive attribute sits too far from the
    global one, even if it is k-large and l-diverse.  Distance is the
    Earth Mover's Distance over the ORDERED sensitive domain, which for
    discrete ordered values is exactly the mean absolute CDF gap —
    integer-exact in ppm:

        EMD_ppm = sum_v |cdf_class(v) - cdf_global(v)| * 1e6
                  div (m - 1)        (m = distinct sensitive values)

    Shape: one (class x value) cell aggregate, cumulative sums by one
    window ordered over the value domain (partitioned by class —
    parallel), one global-side broadcast join.  Output: one row per
    equivalence class — (quasi cols..., n, emd_ppm, leaks) with
    ``leaks = emd_ppm > t_ppm``.
    """
    q = [F.col(c) for c in quasi_cols]
    cells = df.groupBy(*q, F.col(sensitive_col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    gcells = df.groupBy(F.col(sensitive_col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__gc")
    )
    m = gcells.count()
    n_total = df.count()
    # every class gets every value row (zero-filled) so the CDFs align
    classes = cells.groupBy(*q).agg(F.sum("__c").alias("__n"))
    grid = classes.crossJoin(F.broadcast(gcells.select("__v")))
    filled = grid.join(cells, quasi_cols + ["__v"], "left").select(
        *q,
        "__v",
        "__n",
        F.coalesce("__c", F.lit(0)).alias("__c"),
    )
    gcdf = gcells.select(
        "__v",
        F.expr(
            f"CAST(sum(__gc) OVER (ORDER BY __v ROWS BETWEEN UNBOUNDED "
            f"PRECEDING AND CURRENT ROW) * 1000000 div {n_total} AS BIGINT)"
        ).alias("__gcdf_ppm"),
    )
    qlist = ", ".join(quasi_cols)
    with_cdf = filled.withColumn(
        "__cdf_ppm",
        F.expr(
            f"CAST(sum(__c) OVER (PARTITION BY {qlist} ORDER BY __v ROWS "
            f"BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 "
            f"div __n AS BIGINT)"
        ),
    )
    return (
        with_cdf.join(F.broadcast(gcdf), "__v")
        .groupBy(*q)
        .agg(
            F.max("__n").cast("long").alias("n"),
            F.expr(
                f"CAST(sum(abs(__cdf_ppm - __gcdf_ppm)) div {max(m - 1, 1)}"
                " AS BIGINT)"
            ).alias("emd_ppm"),
        )
        .select(
            *quasi_cols,
            "n",
            "emd_ppm",
            (F.col("emd_ppm") > t_ppm).alias("leaks"),
        )
    )


def sql_t_closeness_audit(
    source_sql: str,
    quasi_cols: list[str],
    sensitive_col: str,
    t_ppm: int = 200_000,
) -> str:
    """DuckDB oracle for :func:`t_closeness_audit`."""
    qlist = ", ".join(quasi_cols)
    return f"""WITH base AS MATERIALIZED (
  SELECT {qlist}, {sensitive_col} AS v FROM ({source_sql})
),
gcells AS MATERIALIZED (SELECT v, count(*) AS gc FROM base GROUP BY v),
gstats AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(gc) AS BIGINT) AS n_total
  FROM gcells
),
cells AS (SELECT {qlist}, v, count(*) AS c FROM base GROUP BY {qlist}, v),
classes AS (SELECT {qlist}, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY {qlist}),
grid AS (SELECT cl.*, g.v FROM classes cl CROSS JOIN (SELECT v FROM gcells) g),
filled AS (
  SELECT g.*, coalesce(c.c, 0) AS c
  FROM grid g LEFT JOIN cells c
    ON {" AND ".join(f"g.{x} = c.{x}" for x in quasi_cols)} AND g.v = c.v
),
gcdf AS (
  SELECT v, CAST(sum(gc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
    AND CURRENT ROW) * 1000000 // (SELECT n_total FROM gstats) AS BIGINT)
    AS gcdf_ppm
  FROM gcells
),
ccdf AS (
  SELECT {qlist}, n, v,
    CAST(sum(c) OVER (PARTITION BY {qlist} ORDER BY v ROWS BETWEEN UNBOUNDED
      PRECEDING AND CURRENT ROW) * 1000000 // n AS BIGINT) AS cdf_ppm
  FROM filled
)
SELECT {qlist}, max(cc.n) AS n,
  CAST(sum(abs(cc.cdf_ppm - g.gcdf_ppm))
       // greatest((SELECT m FROM gstats) - 1, 1) AS BIGINT) AS emd_ppm,
  CAST(sum(abs(cc.cdf_ppm - g.gcdf_ppm))
       // greatest((SELECT m FROM gstats) - 1, 1) AS BIGINT) > {t_ppm}
    AS leaks
FROM ccdf cc JOIN gcdf g ON cc.v = g.v
GROUP BY {qlist}"""
