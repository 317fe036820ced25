"""Fellegi-Sunter record-linkage scoring: turn blocked candidate pairs
plus per-field agreement indicators into calibrated match decisions.

The reference's resolver ranks candidates by a single lexical score
(Resolver.resolve BEST/ALL — kgforge/core/archetypes/resolver.py plus
the sklearn entity-linker's kNN distance); production entity resolution
at warehouse scale composes *several* evidence fields (name agreement,
attribute agreement, context agreement) under the classic Fellegi-Sunter
log-likelihood-ratio model: each field contributes ``log(m/u)`` when it
agrees and ``log((1-m)/(1-u))`` when it disagrees, the pair's total
score thresholds into match / possible (clerical review) / nonmatch.

Engine-exactness discipline: weights are caller-supplied INTEGER
milli-units (pre-computed log-ratios x1000, the standard fixed-point
rendering) and the score is a pure integer sum — no float anywhere, so
a DuckDB oracle running the same algebra matches hash-for-hash.

Scale posture: scoring is entirely map-side over the candidate-pair
table (one projection, no shuffle, no UDF) — the expensive part of ER
is candidate generation, which this module deliberately does NOT redo:
feed it pairs from any existing blocker (LSH bands, PPJoin prefixes,
sorted-neighborhood windows, trigram blocks).  At 10^12 rows the score
+ classify stage adds zero exchanges to whatever the blocker produced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nexus_forge_spark.functions.itermetrics import checkpoint_observed, emptied, iterate


def fs_classify(
    pairs: DataFrame,
    weights_milli: dict[str, tuple[int, int]],
    upper_milli: int,
    lower_milli: int,
) -> DataFrame:
    """Score and classify candidate pairs under the Fellegi-Sunter model.

    ``weights_milli`` maps each boolean agreement column already present
    on ``pairs`` to ``(agree_milli, disagree_milli)`` — the field's
    log(m/u) and log((1-m)/(1-u)) in integer milli-units (agree weight
    positive, disagree weight negative in any sane calibration).  NULL
    agreement (field missing on either record) contributes 0, the
    standard treatment.

    Adds ``score_milli`` (BIGINT sum) and ``decision``:
    'match' when score >= upper_milli, 'nonmatch' when score <=
    lower_milli, else 'possible' (the clerical-review band).
    """
    if upper_milli < lower_milli:
        raise ValueError("upper_milli must be >= lower_milli")
    score: Column = F.lit(0).cast("long")
    for col, (agree, disagree) in weights_milli.items():
        score = score + F.when(F.col(col).isNull(), F.lit(0)).when(
            F.col(col), F.lit(agree)
        ).otherwise(F.lit(disagree)).cast("long")
    return pairs.withColumn("score_milli", score).withColumn(
        "decision",
        F.when(F.col("score_milli") >= upper_milli, F.lit("match"))
        .when(F.col("score_milli") <= lower_milli, F.lit("nonmatch"))
        .otherwise(F.lit("possible")),
    )


def sql_fs_classify(
    pairs_sql: str,
    weights_milli: dict[str, tuple[int, int]],
    upper_milli: int,
    lower_milli: int,
    out_cols: list[str],
) -> str:
    """DuckDB oracle rendering of the identical integer FS algebra."""
    terms = [
        f"(CASE WHEN {c} IS NULL THEN 0 WHEN {c} THEN {a} ELSE {d} END)"
        for c, (a, d) in weights_milli.items()
    ]
    score = " + ".join(terms) if terms else "0"
    outs = ", ".join(out_cols)
    return f"""WITH pairs AS ({pairs_sql}),
scored AS (
  SELECT *, CAST({score} AS BIGINT) AS score_milli FROM pairs
)
SELECT {outs}, score_milli,
       CASE WHEN score_milli >= {upper_milli} THEN 'match'
            WHEN score_milli <= {lower_milli} THEN 'nonmatch'
            ELSE 'possible' END AS decision
FROM scored"""


def blocking_metrics(
    candidate_pairs: DataFrame,
    truth_pairs: DataFrame,
    n_records: int,
) -> DataFrame:
    """Blocking-quality evaluation (the Christen ER-survey metrics):
    ``reduction_ratio_ppm`` — how much of the n*(n-1)/2 comparison space
    the blocker pruned — and ``pair_completeness_ppm`` — how many true
    matches survived as candidates (the blocker's recall; what the
    prefix/LSH/SNM losslessness arguments claim, here measured).

    Both candidate and truth pairs are normalized to unordered (a < b)
    form first, so orientation conventions can't skew the counts.  All
    ratios are truncating integer ppm — engine-exact.

    Scale posture: one distinct per side + one broadcast semi-join
    (truth sets are labeled data — small by definition) + two 1-row
    aggregates; the candidate table never self-joins.  Output is a
    single row: (n_candidates, n_truth, n_truth_covered,
    reduction_ratio_ppm, pair_completeness_ppm).
    """
    total_pairs = n_records * (n_records - 1) // 2

    def _norm(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    cand = _norm(candidate_pairs)
    truth = _norm(truth_pairs)
    covered = cand.join(F.broadcast(truth), ["a", "b"], "left_semi")
    counts = (
        cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .crossJoin(truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth")))
        .crossJoin(
            covered.agg(
                F.count(F.lit(1)).cast("long").alias("n_truth_covered")
            )
        )
    )
    return counts.select(
        "n_candidates",
        "n_truth",
        "n_truth_covered",
        F.expr(
            f"(({total_pairs} - n_candidates) * 1000000) div {total_pairs}"
        )
        .cast("long")
        .alias("reduction_ratio_ppm"),
        F.expr("CASE WHEN n_truth > 0 THEN (n_truth_covered * 1000000) div n_truth ELSE 0 END")
        .cast("long")
        .alias("pair_completeness_ppm"),
    )


def align_releases(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "entity_id",
    label_col: str = "label",
    threshold_milli: int = 500,
) -> DataFrame:
    """KB release alignment / rename detection: when entity ids are NOT
    stable across two ontology releases, align the releases by label.

    Labels present in both releases (exact lower-cased match) are stable
    and drop out via anti-joins; the REMOVED x ADDED remainder is matched
    by character-trigram Jaccard — candidates come from an equi-join on
    shared grams (a pair with zero shared trigrams can't clear any useful
    threshold, so the gram join is a lossless block for it), and because
    each side's gram set is distinct, counting joined rows per pair IS
    the intersection size — the block and the verification are the same
    join.  sim_milli = inter * 1000 div (|A| + |B| - inter), integer.
    Output: best new-label match per removed entity (max sim, min new id
    tie-break) at sim >= threshold_milli: (old_id, old_label, new_id,
    new_label, sim_milli).

    Scale posture: two anti-joins on the label, then LOSSLESS
    prefix-filtered candidate generation (the PPJoin rule): grams get a
    global rarity order (freq asc, gram asc) and each label only probes
    with its ``n - ceil(t*n) + 1`` rarest grams — any pair with Jaccard
    >= t must share a gram inside BOTH prefixes, so hot grams from a
    small name vocabulary never drive the join fan-out (the naive
    all-grams equi-join measured 306 s at sf0.1 on exactly that
    small-vocabulary shape; this plan runs in seconds with identical
    output).  The ceil is integer-exact ((t_milli*n + 999) div 1000 —
    the round-1 float-ceil lesson).  Candidates verify with
    array_intersect on the full distinct-gram arrays (labels are short),
    then one per-old-entity min_by election.
    """
    from nexus_forge_spark.operators.resolve import trigrams

    lo = old.select(
        F.col(id_col).alias("old_id"),
        F.lower(F.col(label_col)).alias("old_label"),
    )
    ln = new.select(
        F.col(id_col).alias("new_id"),
        F.lower(F.col(label_col)).alias("new_label"),
    )
    # removed/added feed three consumers (gram freq, prefix ranking, and
    # the candidate rehydrate) — pin them once
    removed = (
        lo.join(ln, lo.old_label == ln.new_label, "left_anti")
        .select("*", trigrams(F.col("old_label")).alias("ga"))
        .localCheckpoint(eager=True)
    )
    added = (
        ln.join(lo, ln.new_label == lo.old_label, "left_anti")
        .select("*", trigrams(F.col("new_label")).alias("gb"))
        .localCheckpoint(eager=True)
    )
    freq = (
        removed.select(F.explode("ga").alias("g"))
        .unionAll(added.select(F.explode("gb").alias("g")))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    def prefix(side: DataFrame, arr: str, ids: list[str]) -> DataFrame:
        n = F.size(F.col(arr))
        plen = n - F.expr(
            f"CAST(({int(threshold_milli)} * size({arr}) + 999) div 1000 "
            "AS INT)"
        ) + F.lit(1)
        ranked = (
            side.select(*ids, arr, F.explode(arr).alias("g"))
            .join(F.broadcast(freq), "g")
            .groupBy(*ids, arr)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("df", "g"))
                ).alias("__r")
            )
        )
        return ranked.select(
            *ids,
            F.size(F.col(arr)).alias(f"__n_{arr}"),
            F.explode(
                F.slice(
                    F.transform(F.col("__r"), lambda s: s["g"]),
                    1,
                    F.greatest(plen, F.lit(1)),
                )
            ).alias("g"),
        )

    # candidates carry ONLY integer ids through the gram join + distinct
    # (arrays re-attach afterwards — dehydrate/rehydrate keeps the wide
    # distinct off the multi-million-row candidate stream), with the
    # PPJoin LENGTH filter in the join (J >= t forces t*|A| <= |B| and
    # vice versa, integer cross-multiplied)
    op = prefix(removed, "ga", ["old_id"])
    np_ = prefix(added, "gb", ["new_id"])
    cand = (
        op.join(
            np_,
            (op.g == np_.g)
            & (F.col("__n_ga") * threshold_milli <= F.col("__n_gb") * 1000)
            & (F.col("__n_gb") * threshold_milli <= F.col("__n_ga") * 1000),
        )
        .select("old_id", "new_id")
        .distinct()
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    pairs = (
        cand.join(removed, "old_id")
        .join(added, "new_id")
        .select(
            "old_id",
            "old_label",
            "new_id",
            "new_label",
            F.size("ga").alias("na"),
            F.size("gb").alias("nb"),
            inter.alias("inter"),
        )
        .withColumn(
            "sim_milli",
            F.expr("inter * 1000 div (na + nb - inter)").cast("long"),
        )
        .where(F.col("sim_milli") >= threshold_milli)
    )
    return (
        pairs.groupBy("old_id", "old_label")
        .agg(
            F.max("sim_milli").alias("sim_milli"),
            F.min_by(
                F.struct("new_id", "new_label"),
                F.struct(
                    (-F.col("sim_milli")).alias("ns"),
                    F.col("new_id").alias("nid"),
                ),
            ).alias("best"),
        )
        .select(
            "old_id",
            "old_label",
            F.col("best.new_id").alias("new_id"),
            F.col("best.new_label").alias("new_label"),
            F.col("sim_milli").cast("long").alias("sim_milli"),
        )
    )


SOUNDEX_CLASSES = [
    ("[AEIOUY]", "0"),
    ("[BFPV]", "1"),
    ("[CGJKQSXZ]", "2"),
    ("[DT]", "3"),
    ("L", "4"),
    ("[MN]", "5"),
    ("R", "6"),
]


def soundex_code(col) -> "F.Column":
    """American Soundex (the Knuth/US-Census variant) as pure column
    algebra — implemented from scratch rather than F.soundex so the SQL
    oracle runs the IDENTICAL chain (and so H/W transparency is explicit:
    same-code letters separated by h/w collapse, separated by vowels
    don't).  Backref-free throughout — RE2 (the oracle's engine) has no
    backreferences, so adjacent-duplicate collapse is one replace per
    digit class.

    Returns letter + 3 digits (zero-padded), NULL for strings with no
    letters.  The classic ER blocking key for person/org names: robust
    to the misspellings edit-distance blocking misses cheaply.
    """
    s = F.upper(F.regexp_replace(col, "[^A-Za-z]", ""))
    first = F.substring(s, 1, 1)
    t = F.regexp_replace(s, "[HW]", "")
    d = t
    for pat, code in SOUNDEX_CLASSES:
        d = F.regexp_replace(d, pat, code)
    for i in range(7):
        d = F.regexp_replace(d, f"{i}{i}+", str(i))
    # non-HW-initial: the collapsed string's first digit is the first
    # letter's own code (already merged with a same-code run) — drop it
    digits = F.when(
        first.isin("H", "W"), F.regexp_replace(d, "0", "")
    ).otherwise(F.regexp_replace(F.substring(d, 2, 1_000_000), "0", ""))
    return F.when(
        F.length(s) > 0,
        F.concat(first, F.rpad(F.substring(digits, 1, 3), 3, "0")),
    )


def sql_soundex_code(expr: str) -> str:
    """DuckDB rendering of :func:`soundex_code` — the identical chain."""
    s = f"upper(regexp_replace({expr}, '[^A-Za-z]', '', 'g'))"
    inner = f"regexp_replace({s}, '[HW]', '', 'g')"
    for pat, code in SOUNDEX_CLASSES:
        inner = f"regexp_replace({inner}, '{pat}', '{code}', 'g')"
    for i in range(7):
        inner = f"regexp_replace({inner}, '{i}{i}+', '{i}', 'g')"
    first = f"substr({s}, 1, 1)"
    digits = (
        f"CASE WHEN {first} IN ('H', 'W') "
        f"THEN regexp_replace({inner}, '0', '', 'g') "
        f"ELSE regexp_replace(substr({inner}, 2), '0', '', 'g') END"
    )
    return (
        f"CASE WHEN length({s}) > 0 "
        f"THEN {first} || rpad(substr({digits}, 1, 3), 3, '0') END"
    )


def pr_curve(
    scored: DataFrame,
    truth: DataFrame,
    score_col: str = "score_milli",
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Precision/recall threshold sweep for a pair scorer against ground
    truth — the tuning pass that picks a match threshold from evidence
    instead of folklore.  At every DISTINCT score t (candidate
    threshold): TP = true pairs scoring >= t, FN counts against ALL
    truth pairs (including ones the blocker never surfaced — blocker
    misses honestly depress recall), precision/recall/F1 in integer ppm
    (F1 via the ppm harmonic mean, BIGINT division).

    Scale posture: one pair-keyed dedup aggregate, one truth left-join
    to label pairs, one score-keyed aggregate — then the cumulative
    sweep runs as a window over the DISTINCT-SCORE table, which is
    threshold-sized, not pair-sized (the single-partition window is
    over that tiny aggregate only).

    Duplicate candidate pairs in ``scored`` (the same pair surfaced by
    several LSH bands at different scores) are collapsed to ONE row per
    normalized pair at its max score BEFORE labeling — otherwise each
    surfacing counts as its own TP/FP, cumulative tp can exceed the
    truth size, and rec_ppm runs past 1e6 (round-2 ADVICE finding).
    """
    t = truth.select(
        F.least(a, b).alias("__ta"), F.greatest(a, b).alias("__tb")
    ).distinct()
    n_pos_total = t.count()
    labeled = (
        scored.select(
            F.least(a, b).alias("__a"),
            F.greatest(a, b).alias("__b"),
            F.col(score_col).alias("__s0"),
        )
        .groupBy("__a", "__b")
        .agg(F.max("__s0").alias("__s"))
        .join(
            t,
            (F.col("__a") == F.col("__ta")) & (F.col("__b") == F.col("__tb")),
            "left",
        )
        .select("__s", F.col("__ta").isNotNull().cast("long").alias("__pos"))
    )
    per_score = labeled.groupBy("__s").agg(
        F.sum("__pos").alias("__np"),
        F.sum(F.lit(1) - F.col("__pos")).alias("__nn"),
    )
    sweep = Window.orderBy(F.col("__s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_score.select(
        F.col("__s").alias("threshold"),
        F.sum("__np").over(sweep).cast("long").alias("tp"),
        F.sum("__nn").over(sweep).cast("long").alias("fp"),
    ).select(
        "threshold",
        "tp",
        "fp",
        (F.lit(n_pos_total) - F.col("tp")).cast("long").alias("fn"),
        F.expr("CAST(tp * 1000000 div (tp + fp) AS BIGINT)").alias("prec_ppm"),
        F.expr(f"CAST(tp * 1000000 div {n_pos_total} AS BIGINT)").alias(
            "rec_ppm"
        ),
    )
    return cum.select(
        "*",
        F.expr(
            "CAST(CASE WHEN prec_ppm + rec_ppm = 0 THEN 0 "
            "ELSE 2 * prec_ppm * rec_ppm div (prec_ppm + rec_ppm) END "
            "AS BIGINT)"
        ).alias("f1_ppm"),
    )


def _em_w_sql(lam: str, ms: list[str], us: list[str], gcols: list[str], div: str) -> str:
    """Render the E-step posterior w_ppm as one integer SQL expression.

    w = lam*prod(m-terms) / (lam*prod(m) + (1-lam)*prod(u)) in ppm,
    every multiply immediately rescaled by DIV 1e6 (truncating; all
    operands non-negative so Spark DIV, DuckDB // and Python // agree).
    Degenerate all-zero numerator+denominator falls back to 500000.
    Params arrive as SQL expression strings so the same builder serves
    literal ints (round 1 / Spark driver loop) and CTE column refs
    (the unrolled DuckDB oracle)."""
    num = f"CAST({lam} AS BIGINT)"
    for m, c in zip(ms, gcols):
        num = (
            f"(({num}) * (CASE WHEN {c} = 1 THEN ({m}) "
            f"ELSE (1000000 - ({m})) END)) {div} 1000000"
        )
    den = f"CAST(1000000 - ({lam}) AS BIGINT)"
    for u, c in zip(us, gcols):
        den = (
            f"(({den}) * (CASE WHEN {c} = 1 THEN ({u}) "
            f"ELSE (1000000 - ({u})) END)) {div} 1000000"
        )
    return (
        f"(CASE WHEN ({num}) + ({den}) = 0 THEN 500000 "
        f"ELSE (({num}) * 1000000) {div} (({num}) + ({den})) END)"
    )


def _clamp_ppm(x: int) -> int:
    return max(1, min(999999, x))


def em_fs_train(
    pairs: DataFrame,
    gamma_cols: list[str],
    id_cols: tuple[str, str] = ("a", "b"),
    rounds: int = 2,
    init_lambda_ppm: int = 500000,
    init_m_ppm: int = 750000,
    init_u_ppm: int = 250000,
    match_threshold_ppm: int = 500000,
):
    """Unsupervised Fellegi-Sunter parameter estimation by EM
    (Splink-style): learn per-field m = P(agree|match), u =
    P(agree|unmatch) and the match prior lambda from UNLABELED blocked
    candidate pairs, then score every pair with the learned posterior.

    Engine-exactness: all probabilities are BIGINT ppm; every product
    rescales with truncating integer division and every ratio is
    (num*1e6) DIV den, so the DuckDB oracle (sql_em_fs_train, the same
    algebra unrolled into per-round CTEs) matches hash-for-hash — the
    naive float EM would drift across libm builds exactly like the
    F.log micro-nat hazard this repo already swept out.

    Scale: each round is ONE map-side-combined aggregate over the pair
    table (the E-step posterior is a pure per-row expression — no
    shuffle beyond the final partial-agg exchange) producing a single
    2K+3-value row; the M-step division happens driver-side on exact
    Python ints (same truncation), so K fields x R rounds costs R fact
    scans and zero data shuffles.  Params are clamped to [1, 999999]
    ppm so no field becomes absorbing.  Returns (scored_pairs, params):
    scored_pairs = (id_cols..., w_ppm, matched), params =
    {"lambda_ppm": int, "m_ppm": [..], "u_ppm": [..]}.

    Reference analogue: the resolver's single lexical score
    (kgforge/core/archetypes/resolver.py) has no learned calibration;
    this supplies the standard one for multi-evidence ER.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    K = len(gamma_cols)
    gnames = [f"g{k}" for k in range(K)]
    g = pairs.select(
        *[F.col(c) for c in id_cols],
        *[
            F.coalesce(F.col(c).cast("int"), F.lit(0)).alias(gn)
            for c, gn in zip(gamma_cols, gnames)
        ],
    ).localCheckpoint(eager=True)  # R rounds re-scan this, not the blocker upstream
    lam = init_lambda_ppm
    ms = [init_m_ppm] * K
    us = [init_u_ppm] * K
    for _ in range(rounds):
        w_sql = _em_w_sql(str(lam), [str(m) for m in ms], [str(u) for u in us], gnames, "DIV")
        scored = g.select(*gnames, F.expr(w_sql).alias("w"))
        aggs = [
            F.sum("w").alias("sw"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.lit(1000000) - F.col("w")).alias("swu"),
        ]
        for k, gn in enumerate(gnames):
            aggs.append(F.sum(F.col("w") * F.col(gn)).alias(f"a{k}"))
            aggs.append(
                F.sum((F.lit(1000000) - F.col("w")) * F.col(gn)).alias(f"b{k}")
            )
        row = scored.agg(*aggs).collect()[0]
        sw, n, swu = int(row["sw"] or 0), int(row["n"]), int(row["swu"] or 0)
        if n > 0:
            lam = _clamp_ppm(sw // n)
        for k in range(K):
            if sw > 0:
                ms[k] = _clamp_ppm((int(row[f"a{k}"]) * 1000000) // sw)
            if swu > 0:
                us[k] = _clamp_ppm((int(row[f"b{k}"]) * 1000000) // swu)
    w_sql = _em_w_sql(str(lam), [str(m) for m in ms], [str(u) for u in us], gnames, "DIV")
    out = g.select(
        *id_cols,
        F.expr(w_sql).cast("long").alias("w_ppm"),
    ).withColumn(
        "matched",
        F.when(F.col("w_ppm") >= match_threshold_ppm, F.lit(1)).otherwise(F.lit(0)),
    )
    return out, {"lambda_ppm": lam, "m_ppm": ms, "u_ppm": us}


def sql_em_fs_train(
    pairs_sql: str,
    gamma_exprs: list[str],
    id_cols: tuple[str, str] = ("a", "b"),
    rounds: int = 2,
    init_lambda_ppm: int = 500000,
    init_m_ppm: int = 750000,
    init_u_ppm: int = 250000,
    match_threshold_ppm: int = 500000,
) -> str:
    """DuckDB oracle: the identical integer EM unrolled — one scored CTE
    + one sums CTE + one params CTE per round, each params CTE carrying
    the previous round's values for the zero-denominator fallback.
    pairs_sql must yield id_cols + the gamma expressions."""
    K = len(gamma_exprs)
    gnames = [f"g{k}" for k in range(K)]
    ida, idb = id_cols
    gsel = ", ".join(
        f"coalesce(CAST({e} AS INT), 0) AS {gn}" for e, gn in zip(gamma_exprs, gnames)
    )
    parts = [
        f"pairs AS MATERIALIZED (SELECT {ida}, {idb}, {gsel} FROM ({pairs_sql}))",
        "p0 AS (SELECT "
        + ", ".join(
            [f"CAST({init_lambda_ppm} AS BIGINT) AS lam"]
            + [f"CAST({init_m_ppm} AS BIGINT) AS m{k}" for k in range(K)]
            + [f"CAST({init_u_ppm} AS BIGINT) AS u{k}" for k in range(K)]
        )
        + ")",
    ]
    for i in range(1, rounds + 1):
        w = _em_w_sql(
            "p.lam", [f"p.m{k}" for k in range(K)], [f"p.u{k}" for k in range(K)], gnames, "//"
        )
        parts.append(
            f"r{i} AS (SELECT {', '.join(gnames)}, {w} AS w FROM pairs, p{i - 1} p)"
        )
        sums = ["sum(w) AS sw", "count(*) AS n", "sum(1000000 - w) AS swu"]
        for k, gn in enumerate(gnames):
            sums.append(f"sum(w * {gn}) AS a{k}")
            sums.append(f"sum((1000000 - w) * {gn}) AS b{k}")
        parts.append(f"s{i} AS (SELECT {', '.join(sums)} FROM r{i})")
        cols = [
            "CASE WHEN s.n = 0 THEN q.lam "
            "ELSE greatest(1, least(999999, CAST(s.sw // s.n AS BIGINT))) END AS lam"
        ]
        for k in range(K):
            cols.append(
                f"CASE WHEN s.sw = 0 THEN q.m{k} ELSE greatest(1, least(999999, "
                f"CAST((s.a{k} * 1000000) // s.sw AS BIGINT))) END AS m{k}"
            )
            cols.append(
                f"CASE WHEN s.swu = 0 THEN q.u{k} ELSE greatest(1, least(999999, "
                f"CAST((s.b{k} * 1000000) // s.swu AS BIGINT))) END AS u{k}"
            )
        parts.append(f"p{i} AS (SELECT {', '.join(cols)} FROM s{i} s, p{i - 1} q)")
    w_final = _em_w_sql(
        "p.lam",
        [f"p.m{k}" for k in range(K)],
        [f"p.u{k}" for k in range(K)],
        gnames,
        "//",
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT {ida}, {idb}, CAST({w_final} AS BIGINT) AS w_ppm,
       CASE WHEN {w_final} >= {match_threshold_ppm} THEN 1 ELSE 0 END AS matched
FROM pairs, p{rounds} p"""
    )


def one_to_one_matching(
    edges: DataFrame,
    rounds: int = 4,
    a_col: str = "a",
    b_col: str = "b",
    score_col: str = "score",
) -> DataFrame:
    """Distributed greedy 1-1 assignment by LOCAL-MAX matching (Preis's
    locally heaviest edges): each round, every left node nominates its
    best incident edge and every right node likewise (max score, ties
    to the lexicographically smallest partner); an edge matched by BOTH
    endpoints locks, and all edges touching locked nodes drop.  This is
    the assignment step ontology alignment needs after pair scoring
    (align_releases emits scored candidates; a 1-1 alignment must pick
    a non-conflicting subset) — the sequential greedy is inherently
    serial, the local-max variant is its order-free equivalent: every
    locked edge is locally heaviest, and >= half the remaining weight
    locks per round in expectation.

    Determinism/engine-exactness: scores are integers; per-node argmax
    is max(score) then min(partner) (two hash aggregates, window-free);
    a FIXED round count runs on BOTH engines — edges still ambiguous
    after ``rounds`` stay unmatched (documented contract; 4 rounds
    settle all but adversarial score chains).

    Scale: per round two partial-combined aggregates + two semi/anti
    joins on the node key, state localCheckpointed.  No global sort, no
    driver-side edge list — contrast the textbook greedy, which is a
    sequential scan of globally sorted edges.

    Output: (a, b, score, round) for locked pairs, round 1-based.
    """
    rows = F.count(F.lit(1))
    e, seen = checkpoint_observed(
        edges.select(
            F.col(a_col).alias("a"), F.col(b_col).alias("b"),
            F.col(score_col).cast("long").alias("score"),
        ),
        rows=rows,
    )
    none = e.select("a", "b", "score", F.lit(1).alias("round")).where(F.lit(False))
    if seen["rows"] == 0:
        return none

    def lock(state, rnd):
        e, matched = state
        best_a = (
            e.groupBy("a").agg(F.max("score").alias("score"))
            .join(e, ["a", "score"])
            .groupBy("a", "score").agg(F.min("b").alias("b"))
        )
        best_b = (
            e.groupBy("b").agg(F.max("score").alias("score"))
            .join(e, ["b", "score"])
            .groupBy("b", "score").agg(F.min("a").alias("a"))
        )
        locked = rnd.checkpoint(
            best_a.join(best_b, ["a", "b", "score"]).select(
                "a", "b", "score", F.lit(rnd.index + 1).alias("round")
            )
        )
        # the remaining-edge checkpoint counts its rows: none left ends
        # the rounds early
        return rnd.checkpoint(
            e.join(locked.select("a"), "a", "left_anti")
            .join(locked.select("b"), "b", "left_anti")
            .select("a", "b", "score"),
            rows=rows,
        ), matched.unionByName(locked)

    return iterate(lock, (e, none), rounds, until=emptied("rows"))[1]


def sql_one_to_one_matching(edges_sql: str, rounds: int = 4) -> str:
    """DuckDB oracle: the same fixed-round local-max loop unrolled.
    edges_sql -> (a, b, score)."""
    parts = [f"e1 AS MATERIALIZED (SELECT a, b, CAST(score AS BIGINT) AS score FROM ({edges_sql}))"]
    for r in range(1, rounds + 1):
        parts.append(
            f"""ba{r} AS (
  SELECT e.a, e.score, min(e.b) AS b
  FROM e{r} e JOIN (SELECT a, max(score) AS score FROM e{r} GROUP BY a) t
    ON e.a = t.a AND e.score = t.score
  GROUP BY e.a, e.score)"""
        )
        parts.append(
            f"""bb{r} AS (
  SELECT e.b, e.score, min(e.a) AS a
  FROM e{r} e JOIN (SELECT b, max(score) AS score FROM e{r} GROUP BY b) t
    ON e.b = t.b AND e.score = t.score
  GROUP BY e.b, e.score)"""
        )
        parts.append(
            f"""m{r} AS (
  SELECT x.a, x.b, x.score, {r} AS round
  FROM ba{r} x JOIN bb{r} y ON x.a = y.a AND x.b = y.b AND x.score = y.score)"""
        )
        parts.append(
            f"""e{r + 1} AS (
  SELECT * FROM e{r}
  WHERE a NOT IN (SELECT a FROM m{r}) AND b NOT IN (SELECT b FROM m{r}))"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, rounds + 1))
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT a, b, score, CAST(round AS INT) AS round FROM ({union})"
    )


def bcubed_metrics(
    assignments: DataFrame,
    item_col: str = "item",
    pred_col: str = "pred_cluster",
    truth_col: str = "true_cluster",
) -> DataFrame:
    """Cluster-level ER evaluation: B-cubed precision / recall / F1
    (Bagga & Baldwin 1998) — the standard complement to pairwise
    metrics (pr_curve): per-item precision is the fraction of the
    item's PREDICTED cluster sharing its true cluster, per-item recall
    the fraction of its TRUE cluster it reaches, both averaged over
    items.  Pairwise metrics over-reward shattering big clusters;
    B-cubed prices both over-merging and over-splitting per item.

    Every per-item value is constant within a (pred, truth) cell, so
    the whole evaluation is CELL algebra: one (pred, truth) aggregate
    (cells << items), two cluster-size rollups derived FROM the cell
    table (no second fact pass), one weighted sum.  Integer ppm with
    truncating DIV at the two documented points — engine-exact.

    Output: one row (n_items, precision_ppm, recall_ppm, f1_ppm).
    """
    cells = assignments.groupBy(
        F.col(pred_col).alias("p"), F.col(truth_col).alias("t")
    ).agg(F.count(F.lit(1)).alias("n_pt"))
    np_ = cells.groupBy("p").agg(F.sum("n_pt").alias("n_p"))
    nt_ = cells.groupBy("t").agg(F.sum("n_pt").alias("n_t"))
    contrib = (
        cells.join(np_, "p")
        .join(nt_, "t")
        .select(
            "n_pt",
            (F.col("n_pt") * F.expr("(n_pt * 1000000) DIV n_p")).alias("pc"),
            (F.col("n_pt") * F.expr("(n_pt * 1000000) DIV n_t")).alias("rc"),
        )
    )
    agg = contrib.agg(
        F.sum("n_pt").alias("n"), F.sum("pc").alias("sp"), F.sum("rc").alias("sr")
    )
    return agg.select(
        F.col("n").cast("long").alias("n_items"),
        F.expr("sp DIV n").cast("long").alias("precision_ppm"),
        F.expr("sr DIV n").cast("long").alias("recall_ppm"),
        F.expr(
            "CASE WHEN (sp DIV n) + (sr DIV n) = 0 THEN 0 "
            "ELSE (2 * (sp DIV n) * (sr DIV n)) DIV ((sp DIV n) + (sr DIV n)) END"
        )
        .cast("long")
        .alias("f1_ppm"),
    )


def sql_bcubed_metrics(assignments_sql: str) -> str:
    """DuckDB oracle for :func:`bcubed_metrics`.  assignments_sql ->
    (item, pred_cluster, true_cluster)."""
    return f"""WITH cells AS MATERIALIZED (
  SELECT pred_cluster AS p, true_cluster AS t, CAST(count(*) AS BIGINT) AS n_pt
  FROM ({assignments_sql}) GROUP BY pred_cluster, true_cluster
),
np AS (SELECT p, sum(n_pt) AS n_p FROM cells GROUP BY p),
nt AS (SELECT t, sum(n_pt) AS n_t FROM cells GROUP BY t),
contrib AS (
  SELECT c.n_pt,
         c.n_pt * ((c.n_pt * 1000000) // np.n_p) AS pc,
         c.n_pt * ((c.n_pt * 1000000) // nt.n_t) AS rc
  FROM cells c JOIN np ON c.p = np.p JOIN nt ON c.t = nt.t
),
agg AS (
  SELECT CAST(sum(n_pt) AS BIGINT) AS n,
         CAST(sum(pc) AS BIGINT) AS sp, CAST(sum(rc) AS BIGINT) AS sr
  FROM contrib
)
SELECT n AS n_items,
       CAST(sp // n AS BIGINT) AS precision_ppm,
       CAST(sr // n AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN (sp // n) + (sr // n) = 0 THEN 0
            ELSE (2 * (sp // n) * (sr // n)) // ((sp // n) + (sr // n)) END AS BIGINT)
       AS f1_ppm
FROM agg"""


def muc_metrics(
    assignments: DataFrame,
    item_col: str = "item",
    pred_col: str = "pred_cluster",
    truth_col: str = "true_cluster",
) -> DataFrame:
    """MUC link-based coreference scoring (Vilain et al. 1995), the
    classic complement to B-cubed: precision = sum over predicted
    clusters of (|p| - #distinct-truth-partitions-in-p) / (|p| - 1),
    recall the mirror image — counts the MINIMUM links that must be cut
    / added, so it ignores singleton structure (which B-cubed prices).
    Reporting both is the standard coref protocol (CoNLL averages MUC,
    B-cubed, CEAF; CEAF's optimal matching is deliberately out of
    scope — the greedy local-max matcher is not the Kuhn-Munkres
    optimum and a wrong CEAF is worse than none).

    Same CELL algebra as bcubed_metrics: one (pred, truth) aggregate,
    two rollups derived from it, integer ppm.  Output: one row
    (n_items, precision_ppm, recall_ppm, f1_ppm).
    """
    cells = assignments.groupBy(
        F.col(pred_col).alias("p"), F.col(truth_col).alias("t")
    ).agg(F.count(F.lit(1)).alias("n_pt"))
    byp = cells.groupBy("p").agg(
        F.sum("n_pt").alias("size"), F.count(F.lit(1)).alias("parts")
    )
    byt = cells.groupBy("t").agg(
        F.sum("n_pt").alias("size"), F.count(F.lit(1)).alias("parts")
    )
    pa = byp.agg(
        F.sum(F.col("size") - F.col("parts")).alias("num"),
        F.sum(F.col("size") - 1).alias("den"),
        F.sum("size").alias("n"),
    )
    ra = byt.agg(
        F.sum(F.col("size") - F.col("parts")).alias("num"),
        F.sum(F.col("size") - 1).alias("den"),
    )
    j = pa.crossJoin(
        ra.select(F.col("num").alias("rnum"), F.col("den").alias("rden"))
    )
    prec = F.expr("CASE WHEN den = 0 THEN 0 ELSE (num * 1000000) DIV den END")
    rec = F.expr("CASE WHEN rden = 0 THEN 0 ELSE (rnum * 1000000) DIV rden END")
    return j.select(
        F.col("n").cast("long").alias("n_items"),
        prec.cast("long").alias("precision_ppm"),
        rec.cast("long").alias("recall_ppm"),
        F.expr(
            "CASE WHEN (CASE WHEN den = 0 THEN 0 ELSE (num * 1000000) DIV den END)"
            " + (CASE WHEN rden = 0 THEN 0 ELSE (rnum * 1000000) DIV rden END) = 0 THEN 0 "
            "ELSE (2 * (CASE WHEN den = 0 THEN 0 ELSE (num * 1000000) DIV den END)"
            " * (CASE WHEN rden = 0 THEN 0 ELSE (rnum * 1000000) DIV rden END))"
            " DIV ((CASE WHEN den = 0 THEN 0 ELSE (num * 1000000) DIV den END)"
            " + (CASE WHEN rden = 0 THEN 0 ELSE (rnum * 1000000) DIV rden END)) END"
        )
        .cast("long")
        .alias("f1_ppm"),
    )


def sql_muc_metrics(assignments_sql: str) -> str:
    """DuckDB oracle for :func:`muc_metrics`."""
    return f"""WITH cells AS MATERIALIZED (
  SELECT pred_cluster AS p, true_cluster AS t, CAST(count(*) AS BIGINT) AS n_pt
  FROM ({assignments_sql}) GROUP BY pred_cluster, true_cluster
),
byp AS (SELECT p, sum(n_pt) AS sz, count(*) AS parts FROM cells GROUP BY p),
byt AS (SELECT t, sum(n_pt) AS sz, count(*) AS parts FROM cells GROUP BY t),
pa AS (SELECT CAST(sum(sz - parts) AS BIGINT) AS num,
              CAST(sum(sz - 1) AS BIGINT) AS den,
              CAST(sum(sz) AS BIGINT) AS n FROM byp),
ra AS (SELECT CAST(sum(sz - parts) AS BIGINT) AS rnum,
              CAST(sum(sz - 1) AS BIGINT) AS rden FROM byt),
vals AS (
  SELECT n,
         CASE WHEN den = 0 THEN 0 ELSE (num * 1000000) // den END AS prec,
         CASE WHEN rden = 0 THEN 0 ELSE (rnum * 1000000) // rden END AS rec
  FROM pa, ra
)
SELECT n AS n_items,
       CAST(prec AS BIGINT) AS precision_ppm,
       CAST(rec AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN prec + rec = 0 THEN 0
            ELSE (2 * prec * rec) // (prec + rec) END AS BIGINT) AS f1_ppm
FROM vals"""


def calibration_bins(
    scored: DataFrame,
    truth_pairs: DataFrame,
    bins: int = 10,
    score_col: str = "w_ppm",
) -> DataFrame:
    """Reliability diagram for a pairwise match scorer: bucket pairs by
    predicted probability (ppm score -> ``bins`` equal-width buckets),
    and per bucket report the EXACT mean predicted ppm and the observed
    truth rate ppm — a calibrated scorer has mean_predicted ~
    observed.  The acceptance check a learned scorer (em_fs_train)
    needs before its threshold drives merges.

    Both sides of every pair are normalized (least, greatest) before
    the truth join, scored pairs deduplicate by max score (the pr_curve
    lesson: band-duplicated candidates must not double-count).  One
    broadcast truth join + one bucket aggregate; all integer ppm with
    truncating DIV.  Output: (bin, n_pairs, mean_pred_ppm,
    observed_ppm), bin 0-based.
    """
    s = (
        scored.select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            F.col(score_col).cast("long").alias("w"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
    )
    t = (
        truth_pairs.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .withColumn("is_true", F.lit(1))
    )
    joined = s.join(F.broadcast(t), ["a", "b"], "left").select(
        F.least(
            F.lit(bins - 1), F.expr(f"(w * {bins}) DIV 1000000")
        ).alias("bin"),
        "w",
        F.coalesce("is_true", F.lit(0)).alias("is_true"),
    )
    return (
        joined.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("w").alias("sw"),
            F.sum("is_true").alias("nt"),
        )
        .select(
            F.col("bin").cast("int").alias("bin"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.expr("sw DIV n_pairs").cast("long").alias("mean_pred_ppm"),
            F.expr("(nt * 1000000) DIV n_pairs").cast("long").alias("observed_ppm"),
        )
    )


def sql_calibration_bins(
    scored_sql: str, truth_sql: str, bins: int = 10
) -> str:
    """DuckDB oracle for :func:`calibration_bins`.  scored_sql ->
    (a, b, w_ppm); truth_sql -> (a, b)."""
    return f"""WITH s AS MATERIALIZED (
  SELECT a, b, max(w) AS w FROM (
    SELECT least(a, b) AS a, greatest(a, b) AS b, CAST(w_ppm AS BIGINT) AS w
    FROM ({scored_sql}) WHERE a <> b
  ) GROUP BY a, b
),
t AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM ({truth_sql}) WHERE a <> b
),
j AS (
  SELECT least({bins - 1}, (s.w * {bins}) // 1000000) AS bin, s.w,
         CASE WHEN t.a IS NULL THEN 0 ELSE 1 END AS is_true
  FROM s LEFT JOIN t ON s.a = t.a AND s.b = t.b
)
SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(w) // count(*) AS BIGINT) AS mean_pred_ppm,
       CAST((sum(is_true) * 1000000) // count(*) AS BIGINT) AS observed_ppm
FROM j GROUP BY bin"""
