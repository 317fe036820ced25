"""Event-stream analytics over the events table: sessions, as-of and
interval joins, funnels, retention, journeys, attribution and survival.

Frame layouts.  The per-user operators read the ``schemas.EVENTS``
layout — ``user_id``, ``ts`` (a timestamp), ``event_id`` (the tiebreak
of equal ``ts``), ``event_type`` and ``value`` (money, rounded to
integer cents) — and a caller with other names renames first.  The
interval operators read ``start_us``/``end_us`` epoch-microsecond bounds
beside the key they are given, and the column-generic operators
(``asof_join``, ``decayed_sum``, ``forward_fill``, ``allen_relations``,
``cusum_changepoints``, ``km_survival``'s subject) take their column
names as arguments.  Output prefixes are fixed: ``prior_`` (as-of
payload), ``l_``/``r_`` (interval-join sides) and ``filled_``
(forward fill).

Each DuckDB twin ``sql_X`` reads the same layout and shares its windows,
floors and round budget with ``X`` through the module constants below.

Neither sessionization nor the as-of join exists as a single Spark SQL
operator; both are re-expressed as compositions the optimizer handles
well (one hash shuffle on the entity key, window functions inside the
partition — never a global sort, never a range cross-join).

Engine-exactness: timestamps travel as unix MICROSECOND longs
(``F.unix_micros`` == DuckDB ``epoch_us``) and money as integer cents,
so window arithmetic is BIGINT on both engines and value hashes match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexus_forge_spark.dims import local_frame
from nexus_forge_spark.functions.itermetrics import emptied, iterate

JOURNEY_MAX_GAP_US = 1_800_000_000
ATTRIBUTION_WINDOW_US = 7 * 86_400_000_000
MIN_SUPPORT = 2
CONVERSION_TYPE = "purchase"
MARKOV_ROUNDS = 20
CENSOR_WINDOW_DAYS = 7
DECAY_SCALE_BITS = 20


def sessionize(df: DataFrame, gap_seconds: int = 600) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the user's
    inter-event gap exceeds ``gap_seconds`` (strictly).  Returns the input
    plus ``session_idx`` (0-based per user, in (ts, event_id) order).

    Scale posture: ONE shuffle, on the user key; both window functions
    (lag + running sum) share the same (user, ts, id) ordering so Catalyst
    evaluates them in a single Window exec over the same sort.  Skew note:
    a pathological single-user firehose serializes inside one partition —
    at that point use the streaming session-window path instead; for
    organic web-scale key cardinality (users >> cores) this is the plan
    you want at any corpus size.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = int(gap_seconds) * 1_000_000
    new_sess = (
        F.when(
            F.lag(us).over(w).isNull()
            | ((us - F.lag(us).over(w)) > F.lit(gap_us)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return df.withColumn(
        "session_idx", (F.sum(new_sess).over(w) - F.lit(1)).cast("long")
    )


def session_stats(df: DataFrame, gap_seconds: int = 600) -> DataFrame:
    """Per-session rollup: event count, span in microseconds, and value
    total in integer cents.  Reuses sessionize's user-key shuffle — the
    groupBy keys are a superset of the window partition key, so AQE/EXCHANGE
    reuse keeps this at one shuffle total."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        sessionize(df, gap_seconds)
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
            (F.max(us) - F.min(us)).alias("span_us"),
            F.sum(cents).alias("value_cents"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of LEFT join: for each left row, attach the right row with the
    greatest ``ts <= left.ts`` for the same key (ties: the right row wins —
    DuckDB ``ASOF JOIN`` semantics, ``>=`` comparison), its
    ``right_cols`` renamed ``prior_<col>``.

    Spark has no ASOF operator; a range-condition join would reject the
    equi-hash path and explode at scale.  This is the union-tag plan: tag
    both inputs, union, ONE shuffle on the key, and carry the right side's
    payload forward with ``last(..., ignorenulls)`` over (ts, tag) — right
    rows sort before left rows at equal ts, giving the inclusive bound.
    O(n log n) within each key partition, no join at all.
    """
    lcols = left.columns
    tag_l = left.select(
        *lcols,
        F.lit(1).alias("__tag"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in right_cols],
    )
    tag_r = right.select(
        *[
            (
                F.col(c)
                if c in (key_col, ts_col)
                else F.lit(None).cast(left.schema[c].dataType)
            ).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("__tag"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    unioned = tag_l.unionByName(tag_r)
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        F.col("__tag"),
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"prior_{c}")
            for c in right_cols
        ],
    )
    return carried.where(F.col("__tag") == 1).drop("__tag")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    bucket_us: int = 3_600_000_000,
) -> DataFrame:
    """Interval overlap (range) join: all (left, right) pairs with the same
    key whose closed integer intervals [start_us, end_us] overlap; every
    other column is renamed ``l_<col>`` / ``r_<col>`` by side.

    A raw range-predicate join rejects Spark's equi-hash path and degrades
    to a per-key cross product.  This is the bucketed-interval plan: each
    interval explodes into the fixed-width buckets it covers, the join is
    an equi-join on (key, bucket), and the true overlap predicate filters
    afterwards.  A pair covering several common buckets would be emitted
    once per bucket; the exact-once guard keeps only the FIRST bucket both
    intervals cover — ``bucket == greatest(l.start, r.start) div W`` — so
    no distinct pass is needed.

    Scale posture: shuffle keys are (key, bucket), so time-skew spreads
    across buckets; explode fan-out is span/W + 1 rows per interval —
    pick ``bucket_us`` near the typical interval span so the fan-out is
    O(1) per row (for session intervals, the session gap is a natural
    width).  ``div`` keeps bucket arithmetic integral (no double rounding
    at large epoch-microsecond magnitudes).
    """
    def bucketed(df: DataFrame, prefix: str) -> DataFrame:
        payload = [F.col(c).alias(f"{prefix}{c}") for c in df.columns if c != key_col]
        return df.select(
            F.col(key_col),
            *payload,
            F.explode(
                F.sequence(
                    F.expr(f"start_us div {bucket_us}"),
                    F.expr(f"end_us div {bucket_us}"),
                )
            ).alias("__bucket"),
        )

    l = bucketed(left, "l_")
    r = bucketed(right, "r_")
    ls, le = "l_start_us", "l_end_us"
    rs, re_ = "r_start_us", "r_end_us"
    overlap = (F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le))
    first_common = F.expr(f"greatest({ls}, {rs}) div {bucket_us}") == F.col("__bucket")
    return (
        l.join(r, [key_col, "__bucket"])
        .where(overlap & first_common)
        .drop("__bucket")
        .withColumn(
            "overlap_us",
            F.least(F.col(le), F.col(re_)) - F.greatest(F.col(ls), F.col(rs)),
        )
    )


_ALLEN_CASE = """CASE
  WHEN sa = sb AND ea = eb THEN 'equals'
  WHEN ea < sb THEN 'precedes'
  WHEN ea = sb THEN 'meets'
  WHEN sa > eb THEN 'preceded_by'
  WHEN sa = eb THEN 'met_by'
  WHEN sa = sb AND ea < eb THEN 'starts'
  WHEN sa = sb AND ea > eb THEN 'started_by'
  WHEN sa > sb AND ea = eb THEN 'finishes'
  WHEN sa < sb AND ea = eb THEN 'finished_by'
  WHEN sa > sb AND ea < eb THEN 'during'
  WHEN sa < sb AND ea > eb THEN 'contains'
  WHEN sa < sb THEN 'overlaps'
  ELSE 'overlapped_by'
END"""


def allen_relations(
    intervals: DataFrame,
    key_col: str,
    id_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Allen's interval algebra (Allen, CACM 1983): classify every
    ordered pair of intervals under the same key into exactly one of the
    13 primitive temporal relations (precedes/meets/overlaps/starts/
    during/finishes, their inverses, and equals) — the temporal-KG
    qualifier the conflict/reachability family (kg_temporal_conflicts,
    temporal_reachability) coarsens to overlap-or-not.

    The CASE chain is exhaustive and mutually exclusive for proper
    intervals (start < end; rows violating that are dropped and the
    caller can audit them by count); the pair (a, b) is oriented
    id_a < id_b, so every unordered pair appears exactly once and the
    relation names A's position relative to B.

    Scale posture: one key-partitioned self-join (the interval_overlap
    family's shape) — per-key cost is bounded by per-key interval count,
    never a global product; the classification itself is a pure codegen
    projection.  Output: (key, id_a, id_b, relation).
    """
    base = (
        intervals.where(F.col(start_col) < F.col(end_col))
        .select(
            F.col(key_col).alias("k"),
            F.col(id_col).alias("i"),
            F.col(start_col).alias("s"),
            F.col(end_col).alias("e"),
        )
        .localCheckpoint(eager=True)
    )
    l = base.select(
        F.col("k"),
        F.col("i").alias("id_a"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
    )
    r = base.select(
        F.col("k"),
        F.col("i").alias("id_b"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
    )
    return (
        l.join(r, "k")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("k").alias(key_col),
            "id_a",
            "id_b",
            F.expr(_ALLEN_CASE).alias("relation"),
        )
    )


def sql_allen_relations(intervals_sql: str, key: str = "k") -> str:
    """DuckDB oracle for :func:`allen_relations` — identical CASE chain
    over the same oriented self-join.  intervals_sql -> (k, i, s, e)."""
    return f"""WITH iv AS MATERIALIZED (
  SELECT * FROM ({intervals_sql}) WHERE s < e
)
SELECT a.k AS {key}, a.i AS id_a, b.i AS id_b,
  {_ALLEN_CASE.replace('sa', 'a.s').replace('ea', 'a.e')
              .replace('sb', 'b.s').replace('eb', 'b.e')} AS relation
FROM iv a JOIN iv b ON a.k = b.k AND a.i < b.i"""


_FUNNEL_SCHEMA = T.StructType(
    [
        T.StructField("step_idx", T.IntegerType()),
        T.StructField("step", T.StringType()),
        T.StructField("n_users", T.LongType()),
        T.StructField("conv_from_first_ppm", T.LongType()),
        T.StructField("conv_from_prev_ppm", T.LongType()),
    ]
)


def funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-funnel analysis: for each step k, how many users performed
    step k STRICTLY AFTER their chosen step-(k-1) event — the classic
    view -> click -> purchase conversion question, with the standard
    greedy semantics (each step anchors on the EARLIEST qualifying
    event; earliest is (ts, event_id) lexicographic so simultaneous
    events break deterministically).

    Output: one row per step — (step_idx, step, n_users,
    conv_from_first_ppm, conv_from_prev_ppm) with truncating-integer ppm
    conversions (step 1 = 1_000_000 by definition).

    Scale posture: per step, two chained HASH aggregates (no struct
    buffers, so no SortAggregate fallback — verified in plan tests) and
    one equi-join back on the user key — every shuffle in the plan
    hashes on ``user_id`` or its (user, ts) refinement, no windows, no
    sorts over the event stream, no driver loop over users.  The per-user
    state is one (ts, id) pair per step.  Each step's user count is
    observed by that step's checkpoint job, so counting costs no job; a
    step nobody reaches ends the steps, and every later count is 0.
    """
    base = events.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        "ts",
        F.col("event_id").alias("oid"),
    ).where(F.col("event_type").isin(steps))
    counts: list[int] = []

    def reach(prev: DataFrame | None, rnd) -> DataFrame:
        cand = base.where(F.col("t") == steps[rnd.index])
        if prev is not None:
            p = prev.select(
                F.col("u"), F.col("ts").alias("pts"), F.col("oid").alias("poid")
            )
            cand = cand.join(p, "u").where(
                (F.col("ts") > F.col("pts"))
                | ((F.col("ts") == F.col("pts")) & (F.col("oid") > F.col("poid")))
            )
        # lexicographic (ts, oid) min WITHOUT a struct aggregate: any
        # struct in an agg buffer forces SortAggregate (per-partition
        # sorts); two chained HASH aggregates stay sort-free — (u, ts)
        # collapses ties to one oid, then (u) picks the earliest ts and
        # min_by with a SCALAR ordering key is hash-aggregable
        cur = rnd.checkpoint(
            cand.groupBy("u", "ts")
            .agg(F.min("oid").alias("oid"))
            .groupBy("u")
            .agg(F.min("ts").alias("ts"), F.min_by("oid", "ts").alias("oid")),
            n=F.count(F.lit(1)),
        )
        counts.append(rnd.seen["n"])
        return cur

    # nobody reaches a step after one that nobody reached
    iterate(reach, None, len(steps), until=emptied("n"))
    counts += [0] * (len(steps) - len(counts))
    rows = []
    for i, (step, n) in enumerate(zip(steps, counts)):
        first = counts[0]
        prev_n = counts[i - 1] if i > 0 else counts[0]
        rows.append(
            (
                i + 1,
                step,
                n,
                (n * 1_000_000) // first if first else 0,
                (n * 1_000_000) // prev_n if prev_n else 0,
            )
        )
    return local_frame(events.sparkSession, rows, _FUNNEL_SCHEMA)


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the Monday-start
    week of their FIRST event; retention at offset k = how many of that
    cohort were active (any event) in cohort-week + k, as a
    truncating-integer ppm of the cohort size (offset 0 is 1_000_000 by
    definition — every user is active in their first week).

    Output: (cohort_week date, week_offset int, n_active, cohort_size,
    retention_ppm), one row per observed (cohort, offset).

    Scale posture: one groupBy-min on the user key (first event), one
    distinct over (user, week) — both partial-combine map-side — then a
    user-key equi-join and a (cohort, offset) count agg.  Week
    arithmetic stays exact: both weeks are date_trunc'd so the day
    difference is always divisible by 7.
    """
    week = F.to_date(F.date_trunc("week", F.col("ts")))
    firsts = (
        events.groupBy(F.col("user_id").alias("u"))
        .agg(F.min(week).alias("cohort_week"))
    )
    active = (
        events.select(F.col("user_id").alias("u"), week.alias("w")).distinct()
    )
    per_cell = (
        active.join(firsts, "u")
        .select(
            "cohort_week",
            (F.datediff(F.col("w"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    sizes = per_cell.where(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        per_cell.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.expr("n_active * 1000000 div cohort_size")
            .cast("long")
            .alias("retention_ppm"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def event_transition_matrix(df: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    for every ordered (prev_type -> next_type) adjacency in a user's
    (ts, event_id)-ordered history, the transition count and its
    row-normalized probability in truncating-integer ppm.  The standard
    behavioral model behind next-event prediction, funnel discovery and
    anomaly scoring.

    Deterministic: consecutive-pair extraction orders by (ts, id) — the
    same total order sessionize uses — so ties in ts are stable across
    partitionings; probabilities are BIGINT ppm (n * 1e6 div row_total).

    Output: (prev_type, next_type, n, row_total, prob_ppm).

    Scale posture: ONE shuffle on the user key feeds the lead() window
    (users >> cores, no hot key for organic traffic); the pair counts
    are a map-side-combined groupBy whose output is |types|^2 rows, and
    the row-total window runs over that tiny aggregate, not the events.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        df.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wt = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.sum("n").over(wt).cast("long").alias("row_total"),
    ).withColumn("prob_ppm", F.expr("n * 1000000 div row_total").cast("long"))


def decayed_sum(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    qty_col: str,
    ref_date: str,
    half_life_days: int,
) -> DataFrame:
    """Recency-weighted aggregation with ENGINE-EXACT exponential decay:
    weight = 2^DECAY_SCALE_BITS >> (age_days div half_life_days) — the decay
    ladder is integer bit-shifts of an integer scale, so Spark and DuckDB
    agree bit-for-bit where float pow(0.5, age/hl) never would.  This is
    the feature-store / recsys "decayed popularity" primitive: recent
    interactions count full scale, each elapsed half-life halves them.

    Steps clamp to [0, 62] (past 62 the BIGINT weight is 0 anyway).
    Output per key: decayed_score (sum qty*weight), raw_qty, n_rows.
    Scale posture: one map-side weight projection + one partial-combined
    hash aggregate on the key — the decay needs no window, no state, no
    per-key history."""
    w = F.expr(
        f"shiftright(CAST({1 << DECAY_SCALE_BITS} AS BIGINT), "
        f"CAST(greatest(0, least(datediff(DATE'{ref_date}', "
        f"CAST({ts_col} AS DATE)) div {half_life_days}, 62)) AS INT))"
    )
    qty = F.round(F.col(qty_col)).cast("long")
    return (
        df.withColumn("__w", w)
        .groupBy(*key_cols)
        .agg(
            F.sum(qty * F.col("__w")).alias("decayed_score"),
            F.sum(qty).alias("raw_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def forward_fill(
    df: DataFrame,
    key_col: str,
    order_by: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Forward-fill (last-observation-carried-forward) imputation: for each
    NULL in `value_cols`, carry the most recent non-NULL value of the same
    key under the `order_by` total order into ``filled_<col>``; leading
    NULLs (no prior observation) stay NULL.

    The sensor-dropout / sparse-telemetry gap-repair pass.  Plan: ONE key
    shuffle; every fill is `last(col, ignorenulls) OVER (key, order)` —
    running state within the sorted partition, no join, no self-union.
    Include a unique tiebreaker in `order_by` or fills at equal
    timestamps are nondeterministic.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in value_cols:
        out = out.withColumn("filled_" + c, F.last(c, ignorenulls=True).over(w))
    return out


def match_event_pattern(
    df: DataFrame,
    pattern: str,
    symbols: dict[str, str],
) -> DataFrame:
    """MATCH_RECOGNIZE-lite complex-event-processing: encode each user's
    (ts, id)-ordered event history as a one-char-per-event symbol string
    and count non-overlapping regex matches of ``pattern`` over it.  The
    classic funnel/journey pattern detector (e.g. ``V+CP`` = "one or more
    views, then a click, then a purchase") without a per-row state
    machine.

    Engine-exactness: Java regex (Spark) and RE2 (DuckDB) agree on
    leftmost non-overlapping matching for alternation-free concatenations
    of distinct symbol classes — keep ``pattern`` in that family (no
    lookaround: RE2 has none).  Symbol order inside the sequence is the
    (ts, id) total order, reproduced by sorting the collected
    (ts_us, id, sym) structs, so ties in ts are stable.

    Output: (user_id, seq_len, n_matches, matched) plus one ``n_<S>``
    count per symbol.

    Scale posture: ONE shuffle on the user key; the symbol projection and
    per-symbol counts partial-aggregate map-side, and the regex runs once
    per user over a string bounded by that user's event count (users >>
    cores; a single-user firehose would serialize — at that scale switch
    to the streaming state operator).  No join, no window.
    """
    sym = F.lit(None).cast("string")
    for etype, s in sorted(symbols.items()):
        if len(s) != 1:
            raise ValueError(f"symbol for {etype!r} must be one char")
        sym = F.when(F.col("event_type") == etype, F.lit(s)).otherwise(sym)
    base = df.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__ts_us"),
        F.col("event_id").alias("__id"),
        sym.alias("__sym"),
    ).where(F.col("__sym").isNotNull())
    per_sym = [
        F.sum((F.col("__sym") == s).cast("long")).alias(f"n_{s}")
        for s in sorted(set(symbols.values()))
    ]
    agg = base.groupBy("user_id").agg(
        F.collect_list(F.struct("__ts_us", "__id", "__sym")).alias("__evs"),
        *per_sym,
    )
    seq = F.array_join(
        F.transform(F.array_sort(F.col("__evs")), lambda x: x["__sym"]), ""
    )
    return (
        agg.withColumn("seq", seq)
        .select(
            "user_id",
            F.length("seq").cast("long").alias("seq_len"),
            F.regexp_count("seq", F.lit(pattern)).cast("long").alias("n_matches"),
            *[f"n_{s}" for s in sorted(set(symbols.values()))],
        )
        .withColumn("matched", (F.col("n_matches") > 0).cast("boolean"))
    )


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    seq_col: str,
    value_col: str,
    allowance_micro: int,
    threshold_micro: int,
) -> DataFrame:
    """Two-sided CUSUM change-point detection (Page 1954) over a
    per-key sequence of integer measurements, with the sequential
    recurrence ``S_i = max(0, S_{i-1} + d_i)`` rewritten as the Lindley
    reflection closed form ``S_i = P_i - min(0, min_{j<=i} P_j)`` with
    ``P`` the running sum of drifts — so the whole detector is plain
    window functions, no recursion, no UDF.

    The per-key reference level is the key's own integer floor-mean in
    micro units (``sum(x)*1e6 div n``); upward drift
    ``d = x*1e6 - (mu + allowance)``, downward mirrored.  Everything
    after the input values is BIGINT micro-units, so both engines agree
    bit-for-bit.  An alarm fires while the reflected statistic is at or
    above ``threshold_micro``.

    Scale posture: ONE key shuffle — the full-frame mean windows, both
    running sums, and both running mins all share the same
    partitionBy(key)/orderBy(seq) Exchange+Sort (the plan stacks Window
    operators on a single exchange, the scd2 pattern).  Per-key state is
    a sort within the partition, which spills; keys >> cores is the
    operating regime.
    """
    run_w = Window.partitionBy(key_col).orderBy(seq_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    x_micro = F.col("x") * F.lit(1_000_000)
    mu = F.expr(
        f"CAST(sum({value_col}) OVER "
        f"(PARTITION BY {key_col} ORDER BY {seq_col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) "
        f"* 1000000 div count(1) OVER "
        f"(PARTITION BY {key_col} ORDER BY {seq_col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) "
        f"AS BIGINT)"
    )
    staged = df.select(
        F.col(key_col),
        F.col(seq_col),
        F.col(value_col).cast("long").alias("x"),
        mu.alias("mu_micro"),
    ).select(
        key_col,
        seq_col,
        "x",
        "mu_micro",
        F.sum(
            x_micro - (F.col("mu_micro") + F.lit(int(allowance_micro)))
        ).over(run_w).alias("p_up"),
        F.sum(
            (F.col("mu_micro") - F.lit(int(allowance_micro))) - x_micro
        ).over(run_w).alias("p_dn"),
    )
    refl_up = F.col("p_up") - F.least(
        F.lit(0).cast("long"), F.min("p_up").over(run_w)
    )
    refl_dn = F.col("p_dn") - F.least(
        F.lit(0).cast("long"), F.min("p_dn").over(run_w)
    )
    return staged.select(
        key_col,
        seq_col,
        "x",
        "mu_micro",
        refl_up.alias("cusum_up_micro"),
        refl_dn.alias("cusum_dn_micro"),
        (refl_up >= F.lit(int(threshold_micro))).alias("alarm_up"),
        (refl_dn >= F.lit(int(threshold_micro))).alias("alarm_dn"),
    )


def journey_trigrams(df: DataFrame) -> DataFrame:
    """Top user-journey paths: contiguous length-3 event-type
    sequences per user (consecutive steps at most ``JOURNEY_MAX_GAP_US``
    apart) with occurrence and distinct-user counts — the
    Sankey/flow table product analytics reads, and the length-3
    upgrade of the Markov pair matrix (event_transition_matrix above)
    that distinguishes view→cart→purchase from view→cart→abandon.

    One user-partitioned window (two leads of type and timestamp over
    the (ts, event_id) total order — epoch-micros BIGINT, so no
    calendar/TZ hazard), then one path-keyed aggregate.  A hot user
    costs their own event count in one partition's sort, never a
    cross-user shuffle; no per-user collect.

    Output: (step1, step2, step3, n_paths, n_users).
    """
    base = df.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t1"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("event_id").alias("eid"),
    )
    w = Window.partitionBy("u").orderBy("us", "eid")
    paths = (
        base.withColumn("t2", F.lead("t1", 1).over(w))
        .withColumn("t3", F.lead("t1", 2).over(w))
        .withColumn("us2", F.lead("us", 1).over(w))
        .withColumn("us3", F.lead("us", 2).over(w))
        .where(
            F.col("t3").isNotNull()
            & ((F.col("us2") - F.col("us")) <= JOURNEY_MAX_GAP_US)
            & ((F.col("us3") - F.col("us2")) <= JOURNEY_MAX_GAP_US)
        )
    )
    return paths.groupBy(
        F.col("t1").alias("step1"),
        F.col("t2").alias("step2"),
        F.col("t3").alias("step3"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_paths"),
        F.count_distinct("u").cast("long").alias("n_users"),
    )


def sql_journey_trigrams(source_sql: str) -> str:
    """DuckDB oracle for :func:`journey_trigrams`."""
    return f"""WITH base AS (
  SELECT user_id AS u, event_type AS t1,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id AS eid
  FROM ({source_sql})
),
led AS (
  SELECT u, t1,
    lead(t1, 1) OVER w AS t2, lead(t1, 2) OVER w AS t3,
    us, lead(us, 1) OVER w AS us2, lead(us, 2) OVER w AS us3
  FROM base
  WINDOW w AS (PARTITION BY u ORDER BY us, eid)
)
SELECT t1 AS step1, t2 AS step2, t3 AS step3,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT u) AS BIGINT) AS n_users
FROM led
WHERE t3 IS NOT NULL AND us2 - us <= {JOURNEY_MAX_GAP_US}
  AND us3 - us2 <= {JOURNEY_MAX_GAP_US}
GROUP BY t1, t2, t3"""


def active_user_metrics(df: DataFrame) -> DataFrame:
    """DAU / WAU / MAU / stickiness per day — the product-analytics
    headline metrics, calendar-free: day = epoch_micros DIV 86400e6
    (pure integer, so no session-timezone hazard can move a midnight
    event across days).  Trailing windows are EXACT distinct-user
    counts: the (day, user) distinct table joins to the day spine on
    a bounded range (<= 30 rows per activity row), then one distinct
    aggregate per metric — correct under users active on multiple
    days, where a naive sum-of-DAU would double-count.

    Scale posture: the corpus reduces to the (day, user) distinct
    table first (one map-side-combined distinct), and every later join
    is against the tiny day spine — fan-out 30, never |events|^2.
    Output: (day, dau, wau, mau, stickiness_ppm = dau * 1e6 div mau).
    """
    du = (
        df.select(
            F.expr(
                "CAST(unix_micros(CAST(ts AS TIMESTAMP))"
                " DIV 86400000000 AS BIGINT)"
            ).alias("day"),
            F.col("user_id").alias("u"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count_distinct("u").alias("dau"))

    def trailing(n: int, out: str) -> DataFrame:
        j = days.join(
            du.select(F.col("day").alias("d2"), "u"),
            (F.col("d2") <= F.col("day")) & (F.col("d2") > F.col("day") - n),
        )
        return j.groupBy("day").agg(F.count_distinct("u").alias(out))

    return (
        dau.join(trailing(7, "wau"), "day")
        .join(trailing(30, "mau"), "day")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.col("mau").cast("long").alias("mau"),
            F.expr("CAST(dau * 1000000 DIV mau AS BIGINT)").alias(
                "stickiness_ppm"
            ),
        )
    )


def sql_active_user_metrics(source_sql: str) -> str:
    """DuckDB oracle for :func:`active_user_metrics`."""
    return f"""WITH du AS MATERIALIZED (
  SELECT DISTINCT
    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day,
    user_id AS u
  FROM ({source_sql})
),
days AS (SELECT DISTINCT day FROM du),
dau AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS dau FROM du GROUP BY day),
wau AS (
  SELECT d.day, CAST(count(DISTINCT x.u) AS BIGINT) AS wau
  FROM days d JOIN du x ON x.day <= d.day AND x.day > d.day - 7
  GROUP BY d.day
),
mau AS (
  SELECT d.day, CAST(count(DISTINCT x.u) AS BIGINT) AS mau
  FROM days d JOIN du x ON x.day <= d.day AND x.day > d.day - 30
  GROUP BY d.day
)
SELECT dau.day, dau.dau, wau.wau, mau.mau,
       CAST(dau.dau * 1000000 // mau.mau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau ON wau.day = dau.day JOIN mau ON mau.day = dau.day"""


def rfm_segments(df: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic marketing triage, engine-exact: per user one
    aggregate gives last-active epoch-day (integer, no calendar
    function), event count, and integer-cent spend; each metric is
    then cut into terciles at its EXACT 33rd/67th percentile values
    (ranking.exact_percentiles — range-partition + offsets, no
    single-reducer sort, integer rank arithmetic), and the segment
    code is r*100 + f*10 + m with bucket 2 = top tercile.

    Ties sit deterministically in the lower bucket (value <= cut);
    cut values are data, not floats.  Scale: one corpus aggregate +
    three fully parallel ranked passes over the USER table (already
    corpus-reduced), thresholds broadcast as literals.

    Output: (user, r_day, f_events, m_cents, r_bucket, f_bucket,
    m_bucket, segment).
    """
    from nexus_forge_spark.operators.ranking import exact_percentiles

    per_user = rfm_state(df).localCheckpoint(eager=True)

    def cuts(col: str) -> tuple[int, int]:
        rows = {
            r["p"]: int(r["value"])
            for r in exact_percentiles(per_user, col, [33, 67]).collect()
        }
        return rows[33], rows[67]

    out = per_user
    for col, b in (("r_day", "r_bucket"), ("f_events", "f_bucket"),
                   ("m_cents", "m_bucket")):
        lo, hi = cuts(col)
        out = out.withColumn(
            b,
            F.when(F.col(col) <= lo, F.lit(0))
            .when(F.col(col) <= hi, F.lit(1))
            .otherwise(F.lit(2))
            .cast("int"),
        )
    return out.withColumn(
        "segment",
        (
            F.col("r_bucket") * 100 + F.col("f_bucket") * 10 + F.col("m_bucket")
        ).cast("int"),
    )


def sql_rfm_segments(source_sql: str) -> str:
    """DuckDB oracle for :func:`rfm_segments` (same integer rank
    arithmetic: cut value at rank (p*n+99)//100 ascending)."""
    def cut(col: str, p: int) -> str:
        return f"""(SELECT {col} FROM (
  SELECT {col}, row_number() OVER (ORDER BY {col}) AS rn FROM per_user)
  WHERE rn = (SELECT ({p} * count(*) + 99) // 100 FROM per_user))"""

    buckets = []
    for col, b in (("r_day", "r_bucket"), ("f_events", "f_bucket"),
                   ("m_cents", "m_bucket")):
        buckets.append(
            f"""CASE WHEN {col} <= {cut(col, 33)} THEN 0
     WHEN {col} <= {cut(col, 67)} THEN 1 ELSE 2 END AS {b}"""
        )
    bsql = ",\n       ".join(buckets)
    return f"""WITH per_user AS MATERIALIZED (
  SELECT user_id AS user,
         CAST(max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
              AS BIGINT) AS r_day,
         CAST(count(*) AS BIGINT) AS f_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS m_cents
  FROM ({source_sql}) GROUP BY user_id
),
bucketed AS (
  SELECT user, r_day, f_events, m_cents,
       {bsql}
  FROM per_user
)
SELECT user, r_day, f_events, m_cents,
       CAST(r_bucket AS INT) AS r_bucket, CAST(f_bucket AS INT) AS f_bucket,
       CAST(m_bucket AS INT) AS m_bucket,
       CAST(r_bucket * 100 + f_bucket * 10 + m_bucket AS INT) AS segment
FROM bucketed"""


def position_attribution(df: DataFrame, conversion_type: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the
    standard 40/20/40 marketing credit model, made engine-exact: for
    each conversion event, the user's preceding touches inside the
    ``ATTRIBUTION_WINDOW_US`` lookback window form the path; one touch
    takes the full credit,
    two take half each, and with n >= 3 the first and last take
    400000 ppm each while the middles split 200000 ppm by
    LARGEST-REMAINDER integer seats (earliest middles get the
    remainder — the neyman_allocation discipline, so every
    conversion's credits sum to EXACTLY 1000000).

    One per-user range join (touch to conversions within the window —
    fan-out bounded by user activity, never cross-user) + one
    per-conversion rank window.  All epoch-micros BIGINT.

    Output: (user, conv_id, touch_id, position, n_touches,
    credit_ppm).
    """
    base = df.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("event_id").alias("eid"),
    )
    convs = base.where(F.col("k") == conversion_type).select(
        "u", F.col("us").alias("cus"), F.col("eid").alias("conv_id")
    )
    touches = base.where(F.col("k") != conversion_type).select(
        "u", F.col("us").alias("tus"), F.col("eid").alias("touch_id")
    )
    joined = convs.join(touches, "u").where(
        (F.col("tus") < F.col("cus"))
        & (F.col("tus") >= F.col("cus") - F.lit(ATTRIBUTION_WINDOW_US))
    )
    w = Window.partitionBy("u", "conv_id").orderBy("tus", "touch_id")
    ranked = (
        joined.withColumn("position", F.row_number().over(w))
        .withColumn(
            "n_touches",
            F.count(F.lit(1)).over(
                Window.partitionBy("u", "conv_id").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    n = F.col("n_touches")
    pos = F.col("position")
    mid_base = F.expr("200000 DIV (n_touches - 2)")
    mid_rem = F.lit(200_000) - mid_base * (n - 2)
    credit = (
        F.when(n == 1, F.lit(1_000_000))
        .when(n == 2, F.lit(500_000))
        .when(pos == 1, F.lit(400_000))
        .when(pos == n, F.lit(400_000))
        .otherwise(
            mid_base + F.when(pos - 1 <= mid_rem, F.lit(1)).otherwise(F.lit(0))
        )
    )
    return ranked.select(
        F.col("u").alias("user"),
        "conv_id",
        "touch_id",
        F.col("position").cast("int").alias("position"),
        F.col("n_touches").cast("long").alias("n_touches"),
        credit.cast("long").alias("credit_ppm"),
    )


def sql_position_attribution(source_sql: str, conversion_type: str) -> str:
    """DuckDB oracle for :func:`position_attribution`."""
    return f"""WITH base AS (
  SELECT user_id AS u, event_type AS k,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id AS eid
  FROM ({source_sql})
),
convs AS (SELECT u, us AS cus, eid AS conv_id FROM base
          WHERE k = '{conversion_type}'),
touches AS (SELECT u, us AS tus, eid AS touch_id FROM base
            WHERE k <> '{conversion_type}'),
joined AS (
  SELECT c.u, c.conv_id, c.cus, t.tus, t.touch_id
  FROM convs c JOIN touches t ON t.u = c.u
  WHERE t.tus < c.cus AND t.tus >= c.cus - {ATTRIBUTION_WINDOW_US}
),
ranked AS (
  SELECT u, conv_id, touch_id,
    row_number() OVER (PARTITION BY u, conv_id ORDER BY tus, touch_id)
      AS position,
    count(*) OVER (PARTITION BY u, conv_id) AS n_touches
  FROM joined
)
SELECT u AS user, conv_id, touch_id, CAST(position AS INT) AS position,
  CAST(n_touches AS BIGINT) AS n_touches,
  CAST(CASE
    WHEN n_touches = 1 THEN 1000000
    WHEN n_touches = 2 THEN 500000
    WHEN position = 1 THEN 400000
    WHEN position = n_touches THEN 400000
    ELSE 200000 // (n_touches - 2)
         + CASE WHEN position - 1 <=
                     200000 - (200000 // (n_touches - 2)) * (n_touches - 2)
                THEN 1 ELSE 0 END
  END AS BIGINT) AS credit_ppm
FROM ranked"""


def rfm_state(df: DataFrame) -> DataFrame:
    """Per-user RFM state: (user, r_day, f_events, m_cents) — every
    component is an associative+commutative aggregate (max, count-as-
    sum, sum), so states FOLD across batches in any arrival order."""
    return df.groupBy(F.col("user_id").alias("user")).agg(
        F.max(
            F.expr(
                "CAST(unix_micros(CAST(ts AS TIMESTAMP))"
                " DIV 86400000000 AS BIGINT)"
            )
        ).alias("r_day"),
        F.count(F.lit(1)).cast("long").alias("f_events"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("m_cents"),
    )


def fold_rfm_state(state: DataFrame, batch_state: DataFrame) -> DataFrame:
    """Fold a batch's RFM state into the running state: union + one
    map-side-combined re-aggregate (max/sum/sum).  fold == recompute
    is the graded invariant — the micro-batch maintenance loop for
    segment-serving without corpus re-scans."""
    return (
        state.unionByName(batch_state)
        .groupBy("user")
        .agg(
            F.max("r_day").alias("r_day"),
            F.sum("f_events").cast("long").alias("f_events"),
            F.sum("m_cents").cast("long").alias("m_cents"),
        )
    )


def _ordered_events(df: DataFrame) -> DataFrame:
    """(u, t, k) per event: user, type and the total-order key — the
    zero-padded string micros||event_id, whose plain string comparisons
    tie identically on both engines (``_SQL_ORDER_KEY`` is the twin)."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.concat(
            F.lpad(us.cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("k"),
    )


_SQL_ORDER_KEY = (
    "lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), 20, '0') || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0')"
)


def sequential_patterns(df: DataFrame) -> DataFrame:
    """Frequent sequential patterns of length 2 and 3 (round-4; the
    PrefixSpan/GSP family, Pei 2001) — "users who VIEW then CLICK then
    ERROR" — counted as SUBSEQUENCE existence per user (gaps allowed,
    order by time), with a support floor.

    The naive subsequence join is cubic in events-per-user; existence
    needs only the GREEDY-EARLIEST witness (a subsequence a>b exists
    iff SOME b follows the FIRST a; a>b>c iff some c follows the
    earliest such b — the classic greedy argument), so the plan is:

      first occurrence per (user, type)           one aggregate
      earliest b after first a                    ONE event-level join
                                                  (events x #types, the
                                                  only super-linear step)
      c after that                                join against per-type
                                                  MAX key only

    Event order is total and engine-portable: the sort key is the
    zero-padded string micros||event_id, so min()/comparisons are plain
    lexicographic VARCHAR ops with identical tie semantics everywhere
    (min_by tie rules differ between engines; padded-string min does
    not).  Output: (pattern 'a>b' or 'a>b>c', length, support,
    support_ppm of users) for patterns with support >= ``MIN_SUPPORT``.
    """
    occ = _ordered_events(df).localCheckpoint(eager=True)
    first = occ.groupBy("u", F.col("t").alias("a")).agg(
        F.min("k").alias("ka")
    )
    maxk = occ.groupBy("u", F.col("t").alias("c")).agg(
        F.max("k").alias("kc")
    )
    ab = (
        occ.join(first, "u")
        .where(F.col("k") > F.col("ka"))
        .groupBy("u", "a", F.col("t").alias("b"))
        .agg(F.min("k").alias("kab"))
    )
    n_users = occ.select("u").distinct().count()
    s2 = ab.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support")).select(
        F.concat_ws(">", "a", "b").alias("pattern"),
        F.lit(2).alias("length"),
        "support",
    )
    s3 = (
        ab.join(maxk, "u")
        .where(F.col("kc") > F.col("kab"))
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("support"))
        .select(
            F.concat_ws(">", "a", "b", "c").alias("pattern"),
            F.lit(3).alias("length"),
            "support",
        )
    )
    return (
        s2.unionByName(s3)
        .where(F.col("support") >= MIN_SUPPORT)
        .select(
            "pattern",
            "length",
            F.col("support").cast("long").alias("support"),
            F.expr(f"CAST(support * 1000000 div {n_users} AS BIGINT)").alias(
                "support_ppm"
            ),
        )
    )


def sql_sequential_patterns(source_sql: str) -> str:
    """DuckDB oracle for :func:`sequential_patterns` (source ->
    (user_id, event_type, ts, event_id))."""
    return f"""WITH occ AS MATERIALIZED (
  SELECT user_id AS u, event_type AS t, {_SQL_ORDER_KEY} AS k
  FROM ({source_sql})
),
nu AS (SELECT count(DISTINCT u) AS n_users FROM occ),
first_a AS (SELECT u, t AS a, min(k) AS ka FROM occ GROUP BY u, t),
maxk AS (SELECT u, t AS c, max(k) AS kc FROM occ GROUP BY u, t),
ab AS MATERIALIZED (
  SELECT o.u, f.a, o.t AS b, min(o.k) AS kab
  FROM occ o JOIN first_a f ON o.u = f.u
  WHERE o.k > f.ka
  GROUP BY o.u, f.a, o.t
),
s2 AS (
  SELECT a || '>' || b AS pattern, 2 AS length, count(*) AS support
  FROM ab GROUP BY a, b
),
s3 AS (
  SELECT ab.a || '>' || ab.b || '>' || m.c AS pattern, 3 AS length,
         count(*) AS support
  FROM ab JOIN maxk m ON ab.u = m.u
  WHERE m.kc > ab.kab
  GROUP BY ab.a, ab.b, m.c
),
uni AS (SELECT * FROM s2 UNION ALL SELECT * FROM s3)
SELECT pattern, length, CAST(support AS BIGINT) AS support,
  CAST(support * 1000000 // n_users AS BIGINT) AS support_ppm
FROM uni CROSS JOIN nu
WHERE support >= {MIN_SUPPORT}"""


_VFRAME_SCHEMA = T.StructType(
    [T.StructField("variant", T.StringType()), T.StructField("state", T.StringType())]
)


def markov_attribution(df: DataFrame) -> DataFrame:
    """Markov-chain removal-effect attribution (round-4; Anderl et al.
    2016 — the data-driven alternative to the positional U-shape in
    position_attribution): journeys become a first-order chain
    START -> channels -> {CONV, NULL}, where CONV is a user's first
    ``CONVERSION_TYPE`` event; a channel's value is how much the
    chain's conversion probability DROPS when that channel is removed
    (its state forced non-converting), normalized to credits.

    Engine-exact integer algebra throughout: transition probabilities
    are Q30 ratios of BIGINT counts, absorption probabilities come from
    ``MARKOV_ROUNDS`` synchronous value-iteration steps (v <- T v with CONV
    pinned at Q30, NULL and the removed channel at 0 — each step is one
    join + partial aggregate over the tiny (variant x state) frame, and
    the fixed round count makes an unrolled SQL oracle match
    bit-for-bit), credits are largest-remainder ppm that sum EXACTLY to
    1e6 (the attribution_credits discipline).

    Scale shape: the heavy work is the ONE distributed pass building
    transition counts (window lead per user); the chain itself is
    state-space-sized (channels + 3), so value iteration costs nothing
    at any corpus size.  Output: (channel, p_full_q30, p_removed_q30,
    removal_ppm, credit_ppm).
    """
    w = Window.partitionBy("u").orderBy("k")
    ev = _ordered_events(df)
    # cut each journey at its FIRST conversion event
    first_conv = (
        ev.where(F.col("t") == CONVERSION_TYPE)
        .groupBy("u")
        .agg(F.min("k").alias("kconv"))
    )
    walked = (
        ev.join(first_conv, "u", "left")
        .where(F.col("kconv").isNull() | (F.col("k") <= F.col("kconv")))
        .withColumn(
            "t",
            F.when(F.col("t") == CONVERSION_TYPE, F.lit("CONV")).otherwise(
                F.col("t")
            ),
        )
        .withColumn("nxt", F.lead("t").over(w))
        .withColumn("prv", F.lag("t").over(w))
    )
    steps = (
        walked.select(
            F.when(F.col("prv").isNull(), F.lit("START"))
            .otherwise(F.col("prv"))
            .alias("s"),
            F.col("t").alias("d"),
        )
        .unionByName(
            # terminal: last state of a non-converting journey -> NULL
            walked.where(F.col("nxt").isNull() & (F.col("t") != "CONV"))
            .select(F.col("t").alias("s"), F.lit("NULL").alias("d"))
        )
    )
    counts = steps.groupBy("s", "d").agg(F.count(F.lit(1)).alias("c"))
    row_tot = counts.groupBy("s").agg(F.sum("c").alias("tot"))
    q30 = 1 << 30
    trans = (
        counts.join(row_tot, "s")
        .select(
            "s", "d", F.expr(f"CAST(c * {q30} div tot AS BIGINT)").alias("p")
        )
        .localCheckpoint(eager=True)
    )
    channels = [
        r["s"]
        for r in trans.select("s").distinct().collect()
        if r["s"] not in ("START", "CONV", "NULL")
    ]
    variants = ["__FULL__"] + sorted(channels)
    states = sorted(set(channels) | {"START"})
    vframe = local_frame(
        df.sparkSession,
        [(va, st) for va in variants for st in states],
        _VFRAME_SCHEMA,
    )
    # v_0 = 0 everywhere; absorbing values enter through the step's
    # CONV term, so iterate: v <- sum_d T(s,d) * val(d); per-round
    # lineage pin (measured best among {sparse checkpoints, coalesce(1),
    # per-round} — the tiny per-round job beats a growing plan tree)
    v = vframe.select("variant", "state", F.lit(0).cast("long").alias("v"))

    def value_round(v: DataFrame, rnd) -> DataFrame:
        # value of destination d under a variant: CONV=Q30, NULL=0,
        # removed channel=0, else current v
        dst = v.select(
            F.col("variant").alias("dvariant"),
            F.col("state").alias("dstate"),
            F.col("v").alias("dv"),
        )
        step = (
            vframe.join(trans, vframe.state == trans.s)
            .join(
                dst,
                (F.col("variant") == F.col("dvariant"))
                & (F.col("d") == F.col("dstate")),
                "left",
            )
            .select(
                "variant",
                "state",
                "p",
                F.when(F.col("d") == "CONV", F.lit(q30))
                .when(F.col("d") == "NULL", F.lit(0))
                .when(F.col("d") == F.col("variant"), F.lit(0))
                .otherwise(F.coalesce(F.col("dv"), F.lit(0)))
                .alias("dval"),
            )
        )
        return rnd.checkpoint(
            step.groupBy("variant", "state")
            .agg(
                F.expr(f"CAST(sum(p * dval) div {q30} AS BIGINT)").alias("v")
            )
            .select(
                "variant",
                "state",
                # a removed channel's own value is pinned to 0
                F.when(F.col("state") == F.col("variant"), F.lit(0))
                .otherwise(F.col("v"))
                .alias("v"),
            )
        )

    v = iterate(value_round, v, MARKOV_ROUNDS)
    start_v = v.where(F.col("state") == "START").select(
        "variant", F.col("v").alias("p_conv")
    )
    full = start_v.where(F.col("variant") == "__FULL__").select(
        F.col("p_conv").alias("p_full")
    )
    per_ch = (
        start_v.where(F.col("variant") != "__FULL__")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("variant").alias("channel"),
            F.col("p_full").alias("p_full_q30"),
            F.col("p_conv").alias("p_removed_q30"),
            F.greatest(
                F.lit(0), F.col("p_full") - F.col("p_conv")
            ).alias("re"),
        )
    )
    tot_re = per_ch.agg(F.sum("re").alias("tot_re"))
    seats = (
        per_ch.crossJoin(F.broadcast(tot_re))
        .select(
            "channel",
            "p_full_q30",
            "p_removed_q30",
            F.expr("CAST(re * 1000000 div greatest(tot_re, 1) AS BIGINT)").alias(
                "base"
            ),
            F.expr("CAST(re * 1000000 % greatest(tot_re, 1) AS BIGINT)").alias(
                "rem"
            ),
            F.expr(
                "CAST(re * 1000000 div greatest(tot_re, 1) AS BIGINT)"
            ).alias("removal_base"),
            "re",
            "tot_re",
        )
    )
    wr = Window.orderBy(F.desc("rem"), F.asc("channel"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        seats.withColumn("leftover", F.lit(1000000) - F.sum("base").over(wall))
        .withColumn("rk", F.row_number().over(wr))
        .select(
            "channel",
            "p_full_q30",
            "p_removed_q30",
            F.expr(f"CAST(re * 1000000 div {q30} AS BIGINT)").alias(
                "removal_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN tot_re = 0 THEN 0 ELSE base + "
                "CASE WHEN rk <= leftover THEN 1 ELSE 0 END END AS BIGINT)"
            ).alias("credit_ppm"),
        )
    )


def sql_markov_attribution(source_sql: str) -> str:
    """DuckDB oracle for :func:`markov_attribution`: the identical
    integer algebra with the value iteration unrolled to
    ``MARKOV_ROUNDS`` MATERIALIZED CTEs (single-reference, the repo's
    anti-inlining discipline)."""
    q30 = 1 << 30
    conv = CONVERSION_TYPE
    round_ctes = []
    prev = "v0"
    for i in range(1, MARKOV_ROUNDS + 1):
        name = f"v{i}"
        round_ctes.append(f"""{name} AS MATERIALIZED (
  SELECT vf.variant, vf.state,
    CASE WHEN vf.state = vf.variant THEN 0
         ELSE CAST(sum(t.p * (
           CASE WHEN t.d = 'CONV' THEN {q30}
                WHEN t.d = 'NULL' THEN 0
                WHEN t.d = vf.variant THEN 0
                ELSE coalesce(pv.v, 0) END)) // {q30} AS BIGINT)
    END AS v
  FROM vframe vf
  JOIN trans t ON t.s = vf.state
  LEFT JOIN {prev} pv ON pv.variant = vf.variant AND pv.state = t.d
  GROUP BY vf.variant, vf.state
)""")
        prev = name
    rounds_sql = ",\n".join(round_ctes)
    return f"""WITH ev AS MATERIALIZED (
  SELECT user_id AS u, event_type AS t, {_SQL_ORDER_KEY} AS k
  FROM ({source_sql})
),
first_conv AS (
  SELECT u, min(k) AS kconv FROM ev WHERE t = '{conv}' GROUP BY u
),
walked AS MATERIALIZED (
  SELECT e.u,
         CASE WHEN e.t = '{conv}' THEN 'CONV' ELSE e.t END AS t,
         e.k,
         lead(CASE WHEN e.t = '{conv}' THEN 'CONV' ELSE e.t END)
           OVER (PARTITION BY e.u ORDER BY e.k) AS nxt,
         lag(CASE WHEN e.t = '{conv}' THEN 'CONV' ELSE e.t END)
           OVER (PARTITION BY e.u ORDER BY e.k) AS prv
  FROM ev e LEFT JOIN first_conv f ON e.u = f.u
  WHERE f.kconv IS NULL OR e.k <= f.kconv
),
steps AS MATERIALIZED (
  SELECT CASE WHEN prv IS NULL THEN 'START' ELSE prv END AS s, t AS d
  FROM walked
  UNION ALL
  SELECT t AS s, 'NULL' AS d FROM walked WHERE nxt IS NULL AND t <> 'CONV'
),
counts AS (SELECT s, d, count(*) AS c FROM steps GROUP BY s, d),
row_tot AS (SELECT s, sum(c) AS tot FROM counts GROUP BY s),
trans AS MATERIALIZED (
  SELECT c.s, c.d, CAST(c.c * {q30} // r.tot AS BIGINT) AS p
  FROM counts c JOIN row_tot r ON c.s = r.s
),
channels AS (
  SELECT DISTINCT s AS ch FROM trans WHERE s NOT IN ('START', 'CONV', 'NULL')
),
variants AS (
  SELECT '__FULL__' AS variant UNION ALL SELECT ch FROM channels
),
states AS (
  SELECT ch AS state FROM channels UNION ALL SELECT 'START'
),
vframe AS MATERIALIZED (SELECT variant, state FROM variants CROSS JOIN states),
v0 AS (SELECT variant, state, CAST(0 AS BIGINT) AS v FROM vframe),
{rounds_sql},
startv AS (SELECT variant, v AS p_conv FROM {prev} WHERE state = 'START'),
fullv AS (SELECT p_conv AS p_full FROM startv WHERE variant = '__FULL__'),
per_ch AS (
  SELECT s.variant AS channel, f.p_full, s.p_conv AS p_removed,
         greatest(0, f.p_full - s.p_conv) AS re
  FROM startv s CROSS JOIN fullv f
  WHERE s.variant <> '__FULL__'
),
tot AS (SELECT sum(re) AS tot_re FROM per_ch),
seats AS (
  SELECT channel, p_full, p_removed, re, tot_re,
         CAST(re * 1000000 // greatest(tot_re, 1) AS BIGINT) AS base,
         CAST(re * 1000000 % greatest(tot_re, 1) AS BIGINT) AS rem
  FROM per_ch CROSS JOIN tot
)
SELECT channel,
  CAST(p_full AS BIGINT) AS p_full_q30,
  CAST(p_removed AS BIGINT) AS p_removed_q30,
  CAST(re * 1000000 // {q30} AS BIGINT) AS removal_ppm,
  CAST(CASE WHEN tot_re = 0 THEN 0 ELSE base +
    CASE WHEN row_number() OVER (ORDER BY rem DESC, channel)
              <= 1000000 - sum(base) OVER () THEN 1 ELSE 0 END
  END AS BIGINT) AS credit_ppm
FROM seats"""


def km_survival(
    df: DataFrame,
    user_col: str = "user_id",
    cohort_col: str | None = None,
) -> DataFrame:
    """Kaplan-Meier survival curve of user ACTIVITY LIFETIMES with right
    censoring (Kaplan & Meier 1958) — the churn readout every event
    pipeline eventually needs, in exact integer arithmetic:

      * the "user" is any subject key (a user, a user x surface pair, a
        subscription); ``cohort_col`` must be functionally dependent on
        it (taken as max over the subject's rows; None = one cohort 0);
      * lifetime T_u = days between a user's first and last ``ts``;
      * a user whose last event falls within ``CENSOR_WINDOW_DAYS`` of
        the corpus horizon is CENSORED (may still be active): they leave
        the risk set at T_u without counting as churn;
      * per cohort, at each distinct churn time t (ascending):
        n_t = users still at risk, d_t = churns at t, and
        S <- S * (n_t - d_t) div n_t folded in Q30 fixed point
        (truncating — deterministic on any engine, no float product).

    The fold is ONE whole-stage-codegen ``aggregate()`` over the
    per-cohort (T, d, c) histogram sorted by T — the coreness-round
    shape: the user table dies at a map-side-combinable groupBy, no
    per-cohort window, and the fold length is bounded by the distinct-
    lifetime range, not the user count.  Output rows at churn times
    only: (cohort, t_days, n_at_risk, n_churns, surv_ppm).

    Exactness bound: the Q30 product keeps every intermediate < 2^63
    as long as the per-cohort risk set stays below 2^33 (~8.6e9 users)
    — beyond that, pre-bucket cohorts.
    """
    horizon = df.agg(F.max(F.col("ts")).alias("h"))
    cohort = (
        F.max(F.col(cohort_col)).alias("cohort")
        if cohort_col
        else F.lit(0).cast("int").alias("cohort")
    )
    users = (
        df.groupBy(F.col(user_col).alias("u"))
        .agg(
            cohort,
            F.min(F.col("ts")).alias("first_ts"),
            F.max(F.col("ts")).alias("last_ts"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.col("u"),
            "cohort",
            F.datediff(F.col("last_ts"), F.col("first_ts")).alias("t"),
            (
                F.datediff(F.col("h"), F.col("last_ts"))
                < F.lit(CENSOR_WINDOW_DAYS)
            ).alias("censored"),
        )
    )
    hist = users.groupBy("cohort", "t").agg(
        F.sum((~F.col("censored")).cast("long")).alias("d"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    q30 = 1 << 30
    folded = (
        hist.groupBy("cohort")
        .agg(
            F.sum("c").cast("long").alias("total"),
            F.sort_array(
                F.collect_list(F.struct("t", "d", "c"))
            ).alias("hst"),
        )
        .select(
            "cohort",
            F.expr(
                f"""aggregate(hst,
  named_struct('rem', total, 'surv', CAST({q30} AS BIGINT),
               'out', CAST(array() AS
                 array<struct<t:int,n:bigint,d:bigint,s:bigint>>)),
  (acc, x) -> named_struct(
    'rem', acc.rem - x.c,
    'surv', CASE WHEN x.d > 0
            THEN (acc.surv * (acc.rem - x.d)) DIV acc.rem
            ELSE acc.surv END,
    'out', CASE WHEN x.d > 0 THEN concat(acc.out, array(named_struct(
      't', x.t, 'n', acc.rem, 'd', x.d,
      's', ((acc.surv * (acc.rem - x.d)) DIV acc.rem) * 1000000
           DIV {q30}))) ELSE acc.out END),
  acc -> acc.out)"""
            ).alias("out"),
        )
    )
    return (
        folded.select("cohort", F.explode("out").alias("o"))
        .select(
            "cohort",
            F.col("o.t").alias("t_days"),
            F.col("o.n").alias("n_at_risk"),
            F.col("o.d").alias("n_churns"),
            F.col("o.s").cast("long").alias("surv_ppm"),
        )
        .orderBy("cohort", "t_days")
    )


def sql_km_survival(events_sql: str) -> str:
    """DuckDB oracle for :func:`km_survival` — identical histogram and
    Q30 truncating product, rendered as a sequential recursive-CTE fold
    over per-cohort row numbers.  events_sql -> (u, cohort, ts) with
    cohort functionally dependent on the subject u."""
    q30 = 1 << 30
    return f"""WITH RECURSIVE ev AS MATERIALIZED ({events_sql}),
hz AS (SELECT max(ts) AS h FROM ev),
users AS (
  SELECT u, max(cohort) AS cohort,
    date_diff('day', min(ts), max(ts)) AS t,
    date_diff('day', max(ts), (SELECT h FROM hz)) < {CENSOR_WINDOW_DAYS}
      AS censored
  FROM ev GROUP BY u
),
hist AS (
  SELECT cohort, t,
    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
    CAST(count(*) AS BIGINT) AS c
  FROM users GROUP BY cohort, t
),
tot AS (SELECT cohort, CAST(sum(c) AS BIGINT) AS total FROM hist GROUP BY cohort),
numbered AS (
  SELECT cohort, t, d, c,
    row_number() OVER (PARTITION BY cohort ORDER BY t) AS idx
  FROM hist
),
fold(cohort, idx, rem, surv) AS (
  SELECT cohort, 0, total, CAST({q30} AS BIGINT) FROM tot
  UNION ALL
  SELECT f.cohort, n.idx, f.rem - n.c,
    CASE WHEN n.d > 0 THEN (f.surv * (f.rem - n.d)) // f.rem
         ELSE f.surv END
  FROM fold f JOIN numbered n
    ON n.cohort = f.cohort AND n.idx = f.idx + 1
),
steps AS (
  SELECT f.cohort, n.t, f.rem AS n_at_risk, n.d,
    ((f.surv * (f.rem - n.d)) // f.rem) * 1000000 // {q30} AS s
  FROM fold f JOIN numbered n
    ON n.cohort = f.cohort AND n.idx = f.idx + 1
  WHERE n.d > 0
)
SELECT cohort, CAST(t AS INT) AS t_days, n_at_risk,
  CAST(d AS BIGINT) AS n_churns, CAST(s AS BIGINT) AS surv_ppm
FROM steps ORDER BY cohort, t_days"""
