"""The events contract-query family (``q_*`` Spark plans, ``sql_*`` DuckDB
oracles), registered by driver_queries.py."""

from nexus_forge_spark.plans._qshared import *  # noqa: F401,F403
from nexus_forge_spark.plans.queries_dedup import q_dedup_minhash, sql_dedup_components



def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (10-min inactivity) + per-session rollup over the
    events table.  One shuffle on user_id: lag + running-sum windows share
    a sort, and the rollup groups on a superset of the window key.
    Timestamps as unix-micro longs, money as integer cents — engine-exact."""
    from nexus_forge_spark.operators.events import session_stats

    ev = load_table(spark, "events", sf_dir)
    return session_stats(ev, gap_seconds=SESSION_GAP_S)


def sql_sessionize_events() -> str:
    gap_us = SESSION_GAP_S * 1_000_000
    return rf"""WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
lagd AS (
  SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
  FROM e
),
flg AS (
  SELECT *, CASE WHEN pus IS NULL OR us - pus > {gap_us} THEN 1 ELSE 0 END AS ns
  FROM lagd
),
sess AS (
  SELECT *,
    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                  ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM flg
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
  CAST(count(*) AS BIGINT) AS n_events,
  min(us) AS start_us, max(us) AS end_us,
  max(us) - min(us) AS span_us,
  CAST(sum(cents) AS BIGINT) AS value_cents
FROM sess GROUP BY user_id, session_idx"""


def q_asof_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the user's most recent
    prior (ts <=, ties-right-wins) view event.  Spark has no ASOF operator
    and a range join would be a scale-killer; this runs the union-tag plan
    (one user_id shuffle, last-ignorenulls carry, zero joins).  The right
    side is pre-reduced per (user, ts) with max_by so both engines break
    equal-timestamp ties identically."""
    from nexus_forge_spark.operators.events import asof_join

    ev = load_table(spark, "events", sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("value", "event_id").alias("value"),
        )
    )
    out = asof_join(
        purchases, views, key_col="user_id", ts_col="ts",
        right_cols=["event_id", "value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("prior_event_id").cast("long").alias("prior_event_id"),
        F.round(F.col("prior_value") * 100).cast("long").alias("prior_cents"),
    )


def sql_asof_view_purchase() -> str:
    return r"""WITH v AS (
  SELECT user_id, ts, max(event_id) AS event_id,
         arg_max(value, event_id) AS value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
p AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
  epoch_us(p.ts) AS ts_us,
  CAST(round(p.value * 100) AS BIGINT) AS cents,
  CAST(v.event_id AS BIGINT) AS prior_event_id,
  CAST(round(v.value * 100) AS BIGINT) AS prior_cents
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.ts >= v.ts"""


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming in the graded contract: the watermarked
    tumbling-window aggregation (streaming/stream_pipeline.py) executed
    with trigger(availableNow) into a complete-mode memory sink.  For a
    finite input, complete mode retains all window state, so the result
    equals the batch aggregate and the DuckDB oracle is the plain
    epoch-aligned time-bucket GROUP BY.  Money sums in integral cents
    (the groupagg_lineitem lesson: no float representation choice)."""
    from nexus_forge_spark import schemas
    from nexus_forge_spark.streaming.stream_pipeline import streaming_event_counts

    # the file source wants a directory: stream the sf dir, glob one table
    ev = (
        spark.readStream.schema(schemas.EVENTS)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # integral cents BEFORE the streaming sum: the state and the emitted
    # aggregate are BIGINT end to end
    ev = ev.withColumn("value", F.round(F.col("value") * 100).cast("long"))
    agg = streaming_event_counts(
        ev, window=f"{STREAM_WIN_SEC} seconds", watermark="10 minutes"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_window_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("stream_window_counts")
    return out.select(
        F.unix_timestamp("window_start").cast("long").alias("window_start_s"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("total_value").cast("long").alias("total_value_cents"),
    )


def sql_stream_window_counts() -> str:
    return f"""SELECT
  CAST(floor(epoch(ts) / {STREAM_WIN_SEC}) AS BIGINT) * {STREAM_WIN_SEC} AS window_start_s,
  event_type,
  count(*) AS n,
  sum(CAST(round(value * 100) AS BIGINT)) AS total_value_cents
FROM events GROUP BY 1, 2"""


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming SESSION windows in the graded contract: the
    watermarked session_window aggregation executed with
    trigger(availableNow) into a complete-mode memory sink, so the finite
    input yields exactly the batch session set.  Spark merges an event into
    the open session when its gap is <= the threshold (verified by the
    boundary unit test), i.e. the new-session rule is ``diff > gap`` —
    identical to the batch sessionize operator.  Money as integral cents."""
    from nexus_forge_spark import schemas
    from nexus_forge_spark.streaming.stream_pipeline import streaming_user_sessions

    ev = (
        spark.readStream.schema(schemas.EVENTS)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = ev.withColumn("value", F.round(F.col("value") * 100).cast("long"))
    agg = streaming_user_sessions(
        ev, gap=f"{STREAM_SESSION_GAP_S} seconds", watermark="30 minutes"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("stream_sessions")
    return out.select(
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias(
            "session_end_us"
        ),
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.col("total_value").cast("long").alias("total_value_cents"),
    )


def sql_stream_sessions() -> str:
    gap_us = STREAM_SESSION_GAP_S * 1_000_000
    return rf"""WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
lagd AS (
  SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
  FROM e
),
flg AS (
  SELECT *, CASE WHEN pus IS NULL OR us - pus > {gap_us} THEN 1 ELSE 0 END AS ns
  FROM lagd
),
sess AS (
  SELECT *,
    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
  FROM flg
)
SELECT min(us) AS session_start_us,
  max(us) + {gap_us} AS session_end_us,
  user_id,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(cents) AS BIGINT) AS total_value_cents
FROM sess GROUP BY user_id, sid"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator in the graded contract: the
    applyInPandasWithState first-seen exact dedup
    (streaming/stream_pipeline.py) run with trigger(availableNow) into an
    append-mode memory sink.  Exact duplicates are injected INSIDE the
    stream (each doc exploded into itself + an id+2000000 copy), so every
    signature arrives at least twice and the state actually drops rows.
    documents.parquet is a single file, so availableNow yields ONE
    micro-batch and "first seen" is deterministic: min doc_id per
    signature — which is exactly the batch GROUP BY the oracle runs.

    State partitions are sized to the input for the run (a stateful
    Python stage pays a fixed worker + state-store cost PER PARTITION
    per batch — measured 21 s at 32 partitions vs 2.3 s at 8 for this
    10k-row input; a real deployment sizes spark.sql.shuffle.partitions
    to its stream volume the same way)."""
    from nexus_forge_spark.streaming.stream_pipeline import (
        streaming_first_seen_dedup,
    )

    docs = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    dup = docs.withColumn(
        "doc_id",
        F.explode(F.array(F.col("doc_id"), F.col("doc_id") + 2000000)),
    ).select("doc_id", "text")
    out = streaming_first_seen_dedup(dup)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("stream_dedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table("stream_dedup").select(
        "sig", F.col("doc_id").cast("long").alias("doc_id")
    )


def sql_stream_dedup() -> str:
    return """WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents
),
sig AS (
  SELECT doc_id,
         md5(array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')) AS sig
  FROM docs
)
SELECT sig, min(doc_id) AS doc_id FROM sig GROUP BY sig"""


def _write_micro_batches(frames: list[DataFrame], in_dir: str) -> None:
    """Append each frame to ``in_dir`` as one parquet file whose mtime is
    pinned to the frame's position: FileStreamSource orders files by
    modification time, so frame i is always micro-batch i."""
    import os

    for i, frame in enumerate(frames):
        frame.coalesce(1).write.mode("append").parquet(in_dir)
        for f in os.listdir(in_dir):
            p = os.path.join(in_dir, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > 1_000_000_000 + i:
                os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))


def q_stream_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KG canonicalization: the near-dup sameAs edges arrive as
    file micro-batches (maxFilesPerTrigger=1) and each batch folds into
    the persisted canonical mapping via incremental_components — the
    streaming deployment shape of the kg_incremental_canonical plan.  The
    oracle recomputes components over ALL edges from scratch, so hash
    equality proves the micro-batch fold chain converges to the batch
    answer regardless of how edges were split."""
    import os
    import tempfile

    from nexus_forge_spark.streaming.stream_pipeline import (
        latest_snapshot,
        stream_incremental_canonical,
    )

    pairs = q_dedup_minhash(spark, sf_dir).select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    ).localCheckpoint(eager=True)
    base = tempfile.mkdtemp(prefix="stream_inc_")
    in_dir = os.path.join(base, "edges")
    _write_micro_batches(
        [pairs.where(F.pmod(F.xxhash64("a", "b"), F.lit(2)) == i) for i in range(2)],
        in_dir,
    )
    mapping_dir = os.path.join(base, "mapping")
    q = stream_incremental_canonical(
        spark, in_dir, mapping_dir, os.path.join(base, "ckpt")
    )
    q.awaitTermination()
    out = latest_snapshot(spark, mapping_dir)
    if out is None:  # no micro-batch carried edges -> empty mapping
        return spark.createDataFrame([], "doc_id long, canonical_id long")
    return out.select(
        F.col("entity_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def sql_stream_incremental() -> str:
    # the streamed fold chain must equal a from-scratch batch recompute
    return sql_dedup_components()


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join without a range predicate reaching the planner:
    per-user view-sessions x purchase-sessions whose 4h-padded spans
    overlap (purchase begins within 4h of a view session), via the
    bucketed-interval equi-join (operators/events.py
    interval_overlap_join) — (user, hour-bucket) hash join + post-filter
    + exact-once first-common-bucket guard.  The DuckDB oracle runs the
    naive inequality join; matching hashes prove the bucketed plan loses
    no pair and duplicates none."""
    from nexus_forge_spark.operators.events import (
        interval_overlap_join,
        session_stats,
    )

    ev = load_table(spark, "events", sf_dir)

    def sessions(etype: str) -> DataFrame:
        return (
            session_stats(
                ev.where(F.col("event_type") == etype),
                gap_seconds=SESSION_GAP_S,
            )
            .select("user_id", "session_idx", "start_us", "end_us")
            .withColumn(
                "end_us", F.col("end_us") + F.lit(INTERVAL_PAD_US)
            )
        )

    out = interval_overlap_join(
        sessions("view"), sessions("purchase"), "user_id",
        bucket_us=3_600_000_000,
    )
    return out.select(
        "user_id",
        F.col("l_session_idx").alias("view_idx"),
        F.col("r_session_idx").alias("purchase_idx"),
        F.col("l_start_us").alias("view_start_us"),
        F.col("r_start_us").alias("purchase_start_us"),
        F.col("overlap_us").cast("long").alias("overlap_us"),
    )


def sql_interval_overlap() -> str:
    gap_us = SESSION_GAP_S * 1_000_000
    return f"""WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
  FROM events WHERE event_type IN ('view', 'purchase')
),
lagd AS (
  SELECT *, lag(us) OVER (PARTITION BY user_id, event_type
                          ORDER BY us, event_id) AS pus
  FROM e
),
flg AS (
  SELECT *, CASE WHEN pus IS NULL OR us - pus > {gap_us} THEN 1 ELSE 0 END AS ns
  FROM lagd
),
sess AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM flg
),
roll AS (
  SELECT user_id, event_type, CAST(session_idx AS BIGINT) AS session_idx,
         min(us) AS start_us, max(us) + {INTERVAL_PAD_US} AS end_us
  FROM sess GROUP BY user_id, event_type, session_idx
)
SELECT v.user_id, v.session_idx AS view_idx, p.session_idx AS purchase_idx,
  v.start_us AS view_start_us, p.start_us AS purchase_start_us,
  CAST(least(v.end_us, p.end_us) - greatest(v.start_us, p.start_us) AS BIGINT)
    AS overlap_us
FROM roll v JOIN roll p
  ON v.user_id = p.user_id AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND v.start_us <= p.end_us AND p.start_us <= v.end_us"""


def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel with greedy earliest-event
    semantics ((ts, event_id) lexicographic — simultaneous events break
    deterministically).  Every shuffle hashes on user_id, so one
    exchange layout serves the whole chain."""
    from nexus_forge_spark.operators.events import funnel

    ev = load_table(spark, "events", sf_dir)
    return funnel(ev, FUNNEL_STEPS)


def sql_funnel_events() -> str:
    steps = FUNNEL_STEPS
    quoted = ", ".join(f"'{s}'" for s in steps)
    parts = [
        f"""WITH base AS (
  SELECT user_id AS u, event_type AS t, ts, event_id AS oid
  FROM events WHERE event_type IN ({quoted})
),
s1 AS (
  SELECT u, ts, oid FROM (
    SELECT u, ts, oid,
      row_number() OVER (PARTITION BY u ORDER BY ts, oid) AS rn
    FROM base WHERE t = '{steps[0]}'
  ) WHERE rn = 1
)"""
    ]
    for i, step in enumerate(steps[1:], start=2):
        parts.append(
            f""",
s{i} AS (
  SELECT u, ts, oid FROM (
    SELECT b.u, b.ts, b.oid,
      row_number() OVER (PARTITION BY b.u ORDER BY b.ts, b.oid) AS rn
    FROM base b JOIN s{i - 1} p ON p.u = b.u
    WHERE b.t = '{step}'
      AND (b.ts > p.ts OR (b.ts = p.ts AND b.oid > p.oid))
  ) WHERE rn = 1
)"""
        )
    parts.append(
        ",\nn AS (SELECT "
        + ", ".join(f"(SELECT count(*) FROM s{i + 1}) AS n{i + 1}" for i in range(len(steps)))
        + ")"
    )
    selects = []
    for i, step in enumerate(steps):
        first = "n1"
        prev = f"n{i}" if i > 0 else "n1"
        cur = f"n{i + 1}"
        selects.append(
            f"""SELECT CAST({i + 1} AS INT) AS step_idx, '{step}' AS step,
  CAST({cur} AS BIGINT) AS n_users,
  CAST(CASE WHEN {first} = 0 THEN 0 ELSE ({cur} * 1000000) // {first} END AS BIGINT)
    AS conv_from_first_ppm,
  CAST(CASE WHEN {prev} = 0 THEN 0 ELSE ({cur} * 1000000) // {prev} END AS BIGINT)
    AS conv_from_prev_ppm
FROM n"""
        )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events table: Monday-start first-
    event cohorts, per-offset active-user counts, integer-ppm retention."""
    from nexus_forge_spark.operators.events import cohort_retention

    ev = load_table(spark, "events", sf_dir)
    return cohort_retention(ev).select(
        F.col("cohort_week").cast("string").alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        "retention_ppm",
    )


def sql_cohort_retention() -> str:
    return """WITH firsts AS (
  SELECT user_id AS u,
    min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events
),
cell AS (
  SELECT cohort_week, CAST((w - cohort_week) // 7 AS INT) AS week_offset,
    count(*) AS n_active
  FROM active JOIN firsts USING (u)
  GROUP BY cohort_week, (w - cohort_week) // 7
),
sizes AS (
  SELECT cohort_week, n_active AS cohort_size FROM cell WHERE week_offset = 0
)
SELECT CAST(cohort_week AS VARCHAR) AS cohort_week, week_offset,
  CAST(n_active AS BIGINT) AS n_active,
  CAST(cohort_size AS BIGINT) AS cohort_size,
  CAST((n_active * 1000000) // cohort_size AS BIGINT) AS retention_ppm
FROM cell JOIN sizes USING (cohort_week)"""


# ------------------------------------- warehouse history + robust profiling


def q_scd2_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (operators/history.py scd2_history):
    each customer's order-priority change stream collapses into validity
    intervals (version, valid_from, valid_to, is_current), suppressing
    events that repeat the previous value — the set-oriented analogue of
    the reference store's per-resource _rev chain (demo_store.py keeps
    every revision; this materializes the interval view point-in-time
    joins need).  One shuffle: both window passes share the customer-key
    partitioning, so Catalyst plans a single Exchange."""
    from nexus_forge_spark.operators.history import scd2_history

    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey"
    )
    return scd2_history(
        orders,
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderpriority"],
        tiebreak_cols=["o_orderkey"],
    ).select(
        "o_custkey", "o_orderpriority", "version",
        "valid_from", "valid_to", "is_current",
    )


def sql_scd2_order_priority() -> str:
    from nexus_forge_spark.operators.history import sql_scd2_history

    inner = sql_scd2_history(
        "SELECT o_custkey, o_orderdate, o_orderpriority, o_orderkey FROM orders",
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderpriority"],
        tiebreak_cols=["o_orderkey"],
    )
    return f"""SELECT o_custkey, o_orderpriority, version,
       valid_from, valid_to, is_current
FROM ({inner})"""


def q_scd2_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (operators/history.py scd2_merge):
    the dimension built from pre-1996 order events absorbs the post-1996
    change batch touching only affected customers — untouched intervals
    move through one broadcast anti-join, only touched keys re-window.
    The oracle is the FULL recompute over the entire event stream, so
    hash equality proves incremental == from-scratch for append-only
    deltas."""
    from nexus_forge_spark.operators.history import scd2_history, scd2_merge

    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderdate", "o_orderpriority"
    )
    cutoff = F.lit(_SCD2_CUTOFF).cast("timestamp")
    base = scd2_history(
        orders.where(F.col("o_orderdate") < cutoff),
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderpriority"],
    )
    delta = orders.where(F.col("o_orderdate") >= cutoff)
    merged = scd2_merge(
        base,
        delta,
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderpriority"],
    )
    return merged.select(
        "o_custkey", "o_orderpriority", "version",
        "valid_from", "valid_to", "is_current",
    )


def sql_scd2_merge_orders() -> str:
    from nexus_forge_spark.operators.history import sql_scd2_history

    inner = sql_scd2_history(
        "SELECT o_custkey, o_orderdate, o_orderpriority FROM orders",
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderpriority"],
    )
    return f"""SELECT o_custkey, o_orderpriority, version,
       valid_from, valid_to, is_current
FROM ({inner})"""


def q_stream_scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance (streaming/stream_pipeline.py
    stream_scd2): order-priority change events arrive as two
    time-ordered file micro-batches (explicit mtimes pin source order)
    and fold into the persisted dimension via scd2_merge.  The oracle is
    the full SCD2 recompute over ALL events, so hash equality proves the
    micro-batch fold chain converges to the batch answer."""
    import os
    import tempfile

    from nexus_forge_spark.streaming.stream_pipeline import (
        latest_snapshot,
        stream_scd2,
    )

    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderdate", "o_orderpriority"
    )
    cutoff = F.lit(_SCD2_CUTOFF).cast("timestamp")
    base = tempfile.mkdtemp(prefix="stream_scd2_")
    in_dir = os.path.join(base, "events")
    _write_micro_batches(
        [
            orders.where(F.col("o_orderdate") < cutoff),
            orders.where(F.col("o_orderdate") >= cutoff),
        ],
        in_dir,
    )
    dim_dir = os.path.join(base, "dim")
    q = stream_scd2(
        spark,
        in_dir,
        "o_custkey bigint, o_orderdate timestamp, o_orderpriority string",
        dim_dir,
        os.path.join(base, "ckpt"),
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderpriority"],
    )
    q.awaitTermination()
    return latest_snapshot(spark, dim_dir).select(
        "o_custkey", "o_orderpriority", "version",
        "valid_from", "valid_to", "is_current",
    )


def sql_stream_scd2_orders() -> str:
    # the streamed fold chain must equal the from-scratch SCD2 build
    return sql_scd2_merge_orders()


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions over per-user event streams
    (operators/events.py event_transition_matrix): (prev -> next) counts
    + truncating-integer-ppm row probabilities.  ONE shuffle on the user
    key; the row-total window runs over the |types|^2 aggregate."""
    from nexus_forge_spark.operators.events import event_transition_matrix

    events = load_table(spark, "events", sf_dir)
    return event_transition_matrix(events)


def sql_event_transitions() -> str:
    return """WITH ordered AS (
  SELECT event_type AS prev_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
  CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total,
  CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
    AS prob_ppm
FROM counts"""


def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join in the graded contract
    (streaming/stream_pipeline.py streaming_view_purchase_join): views
    and purchases are two watermarked branches of the events stream,
    inner-joined on user with view_ts in the hour before the purchase —
    the purchase-attribution shape.  The time bound on BOTH sides lets
    Spark evict join state (buffered views die once no future purchase
    can reach them), so state tracks the window, not the stream; run
    with trigger(availableNow) into an append memory sink, the finite
    input yields exactly the batch join, which is the DuckDB oracle."""
    from nexus_forge_spark import schemas
    from nexus_forge_spark.streaming.stream_pipeline import (
        streaming_view_purchase_join,
    )

    ev = (
        spark.readStream.schema(schemas.EVENTS)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    joined = streaming_view_purchase_join(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "purchase"),
        window="1 hour",
        watermark="2 hours",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("stream_attribution")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("stream_attribution").select(
        "user_id",
        "view_id",
        "purchase_id",
        F.unix_micros(F.col("view_ts")).alias("view_us"),
        F.unix_micros(F.col("purchase_ts")).alias("purchase_us"),
        F.round(F.col("purchase_value") * 100).cast("long").alias(
            "purchase_cents"
        ),
    )


def sql_stream_attribution() -> str:
    return """SELECT v.user_id, v.event_id AS view_id,
  p.event_id AS purchase_id,
  epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purchase_us,
  CAST(round(p.value * 100) AS BIGINT) AS purchase_cents
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"""


def q_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted part popularity (operators/events.py
    decayed_sum): per-part quantity where each elapsed 26-week half-life
    HALVES the contribution — weight = 2^20 >> (age div 182), an integer
    bit-shift ladder both engines compute bit-identically (float
    pow(0.5, age/hl) never would).  One orderkey join + one map-side
    weight projection + one partial-combined part aggregate — no window,
    no per-key history."""
    from nexus_forge_spark.operators.events import decayed_sum

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate"
    )
    facts = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return decayed_sum(
        facts,
        ts_col="o_orderdate",
        key_cols=["l_partkey"],
        qty_col="l_quantity",
        ref_date=_DECAY_REF,
        half_life_days=_DECAY_HL,
    ).select(
        F.col("l_partkey").cast("long").alias("l_partkey"),
        F.col("decayed_score").cast("long").alias("decayed_score"),
        F.col("raw_qty").cast("long").alias("raw_qty"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def sql_decayed_popularity() -> str:
    from nexus_forge_spark.operators.events import DECAY_SCALE_BITS

    return f"""SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
  CAST(sum(CAST(round(l_quantity) AS BIGINT) *
    ({1 << DECAY_SCALE_BITS} >> greatest(0, least(
       datediff('day', CAST(o_orderdate AS DATE), DATE '{_DECAY_REF}')
       // {_DECAY_HL}, 62)))) AS BIGINT) AS decayed_score,
  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS raw_qty,
  CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_partkey"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming aggregation in the graded contract
    (streaming/stream_pipeline.py streaming_sliding_counts): 6h windows
    every 2h, so each event lands in exactly 3 overlapping windows —
    the refreshed-monitoring shape tumbling windows cannot express.
    Complete-mode availableNow == the batch equivalent; the oracle
    replays the window assignment arithmetic (epoch-aligned floor minus
    k slides).  Money as integral cents."""
    from nexus_forge_spark import schemas
    from nexus_forge_spark.streaming.stream_pipeline import (
        streaming_sliding_counts,
    )

    ev = (
        spark.readStream.schema(schemas.EVENTS)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = ev.withColumn("value", F.round(F.col("value") * 100).cast("long"))
    agg = streaming_sliding_counts(
        ev, window=f"{_SLIDE_WIN_H} hours", slide=f"{_SLIDE_STEP_H} hours"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_sliding")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("stream_sliding").select(
        F.unix_micros(F.col("window_start").cast("timestamp")).alias(
            "window_start_us"
        ),
        F.unix_micros(F.col("window_end").cast("timestamp")).alias(
            "window_end_us"
        ),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("total_value").cast("long").alias("total_cents"),
    )


def sql_stream_sliding() -> str:
    slide_us = _SLIDE_STEP_H * 3_600_000_000
    win_us = _SLIDE_WIN_H * 3_600_000_000
    n_over = _SLIDE_WIN_H // _SLIDE_STEP_H
    return f"""WITH e AS (
  SELECT event_type, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
wins AS (
  SELECT event_type, cents,
    ((us // {slide_us}) - k.k) * {slide_us} AS wstart, us
  FROM e CROSS JOIN (SELECT unnest(generate_series(0, {n_over - 1})) AS k) k
)
SELECT wstart AS window_start_us,
  wstart + {win_us} AS window_end_us,
  event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(cents) AS BIGINT) AS total_cents
FROM wins
WHERE us >= wstart AND us < wstart + {win_us}
GROUP BY wstart, event_type"""


def q_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT-user estimation via HLL register
    mergeability (operators/sketches.py): the raw events hash into
    per-2h-bucket registers ONCE; each 6h window then merges its 3
    buckets' registers (max rho — associative), so overlapping windows
    never rescan events.  At 100 TB this is THE way to serve 'distinct
    users per sliding window': per-window state is 2^p registers and the
    raw stream is touched once regardless of overlap factor.  The oracle
    computes each window's sketch directly from events — hash equality
    PROVES merge-then-estimate == estimate-of-union."""
    from nexus_forge_spark.operators import sketches as SK

    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).withColumn(
        "bucket_us", F.expr(f"(us div {_HLLW_SLIDE_US}) * {_HLLW_SLIDE_US}")
    )
    regs = SK.hll_sketch(ev, "user_id", ["bucket_us"], precision=7)
    win_regs = regs.withColumn(
        "window_start_us",
        F.explode(
            F.array(
                *[
                    F.col("bucket_us") - F.lit(k * _HLLW_SLIDE_US)
                    for k in range(_SLIDE_WIN_H // _SLIDE_STEP_H)
                ]
            )
        ),
    )
    merged = SK.hll_merge(win_regs, ["window_start_us"])
    est = SK.hll_estimate(merged, ["window_start_us"], precision=7)
    return est.select(
        F.col("window_start_us").cast("long").alias("window_start_us"),
        (F.col("window_start_us") + _HLLW_WIN_US)
        .cast("long")
        .alias("window_end_us"),
        "present_regs",
        "harmonic_num",
        "est_distinct",
    )


def sql_hll_sliding() -> str:
    from nexus_forge_spark.operators import sketches as SK

    n_over = _SLIDE_WIN_H // _SLIDE_STEP_H
    inner = (
        f"SELECT ((epoch_us(ts) // {_HLLW_SLIDE_US}) - k.k) * {_HLLW_SLIDE_US} "
        "AS window_start_us, user_id FROM events CROSS JOIN "
        f"(SELECT unnest(generate_series(0, {n_over - 1})) AS k) k"
    )
    est = SK.sql_hll_estimate(inner, "user_id", ["window_start_us"], precision=7)
    return f"""SELECT CAST(window_start_us AS BIGINT) AS window_start_us,
  CAST(window_start_us + {_HLLW_WIN_US} AS BIGINT) AS window_end_us,
  present_regs, harmonic_num, est_distinct
FROM ({est})"""


def q_ffill_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill imputation over a telemetry stream with deterministic
    dropout: 'error' events lose their reading (masked NULL) and inherit
    the user's most recent healthy value; leading gaps stay NULL.  One
    key shuffle, running `last(ignorenulls)` state — no join."""
    from nexus_forge_spark.operators.events import forward_fill

    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        F.when(F.col("event_type") != "error", F.col("value")).alias("reading"),
    )
    out = forward_fill(ev, "user_id", ["ts_us", "event_id"], ["reading"])
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        "event_type",
        "reading",
        F.col("filled_reading"),
        (F.col("reading").isNull() & F.col("filled_reading").isNotNull()).alias(
            "was_filled"
        ),
    )


def sql_ffill_values() -> str:
    return """WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
    CASE WHEN event_type <> 'error' THEN value END AS reading
  FROM events
)
SELECT event_id, user_id, ts_us, event_type, reading,
  last_value(reading IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_reading,
  reading IS NULL AND last_value(reading IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL AS was_filled
FROM ev"""


def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite CEP (operators/events.py match_event_pattern):
    per-user event histories become one-char-per-event symbol strings and
    the funnel pattern ``V+CP`` (views then a click then a purchase) is
    counted as non-overlapping regex matches — the pattern family where
    Java regex and RE2 agree exactly.  ONE user-key shuffle; symbol counts
    partial-aggregate map-side; the regex runs once per user."""
    from nexus_forge_spark.operators.events import match_event_pattern

    events = load_table(spark, "events", sf_dir)
    return match_event_pattern(events, CEP_PATTERN, CEP_SYMBOLS)


def sql_event_pattern_match() -> str:
    sym_case = " ".join(
        f"WHEN '{etype}' THEN '{s}'" for etype, s in sorted(CEP_SYMBOLS.items())
    )
    sym_counts = ", ".join(
        f"CAST(count(*) FILTER (s = '{s}') AS BIGINT) AS n_{s}"
        for s in sorted(set(CEP_SYMBOLS.values()))
    )
    sym_cols = ", ".join(f"n_{s}" for s in sorted(set(CEP_SYMBOLS.values())))
    return f"""WITH sym AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
    CASE event_type {sym_case} END AS s
  FROM events
  WHERE CASE event_type {sym_case} END IS NOT NULL
),
seqs AS (
  SELECT user_id,
    string_agg(s, '' ORDER BY ts_us, event_id) AS seq,
    {sym_counts}
  FROM sym GROUP BY user_id
)
SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
  CAST(len(regexp_extract_all(seq, '{CEP_PATTERN}')) AS BIGINT) AS n_matches,
  {sym_cols},
  len(regexp_extract_all(seq, '{CEP_PATTERN}')) > 0 AS matched
FROM seqs"""


def q_cusum_event_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point detection (events.py
    cusum_changepoints) on daily event counts per event_type: Page's
    sequential max(0, S+d) recurrence computed as the Lindley reflection
    closed form (running sum minus clamped running min), so the detector
    is pure window functions sharing ONE key exchange.  All BIGINT
    micro-units after the counts."""
    from nexus_forge_spark.operators.events import cusum_changepoints

    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
            .cast("long")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return cusum_changepoints(
        daily,
        "event_type",
        "day",
        "n",
        allowance_micro=CUSUM_ALLOW,
        threshold_micro=CUSUM_THRESH,
    ).select(
        "event_type",
        "day",
        F.col("x").alias("n"),
        "mu_micro",
        "cusum_up_micro",
        "cusum_dn_micro",
        "alarm_up",
        "alarm_dn",
    )


def sql_cusum_event_rates() -> str:
    return f"""WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT)
),
staged AS (
  SELECT event_type, day, n,
    CAST(sum(n) OVER w_all * 1000000 // count(*) OVER w_all AS BIGINT)
      AS mu_micro
  FROM daily
  WINDOW w_all AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
sums AS (
  SELECT *,
    sum(n * 1000000 - (mu_micro + {CUSUM_ALLOW})) OVER w_run AS p_up,
    sum((mu_micro - {CUSUM_ALLOW}) - n * 1000000) OVER w_run AS p_dn
  FROM staged
  WINDOW w_run AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
refl AS (
  SELECT *,
    CAST(p_up - least(0, min(p_up) OVER w_run) AS BIGINT) AS cusum_up_micro,
    CAST(p_dn - least(0, min(p_dn) OVER w_run) AS BIGINT) AS cusum_dn_micro
  FROM sums
  WINDOW w_run AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, n, mu_micro, cusum_up_micro, cusum_dn_micro,
  cusum_up_micro >= {CUSUM_THRESH} AS alarm_up,
  cusum_dn_micro >= {CUSUM_THRESH} AS alarm_dn
FROM refl"""


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING two-sided CUSUM (streaming/stream_pipeline.py
    stream_cusum): daily event rates arrive as three time-ordered file
    micro-batches; per-key detector state is just (running drift sum,
    running prefix-min) per direction because the Lindley reflection
    decomposes over prefixes.  The reference level is the full-series
    integer mean, so the folded outputs must equal the batch operator —
    the oracle IS the batch cusum_event_rates SQL, and hash equality
    proves the prefix decomposition."""
    import os
    import tempfile

    from nexus_forge_spark.streaming.stream_pipeline import stream_cusum

    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
            .cast("long")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    base = tempfile.mkdtemp(prefix="stream_cusum_")
    in_dir = os.path.join(base, "in")
    ref_path = os.path.join(base, "ref")
    daily.groupBy("event_type").agg(
        F.expr("CAST(sum(n) * 1000000 div count(1) AS BIGINT)").alias(
            "mu_micro"
        )
    ).write.parquet(ref_path)
    lo, hi = daily.agg(F.min("day"), F.max("day")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    _write_micro_batches(
        [
            daily.where(F.col("day") <= cut1),
            daily.where((F.col("day") > cut1) & (F.col("day") <= cut2)),
            daily.where(F.col("day") > cut2),
        ],
        in_dir,
    )
    q = stream_cusum(
        spark,
        in_dir,
        "event_type string, day bigint, n bigint",
        os.path.join(base, "state"),
        os.path.join(base, "out"),
        ref_path,
        os.path.join(base, "ckpt"),
        key_col="event_type",
        seq_col="day",
        value_col="n",
        allowance_micro=CUSUM_ALLOW,
        threshold_micro=CUSUM_THRESH,
    )
    q.awaitTermination()
    out = spark.read.parquet(os.path.join(base, "out", "batch_*"))
    return out.select(
        "event_type",
        "day",
        F.col("x").alias("n"),
        "mu_micro",
        "cusum_up_micro",
        "cusum_dn_micro",
        "alarm_up",
        "alarm_dn",
    )


def sql_stream_cusum() -> str:
    # the streamed fold must equal the batch detector exactly
    return sql_cusum_event_rates()


def q_stream_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness audit (streaming/stream_pipeline.py
    stream_lateness_audit): events split into three micro-batches BY
    event_id (not by time, so timestamps interleave and later batches
    genuinely contain events below the running watermark); per batch,
    the count a 6h-delay watermark would drop, in integer ppm.  The
    oracle replays the same split and the global-watermark rule
    (max prior event time - delay) in plain SQL."""
    import os
    import tempfile

    from nexus_forge_spark.streaming.stream_pipeline import stream_lateness_audit

    ev = load_table(spark, "events", sf_dir).select("event_id", "ts")
    base = tempfile.mkdtemp(prefix="stream_late_")
    in_dir = os.path.join(base, "in")
    _write_micro_batches(
        [ev.where(F.col("event_id") % 3 == i) for i in range(3)], in_dir
    )
    q = stream_lateness_audit(
        spark,
        in_dir,
        "event_id bigint, ts timestamp",
        os.path.join(base, "state"),
        os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
        ts_col="ts",
        delay_us=LATE_DELAY_US,
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(base, "out", "batch_*"))


def sql_stream_lateness() -> str:
    return f"""WITH tagged AS (
  SELECT event_id % 3 AS batch_seq, epoch_us(ts) AS us FROM events
),
prior AS (
  SELECT t.batch_seq, max(p.us) AS prior_max
  FROM tagged t LEFT JOIN tagged p ON p.batch_seq < t.batch_seq
  GROUP BY t.batch_seq
),
wm AS (
  SELECT batch_seq, prior_max - {LATE_DELAY_US} AS wm_us FROM prior
)
SELECT CAST(t.batch_seq AS BIGINT) AS batch_seq,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CASE WHEN w.wm_us IS NOT NULL AND t.us < w.wm_us
            THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
  CAST(sum(CASE WHEN w.wm_us IS NOT NULL AND t.us < w.wm_us
            THEN 1 ELSE 0 END) * 1000000
       // greatest(count(*), 1) AS BIGINT) AS late_ppm,
  CAST(min(t.us) AS BIGINT) AS min_ts_us,
  CAST(max(t.us) AS BIGINT) AS max_ts_us,
  CAST(w.wm_us AS BIGINT) AS wm_us
FROM tagged t JOIN wm w USING (batch_seq)
GROUP BY t.batch_seq, w.wm_us"""


def q_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval-algebra census (operators/events.py
    allen_relations): each lineitem is a shipping interval
    [shipdate, shipdate + quantity%15 + 1 days); every pair within an
    order is classified into one of the 13 primitive temporal relations
    — the qualifier the temporal-KG conflict family coarsens to
    overlap-or-not.  All 13 relations are live at sf0.01 (date
    collisions within orders produce the equality classes).  Graded as
    the per-relation census (n_pairs, n_orders)."""
    from nexus_forge_spark.operators.events import allen_relations

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").alias("s"),
        F.date_add(
            "l_shipdate", (F.col("l_quantity").cast("int") % 15 + 1)
        ).alias("e"),
    )
    rel = allen_relations(li, "l_orderkey", "l_linenumber", "s", "e")
    return (
        rel.groupBy("relation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        )
        .orderBy("relation")
    )


def sql_allen_relations_census() -> str:
    from nexus_forge_spark.operators.events import sql_allen_relations

    iv = """SELECT l_orderkey AS k, l_linenumber AS i, l_shipdate AS s,
  l_shipdate + INTERVAL (CAST(l_quantity AS INT) % 15 + 1) DAY AS e
FROM lineitem"""
    inner = sql_allen_relations(iv, key="k")
    return f"""SELECT relation, CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(count(DISTINCT k) AS BIGINT) AS n_orders
FROM ({inner}) GROUP BY relation ORDER BY relation"""


def q_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn curve (operators/events.py km_survival): the
    subject is a (user, event_type) ENGAGEMENT STREAM — per-user total
    activity never lapses in this corpus (all 150 users reach the
    horizon; checked, the degenerate-output trap), but per-surface
    engagement genuinely churns (35/750 streams end >= 7 days before the
    horizon).  Cohort = event_type; survival folded as a Q30 truncating
    product over the per-cohort lifetime histogram — one codegen
    aggregate(), no per-cohort window.  The oracle renders the same fold
    as a sequential recursive CTE, so the hash pins censoring, risk-set
    accounting, and the integer product."""
    from nexus_forge_spark.operators.events import km_survival

    ev = load_table(spark, "events", sf_dir).select(
        F.concat(
            F.col("event_type"), F.lit(":"), F.col("user_id").cast("string")
        ).alias("subject"),
        F.col("event_type").alias("cohort"),
        "ts",
    )
    return km_survival(ev, user_col="subject", cohort_col="cohort")


def sql_km_survival_q() -> str:
    from nexus_forge_spark.operators.events import sql_km_survival

    return sql_km_survival(
        "SELECT event_type || ':' || CAST(user_id AS VARCHAR) AS u, "
        "event_type AS cohort, ts FROM events"
    )


_WM_TARGET_PPMS = [0, 2000, 20000, 200000]


def q_watermark_delay_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production watermark configuration — the INVERSE of the lateness
    audit (stream_pipeline.py min_watermark_delay): same three-way
    batch-by-event_id split as stream_lateness, but instead of pricing a
    given delay it derives, per target shed budget, the MINIMAL delay
    whose shed stays within budget — the (k+1)-th largest required
    delay, an exact order statistic via the P28 exchange-free parallel
    rank.  target 0 ppm returns the delay that sheds nothing (the max
    required delay); looser budgets return strictly smaller delays."""
    from nexus_forge_spark.streaming.stream_pipeline import min_watermark_delay

    ev = load_table(spark, "events", sf_dir).select(
        (F.col("event_id") % 3).alias("b"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return min_watermark_delay(ev, "b", "us", _WM_TARGET_PPMS)


def sql_watermark_delay_plan() -> str:
    values = ",".join(f"({p})" for p in _WM_TARGET_PPMS)
    return f"""WITH tagged AS (
  SELECT event_id % 3 AS b, epoch_us(ts) AS us FROM events
),
bmax AS (SELECT b, max(us) AS m FROM tagged GROUP BY b),
prior AS (
  SELECT t.b, max(p.m) AS pm
  FROM bmax t LEFT JOIN bmax p ON p.b < t.b GROUP BY t.b
),
ev AS (SELECT pr.pm - t.us AS d FROM tagged t JOIN prior pr ON t.b = pr.b),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc
  FROM ev
),
cand AS (
  SELECT d, row_number() OVER (ORDER BY d DESC) AS rn FROM ev WHERE d > 0
),
tgt AS (SELECT * FROM (VALUES {values}) t(target_ppm)),
pick AS (
  SELECT t.target_ppm, s.n, s.nc, coalesce(c.d, 0) AS delay_us
  FROM tgt t CROSS JOIN stats s
  LEFT JOIN cand c ON c.rn = s.n * t.target_ppm // 1000000 + 1
),
shed AS (
  SELECT p.target_ppm,
    sum(CASE WHEN c.d > p.delay_us THEN 1 ELSE 0 END) AS shed_events
  FROM pick p LEFT JOIN cand c ON 1 = 1
  GROUP BY p.target_ppm
)
SELECT CAST(p.target_ppm AS BIGINT) AS target_ppm,
  CAST(p.delay_us AS BIGINT) AS delay_us,
  CAST(coalesce(s.shed_events, 0) AS BIGINT) AS shed_events,
  CAST(coalesce(s.shed_events, 0) * 1000000 // greatest(p.n, 1) AS BIGINT)
    AS shed_ppm,
  p.n AS n_events, p.nc AS n_candidates
FROM pick p LEFT JOIN shed s ON p.target_ppm = s.target_ppm
ORDER BY p.target_ppm"""


def q_stream_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quantile monitoring (stream_pipeline.py
    stream_hdr_sketch): doc lengths arrive as three file micro-batches;
    the per-batch fold is hdr_merge(state, batch sketch) — bucket counts
    are additive, so state stays bucket-table sized forever.  The final
    snapshot's p50/p90/p99 per source are graded against the DIRECT
    whole-data sketch oracle (sql_hdr_quantiles): hash equality proves
    fold == batch regardless of batch boundaries."""
    import os
    import tempfile

    from nexus_forge_spark.operators.sketches import hdr_quantiles
    from nexus_forge_spark.streaming.stream_pipeline import (
        latest_snapshot,
        stream_hdr_sketch,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    base = tempfile.mkdtemp(prefix="stream_hdr_")
    in_dir = os.path.join(base, "in")
    _write_micro_batches(
        [docs.where(F.col("doc_id") % 3 == i) for i in range(3)], in_dir
    )
    state_dir = os.path.join(base, "state")
    q = stream_hdr_sketch(
        spark,
        in_dir,
        "doc_id long, source string, n_chars long",
        state_dir,
        os.path.join(base, "ckpt"),
        "n_chars",
        ["source"],
    )
    q.awaitTermination()
    final = latest_snapshot(spark, state_dir)
    return hdr_quantiles(final, HDR_QS_PPM, ["source"]).select(
        "source",
        F.col("q_ppm").cast("long").alias("q_ppm"),
        F.col("est").cast("long").alias("est"),
    )


def q_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting earliest-arrival reachability (operators/graph.py
    earliest_arrival) over the co-purchase graph with order-date
    timestamps: from each seed customer, the earliest time every
    part/customer is reachable along NON-DECREASING-timestamp paths —
    the temporal diffusion question static reachability answers
    wrongly.  Label-correcting min rounds, all epoch-micros BIGINT (no
    calendar math, no TZ hazard)."""
    from nexus_forge_spark.operators.graph import earliest_arrival

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    half = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"),
            (F.col("l_partkey") + PART_NODE_OFFSET).alias("p"),
        )
        .agg(F.min(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("ts"))
    )
    edges = half.select(
        F.col("c").alias("src"), F.col("p").alias("dst"), F.col("ts").alias("ts_micros")
    ).unionByName(
        half.select(
            F.col("p").alias("src"), F.col("c").alias("dst"), F.col("ts").alias("ts_micros")
        )
    )
    seeds = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_custkey") % _TR_SEED_MOD == 1)
        .select(F.col("c_custkey").alias("node"))
    )
    return earliest_arrival(edges, seeds, max_hops=_TR_HOPS).select(
        F.col("seed").cast("long").alias("seed"),
        F.col("node").cast("long").alias("node"),
        "arrival_micros",
        "hops",
    )


def sql_temporal_reachability() -> str:
    from nexus_forge_spark.operators.graph import sql_earliest_arrival

    half = f"""SELECT o.o_custkey AS c, {PART_NODE_OFFSET} + l.l_partkey AS p,
       min(epoch_us(o.o_orderdate)) AS ts
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_custkey, {PART_NODE_OFFSET} + l.l_partkey"""
    edges = (
        f"SELECT c AS src, p AS dst, ts AS ts_micros FROM ({half}) "
        f"UNION ALL SELECT p, c, ts FROM ({half})"
    )
    seeds = f"SELECT c_custkey AS node FROM customer WHERE c_custkey % {_TR_SEED_MOD} = 1"
    return sql_earliest_arrival(edges, seeds, max_hops=_TR_HOPS)


def q_supplier_busy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal COALESCE (operators/history.py interval_coalesce,
    Böhlen-Snodgrass-Soo): each shipment keeps its supplier busy for a
    7-day half-open window from shipdate; overlapping/touching runs
    merge into maximal disjoint busy windows per supplier — the
    normalization every interval join needs first.  One key shuffle,
    both windows share one Exchange+Sort."""
    from nexus_forge_spark.operators.history import interval_coalesce

    week_us = 7 * 86_400_000_000
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey",
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("start_us"),
        (
            F.unix_micros(F.col("l_shipdate").cast("timestamp")) + F.lit(week_us)
        ).alias("end_us"),
    )
    return interval_coalesce(li.distinct(), ["l_suppkey"])


def sql_supplier_busy_windows() -> str:
    from nexus_forge_spark.operators.history import sql_interval_coalesce

    src = """SELECT DISTINCT l_suppkey,
       epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS start_us,
       epoch_us(CAST(l_shipdate AS TIMESTAMP)) + 604800000000 AS end_us
FROM lineitem"""
    return sql_interval_coalesce(src, ["l_suppkey"])


def q_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-3 user-journey paths (operators/events.py
    journey_trigrams): contiguous event-type trigrams within a
    30-minute step gap, with occurrence and distinct-user counts —
    the Sankey table; one user-partitioned window over epoch-micros
    (no calendar function, no TZ hazard) and one path aggregate."""
    from nexus_forge_spark.operators.events import journey_trigrams

    return journey_trigrams(load_table(spark, "events", sf_dir))


def sql_journey_paths() -> str:
    from nexus_forge_spark.operators.events import sql_journey_trigrams

    return sql_journey_trigrams(
        "SELECT event_id, ts, user_id, event_type FROM events"
    )


def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU/stickiness (operators/events.py
    active_user_metrics) over the events stream: integer epoch-day
    buckets (no calendar function, no TZ hazard), EXACT trailing
    distinct-user windows via the bounded day-spine range join."""
    from nexus_forge_spark.operators.events import active_user_metrics

    return active_user_metrics(load_table(spark, "events", sf_dir))


def sql_active_users() -> str:
    from nexus_forge_spark.operators.events import sql_active_user_metrics

    return sql_active_user_metrics("SELECT user_id, ts FROM events")


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (operators/events.py rfm_segments): per-user
    recency/frequency/monetary terciles at EXACT percentile cuts (the
    two-phase ranked pass, integer rank arithmetic), segment code
    r*100+f*10+m — the marketing triage table, engine-exact."""
    from nexus_forge_spark.operators.events import rfm_segments

    return rfm_segments(load_table(spark, "events", sf_dir))


def sql_rfm_segments_q() -> str:
    from nexus_forge_spark.operators.events import sql_rfm_segments

    return sql_rfm_segments("SELECT user_id, ts, value FROM events")


def q_attribution_credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution (operators/events.py
    position_attribution): 40/20/40 credit over each purchase's
    7-day touch path, middles split by LARGEST-REMAINDER integer
    seats so every conversion's credits sum to exactly 1e6 ppm — the
    marketing-credit table, engine-exact."""
    from nexus_forge_spark.operators.events import position_attribution

    return position_attribution(
        load_table(spark, "events", sf_dir), conversion_type="purchase"
    )


def sql_attribution_credits() -> str:
    from nexus_forge_spark.operators.events import sql_position_attribution

    return sql_position_attribution(
        "SELECT event_id, ts, user_id, event_type FROM events",
        conversion_type="purchase",
    )


def q_rfm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental RFM maintenance (operators/events.py rfm_state /
    fold_rfm_state): three event_id%3 batches folded in a shuffled
    order, graded against the FULL-recompute oracle — hash equality
    IS fold==recompute, the repo's incremental-family invariant (the
    per-user state is max/sum/sum, associative+commutative, so any
    arrival order reproduces the batch answer)."""
    from nexus_forge_spark.operators.events import fold_rfm_state, rfm_state

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "value"
    )
    state = rfm_state(ev.where(F.col("event_id") % 3 == 1))
    for b in (2, 0):
        state = fold_rfm_state(
            state, rfm_state(ev.where(F.col("event_id") % 3 == b))
        ).localCheckpoint(eager=True)
    return state


def sql_rfm_incremental() -> str:
    return """SELECT user_id AS user,
       CAST(max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS BIGINT)
         AS r_day,
       CAST(count(*) AS BIGINT) AS f_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
FROM events GROUP BY user_id"""


def q_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavioral subsequences (operators/events.py
    sequential_patterns): length-2/3 ordered patterns with gaps, counted
    by greedy-earliest witnesses so the plan never goes cubic in
    events-per-user."""
    from nexus_forge_spark.operators.events import sequential_patterns

    return sequential_patterns(load_table(spark, "events", sf_dir))


def sql_seq_patterns() -> str:
    from nexus_forge_spark.operators.events import sql_sequential_patterns

    return sql_sequential_patterns(
        "SELECT user_id, event_type, ts, event_id FROM events"
    )


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven attribution by Markov removal effect
    (operators/events.py markov_attribution): the drop in chain
    conversion probability when each channel is forced non-converting,
    largest-remainder credits summing exactly to 1e6."""
    from nexus_forge_spark.operators.events import markov_attribution

    return markov_attribution(load_table(spark, "events", sf_dir))


def sql_markov_attribution_q() -> str:
    from nexus_forge_spark.operators.events import sql_markov_attribution

    return sql_markov_attribution(
        "SELECT user_id, event_type, ts, event_id FROM events"
    )
