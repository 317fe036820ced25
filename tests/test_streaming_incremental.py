"""Streaming incremental canonicalization: micro-batch folds of sameAs
edges must converge to exactly the batch connected-components result,
independent of how edges are split across batches."""

from __future__ import annotations

import os

from nexus_forge_spark.operators.canonicalize import connected_components
from nexus_forge_spark.streaming.stream_pipeline import (
    snapshot_path,
    stream_incremental_canonical,
)


def test_stream_folds_match_full_recompute(spark, tmp_path):
    in_dir = str(tmp_path / "edges")
    batches = [
        [(1, 2), (3, 4), (10, 11)],
        [(2, 3), (20, 21)],  # merges {1,2} with {3,4}
        [(11, 20), (30, 30)],  # chains 10-11-20-21; isolated self-loop
    ]
    # one appended part file per batch -> one micro-batch per file
    # (maxFilesPerTrigger=1)
    for edges in batches:
        spark.createDataFrame(edges, "a long, b long").coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    mapping_dir = str(tmp_path / "mapping")
    q = stream_incremental_canonical(
        spark,
        in_dir,
        mapping_dir,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    snaps = sorted(d for d in os.listdir(mapping_dir) if d.startswith("snap_"))
    assert len(snaps) >= 2  # genuinely incremental: several micro-batches
    final = spark.read.parquet(os.path.join(mapping_dir, snaps[-1]))
    got = {(r["entity_id"], r["canonical_id"]) for r in final.collect()}

    all_edges = [e for b in batches for e in b]
    edges_df = spark.createDataFrame(all_edges, "a long, b long")
    # incremental folds keep every delta endpoint (a self-loop-only node
    # stays a singleton component); give the batch recompute the same
    # node universe for an apples-to-apples comparison
    nodes = (
        edges_df.select(edges_df["a"].alias("entity_id"))
        .unionByName(edges_df.select(edges_df["b"].alias("entity_id")))
        .distinct()
    )
    full = connected_components(edges_df, nodes)
    want = {(r["entity_id"], r["canonical_id"]) for r in full.collect()}
    assert got == want
    # everything 1..4 and 10,11,20,21 collapsed as expected
    roots = dict(got)
    assert roots[4] == 1 and roots[21] == 10 and roots[30] == 30


def test_fold_batch_retry_reads_earlier_snapshot(spark, tmp_path):
    """A retry of batch N must fold from snap_{N-1}, never from its own
    (possibly half-written) snap_N — and must converge to the same
    mapping (exactly-once in effect)."""
    from nexus_forge_spark.streaming.stream_pipeline import fold_edge_batch

    mapping_dir = str(tmp_path / "m")
    b0 = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
    b1 = spark.createDataFrame([(2, 3)], "a long, b long")
    fold_edge_batch(b0, 0, mapping_dir)
    fold_edge_batch(b1, 1, mapping_dir)
    first = {
        (r["entity_id"], r["canonical_id"])
        for r in spark.read.parquet(os.path.join(mapping_dir, "snap_0000000001")).collect()
    }
    # retry batch 1: snap_0000000001 already exists and MUST NOT be read
    # as prev (self-overwrite); the re-fold from snap_0 must reproduce it
    fold_edge_batch(b1, 1, mapping_dir)
    again = {
        (r["entity_id"], r["canonical_id"])
        for r in spark.read.parquet(os.path.join(mapping_dir, "snap_0000000001")).collect()
    }
    assert first == again
    assert {c for _, c in again} == {1}  # 1-2-3-4 all one component


def test_stream_stream_interval_join_boundaries(spark, tmp_path):
    """The watermarked stream-stream interval join emits exactly the
    batch-join pairs; window boundaries are inclusive at both ends of
    [purchase - 1h, purchase]."""
    from datetime import datetime

    from nexus_forge_spark.streaming.stream_pipeline import (
        streaming_view_purchase_join,
    )

    rows = [
        # purchase at 13:00; views at exactly -60min (IN), -61min (OUT),
        # 0min (IN, same instant), +1min (OUT, after purchase)
        (1, datetime(2024, 1, 1, 13, 0, 0), 10, "purchase", 5.0, ""),
        (2, datetime(2024, 1, 1, 12, 0, 0), 10, "view", 0.0, ""),
        (3, datetime(2024, 1, 1, 11, 59, 0), 10, "view", 0.0, ""),
        (4, datetime(2024, 1, 1, 13, 0, 0), 10, "view", 0.0, ""),
        (5, datetime(2024, 1, 1, 13, 1, 0), 10, "view", 0.0, ""),
        # different user inside the window -> no match
        (6, datetime(2024, 1, 1, 12, 30, 0), 11, "view", 0.0, ""),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    inp = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(inp)

    ev = spark.readStream.schema(schema).parquet(inp)
    joined = streaming_view_purchase_join(
        ev.where("event_type = 'view'"),
        ev.where("event_type = 'purchase'"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.view_id, r.purchase_id)
           for r in spark.table("ssj_test").collect()}
    assert got == {(2, 1), (4, 1)}


def test_fold_hdr_batch_retry_and_equals_direct(spark, tmp_path):
    from nexus_forge_spark.operators.sketches import hdr_sketch
    from nexus_forge_spark.streaming.stream_pipeline import fold_hdr_batch

    rows = [(i, "s%d" % (i % 2), (i * 13) % 500 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, v long")
    state = str(tmp_path / "state")
    b0 = df.where("doc_id % 3 = 0")
    b1 = df.where("doc_id % 3 = 1")
    b2 = df.where("doc_id % 3 = 2")
    fold_hdr_batch(b0, 0, state, "v", ["source"])
    fold_hdr_batch(b1, 1, state, "v", ["source"])
    # RETRY batch 1: must refold from snap_0 and overwrite snap_1 with the
    # identical sketch (the fold_scd2/fold_cusum retry contract)
    snap1 = sorted(
        tuple(r) for r in spark.read.parquet(snapshot_path(state, 1)).collect()
    )
    fold_hdr_batch(b1, 1, state, "v", ["source"])
    snap1b = sorted(
        tuple(r) for r in spark.read.parquet(snapshot_path(state, 1)).collect()
    )
    assert snap1 == snap1b
    fold_hdr_batch(b2, 2, state, "v", ["source"])
    final = sorted(
        tuple(r) for r in spark.read.parquet(snapshot_path(state, 2)).collect()
    )
    direct = sorted(tuple(r) for r in hdr_sketch(df, "v", ["source"]).collect())
    assert final == direct


def test_fold_hdr_batch_chain_past_ten_batches(spark, tmp_path):
    """Batch ids of two digits still fold from their predecessor: after
    twelve folds the newest snapshot, by name as a reader sorts them and
    by batch id, is the sketch of all twelve batches."""
    from nexus_forge_spark.operators.sketches import hdr_sketch
    from nexus_forge_spark.streaming.stream_pipeline import fold_hdr_batch

    rows = [(i, "s%d" % (i % 2), (i * 13) % 500 + 1) for i in range(1200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, v long")
    state = str(tmp_path / "state")
    for b in range(12):
        fold_hdr_batch(df.where(f"doc_id div 100 = {b}"), b, state, "v", ["source"])
    direct = sorted(tuple(r) for r in hdr_sketch(df, "v", ["source"]).collect())
    by_id = max(os.listdir(state), key=lambda d: int(d[5:]))
    by_name = sorted(os.listdir(state))[-1]
    for name in (by_id, by_name):
        snap = sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(state, name)).collect()
        )
        assert snap == direct, name
