"""Store CRUD/versioning semantics (demo_store.feature behavioral contract)
and the Filter DSL."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nexus_forge_spark.operators.search import apply_filters, paths
from nexus_forge_spark.store import ParquetStore
from nexus_forge_spark.store import parquet_store


@pytest.fixture()
def store(spark):
    d = tempfile.mkdtemp()
    yield ParquetStore(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def _people(spark, rows):
    return spark.createDataFrame(rows, "id string, name string, age long")


def test_register_and_conflict(spark, store):
    r1 = store.register(_people(spark, [("p1", "Jane", 40), ("p2", "John", 30)]))
    assert r1 == {"action": "register", "succeeded": 2, "failed": 0}
    # re-register p1 -> per-row conflict, p3 succeeds
    r2 = store.register(_people(spark, [("p1", "Dup", 1), ("p3", "Ada", 36)]))
    assert r2["succeeded"] == 1 and r2["failed"] == 1
    cur = {r.id: r for r in store.retrieve().collect()}
    assert set(cur) == {"p1", "p2", "p3"}
    assert cur["p1"].name == "Jane"  # conflict did not overwrite
    assert cur["p1"]._rev == 1


def test_update_bumps_rev_and_time_travel(spark, store):
    store.register(_people(spark, [("p1", "Jane", 40)]))
    v1 = store.current_version()
    r = store.update(_people(spark, [("p1", "Jane Doe", 41), ("missing", "X", 0)]))
    assert r["succeeded"] == 1 and r["failed"] == 1
    now = store.retrieve("p1").collect()[0]
    assert now.name == "Jane Doe" and now._rev == 2
    # time travel to the pre-update snapshot
    old = store.retrieve("p1", version=v1).collect()[0]
    assert old.name == "Jane" and old._rev == 1


def test_deprecate_and_search_excludes(spark, store):
    store.register(_people(spark, [("p1", "Jane", 40), ("p2", "John", 30)]))
    r = store.deprecate(["p2"])
    assert r["succeeded"] == 1
    ids = {x.id for x in store.search().collect()}
    assert ids == {"p1"}
    ids_all = {x.id for x in store.search(deprecated=True).collect()}
    assert ids_all == {"p1", "p2"}
    p2 = store.retrieve("p2").collect()[0]
    assert p2._deprecated is True and p2._rev == 2


def test_tag_retrieval(spark, store):
    store.register(_people(spark, [("p1", "Jane", 40)]))
    store.tag("initial")
    store.update(_people(spark, [("p1", "Jane II", 41)]))
    tagged = store.retrieve("p1", tag="initial").collect()[0]
    assert tagged.name == "Jane" and tagged._rev == 1


def test_freeze_rewrites_ids(spark, store):
    store.register(_people(spark, [("p1", "Jane", 40)]))
    store.update(_people(spark, [("p1", "Jane", 41)]))
    refs = spark.createDataFrame([("p1",), ("unknown",)], "id string")
    out = {r.id for r in store.freeze(refs).collect()}
    assert out == {"p1?_version=2", "unknown"}


def _read_shape(df) -> tuple[bool, bool]:
    """(Window in the optimized plan, Exchange in the physical plan)."""
    qe = df._jdf.queryExecution()
    return "Window" in qe.optimizedPlan().toString(), "Exchange" in qe.executedPlan().toString()


def test_append_only_snapshots_read_without_window(spark, store):
    """register deltas extend the snapshot with disjoint ids, so the read is
    a plain scan; only a live update/deprecate delta needs the window."""
    for i in range(3):
        store.register(_people(spark, [(f"p{i}", "N", i)]))
    assert _read_shape(store.retrieve()) == (False, False)
    store.compact()
    store.register(_people(spark, [("p3", "N", 3)]))
    assert _read_shape(store.retrieve()) == (False, False)
    v_append = store.current_version()
    store.update(_people(spark, [("p0", "M", 9)]))
    assert _read_shape(store.retrieve()) == (True, True)
    assert _read_shape(store.retrieve(version=v_append)) == (False, False)
    store.register(_people(spark, [("p4", "N", 4)]))
    assert _read_shape(store.retrieve())[0]  # the update is still live
    store.compact()
    store.deprecate(["p1"])
    assert _read_shape(store.retrieve())[0]


@pytest.mark.parametrize("key", ["schema", "append"])
def test_log_entry_missing_a_key_raises(spark, store, key):
    """A hand-written log entry without ``schema`` or ``append`` is refused
    with a StoreError naming the delta and the key, not read some other way."""
    store.register(_people(spark, [("p1", "Jane", 40)]))
    store.register(_people(spark, [("p2", "John", 30)]))
    path = os.path.join(store.base_dir, "meta.json")
    with open(path, encoding="utf-8") as f:
        meta = json.load(f)
    del meta["deltas"][1][key]
    with open(path, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    with pytest.raises(parquet_store.StoreError, match=f"delta d2 has no '{key}'"):
        store.retrieve()


def test_duplicate_ids_in_one_batch_stay_while_append_only(spark, store):
    """Documented precondition breach: every copy of a repeated id is kept
    by every append-only snapshot (not one arbitrary copy)."""
    store.register(_people(spark, [("a", "x", 1), ("a", "y", 2)]))
    store.register(_people(spark, [("b", "z", 3)]))
    for v in (1, 2):
        a_rows = sorted(
            (r.name, r.age) for r in store.retrieve("a", version=v).collect()
        )
        assert a_rows == [("x", 1), ("y", 2)], f"v{v}"


def test_failed_meta_commit_keeps_previous_snapshot(spark, store, monkeypatch):
    store.register(_people(spark, [("p1", "Jane", 40)]))

    def boom(*_a, **_k):
        raise OSError("disk full")

    monkeypatch.setattr(parquet_store.json, "dump", boom)
    with pytest.raises(OSError, match="disk full"):
        store.register(_people(spark, [("p2", "John", 30)]))
    monkeypatch.undo()
    assert store.current_version() == 1
    assert [tuple(r) for r in store.retrieve().collect()] == [("p1", "Jane", 40, 1, False)]


def _jobs_launched(spark, fn) -> int:
    import uuid

    sc = spark.sparkContext
    group = f"store-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_reads_launch_no_job(spark, store):
    """The log carries each delta's schema, so building a read runs no
    footer-inference job, on the append-only and on the merge-on-read
    shape."""
    store.register(_people(spark, [("p1", "Jane", 40)]))
    store.register(_people(spark, [("p2", "John", 30)]))
    for _ in range(2):
        assert _jobs_launched(spark, lambda: store.retrieve(["p1"])) == 0
        assert _jobs_launched(spark, lambda: store.search(paths().age > 35)) == 0
        # register's read of the existing ids
        assert _jobs_launched(spark, lambda: store._read().select(store.id_col)) == 0
        store.update(_people(spark, [("p1", "Jane", 41)]))


def _evolve(spark, store):
    """Eleven register deltas: d2 adds a top-level column ``age``, d10
    (without ``age``) a nested struct field and a top-level ``score``.
    Spark lists d10/ before d2/, which puts ``score`` before ``age`` in
    the merged schema."""
    for i in range(1, 12):
        cols = ["id string", "name string"]
        row = [f"p{i}", f"n{i}"]
        if i >= 2 and i != 10:
            cols.append("age long")
            row.append(i)
        if i == 10:
            cols += ["info struct<a:long,b:string>", "score double"]
            row += [(i, "b"), 0.5]
        else:
            cols.append("info struct<a:long>")
            row.append((i,))
        store.register(spark.createDataFrame([tuple(row)], ", ".join(cols)))


def _inferred(spark, store):
    meta = store._meta()
    paths = [store._delta_dir(d["seq"]) for d in meta["deltas"]]
    return spark.read.option("mergeSchema", "true").parquet(*paths).drop("_seq")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_logged_schemas_merge_like_merge_schema(spark, store):
    _evolve(spark, store)
    want = _inferred(spark, store)
    got = store._read()
    assert got.schema == want.schema
    assert got.columns.index("score") < got.columns.index("age")
    assert got.schema["info"].dataType.names == ["a", "b"]
    assert _rows(got) == _rows(want)
    assert [tuple(r.info) for r in store.retrieve(["p10", "p3"]).orderBy("id").collect()] == [
        (10, "b"), (3, None)
    ]


def test_logged_schema_conflict_raises(spark, store):
    store.register(spark.createDataFrame([("p1", 1)], "id string, n int"))
    store.register(spark.createDataFrame([("p2", "x")], "id string, n string"))
    with pytest.raises(parquet_store.StoreError, match="cannot merge delta schemas"):
        store.retrieve()


def test_filter_dsl(spark):
    df = spark.createDataFrame(
        [("b1", "Building", 40.5, 3.2), ("b2", "Building", 39.0, 5.5), ("p1", "Person", 0.0, 0.0)],
        "id string, type string, latitude double, longitude double",
    )
    p = paths()
    out = apply_filters(df, p.type == "Building", p.latitude > 40)
    assert [r.id for r in out.collect()] == ["b1"]
    # dict sugar + ne + limit/offset
    out2 = apply_filters(df, {"type": "Building"}, p.id != "b1")
    assert [r.id for r in out2.collect()] == ["b2"]
    assert apply_filters(df, limit=2).count() == 2
    assert apply_filters(df, limit=None, offset=1).count() == 2


def test_filter_dsl_nested_paths(spark):
    df = spark.createDataFrame(
        [("b1", (40.5, 3.2)), ("b2", (39.0, 5.5))],
        "id string, geo struct<latitude:double, longitude:double>",
    )
    p = paths()
    out = apply_filters(df, p.geo.latitude > 40)
    assert [r.id for r in out.collect()] == ["b1"]
