"""Randomized store-lifecycle differential: sequences of register / update /
deprecate / compact / tag operations applied to the ParquetStore AND to a plain-Python
model of the reference's DemoStore semantics (demo_store.py:141-326: archive
per version, per-row conflicts, rev bumps, soft-delete).  After every step
the store's full state and each archived snapshot must match the model.
Sequences cross both read shapes: append-only snapshots (plain scan) and
snapshots with a live update/deprecate delta (merge-on-read)."""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest

from nexus_forge_spark.store import ParquetStore

IDS = [f"p{i}" for i in range(8)]


class ModelStore:
    """Driver-side model: version -> {id: (name, age, rev, deprecated)}."""

    def __init__(self):
        self.versions: list[dict] = []  # snapshot per committed version
        self.tags: dict[str, int] = {}

    @property
    def cur(self) -> dict:
        return self.versions[-1] if self.versions else {}

    def _commit(self, state: dict):
        self.versions.append(state)

    def register(self, rows):
        state = dict(self.cur)
        ok = 0
        for rid, name, age in rows:
            if rid not in state:
                state[rid] = (name, age, 1, False)
                ok += 1
        if ok or not self.versions:
            self._commit(state)
        return ok

    def update(self, rows):
        state = dict(self.cur)
        ok = 0
        for rid, name, age in rows:
            if rid in state:
                _n, _a, rev, dep = state[rid]
                state[rid] = (name, age, rev + 1, dep)
                ok += 1
        self._commit(state)
        return ok

    def deprecate(self, ids):
        state = dict(self.cur)
        ok = 0
        for rid in ids:
            if rid in state:
                n, a, rev, dep = state[rid]
                if not dep:
                    ok += 1
                state[rid] = (n, a, rev + 1, True)
        self._commit(state)
        return ok

    def compact(self):
        self._commit(dict(self.cur))

    def tag(self, name):
        self.tags[name] = len(self.versions)


def _state_of(df) -> dict:
    return {
        r["id"]: (r["name"], r["age"], r["_rev"], r["_deprecated"]) for r in df.collect()
    }


@pytest.mark.parametrize("seed", [5, 23, 11])
def test_random_lifecycle_matches_model(spark, seed):
    rnd = random.Random(seed)
    d = tempfile.mkdtemp()
    try:
        store = ParquetStore(spark, d)
        model = ModelStore()

        def rows(k):
            return [
                (rnd.choice(IDS), f"name{rnd.randint(0, 9)}", rnd.randint(20, 60))
                for _ in range(k)
            ]

        def df_of(py_rows):
            # model applies per-row in order; the store is set-oriented, so
            # feed it one row per id (last wins) to keep both well-defined
            uniq = {}
            for r in py_rows:
                uniq[r[0]] = r
            return spark.createDataFrame(list(uniq.values()), "id string, name string, age long")

        # first op must be a register (store starts empty)
        first = rows(3)
        store.register(df_of(first))
        model.register(list({r[0]: r for r in first}.values()))

        for step in range(8):
            op = rnd.choice(["register", "update", "deprecate", "compact", "tag"])
            if op == "register":
                batch = rows(rnd.randint(1, 3))
                res = store.register(df_of(batch))
                ok = model.register(list({r[0]: r for r in batch}.values()))
                assert res["succeeded"] == ok, f"step {step} register"
            elif op == "update":
                batch = rows(rnd.randint(1, 3))
                res = store.update(df_of(batch))
                ok = model.update(list({r[0]: r for r in batch}.values()))
                assert res["succeeded"] == ok, f"step {step} update"
            elif op == "deprecate":
                ids = sorted({rnd.choice(IDS) for _ in range(2)})
                res = store.deprecate(ids)
                ok = model.deprecate(ids)
                assert res["succeeded"] == ok, f"step {step} deprecate"
            elif op == "compact":
                store.compact()
                model.compact()
            else:
                name = f"t{step}"
                store.tag(name)
                model.tag(name)
            assert _state_of(store.retrieve()) == model.cur, f"step {step} state"

        # every archived version + every tag must time-travel identically
        for v in range(1, len(model.versions) + 1):
            assert _state_of(store.retrieve(version=v)) == model.versions[v - 1], f"v{v}"
        for name, v in model.tags.items():
            assert _state_of(store.retrieve(tag=name)) == model.versions[v - 1], name
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_preserves_state_and_time_travel(spark):
    """compact() materializes a base delta; current state, later mutations,
    and pre-compaction time travel all stay identical."""
    tmp = tempfile.mkdtemp()
    try:
        store = ParquetStore(spark, f"{tmp}/s")
        df = lambda rows: spark.createDataFrame(rows, "id string, name string, age long")
        store.register(df([("a", "n1", 1), ("b", "n2", 2)]))      # v1
        store.update(df([("a", "n1b", 10)]))                       # v2
        pre = _state_of(store.retrieve())
        v_before = store.current_version()
        store.compact()                                            # v3 (base)
        assert _state_of(store.retrieve()) == pre
        assert _state_of(store.retrieve(version=v_before)) == pre
        # v1 time travel still resolves from pre-base deltas
        assert set(_state_of(store.retrieve(version=1))) == {"a", "b"}
        assert _state_of(store.retrieve(version=1))["a"][2] == 1  # rev 1
        # mutations after the base keep working
        store.deprecate(["b"])
        st = _state_of(store.retrieve())
        assert st["b"][3] is True and st["a"][0] == "n1b"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_auto_compaction_bounds_delta_scan(spark):
    """With auto_compact_deltas=3, every third non-base commit triggers a
    base rewrite: reads stay identical, time-travel to pre-compaction
    versions still resolves, and the merge-on-read scan never covers more
    than threshold+1 deltas."""
    tmp = tempfile.mkdtemp()
    try:
        store = ParquetStore(spark, f"{tmp}/s", auto_compact_deltas=3)
        df = lambda rows: spark.createDataFrame(rows, "id string, name string, age long")
        store.register(df([("a", "n", 1), ("b", "n", 2)]))   # d1
        store.update(df([("a", "n2", 3)]))                    # d2
        store.update(df([("b", "n3", 4)]))                    # d3 -> base d4
        meta = store._meta()
        assert [d["seq"] for d in meta["deltas"] if d["full"]] == [4]
        st = _state_of(store.retrieve())
        assert st["a"][0] == "n2" and st["b"][0] == "n3"
        # pre-compaction snapshot resolves from the raw deltas
        assert _state_of(store.retrieve(version=2))["b"][0] == "n"
        # further mutations count against the NEW base
        store.update(df([("a", "n4", 5)]))                    # d5
        live = [d for d in store._meta()["deltas"] if d["seq"] >= 4]
        assert len(live) <= 4
        assert _state_of(store.retrieve())["a"][0] == "n4"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
