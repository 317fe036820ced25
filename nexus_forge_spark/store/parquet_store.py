"""Versioned table store: the reference's Store CRUD as an append-only
delta log with a merge-on-read view (Iceberg semantics modelled locally).

Reference surface (kgforge/core/archetypes/store.py:38-311, DemoStore
in-memory semantics at specializations/stores/demo_store.py:141-326):

| reference              | here                                              |
|---|---|
| register (one/many)    | delta append; per-row conflict report (RegistrationError if id exists — demo_store.py:224-236) |
| update / _update_many  | MERGE by id -> delta of changed rows, _rev bump (demo_store.py:244-262) |
| deprecate              | delta of flagged rows, rev bump (demo_store.py:272-287) |
| tag                    | name -> snapshot seq (demo_store.py:289-297)      |
| retrieve(id, version)  | point lookup, versioned via log time-travel (forge.py:626-645) |
| search(*filters)       | Filter DSL -> df.filter (operators/search.py)     |
| freeze                 | id -> versioned id rewrite (store.py:283-311)     |

Scale design (the round-1 store rewrote the FULL table per mutation —
O(table); this one is Iceberg-honest):

* every mutation writes ONLY its affected rows as delta ``d<seq>`` —
  mutation cost is O(batch), independent of table size;
* the log (``meta.json``) records each delta's schema, so a snapshot
  read scans with their merge (the schema ``mergeSchema`` would infer)
  and runs no footer-inference job;
* snapshot N reads the deltas with seq<=N since the last compaction.
  While every one of them after the first is a ``register`` append (the
  log records ``append`` per delta), their ids are disjoint by
  construction, so the snapshot is a plain scan of their union — an
  Iceberg append snapshot, with no deletes to resolve.  Only when an
  update/deprecate delta is live does the read resolve merge-on-read:
  latest row per id wins (one row_number window on id — exactly
  Iceberg's MOR equality-delete resolution);
* ``compact()`` materializes the resolved view as a full base delta
  (Iceberg rewrite_data_files), bounding read amplification; callers run
  it on whatever cadence fits their mutation rate;
* action-report counts come from ``df.observe`` metrics collected during
  the delta WRITE job — no second count() pass over anything;
* on a real cluster the same API binds to Iceberg ``MERGE INTO`` /
  snapshot refs; the log/manifest here is what its metadata layer does.

Iceberg production port (mechanical — one DDL/DML per method; no sandbox
Iceberg runtime exists, so the seam is EMITTED AS TESTED CODE in
store/iceberg_ddl.py — golden-pinned statements, Spark-grammar-parsed
where vanilla Spark covers the syntax — with this table as the spec):

| method here        | Iceberg equivalent                                   |
|---|---|
| register()         | ``INSERT INTO t SELECT ...`` (append snapshot); the duplicate-id report becomes a pre-insert ``LEFT SEMI`` probe or a ``MERGE ... WHEN NOT MATCHED THEN INSERT`` |
| update()           | ``MERGE INTO t USING batch ON t.id = batch.id WHEN MATCHED THEN UPDATE SET ..., _rev = t._rev + 1`` (equality deletes + data files = this store's delta rows) |
| deprecate()        | same MERGE with ``SET _deprecated = true``           |
| tag(name)          | ``ALTER TABLE t CREATE TAG name`` (snapshot ref); retrieve(version=tag) = ``VERSION AS OF`` |
| retrieve(id, v)    | ``SELECT ... VERSION AS OF <snapshot/tag>`` point lookup (metadata time travel replaces the _seq<=N filter) |
| compact()          | ``CALL system.rewrite_data_files(t)`` + ``rewrite_position_delete_files`` — bounds MOR read amplification exactly like the base-delta rewrite here |
| _read() view       | append-only snapshots are already a plain scan; MOR (update/deprecate live) is free: Iceberg readers resolve equality deletes natively; drop the row_number window.  The per-delta schemas in the log are Iceberg's schema-in-metadata: the table schema is read from the snapshot's metadata, never inferred from data files |
| observe() counts   | snapshot summary metrics (added-records, total-records) from the commit, same zero-extra-pass property |

Bookkeeping columns (the reference's _store_metadata, resource.py:34):
``_rev`` (int, bumped per update), ``_deprecated`` (bool); ``_seq``
(delta sequence, internal — the snapshot id of Iceberg metadata).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from nexus_forge_spark.operators.search import apply_filters

META_COLS = ["_rev", "_deprecated"]


class StoreError(Exception):
    pass


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field, array element and map value nullable."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _merge_type(a: T.DataType, b: T.DataType, case_sensitive: bool) -> T.DataType:
    """Spark's ``StructType.merge``: struct fields unite by name, ``a``'s
    first and in its order, then ``b``'s new ones; a field in both keeps
    ``a``'s name and metadata and merges its type; array elements and map
    keys/values merge; any other pair must be equal."""

    def key(name: str) -> str:
        return name if case_sensitive else name.lower()

    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        theirs = {key(f.name): f for f in b.fields}
        fields = [
            T.StructField(
                f.name,
                _merge_type(f.dataType, theirs[key(f.name)].dataType, case_sensitive),
                f.nullable or theirs[key(f.name)].nullable,
                f.metadata,
            )
            if key(f.name) in theirs
            else f
            for f in a.fields
        ]
        ours = {key(f.name) for f in a.fields}
        return T.StructType(fields + [f for f in b.fields if key(f.name) not in ours])
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(
            _merge_type(a.elementType, b.elementType, case_sensitive),
            a.containsNull or b.containsNull,
        )
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(
            _merge_type(a.keyType, b.keyType, case_sensitive),
            _merge_type(a.valueType, b.valueType, case_sensitive),
            a.valueContainsNull or b.valueContainsNull,
        )
    if a != b:
        raise StoreError(
            f"cannot merge delta schemas: {a.simpleString()} vs {b.simpleString()}"
        )
    return a


class ParquetStore:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        id_col: str = "id",
        auto_compact_deltas: int | None = 32,
    ):
        """auto_compact_deltas: once a mutation commit leaves this many
        deltas since the last full base, compact() runs automatically —
        bounds merge-on-read amplification for long mutation histories
        (Iceberg's scheduled rewrite_data_files, folded into the write
        path).  None disables; time-travel to pre-compaction versions is
        unaffected (old snapshots never read a newer base)."""
        self.spark = spark
        self.base_dir = base_dir
        self.id_col = id_col
        self.auto_compact_deltas = auto_compact_deltas
        os.makedirs(base_dir, exist_ok=True)

    # ------------------------------------------------------------ metadata

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.base_dir, "meta.json")

    def _meta(self) -> dict:
        if os.path.exists(self._meta_path):
            with open(self._meta_path, encoding="utf-8") as f:
                return json.load(f)
        return {"current": 0, "tags": {}, "deltas": []}

    def _save_meta(self, meta: dict) -> None:
        """Commit the log atomically: a failed write leaves the previous
        meta.json (and so the previous snapshot) intact."""
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)

    def current_version(self) -> int:
        return self._meta()["current"]

    def _delta_dir(self, seq: int) -> str:
        return os.path.join(self.base_dir, f"d{seq}")

    def _append_delta(
        self,
        df: DataFrame,
        observation: Observation | None = None,
        full: bool = False,
        commit_metric: str | None = None,
        append: bool = False,
    ) -> tuple[int, dict]:
        """Write ONE delta (the mutation's affected rows only) and commit it
        to the log.  The returned metrics come out of the write job itself
        (df.observe) — a mutation is exactly one Spark job.

        append marks a delta whose ids are disjoint from the snapshot it
        extends (register's anti-join guarantees it): it replaces no row,
        so reads need not resolve it against earlier deltas.

        commit_metric names an observation that must be non-zero for the
        commit to happen; otherwise the write is aborted (dir removed, no
        snapshot) — Iceberg's abort-on-empty-commit, and the DemoStore
        behavior of an all-conflict register creating no new version."""
        meta = self._meta()
        seq = meta["current"] + 1
        out = df.withColumn("_seq", F.lit(seq))
        out.write.mode("overwrite").parquet(self._delta_dir(seq))
        metrics = dict(observation.get) if observation is not None else {}
        if commit_metric is not None and not int(metrics.get(commit_metric) or 0):
            import shutil

            shutil.rmtree(self._delta_dir(seq), ignore_errors=True)
            return 0, metrics
        meta["current"] = seq
        meta["deltas"].append(
            {"seq": seq, "full": full, "append": append, "schema": out.schema.jsonValue()}
        )
        self._save_meta(meta)
        if not full and self.auto_compact_deltas is not None:
            since_base = 0
            for d in reversed(meta["deltas"]):
                if d["full"]:
                    break
                since_base += 1
            if since_base >= self.auto_compact_deltas:
                self.compact()
        return seq, metrics

    # ------------------------------------------------------------ read view

    def _read(self, version: int | None = None) -> DataFrame:
        """Snapshot `version`: scan the deltas since the last full base
        <= version.  Latest _seq per id wins, resolved by a window only if
        a delta after the first can replace an earlier row (it is not an
        append); an append-only snapshot is the plain union.

        The scan's schema is the merge of the deltas' logged schemas, so no
        footer-inference job runs.  A log entry missing ``append`` or
        ``schema`` raises StoreError."""
        meta = self._meta()
        v = meta["current"] if version is None else version
        if v == 0:
            raise StoreError("store is empty")
        if v > meta["current"] or v < 1:
            raise StoreError(f"unknown version {v}")
        live = [d for d in meta["deltas"] if d["seq"] <= v]
        # prune to the last compacted base (Iceberg snapshot lineage)
        base_idx = max(
            (i for i, d in enumerate(live) if d["full"]), default=None
        )
        if base_idx is not None:
            live = live[base_idx:]
        for d in live:
            for key in ("append", "schema"):
                if key not in d:
                    raise StoreError(f"delta d{d['seq']} has no {key!r} in its log entry")
        paths = [self._delta_dir(d["seq"]) for d in live]
        df = self.spark.read.schema(self._merged_schema(live)).parquet(*paths)
        if all(d["append"] for d in live[1:]):
            return df.drop("_seq")
        w = Window.partitionBy(self.id_col).orderBy(F.desc("_seq"))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "_seq")
        )

    def _merged_schema(self, live: list[dict]) -> T.StructType:
        """The schema ``mergeSchema`` infers from these deltas' footers:
        their logged schemas folded in the order Spark lists the files (by
        path, so ``d10/`` comes before ``d2/``), names matched under
        ``spark.sql.caseSensitive``, then made nullable as parquet stores
        them."""
        case_sensitive = self.spark.conf.get("spark.sql.caseSensitive") == "true"
        schemas = [
            T.StructType.fromJson(d["schema"])
            for d in sorted(live, key=lambda d: f"d{d['seq']}/")
        ]
        merged = schemas[0]
        for s in schemas[1:]:
            merged = _merge_type(merged, s, case_sensitive)
        return _nullable(merged)

    def compact(self) -> int:
        """Materialize the resolved view as a full base delta (Iceberg
        rewrite_data_files): bounds merge-on-read amplification after many
        mutations.  O(table) by nature — run on a cadence, not per write."""
        seq, _ = self._append_delta(self._read(), full=True)
        return seq

    # ------------------------------------------------------------ CRUD

    def register(self, df: DataFrame) -> dict:
        """Append new records (_rev=1).  Rows whose id already exists are
        rejected per-row (RegistrationError semantics) and reported in the
        Actions-style counter (commons/actions.py:46-59).  Writes only the
        accepted batch — existing data is read (id column only), never
        rewritten.

        Precondition: one row per id within the batch (not checked — that
        would cost a shuffle per register).  A batch that repeats an id
        stores every copy, and reads show all of them while the snapshot
        is append-only; once an update or deprecate since the last base is
        live, the read keeps one arbitrary copy (and compact() then
        materializes that choice)."""
        obs = Observation()
        incoming = (
            df.withColumn("_rev", F.lit(1))
            .withColumn("_deprecated", F.lit(False))
            .observe(obs, F.count(F.lit(1)).alias("n_in"))
        )
        meta = self._meta()
        if meta["current"] == 0:
            _, m = self._append_delta(incoming, obs, append=True)
            n = int(m["n_in"])
            return {"action": "register", "succeeded": n, "failed": 0}
        ids = self._read().select(self.id_col)
        obs_ok = Observation()
        ok = incoming.join(ids, self.id_col, "left_anti").observe(
            obs_ok, F.count(F.lit(1)).alias("n_ok")
        )
        # an all-conflict register creates no new version (demo_store.py
        # register path; matched by the fuzz model) -> abort empty commits
        _, m = self._append_delta(ok, obs_ok, commit_metric="n_ok", append=True)
        n_ok = int(m["n_ok"])
        n_in = int(obs.get["n_in"])
        return {"action": "register", "succeeded": n_ok, "failed": n_in - n_ok}

    def update(self, df: DataFrame) -> dict:
        """MERGE by id: matched rows get the new payload with _rev+1;
        updating a non-existent id is a per-row failure (demo_store.py:249).
        Only the matched rows are written (MERGE INTO delta).

        Precondition: one row per id within the batch (not checked).  A
        repeated id matches once per copy, every copy counts as succeeded,
        and the snapshot keeps one arbitrary copy."""
        existing = self._read()
        data_cols = [c for c in existing.columns if c not in META_COLS]
        obs = Observation()
        inc = (
            df.select(*[c for c in data_cols if c in df.columns])
            .observe(obs, F.count(F.lit(1)).alias("n_in"))
            .alias("n")
        )
        ex = existing.alias("e")
        matched = ex.join(inc, self.id_col, "inner")
        updated = matched.select(
            *[
                F.col(f"n.{c}") if c in df.columns else F.col(f"e.{c}")
                for c in data_cols
                if c != self.id_col
            ],
            F.col(f"e.{self.id_col}"),
            (F.col("e._rev") + 1).alias("_rev"),
            F.col("e._deprecated"),
        ).select(*existing.columns)
        obs_m = Observation()
        updated = updated.observe(obs_m, F.count(F.lit(1)).alias("n_match"))
        _, m = self._append_delta(updated, obs_m)
        n_match = int(m["n_match"])
        n_in = int(obs.get["n_in"])
        return {"action": "update", "succeeded": n_match, "failed": n_in - n_match}

    def deprecate(self, ids: list) -> dict:
        """Soft-delete: _deprecated=true + rev bump (store.py:226-248).
        Writes only the flagged rows."""
        existing = self._read()
        hit = existing.where(F.col(self.id_col).isin(ids))
        obs = Observation()
        flagged = (
            hit.observe(
                obs,
                F.sum(F.when(~F.col("_deprecated"), 1).otherwise(0)).alias("n_live"),
            )
            .withColumn("_rev", F.col("_rev") + 1)
            .withColumn("_deprecated", F.lit(True))
        )
        _, m = self._append_delta(flagged, obs)
        n = int(m["n_live"] or 0)
        return {"action": "deprecate", "succeeded": n, "failed": len(ids) - n}

    # ------------------------------------------------------------ versioning

    def tag(self, name: str, version: int | None = None) -> None:
        meta = self._meta()
        v = meta["current"] if version is None else version
        if v < 1 or v > meta["current"]:
            raise StoreError(f"cannot tag unknown version {v}")
        meta["tags"][name] = v
        self._save_meta(meta)

    def retrieve(
        self,
        ids: list | object | None = None,
        version: int | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Point lookup by id(s), optionally at a snapshot/tag (bulk retrieve
        is a join, not N requests — SURVEY.md S19).  The isin filter pushes
        into the parquet scans of the live deltas."""
        if tag is not None:
            meta = self._meta()
            if tag not in meta["tags"]:
                raise StoreError(f"unknown tag {tag!r}")
            version = meta["tags"][tag]
        df = self._read(version)
        if ids is None:
            return df
        if not isinstance(ids, (list, tuple)):
            ids = [ids]
        return df.where(F.col(self.id_col).isin(list(ids)))

    def search(self, *filters, limit: int | None = 100, offset: int = 0,
               distinct: bool = False, deprecated: bool = False) -> DataFrame:
        """Filter DSL search over the current snapshot; deprecated rows are
        excluded unless requested (bluebrain_nexus search defaults)."""
        df = self._read()
        if not deprecated:
            df = df.where(~F.col("_deprecated"))
        return apply_filters(df, *filters, limit=limit, offset=offset, distinct=distinct)

    def freeze(self, df: DataFrame, id_cols: list[str] | None = None) -> DataFrame:
        """Rewrite ids to versioned form id?_version=<rev> using the store's
        current revisions (store.py:283-311; versioned_id_template
        '{x.id}?_version={x._store_metadata.version}', tests/conftest.py:462)."""
        revs = self._read().select(
            F.col(self.id_col).alias("__fid"), F.col("_rev").alias("__frev")
        )
        out = df
        for c in id_cols or [self.id_col]:
            out = (
                out.join(F.broadcast(revs), out[c] == F.col("__fid"), "left")
                .withColumn(
                    c,
                    F.when(
                        F.col("__frev").isNotNull(),
                        F.concat(F.col(c), F.lit("?_version="), F.col("__frev")),
                    ).otherwise(F.col(c)),
                )
                .drop("__fid", "__frev")
            )
        return out
