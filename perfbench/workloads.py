"""The workloads: their seeded inputs, one closed-loop operation each,
output checks, and the traced per-layer calls.

Every workload object is built from ``(seed, scale, work_dir)``.  ``setup``
writes its inputs under ``work_dir``; ``op`` is one unit of the closed loop
and returns ``(items, ok)``; ``finish`` runs the end-of-run checks;
``trace`` calls each layer's public functions on cached inputs inside a
``Tracer`` span, then the tracer's event-log totals become the per-layer
metrics.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nexus_forge_spark import dims
from nexus_forge_spark.forge import SparkForge, SparkForgeConfig
from nexus_forge_spark.functions import sparql as SP
from nexus_forge_spark.operators import mentions as M
from nexus_forge_spark.operators import resolve as R
from nexus_forge_spark.operators import triples as T
from nexus_forge_spark.operators.graph import coreness, sql_coreness
from nexus_forge_spark.operators.mapping import map_dataframe
from nexus_forge_spark.operators.ontology import (
    transitive_closure,
    transitive_closure_incremental,
)
from nexus_forge_spark.operators.search import paths
from nexus_forge_spark.plans import pipeline
from nexus_forge_spark.plans.checkpoint import CheckpointedRun
from nexus_forge_spark.sources import synthesize_documents
from nexus_forge_spark.store import ParquetStore

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")


def noop(df: DataFrame) -> None:
    """Force every row of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def content_hash(df: DataFrame, cols: list[str]) -> list:
    """[row count, order-insensitive content hash] in one aggregate job.
    The hash is the exact sum of per-row xxhash64 values, so it is additive
    over disjoint row sets."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return [int(row["n"]), str(row["h"] or 0)]


def add_hashes(parts: list[list]) -> list:
    return [sum(p[0] for p in parts), str(sum(int(p[1]) for p in parts))]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH, encoding="utf-8") as f:
        return json.load(f)


class Tracer:
    """Spans around layer calls.  Each span runs under its own Spark job
    group ``<workload>:<name>`` so the event log attributes its stages,
    tasks, shuffle, spill and GC to it.  Spans stay in memory."""

    def __init__(self, spark: SparkSession, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        group = f"{self.workload}:{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({"name": name, "group": group, "start": t0, "end": t1})

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# -------------------------------------------------------------- corpus pass

TRIPLE_COLS = ["subj", "pred", "obj"]


def stage_corpus(spark: SparkSession, docs: DataFrame, ck: str) -> list:
    """construct_kg through the checkpointed kg_job path
    (CheckpointedRun.stage, num_parts=32, batches=8); returns the staged
    triples' [rows, hash].  Raises if the manifest disagrees with them."""
    run = CheckpointedRun(spark, ck, num_parts=32, batches=8)
    staged = run.stage("triples", pipeline.construct_kg(docs), partition_key="doc_id")
    got = content_hash(staged, TRIPLE_COLS)
    committed = run.metrics("triples")
    shutil.rmtree(ck, ignore_errors=True)
    if committed["rows"] != got[0] or committed["partitions_committed"] != 32:
        raise RuntimeError(f"checkpoint manifest {committed} vs staged triples {got}")
    return got


def trace_corpus_pass(spark: SparkSession, tr: Tracer, out: dict, corpus: str, ck: str) -> list:
    """The bulk layers over a whole corpus, each on cached input: mention
    explode, resolve index and broadcast join, (doc_id, entity_id) dedup,
    media triples, construct_kg, and the checkpointed stage.  Returns the
    staged triples' [rows, hash]."""
    docs = spark.read.parquet(corpus).cache()
    docs.count()
    with tr.span("mentions.extract_mention_occurrences"):
        noop(M.extract_mention_occurrences(docs))
    occ = M.extract_mention_occurrences(docs).cache()
    n_occ = occ.count()
    alias = R.build_alias_table(dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS).cache()
    with tr.span("resolve.resolve_ladder_inline"):
        noop(R.resolve_ladder_inline(occ, alias, keys=["doc_id", "mention"]))
    resolved = R.resolve_ladder_inline(occ, alias, keys=["doc_id", "mention"]).cache()
    n_res = resolved.count()
    ann = resolved.select("doc_id", "entity_id").dropDuplicates(["doc_id", "entity_id"])
    with tr.span("triples.dedup"):
        noop(T.resolved_to_triples(ann))
    n_ann = ann.count()
    with tr.span("triples.media_to_triples"):
        noop(T.media_to_triples(docs, dedup=True))
    with tr.span("pipeline.construct_kg"):
        noop(pipeline.construct_kg(docs))
    with tr.span("checkpoint.stage"):
        staged = stage_corpus(spark, spark.read.parquet(corpus), ck)
    for df in (docs, occ, alias, resolved):
        df.unpersist()
    out.update(
        {
            "mentions.occurrences": n_occ,
            "resolve.hit_ratio": n_res / n_occ if n_occ else 0.0,
            "triples.dedup_keep_ratio": n_ann / n_res if n_res else 0.0,
        }
    )
    return staged


def _resolve_index(spark: SparkSession) -> DataFrame:
    """The resolve index construct_kg rebuilds on every call: the ontology
    alias table exploded to its substring keys."""
    alias = R.build_alias_table(dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS)
    return R.alias_substring_index(alias)


# ------------------------------------------------------------------- ingest

MAPPING = """{
  id: forge.format("identifier", "datasets", x.rid)
  type: Dataset
  name: x.name
  about: forge.resolve(x.topic, scope="ontology")
  code: str(x.n).zfill(6)
  status: x.status
  size: x.size
}"""
FALLBACK_RULES = {"code": "str(x.n).zfill(6)"}
ID_TEMPLATE = "https://bench.example.org/{}/{}"
SPARQL = (
    "SELECT ?d ?m WHERE { ?d nsg:hasBody <" + dims.NS + "HashJoin> . "
    "?d schema:distribution ?m }"
)
TOPICS = [r[2] for r in dims.ONTOLOGY_ROWS] + ["unlisted topic", "nothing"]


def make_records(seed: int, batch: int, n: int) -> tuple[list[dict], int]:
    """Seeded Dataset records for one batch, and how many are invalid
    under dataset_shape.json (missing name, unknown status or negative
    size)."""
    rng = random.Random(seed * 100003 + batch)
    recs = []
    for i in range(n):
        rid = batch * n + i
        name = None if rng.random() < 0.05 else f"dataset {rid}"
        status = rng.choice(["active", "retired", "active", "unknown" if rng.random() < 0.1 else "active"])
        size = rng.randint(-20, 10000)
        recs.append(
            {"rid": rid, "name": name, "topic": rng.choice(TOPICS),
             "n": rng.randint(0, 99999), "status": status, "size": size}
        )
    return recs, sum(not _valid(r) for r in recs)


def _valid(rec: dict) -> bool:
    return rec["name"] is not None and rec["status"] != "unknown" and rec["size"] >= 0


class Ingest:
    """Small batches through the paper's full loop.  Per batch:
    construct_kg -> ParquetStore.register (id = subj|pred|obj), then seeded
    JSON records -> SparkForge.map -> validate -> register, then the read
    mix: retrieve by sampled ids, a search filter, one SPARQL SELECT."""

    name = "ingest"
    MIN_OPS = 3  # = COMPACT_EVERY: every run crosses one auto-compaction
    BATCH_DOCS = 2000
    BATCH_RECORDS = 200
    BATCHES = 8
    COMPACT_EVERY = 3
    LOOKUP_IDS = 8
    TRACED_BATCHES = 3

    def __init__(self, seed: int, scale: float, work: str):
        self.seed = seed
        self.batch_docs = max(50, int(self.BATCH_DOCS * scale))
        self.batch_records = max(20, int(self.BATCH_RECORDS * scale))
        self.work = work
        self.docs_path = os.path.join(work, "docs")
        # the traced run's bulk layers and scaling probe use every batch
        self.corpus = self.docs_path
        self.corpus_docs = self.batch_docs * self.BATCHES
        self.size_key = f"ingest/batch_docs={self.batch_docs}"
        self.expected = load_expected().get(self.size_key, {}).get(str(seed))
        self.failures: list[str] = []
        self.records: dict[int, tuple[list[dict], int]] = {}
        # per-batch outputs seen earlier in this run: the check for seeds
        # that have no pinned outputs
        self.seen: dict[tuple[str, int], int] = {}
        self._stores = 0

    # -- inputs
    def setup(self, spark: SparkSession) -> None:
        n = self.batch_docs * self.BATCHES
        synthesize_documents(spark, n, seed=self.seed).withColumn(
            "batch", (F.substring("doc_id", 5, 9).cast("long") / self.batch_docs).cast("int")
        ).write.mode("overwrite").partitionBy("batch").parquet(self.docs_path)
        for b in range(self.BATCHES):
            recs, bad = make_records(self.seed, b, self.batch_records)
            self.records[b] = (recs, bad)
            with open(self._records_path(b), "w", encoding="utf-8") as f:
                json.dump(recs, f)
        self.reset(spark)

    def _records_path(self, b: int) -> str:
        return os.path.join(self.work, f"records-{b}.json")

    def reset(self, spark: SparkSession) -> None:
        """Fresh, empty stores; the next batch is batch 0."""
        self._stores += 1
        base = os.path.join(self.work, f"stores{self._stores}")
        self.tstore = ParquetStore(
            spark, os.path.join(base, "triples"), auto_compact_deltas=self.COMPACT_EVERY
        )
        cfg = SparkForgeConfig(
            formatters={"identifier": ID_TEMPLATE},
            resolver_dims={
                ("ontology", None): (dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS)
            },
            shape_files=[os.path.join(HERE, "dataset_shape.json")],
            store_dir=os.path.join(base, "records"),
        )
        self.forge = SparkForge(spark, cfg)
        # SparkForge builds its store with the default compaction cadence;
        # the benchmark's cadence needs the store built here
        self.forge._store = ParquetStore(
            spark, cfg.store_dir, auto_compact_deltas=self.COMPACT_EVERY
        )
        self.next_batch = 0
        self.valid_ids: list[str] = []
        self.n_active = 0

    def warm_up(self, spark: SparkSession) -> None:
        self.op(spark)
        self.reset(spark)

    def batch_docs_df(self, spark: SparkSession, b: int) -> DataFrame:
        return spark.read.parquet(self.docs_path).where(F.col("batch") == b).drop("batch")

    def batch_triples(self, spark: SparkSession, b: int) -> DataFrame:
        return pipeline.construct_kg(self.batch_docs_df(spark, b)).withColumn(
            "id", F.concat_ws("|", "subj", "pred", "obj")
        )

    # -- the closed-loop operation: one batch plus its read mix
    def op(self, spark: SparkSession) -> bool:
        if self.next_batch == self.BATCHES:
            self.reset(spark)  # start a new cycle on empty stores
        b = self.next_batch
        self.next_batch += 1
        ok = True
        res = self.tstore.register(self.batch_triples(spark, b))
        ok &= self._expect(f"batch {b} triples failed", res["failed"], 0)
        ok &= self._expect_batch("triples", b, res["succeeded"])
        recs, bad = self.records[b]
        obs = Observation()
        v = self.forge.validate(
            self.forge.map(self._records_path(b), MAPPING), "Dataset"
        ).observe(obs, F.sum(F.when(F.col("validated"), 0).otherwise(1)).alias("bad"))
        reg = self.forge.register(v.where("validated").drop("validated", "violations"))
        ok &= self._expect(f"batch {b} violations", int(obs.get["bad"] or 0), bad)
        ok &= self._expect(f"batch {b} records registered", reg["succeeded"], len(recs) - bad)
        self._note_registered(b)
        return ok & self.read_mix(spark, b)

    def _note_registered(self, b: int) -> None:
        """The client's own record of what batch b registered: the ids it
        may look up and how many active records a search can find."""
        good = [r for r in self.records[b][0] if _valid(r)]
        self.valid_ids += [ID_TEMPLATE.format("datasets", r["rid"]) for r in good]
        self.n_active += sum(r["status"] == "active" for r in good)

    def read_mix(self, spark: SparkSession, b: int) -> bool:
        rng = random.Random(self.seed * 7919 + b)
        ids = rng.sample(self.valid_ids, min(self.LOOKUP_IDS, len(self.valid_ids)))
        ok = self._expect("retrieve", len(self.forge.retrieve(ids).collect()), len(ids))
        hits = self.forge.search(paths().status == "active").collect()
        ok &= self._expect("search", len(hits), min(100, self.n_active))
        n_sparql = self.forge.sparql(SPARQL, triples=self.tstore.retrieve()).count()
        return ok & self._expect_batch("sparql", b, n_sparql)

    def _expect_batch(self, what: str, b: int, got: int) -> bool:
        """Pinned value when the seed has pins, else the value an earlier
        cycle of this run saw for the same batch."""
        if self.expected:
            pins = self.expected[what if what == "sparql" else "batches"]
            want = sum(pins[: b + 1]) if what == "sparql" else pins[b][0]
        else:
            want = self.seen.setdefault((what, b), got)
        return self._expect(f"batch {b} {what}", got, want)

    def _expect(self, what: str, got, want) -> bool:
        if got != want:
            self.failures.append(f"{what}: {got} != {want}")
            return False
        return True

    def finish(self, spark: SparkSession) -> bool:
        """The final store snapshot: row count + content hash, against the
        pinned per-batch hashes of every batch the run registered."""
        done = self.next_batch
        if done and self.expected:
            got = content_hash(self.tstore.retrieve(), TRIPLE_COLS)
            self._expect("triple store snapshot", got, add_hashes(self.expected["batches"][:done]))
        if done:
            n_rec = self.forge.retrieve().count()
            want = sum(len(self.records[b][0]) - self.records[b][1] for b in range(done))
            self._expect("record store rows", n_rec, want)
        return not self.failures

    def pin(self, spark: SparkSession) -> dict:
        """Per-batch (rows, hash) and SPARQL row counts; construct_kg is
        per document, so one pass over every batch gives them all."""
        trip = pipeline.construct_kg(spark.read.parquet(self.docs_path)).withColumn(
            "b", (F.substring("doc_id", 5, 9).cast("long") / self.batch_docs).cast("int")
        )
        rows = {
            r["b"]: [int(r["n"]), str(r["h"])]
            for r in trip.groupBy("b").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*TRIPLE_COLS).cast("decimal(38,0)")).alias("h"),
            ).collect()
        }
        sp = self.forge.sparql(SPARQL, triples=trip).withColumn(
            "b", (F.substring("d", 9, 9).cast("long") / self.batch_docs).cast("int")
        )
        per_b = {r["b"]: int(r["n"]) for r in sp.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()}
        return {
            "batches": [rows.get(b, [0, "0"]) for b in range(self.BATCHES)],
            "sparql": [per_b.get(b, 0) for b in range(self.BATCHES)],
        }

    def trace(self, spark: SparkSession, tr: Tracer, out: dict) -> None:
        """Per batch: every layer of the loop on cached input.  Then one
        corpus pass over all batches for the bulk layers."""
        self.reset(spark)
        reads = []
        for b in range(self.TRACED_BATCHES):
            docs = self.batch_docs_df(spark, b).cache()
            docs.count()
            with tr.span("resolve.index_build"):
                noop(_resolve_index(spark))
            with tr.span("pipeline.construct_batch"):
                noop(pipeline.construct_kg(docs))
            trip = pipeline.construct_kg(docs).withColumn(
                "id", F.concat_ws("|", "subj", "pred", "obj")
            ).cache()
            trip.count()
            with tr.span("store.register"):
                self.tstore.register(trip)
            rec_df = self.forge._as_records_df(self._records_path(b)).cache()
            rec_df.count()
            with tr.span("mapping.map_dataframe"):
                noop(self.forge.map(rec_df, MAPPING))
            with tr.span("mapping.eval_fallback"):
                noop(map_dataframe(rec_df, FALLBACK_RULES))
            mapped = self.forge.map(rec_df, MAPPING).cache()
            mapped.count()
            with tr.span("validate.validate"):
                noop(self.forge.validate(mapped, "Dataset"))
            v = self.forge.validate(mapped, "Dataset").cache()
            out["validate.violations"] += v.where(~F.col("validated")).count()
            out["mapping.fallback_rows"] += rec_df.count()
            self.forge.register(v.where("validated").drop("validated", "violations"))
            self._note_registered(b)
            reads.append(_deltas_since_base(self.tstore))
            ids = random.Random(b).sample(self.valid_ids, min(self.LOOKUP_IDS, len(self.valid_ids)))
            with tr.span("store.retrieve"):
                noop(self.forge.retrieve(ids))
            with tr.span("store.search"):
                noop(self.forge.search(paths().status == "active"))
            with tr.span("sparql.compile"):
                q_sql = SP.sparql_to_sql(SPARQL, table="triples")
            self.tstore.retrieve().createOrReplaceTempView("triples")
            with tr.span("sparql.exec"):
                noop(spark.sql(q_sql))
            for df in (docs, trip, rec_df, mapped, v):
                df.unpersist()
        compactions_before = _compactions(self.tstore)
        with tr.span("store.compact"):
            self.tstore.compact()
        store_dir = self.tstore.base_dir
        live = self.tstore.retrieve()
        n_live = live.count()
        once = os.path.join(self.work, "snapshot-once")
        live.write.mode("overwrite").parquet(once)
        out.update(
            {
                "store.deltas_per_read": sum(reads) / len(reads),
                "store.compactions": compactions_before,
                "store.bytes_per_row": dir_bytes(store_dir) / n_live if n_live else 0.0,
                "store.bytes_written_per_user_byte": dir_bytes(store_dir) / max(1, dir_bytes(once)),
                "resolve.index_keys": _resolve_index(spark).select("key").distinct().count(),
            }
        )
        staged = trace_corpus_pass(
            spark, tr, out, self.docs_path, os.path.join(self.work, "ck")
        )
        if self.expected:
            self._expect("staged corpus triples", staged, add_hashes(self.expected["batches"]))
        self.reset(spark)


def _deltas_since_base(store: ParquetStore) -> int:
    n = 0
    for d in reversed(store._meta()["deltas"]):
        n += 1
        if d["full"]:
            break
    return n


def _compactions(store: ParquetStore) -> int:
    return sum(d["full"] for d in store._meta()["deltas"])


# ------------------------------------------------------------------ closure

PART_OFFSET = 1_000_000


def make_graphs(seed: int, keys: int, customers: int, parts: int, edges: int):
    """Per-key order chains 8-12 deep (1 in 8 edges flagged as the delta
    batch) and a skewed bipartite co-purchase edge list."""
    rng = random.Random(seed * 31337 + 1)
    chains = []
    for k in range(keys):
        depth = rng.randint(8, 12)
        for i in range(depth):
            chains.append((f"order:{k}:{i}", f"order:{k}:{i + 1}", rng.random() < 0.125))
    pairs = set()
    while len(pairs) < edges:
        a = rng.randrange(customers)
        b = PART_OFFSET + int(parts * rng.random() ** 2)  # hub parts
        pairs.add((a, b))
    return chains, sorted(pairs)


def chain_closure(edges: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """All (node, ancestor) pairs of a forest of chains (each child has at
    most one parent): the pre-built closure the incremental operator
    starts from."""
    parent = dict(edges)
    pairs = []
    for node in parent:
        anc = parent[node]
        while anc is not None and anc != node:
            pairs.append((node, anc))
            anc = parent.get(anc)
    return pairs


class Closure:
    """Seeded graphs through the iterative operators: full transitive
    closure, incremental closure under a delta batch, and coreness."""

    name = "closure"
    MIN_OPS = 1
    KEYS = 1500
    CUSTOMERS = 1500
    PARTS = 400
    EDGES = 12000

    def __init__(self, seed: int, scale: float, work: str):
        self.seed = seed
        self.keys = max(20, int(self.KEYS * scale))
        self.customers = max(30, int(self.CUSTOMERS * scale))
        self.parts = max(10, int(self.PARTS * scale))
        self.edges = max(100, int(self.EDGES * scale))
        self.work = work
        self.size_key = f"closure/keys={self.keys},edges={self.edges}"
        self.expected = load_expected().get(self.size_key, {}).get(str(seed))
        self.seen: dict | None = None
        self.failures: list[str] = []

    def setup(self, spark: SparkSession) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.chains, self.bip = make_graphs(
            self.seed, self.keys, self.customers, self.parts, self.edges
        )
        old = chain_closure([(c, p) for c, p, delta in self.chains if not delta])
        tables = {
            "chains": pa.table(dict(zip(["child", "parent", "delta"], zip(*self.chains)))),
            "bip": pa.table(dict(zip(["a", "b"], zip(*self.bip)))),
            "closure_old": pa.table(dict(zip(["node", "anc"], zip(*old)))),
        }
        for name, table in tables.items():
            os.makedirs(os.path.join(self.work, name), exist_ok=True)
            pq.write_table(table, os.path.join(self.work, name, "part-0.parquet"))
        self.closure_old = spark.read.parquet(os.path.join(self.work, "closure_old"))

    def _chains(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.work, "chains"))

    def _bip(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.work, "bip"))

    def warm_up(self, spark: SparkSession) -> None:
        self.op(spark)

    def _outputs(self, spark: SparkSession) -> dict:
        chains = self._chains(spark)
        full = transitive_closure(chains)
        inc = transitive_closure_incremental(self.closure_old, chains.where("delta"))
        core = coreness(self._bip(spark))
        self.last = (full, core)
        return {
            "closure": content_hash(full, ["node", "anc"]),
            "closure_incremental": content_hash(inc, ["node", "anc"]),
            "coreness": content_hash(core, ["node", "coreness"]),
        }

    def op(self, spark: SparkSession) -> bool:
        got = self._outputs(spark)
        ok = True
        if got["closure"] != got["closure_incremental"]:
            self.failures.append(f"incremental {got['closure_incremental']} != full {got['closure']}")
            ok = False
        want = self.expected or self.seen
        if want is None:
            self.seen = got
        elif got != want:
            self.failures.append(f"closure outputs {got} != expected {want}")
            ok = False
        return ok

    def _duckdb_outputs(self) -> tuple[list, list]:
        """The closure and the core numbers from DuckDB running the
        operators' SQL twins over the same inputs: a recursive CTE for the
        closure, sql_coreness for the core numbers.  Both sorted."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        try:
            con.register("e", pd.DataFrame(self.chains, columns=["child", "parent", "delta"]))
            con.register("bip", pd.DataFrame(self.bip, columns=["a", "b"]))
            closure = con.execute(
                """WITH RECURSIVE reach(node, anc) AS (
                     SELECT child, parent FROM e WHERE child <> parent
                     UNION
                     SELECT r.node, e.parent FROM reach r JOIN e ON r.anc = e.child
                     WHERE r.node <> e.parent)
                   SELECT node, anc FROM reach ORDER BY node, anc"""
            ).fetchall()
            core = con.execute(
                f"SELECT * FROM ({sql_coreness('SELECT a, b FROM bip')}) ORDER BY 1, 2"
            ).fetchall()
        finally:
            con.close()
        return closure, core

    def pin(self, spark: SparkSession) -> dict:
        closure, core = self._duckdb_outputs()
        c = content_hash(spark.createDataFrame(closure, "node string, anc string"), ["node", "anc"])
        k = content_hash(
            spark.createDataFrame(core, "node long, coreness long"), ["node", "coreness"]
        )
        return {"closure": c, "closure_incremental": c, "coreness": k}

    def finish(self, spark: SparkSession) -> bool:
        """The last pass's closure and core numbers against DuckDB."""
        full, core = self.last
        db_closure, db_core = self._duckdb_outputs()
        if sorted(tuple(r) for r in full.collect()) != db_closure:
            self.failures.append("closure differs from DuckDB")
        if sorted(tuple(r) for r in core.collect()) != db_core:
            self.failures.append("coreness differs from DuckDB")
        return not self.failures

    def trace(self, spark: SparkSession, tr: Tracer, out: dict) -> None:
        chains = self._chains(spark).cache()
        bip = self._bip(spark).cache()
        delta = chains.where("delta").cache()
        for df in (chains, bip, delta):
            df.count()
        with tr.span("ontology.transitive_closure"):
            noop(transitive_closure(chains))
        with tr.span("ontology.transitive_closure_incremental"):
            noop(transitive_closure_incremental(self.closure_old, delta))
        with tr.span("graph.coreness"):
            noop(coreness(bip))
        for df in (chains, bip, delta):
            df.unpersist()


WORKLOADS = {w.name: w for w in (Ingest, Closure)}
