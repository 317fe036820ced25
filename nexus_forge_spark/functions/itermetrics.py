"""The shared round loop of the iterative operator family, and its
per-round convergence metrics.

:func:`iterate` is the loop of every iterative operator in operators/.
Every frame a round pins goes through :meth:`Round.checkpoint`: an eager
``localCheckpoint`` whose job also evaluates the aggregates the operator
names (an ``Observation`` rides the checkpoint scan), so a stop test or a
metrics row costs no job of its own.  A stop test that is no aggregate
(connected_components' exact edge-set difference, bpe_train's exhausted
pair supply) is written into ``Round.seen`` by the step.  Three loop
shapes share it: a fixpoint (kcore, coreness, the closure doubling,
connected components, ...) stops when ``until`` holds and raises the
operator's own error if its budget runs out first, so it never returns a
still-changing answer; a frontier (khop, harmonic, ...) stops at the
first hop that reaches nothing new, or silently at its radius; a
fixed-round loop (pagerank, sssp, dawid_skene_labels, ...) runs exactly
the rounds its unrolled SQL oracle replays.

Inside a :func:`recording` block (per thread or task) each :func:`iterate`
round appends one ``RoundMetrics`` row labelled with its operator; outside
one no aggregate is evaluated for metrics, and inside one a checkpoint
that names no aggregate observes its ``rows``.  On a cluster the rows feed
the deployment's metrics sink; here they are a list plus a DataFrame view.

A round over a small state pays for Spark jobs, not for data.  A
checkpoint reports no partitioning, so every aggregation or join over it
would plan its own shuffle, which AQE then coalesces back to one task.
:func:`fits_one_task` says when AQE would do so, or did, from a state's
observed payload (:func:`row_bytes`) and partition count, and
:func:`broadcastable` when the payload fits the broadcast threshold: a
round may then read the state as one partition (``coalesce(1)``) and
broadcast the other side, and its aggregations and the stream side of
its join need no ``Exchange``.  A round so runs in one task only where
AQE had put, or would put, its input in one.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, field
from numbers import Number
from typing import Any, Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class RoundMetrics:
    """Collector for one operator run (or several — rows carry the
    operator name)."""

    rows: list[dict] = field(default_factory=list)

    def record(self, op: str, round_idx: int, **counts: int) -> None:
        self.rows.append({"op": op, "round": round_idx, **counts})

    def for_op(self, op: str) -> list[dict]:
        return [r for r in self.rows if r["op"] == op]

    def df(self, spark):
        """Metrics as a DataFrame (op, round, metric, value) — long form
        so heterogeneous operators share one sink schema.  Bools are 0/1,
        ``None`` null; non-numeric ones (kcenter_select's ``far``) stay in ``rows``."""
        long_rows = [
            (r["op"], r["round"], k, None if v is None else int(v))
            for r in self.rows
            for k, v in r.items()
            if k not in ("op", "round") and (v is None or isinstance(v, Number))
        ]
        return spark.createDataFrame(
            long_rows, "op string, round int, metric string, value long"
        )


_recorder: ContextVar[RoundMetrics | None] = ContextVar("round_recorder", default=None)


@contextmanager
def recording() -> Iterator[RoundMetrics]:
    """Yield the ``RoundMetrics`` every :func:`iterate` round in the block records to."""
    token = _recorder.set(RoundMetrics())
    try:
        yield _recorder.get()
    finally:
        _recorder.reset(token)


def checkpoint_observed(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """``df.localCheckpoint(eager=True)`` plus ``aggs`` (name -> aggregate
    column) evaluated over its rows by that one checkpoint job.  An
    Observation fires once, so each call makes a fresh one."""
    obs = Observation()
    cp = df.observe(obs, *[col.alias(k) for k, col in aggs.items()])
    return cp.localCheckpoint(eager=True), obs.get


def row_bytes(df: DataFrame) -> Column:
    """A row's payload bytes: ``octet_length`` of each string or binary
    column, the type's fixed width for the others."""
    fixed, var = 0, []
    for f in df._jdf.schema().fields():
        t = f.dataType()
        if t.typeName().startswith("string") or t.typeName() == "binary":
            var.append(F.coalesce(F.octet_length(F.col(f.name())), F.lit(0)))
        else:
            fixed += t.defaultSize()
    return sum(var, F.lit(fixed))


def broadcastable(spark, nbytes: int | None) -> bool:
    """Whether ``nbytes`` observed payload bytes fit the session's
    ``spark.sql.autoBroadcastJoinThreshold``, read now (``-1``: never)."""
    return (nbytes or 0) <= spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def fits_one_task(df: DataFrame, nbytes: int | None, *, shuffled: bool) -> bool:
    """Whether a round may read the checkpointed state ``df``, of ``nbytes``
    observed payload bytes, as one partition because AQE would put it in
    one task anyway, or did: the state is broadcastable and either fits
    what AQE coalesces into a single task, or a shuffle built it
    (``shuffled``: its partitions are the ones AQE coalesced that shuffle
    into) and AQE made it one partition.

    The size AQE coalesces into one task is at most
    ``advisoryPartitionSizeInBytes`` and, while AQE coalesces to no fewer
    partitions than there are cores (``parallelismFirst``, the default,
    or a ``minPartitionNum`` above 1), at most
    ``coalescePartitions.minPartitionSize`` (1 MB by default).  AQE
    weighs compressed shuffle bytes, which for these rows run smaller
    than the payload, so AQE's own partition count is the sharper test.
    A state a one-partition round built, or a union of shuffled halves,
    is not ``shuffled``: only the size test holds for it.  All confs are
    read now."""
    spark = df.sparkSession
    if not broadcastable(spark, nbytes):
        return False
    if shuffled and df._jdf.rdd().getNumPartitions() == 1:
        return True
    conf = spark._jsparkSession.sessionState().conf()
    sql = spark._jvm.org.apache.spark.sql.internal.SQLConf
    size = conf.getConf(sql.ADVISORY_PARTITION_SIZE_IN_BYTES())
    num = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum", None)
    if num is None and conf.getConf(sql.COALESCE_PARTITIONS_PARALLELISM_FIRST()):
        num = spark.sparkContext.defaultParallelism
    if int(num or 1) > 1:
        size = min(size, conf.getConf(sql.COALESCE_PARTITIONS_MIN_PARTITION_SIZE()))
    return (nbytes or 0) <= size


@dataclass
class Round:
    """One round of :func:`iterate`: its 0-based ``index``, the previous
    round's observations ``prev``, and the checkpoint each frame the
    round pins goes through.  Aggregates are only evaluated when a stop
    test or a :func:`recording` block reads them (``observe``)."""

    index: int
    prev: dict
    observe: bool
    seen: dict = field(default_factory=dict)

    def checkpoint(self, df: DataFrame, **aggs: Column) -> DataFrame:
        """Eagerly checkpoint ``df``; that job also observes ``aggs``, or
        ``rows`` when none is named and a :func:`recording` block is active.
        That metrics-only count never replaces a ``rows`` the step names, so
        a stop test reads the same value inside a block as outside one."""
        named = bool(aggs)
        if not named and _recorder.get() is not None:
            aggs = {"rows": F.count(F.lit(1))}
        if not (aggs and self.observe):
            return df.localCheckpoint(eager=True)
        cp, obs = checkpoint_observed(df, **aggs)
        if named:
            self.seen.update(obs)
        else:
            self.seen.setdefault("rows", obs["rows"])
        return cp


def unchanged(name: str) -> Callable[[dict, dict], bool]:
    """Fixpoint stop test: the observed aggregate ``name`` did not move."""
    return lambda prev, cur: cur[name] == prev[name]


def emptied(name: str) -> Callable[[dict, dict], bool]:
    """Stop test: the observed row count ``name`` fell to 0."""
    return lambda _prev, cur: cur[name] == 0


def iterate(
    step: Callable[[Any, Round], Any],
    state: Any,
    rounds: int,
    *,
    prev: dict | None = None,
    until: Callable[[dict, dict], bool] | None = None,
    error: Callable[[dict], Exception] | None = None,
    op: str = "",
    report: Callable[[dict, dict], dict] | None = None,
) -> Any:
    """Run ``state = step(state, round)`` for at most ``rounds`` rounds;
    ``prev`` holds the observations of ``state``.  In a :func:`recording`
    block each round records ``report(prev, cur)`` (default ``cur``) under
    ``op`` (default: the function defining ``step``).  Returns once
    ``until(prev, cur)`` holds; a spent budget raises ``error(last seen)``."""
    metrics = _recorder.get()
    observe = until is not None or metrics is not None
    op = op or step.__qualname__.split(".<locals>")[0]
    prev = prev or {}
    for i in range(rounds):
        rnd = Round(i, prev, observe)
        state = step(state, rnd)
        if metrics is not None:
            metrics.record(op, i, **(report(prev, rnd.seen) if report else rnd.seen))
        if until is not None and until(prev, rnd.seen):
            return state
        prev = rnd.seen
    if error is not None:
        raise error(prev)
    return state
