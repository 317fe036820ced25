#!/usr/bin/env python3
"""Benchmark of the KG-construction engine: closed-loop, single-client
workloads on local[<cores>].

    python3 perfbench/run.py --workload ingest|closure --seed N \
        --seconds S --trace 0|1

Run from the repository root.  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  Everything the run writes goes under
``.bench_run/`` in the current directory.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
TRACED_OPS = 1
DRIVER_MEMORY = "3g"
STOP_GRACE_S = 20.0
PR_SET_CHILD_SUBREAPER = 36
CLK_TCK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit for the ``end_to_end`` or ``per_layer`` list."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def prepare_work_dir(workload: str, seed: int) -> str:
    """A private directory under .bench_run/ that also receives every
    temporary file of this process, the JVM and Spark's local dirs."""
    work = os.path.join(ROOT, ".bench_run", f"{workload}-{seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    return work


def start_session(work: str, master: str | None = None, event_log: str | None = None):
    from nexus_forge_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC "
            f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    n = cores()
    spark = get_spark(
        "perfbench",
        master=master or f"local[{n}]",
        shuffle_partitions=max(n, 8),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def timed(fn, *args) -> tuple[object, float, float]:
    """fn(*args), its wall seconds and the CPU seconds this process tree
    used meanwhile."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    out = fn(*args)
    return out, time.perf_counter() - t0, tree_cpu_s() - c0


class Loop:
    """Closed loop, one client: the next operation starts when the previous
    one has returned.  An exception or a failed output check counts the
    operation as failed."""

    def __init__(self):
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.attempted = 0
        self.failed = 0

    def step(self, wl, spark) -> None:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            ok = wl.op(spark)
        except Exception as e:  # noqa: BLE001 - the loop must keep running
            traceback.print_exc()
            wl.failures.append(repr(e))
            ok = False
        self.times.append(time.perf_counter() - t0)
        self.cpu.append(tree_cpu_s() - c0)
        self.attempted += 1
        self.failed += not ok


def set_up(wl, work: str):
    """Session start, then the inputs built SETUP_REPS times (median
    taken), then the workload's warm-up operations.  Returns the session,
    the wall seconds of session start and of an input build, and the CPU
    seconds of the whole set-up."""
    spark, start_s, start_cpu = timed(start_session, work)
    gens = [timed(wl.setup, spark)[1:] for _ in range(SETUP_REPS)]
    gen_s, gen_cpu = median([w for w, _ in gens]), median([c for _, c in gens])
    _, warm_s, warm_cpu = timed(wl.warm_up, spark)
    cpu = start_cpu + gen_cpu + warm_cpu
    log(
        f"set-up: session {start_s:.2f} s, inputs {gen_s:.2f} s, warm-up {warm_s:.2f} s;"
        f" {cpu:.2f} CPU s"
    )
    return spark, start_s, gen_s, cpu


def run_untraced(wl_cls, seed: int, seconds: float, scale: float, work: str) -> dict:
    wl = wl_cls(seed, scale, work)
    spark, _, _, setup_cpu = set_up(wl, work)
    loop = Loop()
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds or loop.attempted < wl.MIN_OPS:
        loop.step(wl, spark)
        log(f"op {loop.attempted}: {loop.times[-1]:.2f} s, {loop.cpu[-1]:.2f} CPU s")
    checks_ok = _finish(wl, spark)
    metrics = {
        "setup_s": setup_cpu,
        "op_cpu_s": median(loop.cpu),
        "peak_rss_mb": jvm_peak_rss_mb(spark),
    }
    spark.stop()
    return _result(loop, checks_ok, metrics, metric_units("end_to_end"))


def _finish(wl, spark) -> bool:
    try:
        return wl.finish(spark)
    except Exception as e:  # noqa: BLE001 - reported as a failed check
        traceback.print_exc()
        wl.failures.append(repr(e))
        return False


def _result(loop: Loop, checks_ok: bool, metrics: dict, units: dict) -> dict:
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": checks_ok and loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


# span name -> {metric: figure}; figures come from the span times and the
# event-log totals of the span's job group, per call
SPAN_METRICS = {
    "mentions.extract_mention_occurrences": {"mentions.extract_s": "s", "mentions.gc_s": "gc_s"},
    "resolve.index_build": {"resolve.index_build_s": "s"},
    "resolve.resolve_ladder_inline": {"resolve.join_s": "s"},
    "triples.dedup": {
        "triples.dedup_s": "s",
        "triples.dedup_shuffle_bytes": "shuffle_write_bytes",
        "triples.dedup_spill_bytes": "spill_bytes",
    },
    "triples.media_to_triples": {"triples.media_s": "s"},
    "pipeline.construct_kg": {
        "pipeline.construct_s": "s",
        "pipeline.jobs": "jobs",
        "pipeline.tasks": "tasks",
        "pipeline.task_skew": "task_skew",
        "pipeline.gc_s": "gc_s",
    },
    "pipeline.construct_batch": {"pipeline.construct_batch_s": "s"},
    "checkpoint.stage": {"checkpoint.stage_s": "s", "checkpoint.bytes_written": "output_bytes"},
    "store.register": {"store.register_s": "s"},
    "store.retrieve": {"store.retrieve_s": "s"},
    "store.search": {"store.search_s": "s"},
    "store.compact": {"store.compact_s": "s"},
    "sparql.compile": {"sparql.compile_s": "s"},
    "sparql.exec": {"sparql.exec_s": "s"},
    "mapping.map_dataframe": {"mapping.map_s": "s"},
    "mapping.eval_fallback": {"mapping.fallback_s": "s"},
    "validate.validate": {"validate.validate_s": "s"},
}
for _mod, _op, _fn in (
    ("ontology", "closure", "transitive_closure"),
    ("ontology", "closure_incremental", "transitive_closure_incremental"),
    ("graph", "coreness", "coreness"),
):
    SPAN_METRICS[f"{_mod}.{_fn}"] = {
        f"{_mod}.{_op}_s": "s",
        f"{_mod}.{_op}_jobs": "jobs",
        f"{_mod}.{_op}_shuffle_bytes": "shuffle_write_bytes",
        f"{_mod}.{_op}_spill_bytes": "spill_bytes",
    }


def span_metrics(tr, groups: dict, corpus_docs: int) -> dict:
    from eventlog import GroupStats

    out = {}
    for span, figures in SPAN_METRICS.items():
        secs = tr.seconds(span)
        if not secs:
            continue
        stats = groups.get(f"{tr.workload}:{span}", GroupStats())
        for metric, fig in figures.items():
            if fig == "s":
                out[metric] = median(secs)
            elif fig == "task_skew":
                out[metric] = stats.task_skew
            else:
                out[metric] = getattr(stats, fig) / len(secs)
        if span == "checkpoint.stage":
            rows = stats.input_records / len(secs)
            out["checkpoint.input_rows_per_doc"] = rows / corpus_docs
    return out


def run_traced(wl_cls, seed: int, scale: float, work: str) -> dict:
    """Untraced phase (cold session, a few operations), then the traced
    phase (event log on, layer spans, the same operations), then, for a
    workload with a document corpus, the local[N] -> local[4N] scaling
    probe of construct_kg over it."""
    from eventlog import read_event_log
    from workloads import Tracer

    out = {name: 0.0 for name in metric_units("per_layer")}
    wl = wl_cls(seed, scale, work)

    spark, out["session.start_s"], out["sources.corpus_gen_s"], _ = set_up(wl, work)
    plain = Loop()
    for _ in range(TRACED_OPS):
        plain.step(wl, spark)
    corpus = getattr(wl, "corpus", None)
    n = cores()
    scale_n, scale_4n = max(1, n // 4), min(n, 4 * max(1, n // 4))
    if corpus:
        t_4n = _construct_seconds(spark, corpus)
    spark.stop()

    log_dir = os.path.join(work, "eventlog")
    # same JVM as the untraced phase, so its code is already warm
    spark = start_session(work, event_log=log_dir)
    wl.setup(spark)
    tr = Tracer(spark, wl.name)
    wl.trace(spark, tr, out)
    traced = Loop()
    for _ in range(TRACED_OPS):
        with tr.span("op"):
            traced.step(wl, spark)
    checks_ok = _finish(wl, spark)
    spark.stop()
    out.update(span_metrics(tr, read_event_log(log_dir), getattr(wl, "corpus_docs", 1)))
    out["trace.overhead_s"] = median(traced.times) - median(plain.times)

    if corpus and scale_4n > scale_n:
        spark = start_session(work, master=f"local[{scale_n}]")
        t_n = _construct_seconds(spark, corpus, warm=False)
        spark.stop()
        out["pipeline.scaling_eff"] = (t_n * scale_n) / (t_4n * scale_4n)

    _write_trace(wl.name, seed, tr)
    loop = Loop()
    for part in (plain, traced):
        loop.attempted += part.attempted
        loop.failed += part.failed
    return _result(loop, checks_ok, out, metric_units("per_layer"))


def _construct_seconds(spark, corpus: str, warm: bool = True) -> float:
    """One construct_kg pass over the corpus, timed after a warm-up pass
    unless the JVM's code is warm already."""
    from workloads import noop

    from nexus_forge_spark.plans import pipeline

    docs = spark.read.parquet(corpus)
    if warm:
        noop(pipeline.construct_kg(docs))
    return timed(noop, pipeline.construct_kg(docs))[1]


def _write_trace(workload: str, seed: int, tr) -> None:
    path = os.path.join(ROOT, ".bench_run", f"trace-{workload}-{seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(tr.spans, f, indent=1)


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    """One benchmark run; ``scale`` shrinks every input (the self-test
    uses it, the driver command does not)."""
    from workloads import WORKLOADS

    work = prepare_work_dir(workload, seed)
    try:
        if trace:
            return run_traced(WORKLOADS[workload], seed, scale, work)
        return run_untraced(WORKLOADS[workload], seed, seconds, scale, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants (Linux), so
    a process the JVM starts, such as PySpark's worker daemon, stays in
    this process's tree after the JVM exits."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"cannot become the child subreaper: {os.strerror(ctypes.get_errno())}")


def proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name, so
    field k of proc(5) is at index k - 3."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8", errors="replace") as f:
                stats[int(d)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return stats


def descendants(stats: dict[int, list[str]] | None = None) -> list[int]:
    """Pids of every live or unreaped descendant of this process."""
    children: dict[int, list[int]] = {}
    for pid, fields in (stats or proc_stats()).items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, PySpark's worker daemon and workers), including what the
    children they have reaped used."""
    stats = proc_stats()
    t = os.times()
    ticks = sum(int(x) for pid in descendants(stats) for x in stats[pid][11:15])
    return t.user + t.system + ticks / CLK_TCK


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes() -> None:
    """Stop Spark and its JVM, then every other process they started, and
    wait for each, so that nothing this run started outlives it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
            traceback.print_exc()
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + STOP_GRACE_S
    sent: set[int] = set()
    while True:
        reap()
        pids = descendants()
        if not pids:
            return
        late = time.monotonic() > deadline
        for pid in pids:
            if late or pid not in sent:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                sent.add(pid)
        time.sleep(0.05)


def _terminate(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "closure"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import nexus_forge_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is not importable: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        print("perfbench: BENCHMARK.json not found next to perfbench/", file=sys.stderr)
        return 2
    adopt_orphans()
    signal.signal(signal.SIGTERM, _terminate)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_processes()
    log(f"done after {time.perf_counter() - T0:.2f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
