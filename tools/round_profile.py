"""Per-call cost of the closure workload's three operators: where a round's
CPU goes when the data is small.

    python3 tools/round_profile.py [--seed 903] [--passes 3]

Builds the ``closure`` workload's inputs at their default size and runs
the workload's own traced pass (``Closure.trace``, one span per operator
call) once to warm the JVM, then ``--passes`` times.  Prints one line per
operator and measured pass: the CPU seconds of this process tree, the
JVM's JIT compile seconds (``CompilationMXBean``), the Janino compiles
(``CodegenMetrics``) and the jobs and completed tasks of the span's job
group.  ``perfbench/run.py --trace 1`` reports each call's jobs and
seconds from the event log; this adds the CPU, JIT and Janino figures.
Inputs and temporary files go under ``.bench_run/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import run as bench  # noqa: E402  perfbench/run.py
from workloads import Closure, Tracer  # noqa: E402


class CostTracer(Tracer):
    """A perfbench ``Tracer`` whose spans also record the call's CPU and
    JIT seconds, Janino compiles, jobs and tasks."""

    @contextmanager
    def span(self, name: str):
        jvm, st = self.sc._jvm, self.sc.statusTracker()
        jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        cpu0, jit0, jan0 = bench.tree_cpu_s(), jit.getTotalCompilationTime(), janino.getCount()
        with super().span(name):
            yield
        jobs = st.getJobIdsForGroup(self.spans[-1]["group"])
        stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
        self.spans[-1].update(
            cpu_s=bench.tree_cpu_s() - cpu0,
            jit_s=(jit.getTotalCompilationTime() - jit0) / 1e3,
            janino=janino.getCount() - jan0,
            jobs=len(jobs),
            tasks=sum(i.numCompletedTasks for i in map(st.getStageInfo, stages) if i),
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=903)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    bench.adopt_orphans()
    work = bench.prepare_work_dir("round-profile", args.seed)
    try:
        spark = bench.start_session(work)
        wl = Closure(args.seed, 1.0, work)
        wl.setup(spark)
        for p in range(args.passes + 1):
            tr = CostTracer(spark, f"round-profile-{p}")  # a job group per pass
            wl.trace(spark, tr, {})
            for s in tr.spans if p else []:  # pass 0 warms the JVM
                print(f"seed={args.seed} pass={p} op={s['name']} cpu_s={s['cpu_s']:.2f}"
                      f" jit_s={s['jit_s']:.2f} janino={s['janino']}"
                      f" jobs={s['jobs']} tasks={s['tasks']}", flush=True)
    finally:
        bench.stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
