"""SparkSession factory tuned for the KG-construction workload.

Scale posture (designed for a 1000-executor cluster, tested on local[N]):
* AQE on — runtime coalescing of the many small post-join partitions and
  automatic skew-join splitting for hot ontology terms.
* Arrow on — every pandas UDF is an Arrow batch transfer, never per-row.
* ``local[N]`` with N the CPUs this process may run on
  (``SPARK_GRAFT_CPUS`` overrides it), and shuffle.partitions sized from N;
  on a real cluster these are overridden by --conf at spark-submit time.
* Driver heap a quarter of the host's memory, clamped to 2g..8g, so two
  local sessions can share one machine; ``SPARK_GRAFT_DRIVER_MEM`` (e.g.
  ``8g``) overrides it.
* Generated code compiled once per session.  Spark's codegen cache
  (default 100 entries, split over 4 LRU segments) levels off near 70
  classes, fewer than one ingest batch generates (about 94), so each
  same-shape call recompiled dozens of classes in Janino, and each
  recompiled class is a new class the JIT compiles again.  8192 entries
  hold the whole query contract (about 5,300 distinct classes).  Class
  names carry no codegen stage id: AQE numbers a plan's stages in the
  order they materialize, which varies run to run, and the id in the
  name made one pipeline a new class under each numbering.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 8192


def _default_driver_memory() -> str:
    """A quarter of physical memory, clamped to 2g..8g, in megabytes."""
    mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (4 << 20)
    return f"{min(max(mb, 2048), 8192)}m"


def get_spark(
    app_name: str = "nexus-forge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        # throughput GC: the pipeline is allocation-heavy (string explode,
        # shuffle rows); G1's concurrent cycles measured 1.6-12x slower than
        # ParallelGC on this workload at high thread counts (the default G1
        # pause target throttles allocation-bound batch jobs). Real clusters
        # set this per-executor via spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
