"""SparkSession factory tuned for this engine.

Local mode is the test substrate; the configs are chosen so the same plans
scale to a multi-executor cluster: AQE on (runtime re-plan, skew-join
handling, partition coalescing), shuffle partitions sized to the local core
count rather than the 200 default, Arrow enabled for every pandas_udf
boundary, UTC session timezone so timestamp semantics match the DuckDB
oracle and are cluster-invariant. A new local JVM runs one C2 compiler
thread (:data:`DRIVER_JAVA_OPTIONS`): the JIT was most of the CPU of a
short micro-batch or query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Local-mode heap: half of the machine's ``MemTotal``, between 1 and
    16 GB. The heap holds the executors too, and the Python workers and
    page cache need the other half; a fixed 16 GB heap on a 16 GB machine
    gets the JVM OOM-killed. 16 GB where ``MemTotal`` is unreadable."""
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{min(16 * 1024, max(1024, kib // 2048))}m"


#: HotSpot's compiler threads for a new local context's driver JVM (in
#: local mode also the executor): one C1 and one C2 thread, where HotSpot
#: picks one C1 and two C2 on 4 vCPUs. Spark code in a short micro-batch
#: or query runs briefly, and compiling it was most of its CPU: a warm
#: perfbench ``ingest_bulk`` cycle (3.2 CPU-s) spent 1.9-3.1 s in the JIT.
#: One C2 thread compiles less, not later: on 4 vCPUs the JIT time up to
#: the seventh cycle fell from 25.3 to 16.3 s, and the median ``op_cpu_s``
#: from 3.25 to 2.64 s (``ingest_bulk``) and from 0.281 to 0.233 s
#: (``analytics_suite``), while the sf0.1 ``bench.py`` inventory ran 3.7 %
#: longer. Spark puts ``spark.driver.defaultJavaOptions`` before a
#: caller's ``spark.driver.extraJavaOptions``.
DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"


def python_worker_conf() -> dict[str, str]:
    """Run Python workers through the package's daemon,
    :mod:`event_store_spark._pyworker`, which stops every task re-reading
    the unchanged ``pyspark.zip``. The daemon starts before any shipped
    zip arrives, so the executor's ``PYTHONPATH`` starts with the
    package's parent directory (the caller's ``PYTHONPATH`` follows);
    workers then import the package from the tree the driver runs."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(p for p in (parent, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.python.daemon.module": "event_store_spark._pyworker",
        "spark.executorEnv.PYTHONPATH": path,
    }


def get_spark(
    app_name: str = "event-store-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all
    local cores. On a real cluster the master/conf come from spark-submit;
    everything set here is safe to carry over. A new local-master
    context also gets :func:`python_worker_conf` and one C2 compiler
    thread (:data:`DRIVER_JAVA_OPTIONS`); ``extra_conf`` overrides any of
    it, and a reused active session is left as it is.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        # shuffle width defaults to the core count (at least 8); at scale
        # it must ride the INPUT (the standard cluster-sizing rule — a 100×
        # corpus through a fixed 32-way shuffle makes every reducer sort
        # 100× more rows), which AQE's initial width below allows;
        # ``extra_conf`` can pin a width
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE pick each shuffle's width between 1 and 8×cores from the
        # ACTUAL exchange size instead of pinning every reduce stage to the
        # core count: small stages coalesce to a handful of partitions as
        # before, while a 100×-corpus exchange (triangle_count's adjacency
        # shuffle moves ~57 GB) fans out instead of pushing gigabytes
        # through each of 32 reducers. This is the cluster-idiomatic AQE
        # posture — high initial width, runtime coalesce — and makes the
        # "shuffle width must ride the input" note above real without env
        # plumbing.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * cpus),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # bucketed-table writes (co-located joins) land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.shuffle.spill.compress", "true")
        # zstd over the default lz4 for shuffle/spill blocks: on the
        # shuffle-heaviest plan (triangle_count at the 100× corpus) the
        # heavy exchange shrank 20.3→13.6 GB on disk and wall time
        # 173→140 s; small shuffles pay only negligible extra CPU. This
        # is the standard large-cluster posture — exchange bytes are the
        # scarce resource at 100 TB, not codec cycles.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # keep stdout clean: external tooling (the bench driver) parses the
        # last stdout line as JSON, and progress bars interleave with it
        .config("spark.ui.showConsoleProgress", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        ).config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        for k, v in python_worker_conf().items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
