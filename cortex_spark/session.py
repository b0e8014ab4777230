"""SparkSession factory tuned for the KG-construction workload.

Settings are chosen for the 100 TB design point and scale down to local[N]:
AQE handles runtime re-planning (skew joins on hot LSH buckets / head
domains), shuffle partitions sized by parallelism, Arrow enabled for every
pandas UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the former fixed spark.driver.memory default, kept as the ceiling
MAX_DRIVER_MEM_GB = 32


def default_resources(cpus: int, phys_bytes: int) -> tuple[int, str]:
    """(local cores, spark.driver.memory) for a machine with `cpus` usable
    CPUs and `phys_bytes` of physical memory: every usable CPU, and half the
    memory in whole GiB (at least 1g, at most 32g) — in local mode the
    Python workers and the OS live outside that heap."""
    mem_gb = min(MAX_DRIVER_MEM_GB, max(1, phys_bytes // 2 // 2**30))
    return max(1, cpus), f"{mem_gb}g"


def _machine_resources() -> tuple[int, str]:
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        cpus = os.cpu_count() or 1
    return default_resources(cpus, os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"))


def get_spark(
    app_name: str = "cortex-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # one BLAS thread per python worker: Spark already parallelizes across
    # tasks; multithreaded BLAS inside each worker oversubscribes the box
    # (and silently lets a local[8] run use every core during GEMMs)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # sized from the machine unless SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM say
    # otherwise
    machine_cpus, machine_mem = _machine_resources()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", machine_cpus))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N; a real cluster would size this 2-3× total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size conditions are
        # met (guide §3.1/§9): the iterative CC kernel's per-round joins drop
        # their SMJ sorts — measured 20.4 → 12.7 s warm on a 1.65M-edge graph
        # (OPTIMIZATION_r06.md); AQE skew-join still applies to both kinds
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", machine_mem))
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        # shuffle/spill stays on disk /tmp: measured 2× FASTER than tmpfs on
        # this VM (tmpfs writes page-fault against ballooned guest RAM);
        # override with SPARK_LOCAL_DIRS on real clusters with local SSDs
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp/spark-local"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    # Fork Python workers from a daemon that has already imported
    # numpy/pandas/pyarrow (cortex_spark/pydaemon.py): ~1.5-2 s of module
    # import per worker becomes one import per daemon, inherited via fork
    # copy-on-write — most of the first Python stage's spin-up on a cold
    # session. Engaged only when the package lives on a real filesystem path
    # the daemon subprocess can import (skipped under py-files zips, where
    # the default pyspark.daemon keeps working as before).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if (
        os.environ.get("CORTEX_NO_DAEMON_PRELOAD") != "1"
        and os.path.isfile(os.path.join(repo_root, "cortex_spark", "pydaemon.py"))
    ):
        pp = os.environ.get("PYTHONPATH", "")
        if repo_root not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")
        builder = builder.config("spark.python.daemon.module", "cortex_spark.pydaemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
