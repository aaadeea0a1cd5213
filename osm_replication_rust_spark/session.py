"""SparkSession factory tuned for the tiling workload.

Local mode is a stand-in for a multi-executor cluster: every knob below is
chosen so the same plan shape survives a 1000-executor deployment (AQE for
runtime re-planning and skew-join splitting, shuffle partitions sized to the
parallelism level, Arrow for the vectorized UDF path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _active_processor_flag(master: str) -> str:
    """Under local-cluster (several executor JVMs on ONE host), each
    executor otherwise sizes its GC / JIT / netty thread pools by the
    HOST's core count — 4 executors x 32 GC threads thrash each other.
    -XX:ActiveProcessorCount=<its own cores> makes every JVM size pools
    for its actual share. Measured on the compute-bound control: N->4N
    efficiency 0.46 -> 0.67 (L4 throughput +50%). Real cluster managers
    (YARN/k8s) do this via cgroups; standalone local-cluster does not."""
    import re

    m = re.match(r"local-cluster\[\s*\d+\s*,\s*(\d+)", master)
    if not m:
        return ""
    return f" -XX:ActiveProcessorCount={m.group(1)}"


def _default_driver_memory() -> str:
    """A quarter of the memory this process may use — its cgroup's limit
    when one is set, else the host's MemTotal — capped at 24g. The rest
    is left to the JVM's off-heap memory, the Python workers and the
    driver process."""
    limits = []
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                limits.append(int(f.read()))
        except (OSError, ValueError):  # absent, or "max" (no limit)
            pass
    try:
        with open("/proc/meminfo") as f:
            limits += [int(ln.split()[1]) * 1024 for ln in f if ln.startswith("MemTotal:")]
    except OSError:
        pass
    if not limits:
        return "24g"
    return f"{min(min(limits) // 4 >> 20, 24 << 10)}m"


def get_spark(
    app_name: str = "osm_replication_rust_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32. ``shuffle_partitions``
    defaults to the parallelism level — on a real cluster this would be
    ~2-3x total cores; partition *count* scales with the cluster, the
    plan does not change.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # SPARK_GRAFT_MASTER overrides the master URL — used by the scaling
    # harness to run process-isolated executors, e.g.
    # local-cluster[4,8,4096] = 4 separate executor JVMs x 8 cores
    # (the closest this sandbox gets to a real multi-executor cluster)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    # executor python workers must import this package: under
    # local-cluster (separate executor JVMs) PYTHONPATH is not inherited
    # from the driver's sys.path — ship the repo root explicitly (the
    # local-mode stand-in for spark-submit --py-files)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    exec_pythonpath = ":".join(
        p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", exec_pythonpath)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pyspark's worker daemon without the per-task re-read of
        # pyspark.zip's directory (see worker_daemon)
        .config("spark.python.daemon.module", "osm_replication_rust_spark.worker_daemon")
        # big Arrow batches: the geometry kernels are O(rows) numpy with
        # per-batch fixed cost — 256k batches measured 29M rows/s vs
        # 22M at 64k vs ~6M at the 10k default (flagship refine, 32
        # threads; BENCH.md). Re-measured on perfbench tile_regional
        # with the one-scan refine (4 CPUs, seeds 301-304): 64k batches
        # gave the same work per CPU-s (1.47M vs 1.44M items/cpu-s) and
        # a higher median peak RSS (2636 vs 2453 MB); 16k cost 10% more
        # CPU per count
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        # the JVM-wide generated-class cache defaults to 100 entries; a
        # workload cycling through ~24 distinct queries (the bench, the
        # gate, any multi-query job) evicts its own classes between
        # passes and pays Janino recompilation on every run (measured:
        # interleaved re-runs 1.3-1.8x slower than back-to-back purely
        # from recompiles). Size it so a whole catalog's classes stay
        # resident; cost is a few hundred MB of driver/executor
        # metaspace at worst, independent of data scale.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        # only meaningful under local-cluster / a real cluster manager
        .config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        # G1 defaults collapse under 16-32 concurrent codegen tasks in one
        # JVM (measured 2.5x, BENCH.md): bigger regions + relaxed pause
        # target restore linear scaling of the allocation-heavy stages
        .config(
            "spark.driver.extraJavaOptions",
            "-Duser.timezone=UTC -XX:G1HeapRegionSize=32m -XX:MaxGCPauseMillis=400",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-Duser.timezone=UTC -XX:G1HeapRegionSize=32m -XX:MaxGCPauseMillis=400"
            + _active_processor_flag(master)
            # e.g. "-Xms14g -XX:+AlwaysPreTouch": committing the heap at
            # executor startup removes the first-big-run page-commitment
            # storm measured under local-cluster (354s -> 27s first rep)
            + (" " + os.environ["SPARK_GRAFT_EXECUTOR_JVM_EXTRA"]
               if os.environ.get("SPARK_GRAFT_EXECUTOR_JVM_EXTRA") else ""),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
