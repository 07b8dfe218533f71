"""SparkSession construction tuned for both local testing and cluster scale.

The reference pipeline is a single-threaded eager Python loop
(``redcap-etl.py:399-422``); here the session is the engine: Catalyst plans,
Tungsten executes, AQE re-plans at runtime. Every knob below is chosen for
the 100 TB target (AQE coalesce/skew, broadcast threshold, partition-size
bounds) while remaining correct on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults sized for local[N] testing; on a real cluster most of these are
# superseded by spark-submit conf.  They are all standard public Spark confs.
_BASE_CONF: dict[str, str] = {
    # ---- planner / runtime adaptivity -----------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # At 100 TB a fixed shuffle-partition count is always wrong; AQE
    # coalesces from a high initial number. Locally 64 initial / 32 target.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "64",
    # ---- broadcast ------------------------------------------------------
    # Dimension tables (region/nation/supplier/field-map-style side tables)
    # must broadcast; 64 MB covers every dim we ship while keeping the
    # driver safe on a 1000-executor cluster.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ---- scan sizing ----------------------------------------------------
    # 128 MB split targets keep ~100k tasks for 100 TB — the sweet spot for
    # Spark's scheduler; small enough to fit executor memory with room for
    # hash aggregation.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # The test corpus writes TIMESTAMP(isAdjustedToUTC=false, MICROS)
    # parquet, which Spark 4 reads as TIMESTAMP_NTZ; load_table casts to
    # the catalog's TimestampType at the source boundary (value-preserving
    # under the UTC session TZ below). nanosAsLong stays on defensively so
    # a nanos-encoded file reads as long and hits the same boundary repair
    # instead of erroring.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # ---- python interop -------------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # ---- semantics ------------------------------------------------------
    # UTC so timestamps agree with UTC-naive engines (DuckDB oracle) and
    # with each other across executors in different host timezones.
    "spark.sql.session.timeZone": "UTC",
    # ---- local-mode hygiene --------------------------------------------
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true",
}


_DRIVER_MEM_CAP_GB = 24
_MEMINFO = "/proc/meminfo"
# cgroup v2, then v1; v1 reports "no limit" as a huge number
_CGROUP_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _usable_memory_bytes() -> int | None:
    """Memory this process can use: ``MemTotal`` from /proc/meminfo, or
    the cgroup memory limit when that is smaller. None when neither can
    be read (non-Linux hosts)."""
    limits = []
    try:
        with open(_MEMINFO) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)
                    break
    except OSError:
        pass
    for path in _CGROUP_LIMIT_FILES:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limits.append(int(raw))
        break
    return min(limits) if limits else None


def _default_driver_memory() -> str:
    """Local-mode driver heap: half the usable memory, at least 1g and
    at most 24g (24g when the memory cannot be read). The single local
    JVM also holds off-heap buffers and shares the host with its Python
    workers, so a heap sized to the whole host gets the JVM OOM-killed
    before it collects."""
    usable = _usable_memory_bytes()
    if usable is None:
        return f"{_DRIVER_MEM_CAP_GB}g"
    return f"{max(1, min(_DRIVER_MEM_CAP_GB, usable // 2 // 2**30))}g"


def build_session(
    app_name: str = "redcap_omop_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    tests and bench share one code path; pass an explicit master for
    cluster deployment. In local mode the driver heap defaults to
    ``_default_driver_memory()``; ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(master.split("[")[1].rstrip("]*")))
        except (IndexError, ValueError):
            shuffle_partitions = 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        # Single-JVM local mode: the driver is the only executor.
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    target_tb: float = 100.0,
    executor_cores: int = 5,
    executor_mem_gb: int = 28,
) -> dict[str, str]:
    """The spark-submit conf profile for multi-executor deployment — the
    knobs local[N] cannot exercise but a 100 TB run lives or dies on.
    Returned as a dict so callers feed it to ``build_session(extra_conf=
    ...)`` or render ``--conf`` flags; every key is standard public Spark.

    Sizing rationale (documented in DEPLOY.md):
    - 5 cores/executor: the classic HDFS-client throughput sweet spot;
      more cores per JVM contend on shuffle spill and GC.
    - Initial shuffle partitions ~ bytes/128 MB (AQE coalesces down):
      at 100 TB that is ~800k map outputs — far beyond a static
      ``shuffle.partitions``, which is why AQE owns the number.
    - Dynamic allocation + shuffle tracking: the corpus-prep workload is
      bursty (scan-heavy stages fan wide, dedup verify stages narrow).
    - Speculation re-runs stragglers (bad disk/NIC executors) — at 1000
      executors something is always slow; 1.5× quantile-based restart
      caps tail latency without duplicating healthy tasks.
    """
    initial_partitions = max(1024, int(target_tb * 1024 * 1024 / 128))
    return {
        # ---- elasticity ---------------------------------------------------
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": "1200",
        "spark.dynamicAllocation.executorIdleTimeout": "120s",
        # ---- executor shape ----------------------------------------------
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.memoryOverheadFactor": "0.15",  # Arrow/python workers
        # ---- shuffle at scale --------------------------------------------
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(initial_partitions),
        "spark.shuffle.compress": "true",
        "spark.io.compression.codec": "zstd",
        # ---- stragglers ---------------------------------------------------
        "spark.speculation": "true",
        "spark.speculation.multiplier": "1.5",
        "spark.speculation.quantile": "0.9",
        # ---- resilience ---------------------------------------------------
        "spark.stage.maxConsecutiveAttempts": "8",
        "spark.task.maxFailures": "8",
    }
