"""SparkSession factory with scale-aware defaults.

Local sandbox runs on local[N]; the same settings map to multi-executor
clusters (AQE, skew join, Arrow batching). Shuffle partitions default to
the core count — the per-page group keys used throughout the engine give
far more groups than partitions at any realistic scale, so AQE coalescing
handles small inputs while large inputs spread evenly.
"""

import os

from pyspark.sql import SparkSession

# local mode: the driver heap is ALL the memory Spark has; this share of
# the host's memory leaves room for the Python workers and the OS
HEAP_SHARE = 0.6


def default_cores() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else HEAP_SHARE of MemTotal (as a JVM
    size, e.g. ``9216m``)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return "%dm" % (int(line.split()[1]) * HEAP_SHARE // 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def get_spark(app_name="pdftabextract_spark", cores=None, shuffle_partitions=None,
              arrow_max_records=2048, extra_conf=None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)

    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE (round 6): raising
        # spark.sql.adaptive.coalescePartitions.initialPartitionNum to 512
        # was A/B'd and REJECTED as a default. It won ~8% on the sf1.0
        # operator suite (finer AQE splits for the q18/q20 exchanges) but
        # catastrophically regressed small sessions: the e2e pipelines'
        # pandas-kernel stages ran all 512 tasks un-coalesced at cores=8
        # (~107 ms fixed Python cost per task -> 2.2s extract became
        # 22.4s), and the coalescing behavior across session shapes was
        # not predictable enough to gate on. Revisit only with a
        # per-exchange mechanism.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # scan split size (guide §6): Spark's 128m (extra_conf overrides
        # it). A/B at the sf1.0 bench (round 6): 16m splits were
        # equal-or-slower on every query (q12 0.276 vs 0.254, q17 0.66 vs
        # 0.52 best-of-4) — the few-split small-file scans here are not
        # scan-bound, and per-row-heavy operators spread small inputs
        # explicitly (partitioning.spread_small_input) instead. At scale,
        # raise toward 512m-1g for large sequential scans.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one Arrow batch ~ a bounded number of pages/boxes per Python call
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
        # size the heap to the machine — a heap far below it makes big
        # persists evict/spill and large jobs go superlinear
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # the grid assignment joins boxes with per-page positions derived
        # from them; keys are unambiguous by construction (grouped by name
        # on each side), so relax the strict self-join analyzer check
        .config("spark.sql.analyzer.failAmbiguousSelfJoin", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
