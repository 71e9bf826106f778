"""SparkSession factory tuned for the engine.

Local mode is the sandbox stand-in for a multi-executor cluster; the same
conf names carry to spark-submit on a real cluster. AQE is on so skewed
shuffles re-plan at runtime (north_rule: skew handled explicitly — salting
in operators/verify.py and operators/spatial.py is the first line, AQE the
backstop).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries in Spark's generated-code cache (``spark.sql.codegen.cache.
#: maxEntries``, default 100). The cache is an LRU over compiled classes,
#: so a pass whose working set is larger than the cache misses on every
#: repeat: it recompiles the same classes with Janino, and the JVM JITs
#: the new classes again. Working sets measured with
#: ``plans.explain.codegen_counters`` (compiles in one cold pass):
#: verify_e1 45; the spatial_graph benchmark pass 160; the spatial + graph
#: operator mix on the sf0.001 fixtures 159; one pass of the 50-query
#: driver window at sf0.001 about 1015, of which about 50 generate new
#: code on every pass and can never hit. At 100 entries a repeated
#: spatial_graph pass recompiles about 147 classes; at 1000 the window
#: still recompiled 284 per repeated pass, at 2048 only its ~50 that
#: always miss. An entry exists only for a class actually compiled, so
#: the larger bound costs memory only when a working set fills it. The
#: size follows from the engine's own query set, not from the
#: deployment, so it is a constant rather than an env var (``extra_conf``
#: can still override it).
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "fileverification_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32).
    ``shuffle_partitions`` defaults to 2x the local cores — enough to keep
    every thread busy through AQE coalescing without tiny-partition overhead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N parallel tasks; 2x gives AQE room to coalesce.
        n = _parse_local_cores(master) or cpus
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 128 MiB input splits: at 100 TB that is ~800k tasks — fine for a
        # 1000-executor cluster; local runs never see files that big.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # static conf: only a builder setting reaches the JVM-wide cache
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # shuffle/spill on tmpfs when available: local[N] funnels every
    # shuffle through one disk, which caps CPU scaling measurements; a
    # real cluster has per-executor NVMe, which tmpfs approximates.
    if os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parse_local_cores(master: str) -> int | None:
    if master.startswith("local[") and master.endswith("]"):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count()
        try:
            return int(inner)
        except ValueError:
            return None
    return None
