"""SparkSession factory with scale-appropriate defaults.

The reference engine relies on Polars' lazy optimizer + streaming runtime
(ref: eda_workspace/public_eda_pipeline.py:29-30, collect(engine="streaming")
sites). The Spark analog is Catalyst + AQE; we pin the configs that matter
for both local correctness (UTC timestamps for DuckDB-oracle comparison,
Arrow for toPandas crossings) and cluster scale (AQE, skew join handling).
"""

from __future__ import annotations

import os
import warnings

from pyspark import SparkContext
from pyspark.sql import SparkSession

# JIT code cache: the default -XX:ReservedCodeCacheSize (240 MB,
# segmented ~116 MB per nmethod heap on JDK 17) is too small for a JVM
# that JITs thousands of whole-stage-codegen classes — measured: HALF the
# registry fills the non-profiled segment to 89/116 MB, and a
# full-registry bench session overflows it mid-run, at which point the
# sweeper flushes hot nmethods and the code-heavy entries step +16-19%
# slower (pass totals 244.0 -> 268.5/272.8 concentrated in the registry's
# second half, flat on a half-registry probe that stays under the limit).
# Same math on any long-running many-query driver or executor JVM; 512 MB
# holds the whole registry's JIT output.
CODE_CACHE_FLAG = "-XX:ReservedCodeCacheSize=512m"


def java_options() -> str:
    """The driver's and executors' JVM flags: CODE_CACHE_FLAG, then
    $SPARK_GRAFT_DRIVER_JAVA_OPTS. The JVM takes the last of repeated
    flags, so the user's win."""
    user = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "").strip()
    return f"{CODE_CACHE_FLAG} {user}".strip()


def get_spark(
    app_name: str = "cyberpolka_eda_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults honor $SPARK_GRAFT_CPUS for local core count; on a real
    cluster, pass master=None with a pre-configured spark-submit and only
    the sql-level confs apply.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: ~cores; a real cluster deployment would size this to
        # 2-3x total executor cores (or rely on AQE coalescing).
        shuffle_partitions = max(cpus, 8)
    java_opts = java_options()
    if SparkContext._active_spark_context is not None:
        warnings.warn(
            "a SparkContext is already running: its JVM options and other static "
            "settings stay; get_spark's take effect only in a new process",
            stacklevel=2,
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # reclaim shuffle/broadcast state in long many-query sessions
        # (default 30min lets dead blocks pile up locally). 45s — the
        # r8-r12 value — forced a FULL System.gc() every 45 seconds;
        # r13 measured one such collection taking 3.5 s on a ~7 GB
        # garbage backlog INSIDE a timed query (the spread-gate spike
        # mechanism). 10min is the safety net; processes that need
        # deterministic cleanup points (bench.py) call System.gc()
        # between queries themselves, where no timer can land inside a
        # measurement. Env-tunable for cluster profiles.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "10min"),
        )
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executor.extraJavaOptions", java_opts)
        # whole-stage-codegen class cache (static conf, default 100):
        # a 240-entry registry generates several codegen units per query,
        # so one full pass evicts the default cache completely and EVERY
        # warm pass re-pays janino compilation for every literal-heavy
        # plan (bench.py's settle-pass note measured 450 s vs 373 s pass
        # totals from exactly this). Sized to hold the whole registry's
        # generated classes; the same eviction math applies to any
        # long-running many-query session on a cluster (per-JVM cache,
        # driver and executors alike), so this is not a local-only tune.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
