"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (one JVM); the config choices
below are the ones that also make sense on a real cluster:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong somewhere; AQE fixes
  it per-stage.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a
  cluster this should be ~2-3x total executor cores (AQE coalesces
  down, so err high).
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- Session timezone pinned UTC so results compare exactly against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Driver heap from ``SPARK_DRIVER_MEM``, else ``min(16g, RAM/2)``.
- A codegen cache of ``CODEGEN_CACHE_ENTRIES`` compiled classes, not
  Spark's 100.  The cache (``spark.sql.codegen.cache.maxEntries``, a
  static conf, so it is set in the builder) is one LRU per JVM, and a
  long-lived session recompiles every class it evicted.  Classes
  compiled, measured with ``compiled_classes`` (perfbench, 2 task
  threads, seed 1): a cold ``corpus_mix`` op (fuzzy curate plus three
  document specs) 116, a cold ``etl_docs`` op (``cli.main``) 44.  At
  100 entries every warm ``corpus_mix`` op recompiled 86 of its 116;
  at 1,000 a warm op of either workload compiles 0, and the median
  ``corpus_mix`` op fell from 3.55 to 2.56 s (4-core host).  One
  ``tools/check_oracle.py`` sweep at sf0.001 compiles 5,606 distinct
  classes (9,400 compiles at 100 entries, 6,464 at 1,000): 1,000
  holds several ops' working sets, and stays bounded because each
  cached class holds metaspace for the life of the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: compiled generated classes the JVM keeps (Spark's default is 100)
CODEGEN_CACHE_ENTRIES = 1000


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: half of physical
    memory, at most 16g, so a local JVM never gets more heap than the
    host has (or than two concurrent sessions can share)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, ram // 2 // 2**20)}m"


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (codegen cache
    misses); the difference across a block is the block's compile work."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_spark(
    app_name: str = "idn_area_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        # local[N, 3] = allow 2 task retries.  Bare local[N] sets
        # spark.task.maxFailures=1, so a single transient (e.g. the
        # rare CancelledKeyException race in the reused-Python-worker
        # socket reader under full-suite load) aborts the whole job;
        # real clusters run with maxFailures=4 and absorb it.
        master = f"local[{cpus}, 3]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
