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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: half of physical
    memory, at most 16g, so a local JVM never gets more heap than the
    host has (or than two concurrent sessions can share)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, ram // 2 // 2**20)}m"


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
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
