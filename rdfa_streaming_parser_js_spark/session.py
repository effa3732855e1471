"""SparkSession factory with scale-minded defaults.

Tests/bench run on ``local[N]`` single-JVM, but every setting here is the
one you would ship to a 1000-executor cluster:

- AQE on (runtime shuffle coalescing + skew-join splitting),
- Arrow exchange on with a bounded batch size — pages carry whole HTML
  documents, so the default 10k-rows/batch would balloon Python-worker
  memory; 512 rows keeps batches ~MBs (SURVEY.md §4 "UDF batch sizing"),
- shuffle partitions sized to parallelism (overridable per job),
- a driver heap of half the host's memory, at most 16g
  (``SPARK_GRAFT_DRIVER_MEM`` overrides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_mem() -> str:
    """Half of physical memory, at most 16g: a heap as large as the host
    lets the JVM outgrow the machine before it collects."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, phys // 2 >> 20)}m"


def get_spark(app_name: str = "rdfa-kg", parallelism: int | None = None,
              shuffle_partitions: int | None = None,
              arrow_batch_rows: int = 512) -> SparkSession:
    cpus = parallelism or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(arrow_batch_rows))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
