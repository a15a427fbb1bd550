"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration is cluster-safe — every knob here is about letting Catalyst
and AQE do the planning rather than hand-scheduling.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: directory holding the package; Python workers get it on their path
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)


def default_driver_memory() -> str:
    """The smaller of 16g and half the host's physical memory."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, physical // 2 // 2**20)}m"


def get_spark(
    app_name: str = "lovdata_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting — the 100 TB safety net for skewed keys.
    - Arrow on: every pandas-UDF boundary (chunker, tokenizer, embedder)
      moves data in columnar batches, not pickled rows.
    - shuffle.partitions defaults to the local core count for tests; on a
      real cluster you would size it to ~2-3× total executor cores (AQE
      coalesces the excess anyway).
    - The package's parent directory is on the Python workers' path, so
      UDFs import the package wherever the driver was started.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
