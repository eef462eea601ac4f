"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case and merely *sized* by environment variables:

- AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  partition counts when the real data distribution shows up.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster it
  is a floor — AQE coalesces down, skew-split raises it.
- Arrow on: every Pandas-UDF boundary (multimodal decode, custom ops) is
  Arrow-batched, never row-at-a-time pickling.
- UTC session timezone so results compare bit-stable against the DuckDB
  oracle and across clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "outboxx_spark", extra_conf: dict | None = None) -> SparkSession:
    # default: the cores this process may run on, so an unset variable
    # never oversubscribes the host
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # The testbed's events.parquet carries TIMESTAMP(NANOS); Spark has
        # no nanos timestamp type, so read as long and convert centrally
        # (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
