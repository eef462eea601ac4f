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
- Checkpoint logs written through ``FileSystemBasedCheckpointFileManager``
  instead of Spark's default ``FileContextBasedCheckpointFileManager``.

Why the checkpoint manager. Every micro-batch writes three metadata logs
(``sources/0``, ``offsets``, ``commits``): each file is written to a temp
name, then renamed into place. The default manager renames through
``AbstractFileSystem.rename``; without libhadoop, ``RawLocalFileSystem``
answers that call by forking ``readlink`` for the source and destination
of the data file and of its ``.crc``, and every ``create`` forks
``chmod``: JFR ``jdk.ProcessStart`` over 40 warm micro-batches counted
968 ``readlink`` + 247 ``chmod``, ~30 forks a batch. The FileSystem-based
manager renames through ``FileSystem.rename``, which on the local
filesystem is ``File.renameTo`` (POSIX ``rename(2)``, atomic, no fork);
only the ``chmod`` forks from ``create`` remain (~6 a batch; removing
those needs libhadoop). In a traced ``perfbench`` ``stream_drain`` run
(4 cores) the per-batch medians of the three commit phases fell from
~33 ms each to ~9 ms each (``latestOffset`` 32 -> 9.5 ms, ``walCommit``
33 -> 9 ms, ``commitOffsets`` 33 -> 9 ms). The on-disk log format is the
same, so a checkpoint written under either manager resumes under the
other.

Trade-off: without overwrite, the FileSystem-based manager checks that
the destination is absent and then renames, where ``FileContext``'s
rename refuses an existing destination atomically. The two differ only
when two writers share one checkpoint, which Structured Streaming does
not support. Sessions not built here (a vanilla ``SparkSession``, such
as ``deploy/load-stand/run_cdc.py``'s) keep Spark's default; on HDFS or
an object store that default does not fork anyway. ``extra_conf`` can
set ``spark.sql.streaming.checkpointFileManagerClass`` back, like every
other default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


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
        # fork-free checkpoint renames; see the module docstring
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
