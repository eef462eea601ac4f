"""Checkpoint logs go through the FileSystem-based manager by default.

``session.get_spark`` sets ``spark.sql.streaming.checkpointFileManagerClass``
so each micro-batch's ``sources``/``offsets``/``commits`` renames are a
plain ``rename(2)`` instead of forked ``readlink`` calls (see the
``session`` module docstring). These tests check the class Spark actually
instantiates (not the wall clock), that ``extra_conf`` overrides it, and
that a checkpoint resumes across the switch in both directions.
"""

from __future__ import annotations

from collections import Counter
from contextlib import contextmanager

from pyspark.sql import functions as F

from outboxx_spark.pipeline import routed_envelopes
from outboxx_spark.session import CHECKPOINT_FILE_MANAGER, get_spark
from outboxx_spark.streaming.job import start_stream
from outboxx_spark.testbed import default_config

SF = "/root/testdata/sf0.001"
KEY = "spark.sql.streaming.checkpointFileManagerClass"
SPARK_DEFAULT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _manager_class(spark, path) -> str:
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return mgr.getClass().getName()


@contextmanager
def _restored_conf(spark):
    """The ``spark`` fixture is session-wide: put back every runtime conf
    a test changed, and drop the ones it added."""
    before = spark.conf.getAll
    try:
        yield
    finally:
        after = spark.conf.getAll
        for k in after.keys() - before.keys():
            spark.conf.unset(k)
        for k, v in before.items():
            if after.get(k) != v:
                spark.conf.set(k, v)


def test_session_default_is_filesystem_based_manager(spark, tmp_path):
    assert spark.conf.get(KEY) == CHECKPOINT_FILE_MANAGER
    assert _manager_class(spark, tmp_path) == CHECKPOINT_FILE_MANAGER


def test_extra_conf_overrides_the_manager(spark, tmp_path):
    with _restored_conf(spark):
        # getOrCreate hands back the running session with the builder's
        # runtime confs applied, so the override lands as on a new session
        s = get_spark("override", {KEY: SPARK_DEFAULT_MANAGER})
        assert _manager_class(s, tmp_path) == SPARK_DEFAULT_MANAGER
    assert _manager_class(spark, tmp_path) == CHECKPOINT_FILE_MANAGER


def test_checkpoint_resumes_across_manager_switch(spark, tmp_path):
    """Three feed parts, drained in turn into one checkpoint: the first
    under Spark's default manager, the second under the session default,
    the third under Spark's default again. Each run picks up at the next
    batch id and delivers exactly the new files' events."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    lo, hi = ev.select(F.percentile_approx("event_id", [1 / 3, 2 / 3])).first()[0]
    parts = [
        ev.where(F.col("event_id") <= lo),
        ev.where((F.col("event_id") > lo) & (F.col("event_id") <= hi)),
        ev.where(F.col("event_id") > hi),
    ]
    feed, out, ckpt = (str(tmp_path / d) for d in ("feed", "out", "ckpt"))
    cfg = default_config()
    epochs: list[list[int]] = []

    def sink(delivery, epoch_id):
        epochs[-1].append(epoch_id)
        delivery.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(out)

    for part, manager in zip(
        parts, (SPARK_DEFAULT_MANAGER, CHECKPOINT_FILE_MANAGER, SPARK_DEFAULT_MANAGER)
    ):
        part.repartition(2).write.mode("append").parquet(f"{feed}/events.parquet")
        epochs.append([])
        with _restored_conf(spark):
            spark.conf.set(KEY, manager)
            assert _manager_class(spark, ckpt) == manager
            q = start_stream(spark, feed, cfg, out, ckpt, sink_fn=sink)
            assert q.awaitTermination(120)
            assert q.exception() is None
    assert spark.conf.get(KEY) == CHECKPOINT_FILE_MANAGER

    # batch ids continue from the last committed one, one file a batch
    assert epochs == [[0, 1], [2, 3], [4, 5]]
    got = spark.read.parquet(out)
    # every event delivered once per matching stream: no gap, no duplicate
    cols = ["destination", "key", "value", "resource", "op", "lsn"]
    delivered = Counter(tuple(r) for r in got.select(cols).collect())
    expected = Counter(
        tuple(r) for r in routed_envelopes(spark, feed, cfg).select(cols).collect()
    )
    assert delivered == expected
