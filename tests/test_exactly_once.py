"""Exactly-once file sink: epoch-partitioned dynamic overwrite makes
replays idempotent — zero duplicates at the RAW row level even across a
kill/restart, strictly stronger than the reference's at-least-once."""

from __future__ import annotations

import time

import pytest

from outboxx_spark.pipeline import routed_envelopes
from outboxx_spark.streaming.job import start_stream
from outboxx_spark.testbed import default_config

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def multi_file_feed(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("feed_eo")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


def test_exactly_once_no_duplicates_across_restart(spark, multi_file_feed, tmp_path):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = default_config()

    q1 = start_stream(spark, multi_file_feed, cfg, out_dir, ckpt, exactly_once=True)
    deadline = time.time() + 60
    while time.time() < deadline:
        if any(p and p["numInputRows"] > 0 for p in (q1.recentProgress or [])):
            break
        time.sleep(0.3)
    q1.stop()

    q2 = start_stream(spark, multi_file_feed, cfg, out_dir, ckpt, exactly_once=True)
    q2.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    expect = routed_envelopes(spark, multi_file_feed, cfg)
    # raw-level exactness: no duplicates, no gaps, no unexpected rows
    assert got.count() == expect.count()
    got_set = {tuple(r) for r in got.select("destination", "lsn").collect()}
    exp_set = {tuple(r) for r in expect.select("destination", "lsn").collect()}
    assert got_set == exp_set


def test_exactly_once_rejects_sink_fn(spark, multi_file_feed, tmp_path):
    # exactly_once writes its own epoch-partitioned files; a sink_fn
    # would be silently ignored, so the pair is refused up front
    ckpt = tmp_path / "ckpt"
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="sink_fn"):
        start_stream(
            spark, multi_file_feed, default_config(), str(tmp_path / "out"), str(ckpt),
            exactly_once=True, sink_fn=lambda delivery, epoch_id: None,
        )
    assert len(spark.streams.active) == active
    assert not ckpt.exists()
