"""Observed per-batch tally (A1/M4): the delivery loop takes its
(stream, op) counts and lag from the sink's own pass over the batch, so
``events_processed`` must equal a groupBy over what the sink delivered,
whatever the sink does with the frame — write it, count it then write
it, produce it to Kafka, or run no action at all (the tally then falls
back to a direct aggregate and must not hang). Also guards that a
micro-batch reuses the delivery plan's expressions instead of
rebuilding them over py4j."""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

import pytest
from py4j.java_gateway import GatewayClient

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from kafka_broker import KafkaBroker  # noqa: E402
from test_mock_sink import RecordingSink  # noqa: E402

from outboxx_spark.config import PipelineConfig, make_stream, validate  # noqa: E402
from outboxx_spark.functions import envelope  # noqa: E402
from outboxx_spark.operators import routing, tally  # noqa: E402
from outboxx_spark.operators.routing import route_config  # noqa: E402
from outboxx_spark.sources.feed import read_feed  # noqa: E402
from outboxx_spark.streaming import job  # noqa: E402
from outboxx_spark.streaming.job import start_stream  # noqa: E402
from outboxx_spark.streaming.kafka_sink import make_kafka_sink  # noqa: E402
from outboxx_spark.streaming.kafka_wire import consume_all  # noqa: E402
from outboxx_spark.streaming.metrics import MetricsRegistry  # noqa: E402

# three+ streams, none keyed on user_id, mixed op subsets, one resource
# fanned out to two streams; one destination per stream so delivered
# records map back to their stream
STREAMS = [
    make_stream("a_iu", "public.t0", ["insert", "update"], "obs.a", "event_type"),
    make_stream("b_idr", "public.t1", ["insert", "delete", "read"], "obs.b", "value"),
    make_stream("c_ud", "public.t2", ["update", "delete"], "obs.c", "props"),
    make_stream("d_all", "public.t0", ["insert", "update", "delete", "read"], "obs.d", "event_type"),
]
STREAM_OF = {s.destination: s.name for s in STREAMS}


def _config() -> PipelineConfig:
    return validate(PipelineConfig(streams=list(STREAMS)))


@pytest.fixture(scope="module")
def feed_dir(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("feed_tally")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def expected(spark, feed_dir):
    """groupBy(stream, op).count() over the batch path's routed rows."""
    routed = route_config(read_feed(spark, feed_dir), STREAMS)
    return {(r["stream"], r["op"]): r["count"] for r in routed.groupBy("stream", "op").count().collect()}


@pytest.fixture()
def direct_tallies(monkeypatch):
    """How many batches fell back to a tally job of their own."""
    calls = []
    real = tally._aggregate

    def counting(*a):
        calls.append(1)
        return real(*a)

    monkeypatch.setattr(tally, "_aggregate", counting)
    return calls


def _parquet_tally(spark, out_dir: str) -> dict:
    rows = spark.read.parquet(out_dir).groupBy("destination", "op").count().collect()
    return {(STREAM_OF[r["destination"]], r["op"]): r["count"] for r in rows}


def _run(spark, feed_dir, tmp_path, sink_fn=None) -> MetricsRegistry:
    reg = MetricsRegistry()
    q = start_stream(
        spark, feed_dir, _config(), str(tmp_path / "out"), str(tmp_path / "ckpt"), reg,
        sink_fn=sink_fn,
    )
    q.awaitTermination(180)
    assert not q.isActive, "the stream did not drain in time"
    assert q.exception() is None
    return reg


def _check(reg: MetricsRegistry, delivered: dict, expected: dict) -> None:
    assert delivered == expected
    assert dict(reg.events_processed) == delivered
    assert reg.replication_lag_seconds > 0


def test_tally_default_parquet_sink(spark, feed_dir, expected, tmp_path, direct_tallies):
    reg = _run(spark, feed_dir, tmp_path)
    assert not direct_tallies  # single pass: the write itself counted
    _check(reg, _parquet_tally(spark, str(tmp_path / "out")), expected)


def test_tally_count_then_write_sink(spark, feed_dir, expected, tmp_path, direct_tallies):
    # count() before the write: the tally comes from that first pass
    sink = RecordingSink(str(tmp_path / "rec"))
    reg = _run(spark, feed_dir, tmp_path, sink)
    assert not direct_tallies
    assert len(sink.batch_rows) >= 4
    assert sum(sink.batch_rows) == sum(expected.values())
    _check(reg, _parquet_tally(spark, sink.out_dir), expected)


def test_tally_kafka_sink(spark, feed_dir, expected, tmp_path, direct_tallies):
    with KafkaBroker(n_partitions=4) as broker:
        reg = _run(
            spark, feed_dir, tmp_path,
            make_kafka_sink(broker.host, broker.port, retry_backoff_ms=10),
        )
        assert not direct_tallies
        delivered = Counter()
        for dest, stream in STREAM_OF.items():
            for m in consume_all(broker.host, broker.port, dest):
                delivered[(stream, json.loads(m["value"])["op"])] += 1
    _check(reg, dict(delivered), expected)


def test_tally_sink_without_action_does_not_hang(
    spark, feed_dir, expected, tmp_path, direct_tallies
):
    # nothing is delivered, so compare with the frames the sink was
    # handed: the fallback aggregate must count exactly those rows
    handed: list[int] = []
    reg = _run(spark, feed_dir, tmp_path, lambda delivery, epoch_id: handed.append(epoch_id))
    assert len(handed) >= 4
    assert len(direct_tallies) == len(handed)
    _check(reg, expected, expected)


def test_exactly_once_tally_sets_lag(spark, feed_dir, expected, tmp_path, direct_tallies):
    reg = MetricsRegistry()
    q = start_stream(
        spark, feed_dir, _config(), str(tmp_path / "out"), str(tmp_path / "ckpt"), reg,
        exactly_once=True,
    )
    q.awaitTermination(180)
    assert q.exception() is None
    assert not direct_tallies
    _check(reg, _parquet_tally(spark, str(tmp_path / "out")), expected)


def test_batch_plan_expressions_are_built_once(spark, feed_dir):
    """A second batch-shaped frame reuses the envelope, route and key
    expressions: at most a fifth of the first call's gateway commands."""
    for cached in (envelope._envelope_value, routing._route_matches, job._key_expr):
        cached.cache_clear()
    real = GatewayClient.send_command
    calls = []

    def counting(self, *a, **kw):
        calls.append(1)
        return real(self, *a, **kw)

    def commands(batch) -> int:
        calls.clear()
        GatewayClient.send_command = counting
        try:
            job._route_and_serialize(batch, STREAMS)
        finally:
            GatewayClient.send_command = real
        return len(calls)

    first = commands(read_feed(spark, feed_dir))
    second = commands(read_feed(spark, feed_dir))
    assert second * 5 <= first, (first, second)
