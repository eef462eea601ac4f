"""Deployment driver: Kafka (Debezium envelopes) -> decode -> route ->
Kafka (per-destination topics), with the engine's metrics endpoint.

The analog of the reference's long-running binary for this stand
(`/root/reference/tests/load/`): the Spark job owns decode (S6 role via
sources/debezium.py since the replication slot lives with Debezium),
routing (R1/R2), key extraction (R3), envelope serialization (F1) and
the Kafka producer configs (K1); the checkpoint commits offsets only
after the sink write returns (K3/O2 — a produce failure fails the
micro-batch BEFORE the commit, so restart replays it). The per-batch
tally/lag is the same observed tally streaming/job.py's process_batch
reads (operators/tally.py:observed_tally).
Configuration is the same TOML shape the reference uses
(config_toml.load_config).

Runs under spark-submit with the kafka package (see
docker-compose.yml); not executable in the build sandbox (no broker),
but every operator it composes is oracle- or unit-tested there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from outboxx_spark.config_toml import load_config
from outboxx_spark.operators.keys import partition_key
from outboxx_spark.operators.routing import route, streams_dim
from outboxx_spark.operators.tally import observed_tally
from outboxx_spark.sources.debezium import parse_debezium
from outboxx_spark.streaming.http import ObservabilityServer
from outboxx_spark.streaming.job import kafka_writer_options
from outboxx_spark.streaming.metrics import MetricsRegistry


def main() -> None:
    bootstrap = os.environ.get("KAFKA_BOOTSTRAP", "kafka:9092")
    source_topic = os.environ.get("SOURCE_TOPIC", "cdc.raw.events")
    config_path = os.environ.get("CONFIG_PATH", "deploy/load-stand/config.toml")
    checkpoint = os.environ.get("CHECKPOINT_DIR", "/checkpoints/cdc")
    metrics_port = int(os.environ.get("METRICS_PORT", "9108"))

    spark = SparkSession.builder.appName("outboxx-spark-cdc").getOrCreate()
    config = load_config(config_path)
    streams = streams_dim(spark, config.streams).cache()
    registry = MetricsRegistry()
    server = ObservabilityServer(registry, port=metrics_port).start()

    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", source_topic)
        .option("startingOffsets", "earliest")
        # K2 backpressure: bounded micro-batches, the reference's
        # max-batch role (its 5000-event default scaled to executors)
        .option("maxOffsetsPerTrigger", "50000")
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )
    events = parse_debezium(raw)
    # F1 envelope over the dynamic row image — the same JSON shape
    # sources/json_feed.parse_envelopes reads back (symmetric contract)
    enveloped = events.select(
        "resource",
        "op",
        "data",
        "commit_ts",
        F.to_json(
            F.struct(
                F.col("op"),
                F.col("data"),
                F.struct(
                    F.col("source"),
                    F.col("resource"),
                    F.col("commit_ts").alias("timestamp"),
                    F.col("lsn_text").alias("lsn"),
                ).alias("meta"),
            )
        ).alias("value"),
    )

    def process_batch(batch, epoch_id: int) -> None:
        routed = route(batch, streams)
        out, read_tally = observed_tally(
            routed.select(
                F.col("destination").alias("topic"),
                # R3: per-stream routing key out of the dynamic row image;
                # null key fail-stops the batch (reference parity)
                partition_key(
                    F.element_at(F.col("data"), F.col("routing_key"))
                ).alias("key"),
                F.col("value"),
                F.col("stream"),
                F.col("op"),
                F.col("commit_ts"),
            ),
            config.streams,
        )
        (
            out.select("topic", "key", "value")
            .write.format("kafka")
            .options(**kafka_writer_options(bootstrap))
            .save()
        )
        # A1 tally + M4 lag AFTER the sink write, like the reference
        # (metrics reflect delivered events); commit_ts is ts_ms here
        counts, head = read_tally()
        registry.record_batch(counts, head / 1000.0 if head else None)
        registry.mark_activity()

    q = (
        enveloped.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        server.stop()


if __name__ == "__main__":
    main()
