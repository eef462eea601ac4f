"""Streaming CDC job: bootstrap snapshot + foreachBatch delivery loop.

Reproduces the reference's orchestration (SURVEY §2.6/§3):

- O3 bootstrap: if any stream opts into ``read``, write the snapshot
  (op=READ, shared start LSN) FIRST, with a hard barrier (the batch write
  either completes or the job fails — the flush-barrier analog), then
  start the streaming query.
- O1 batch loop: each micro-batch routes, serializes once, fans out
  per-destination — the body of `processChangesToKafka`
  (`src/processor/processor.zig:150-184`).
- O2 at-least-once: Structured Streaming's checkpoint commits offsets
  only after the foreachBatch body returns — exactly the reference's
  'confirm LSN to Postgres only after Kafka flush' contract. Replays
  re-produce a suffix; consumers dedup on (resource, lsn) (O4).
- O6 graceful shutdown: ``query.stop()``; checkpoint makes restart safe.
- M1/M4: per-batch tally + lag into the MetricsRegistry, observed on
  the sink's own pass over the batch (``operators.tally.observed_tally``).

Sink: partitioned parquet per destination here (the testbed has no
Kafka broker); `df.write.format("kafka")` with the reference's producer
options is a one-line swap (see ``kafka_writer_options``).
"""

from __future__ import annotations

import os
import time
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.config import PipelineConfig
from outboxx_spark.fsutil import fs_exists
from outboxx_spark.functions.envelope import serialize_feed
from outboxx_spark.operators.keys import partition_key
from outboxx_spark.operators.routing import route_config
from outboxx_spark.operators.tally import observed_tally
from outboxx_spark.pipeline import FEED_DATA_COLS
from outboxx_spark.sources.feed import read_feed_stream
from outboxx_spark.sources.snapshot import snapshot_table
from outboxx_spark.streaming.metrics import MetricsRegistry


def kafka_writer_options(
    bootstrap_servers: str, security=None
) -> dict[str, str]:
    """The reference producer's delivery-guarantee configs
    (`src/sink/kafka/producer.zig:111-176`), as Spark Kafka sink options.

    ``security``: an optional ``config.KafkaSinkConfig`` — its validated
    TLS x SASL axes (security.protocol derivation, JAAS config, CA
    truststore) merge in LAST, so the secured options win. Its broker
    list also overrides ``bootstrap_servers`` (one source of truth for
    a secured sink)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "kafka.enable.idempotence": "true",
        "kafka.acks": "all",
        "kafka.max.in.flight.requests.per.connection": "5",
        "kafka.retries": "3",
        "kafka.retry.backoff.ms": "500",
        "kafka.linger.ms": "50",
        "kafka.batch.size": "262144",
        "kafka.delivery.timeout.ms": "30000",
        "kafka.request.timeout.ms": "15000",
        # fail-fast on startup, same as the reference
        "kafka.socket.connection.setup.timeout.ms": "10000",
    }
    if security is not None:
        from outboxx_spark.config import kafka_security_options

        opts.update(kafka_security_options(security))
    return opts


def _dynamic_key(data_cols: list[str]) -> F.Column:
    """R3 with per-stream routing_key: the configured column name (a
    *value* in the routed row) selects the payload column. A literal
    name->value map keeps this codegen'd; missing/null key fails fast.
    Built once per payload shape (``_key_expr``), not per micro-batch."""
    return _key_expr(tuple(data_cols))


@lru_cache(maxsize=64)
def _key_expr(data_cols: tuple[str, ...]) -> F.Column:
    kv = []
    for c in data_cols:
        kv += [F.lit(c), F.col(c).cast("string")]
    return partition_key(F.create_map(*kv)[F.col("routing_key")])


def _route_and_serialize(batch: DataFrame, streams: list) -> DataFrame:
    serialized = serialize_feed(batch, FEED_DATA_COLS)  # once per event (F1)
    routed = route_config(serialized, streams)  # fan-out (R1/R2)
    return routed.withColumn("key", _dynamic_key(FEED_DATA_COLS))  # R3


def snapshot_tables_preflight(
    sf_dir: str, config: PipelineConfig, spark: SparkSession | None = None
) -> list[str]:
    """V3-analog pre-flight: a read-opted resource must exist as a
    snapshot source (the reference validates table existence against
    pg_catalog before starting, `src/source/postgres/validator.zig:
    76-179`). Resources backed only by the live feed (the testbed's
    virtual ``public.tN`` tables) have no snapshot source and are
    skipped — their READ events arrive in-band.

    With a session, existence probes go through Hadoop's FileSystem —
    the SAME path resolution ``snapshot_table``'s ``spark.read.parquet``
    will use (bare paths resolve against fs.defaultFS on a cluster), so
    the probe can never disagree with the read that follows it.
    Driver-local os.path is the sessionless fallback for local bare
    paths only; a scheme-qualified sf_dir without a session raises
    instead of silently misreporting False for every resource."""
    if spark is None and "://" in sf_dir:
        raise ValueError(
            f"snapshot_tables_preflight needs a SparkSession to probe "
            f"scheme-qualified locations (got {sf_dir!r}): os.path would "
            f"silently report every resource absent"
        )
    out = []
    for resource in config.snapshot_resources():
        table = resource.split(".", 1)[1]
        path = f"{sf_dir}/{table}.parquet"
        present = (
            fs_exists(spark, path) if spark is not None else os.path.exists(path)
        )
        if present:
            out.append(resource)
    return out


def run_snapshot_phase(
    spark: SparkSession,
    sf_dir: str,
    config: PipelineConfig,
    out_dir: str,
    *,
    start_lsn: int,
    snapshot_ts: int,
) -> int:
    """Bootstrap: write READ events for every read-opted resource before
    streaming starts (O3). The write is the flush barrier — any failure
    aborts the job before an offset is ever committed. Returns the
    number of tables written."""
    total = 0
    for resource in snapshot_tables_preflight(sf_dir, config, spark):
        table = resource.split(".", 1)[1]
        snap = snapshot_table(
            spark, sf_dir, table, start_lsn=start_lsn, snapshot_ts=snapshot_ts
        )
        data_cols = [c for c in snap.columns if c not in ("op", "resource", "lsn", "commit_ts")]
        serialized = serialize_feed(snap, data_cols)
        routed = route_config(serialized, config.streams)
        keyed = routed.withColumn("key", _dynamic_key(data_cols))
        out = keyed.select("destination", "key", "value", "resource", "op", "lsn")
        out.write.mode("append").partitionBy("destination").parquet(out_dir)
        total += 1
    return total


def start_stream(
    spark: SparkSession,
    sf_dir: str,
    config: PipelineConfig,
    out_dir: str,
    checkpoint_dir: str,
    registry: MetricsRegistry | None = None,
    max_files_per_trigger: int = 1,
    exactly_once: bool = False,
    sink_fn=None,
):
    """The streaming query. foreachBatch body = the reference's hot path;
    checkpoint commit after the body = the at-least-once core (O2).

    ``exactly_once=True`` upgrades the file sink beyond the reference's
    guarantee: output is partitioned by (epoch, destination) and written
    with dynamic partition overwrite, so a replayed micro-batch
    *replaces* its own epoch partition instead of appending duplicates —
    idempotent-producer semantics for files (the Kafka path gets the
    same from ``enable.idempotence`` + checkpoint replay).

    ``sink_fn(delivery, epoch_id)`` contract: the per-batch tally is
    observed on ``delivery``, so it comes from the sink's FIRST action
    over ``delivery``, and that action must read every row (a write, a
    ``count()``, a full ``collect()``; not a ``limit``/``take``).
    ``make_kafka_sink``, the default parquet sink and a count-then-write
    sink all qualify. A sink that runs no action over ``delivery`` gets
    the tally computed by a separate job."""
    registry = registry or MetricsRegistry()
    streams = config.streams

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        # The plan's expressions are built once per query (cached in the
        # envelope, routing and key builders), so per-batch planning is a
        # handful of py4j calls; the micro-batch's rows live only in the
        # sink's one pass (arena, O1), and the tally is observed on it.
        out, read_tally = observed_tally(_route_and_serialize(batch, streams), streams)
        if exactly_once:
            (
                out.withColumn("epoch", F.lit(epoch_id))
                .select("epoch", "destination", "key", "value", "resource", "op", "lsn")
                .write.mode("overwrite")
                # per-write option, not session conf: a session-global
                # partitionOverwriteMode=dynamic would silently change every
                # later mode("overwrite") in the same SparkSession
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch", "destination")
                .parquet(out_dir)
            )
        else:
            # Single partitioned append per micro-batch: one job regardless
            # of destination count (no per-stream driver loop).
            # ``sink_fn`` is the producer-injection seam (the reference
            # tests its producer against a mock cluster the same way,
            # producer.zig:431-502); a raise here fails the micro-batch
            # BEFORE the checkpoint commit -> fail-fast + replay (K6/O2).
            delivery = out.select("destination", "key", "value", "resource", "op", "lsn")
            if sink_fn is not None:
                sink_fn(delivery, epoch_id)
            else:
                delivery.write.mode("append").partitionBy("destination").parquet(out_dir)
        # A1 tally + M4 lag, read after the sink returned like the
        # reference (metrics reflect *delivered* events).
        registry.record_batch(*read_tally())

    return (
        read_feed_stream(spark, sf_dir, max_files_per_trigger)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    config: PipelineConfig,
    out_dir: str,
    checkpoint_dir: str,
    registry: MetricsRegistry | None = None,
    *,
    snapshot_lsn: int = 0,
    snapshot_ts: int | None = None,
) -> None:
    """Full bootstrap-then-stream ordering (O3): snapshot write completes
    (or fails the job) before the first streaming offset commits."""
    if config.snapshot_resources():
        snap_ts = snapshot_ts if snapshot_ts is not None else int(time.time())
        run_snapshot_phase(
            spark, sf_dir, config, out_dir, start_lsn=snapshot_lsn, snapshot_ts=snap_ts
        )
    q = start_stream(
        spark, sf_dir, config, out_dir, checkpoint_dir, registry
    )
    q.awaitTermination()
