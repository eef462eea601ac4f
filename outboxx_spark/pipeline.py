"""End-to-end batch CDC pipeline: feed -> route -> key -> envelope -> sink.

The batch shape of the reference's hot path (`src/processor/
processor.zig:150-184`): receive batch, match streams, serialize once,
fan out per stream with a partition key, deliver. In Spark the whole
thing is one declarative plan:

    parquet scan (pruned)            -- S1 analog
      -> project feed columns        -- S8 converter
      -> to_json envelope            -- F1, serialize ONCE
      -> inline(config map lookup)   -- R1/R2, fan-out, no join at all
      -> partition key               -- R3
      -> sink (per-destination)      -- K1

Routing is a plan-constant map literal probed per event
(`operators/routing.py:route_config`) — no broadcast exchange, no
per-plan createDataFrame. Catalyst keeps everything in one
WholeStageCodegen span up to the sink; the only shuffle in the entire
pipeline is the optional repartition by destination before a
partitioned write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.config import PipelineConfig
from outboxx_spark.dataops.util import parallelized
from outboxx_spark.functions.envelope import serialize_feed
from outboxx_spark.operators.keys import partition_key
from outboxx_spark.operators.routing import route_config
from outboxx_spark.sources.feed import read_feed

FEED_DATA_COLS = ["user_id", "event_type", "value", "props"]


def routed_envelopes(
    spark: SparkSession, sf_dir: str, config: PipelineConfig, *, fail_on_null_key: bool = True
) -> DataFrame:
    """The full routed, serialized, keyed output: one row per
    (event, matched stream) with columns (stream, destination, key, value,
    resource, op, lsn)."""
    # The testbed feed can arrive as one file/row-group -> one
    # partition, which would serialize the (CPU-heavy) envelope build on
    # a single core. Spread it when under-partitioned; a real deployment
    # feed (Kafka / many files) skips this — inputFiles >= cores.
    feed = parallelized(read_feed(spark, sf_dir))
    serialized = serialize_feed(feed, FEED_DATA_COLS)  # once per event
    routed = route_config(serialized, config.streams)
    return routed.withColumn(
        "key", partition_key(F.col("user_id"), fail_on_null=fail_on_null_key)
    ).select("stream", "destination", "key", "value", "resource", "op", "lsn")


def write_routed(routed: DataFrame, out_dir: str) -> None:
    """Batch sink: partition output files by destination (the per-topic
    fan-out, K1 analog). A single partitioned write — not a per-stream
    driver loop — so 1000 destinations still produce one job."""
    routed.write.mode("overwrite").partitionBy("destination").parquet(out_dir)
