"""JSON envelope serializer (F1) + UPDATE new-image projection (R4).

Reference envelope (`src/serialization/json.zig:17-126`, fixture in
`src/e2e/cdc_test.zig:134-156`):

    {"op": "...",
     "data": {...new image only...},
     "meta": {"source": "postgres", "resource": "schema.table",
              "timestamp": <unix s>, "lsn": "X/X" | null}}

Key order is (op, data, meta) and (source, resource, timestamp, lsn) —
Spark's `to_json` preserves struct field order, so we declare fields in
that order. Correctness is defined as parsed-value equality, not byte
equality (SURVEY §7 'what's hard' #1).

R4: UPDATE serializes **only the new row** (`json.zig:57-70`) — the old
image exists in the domain model but never in the envelope.

Scale: `to_json(struct(...))` is a single codegen'd JVM expression —
serialization is embarrassingly parallel and the 'serialize once, fan out
N' tactic (`processor.zig:204-206`) is achieved by materializing the JSON
column *before* the routing fan-out join when N > 1.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from outboxx_spark.functions.typemap import lsn_text

SOURCE_NAME = "postgres"


def _finite_guard(c: Column, name: str) -> Column:
    """Serializer guard (`json.zig:94-100`): a non-finite float reaching
    serialization is a hard error. On the text->typed path the converter
    stringifies NaN/Inf first (S9), so this never fires for
    Postgres-sourced data — it catches typed-feed corruption."""
    return F.when(
        F.isnan(c) | (c == float("inf")) | (c == float("-inf")),
        F.raise_error(F.lit(f"NonFiniteFloat: column {name} is not JSON-serializable")),
    ).otherwise(c)


def meta_struct(resource: Column, timestamp: Column, lsn: Column) -> Column:
    """meta with the declared key order; lsn rendered in text X/X form."""
    return F.struct(
        F.lit(SOURCE_NAME).alias("source"),
        resource.alias("resource"),
        timestamp.alias("timestamp"),
        lsn_text(lsn).alias("lsn"),
    )


def envelope_json(op: Column, data: Column, resource: Column, timestamp: Column, lsn: Column) -> Column:
    """Full envelope as one JSON string column."""
    return F.to_json(
        F.struct(
            op.alias("op"),
            data.alias("data"),
            meta_struct(resource, timestamp, lsn).alias("meta"),
        ),
        # The reference serializer writes explicit nulls ("lsn": null,
        # "col": null — json.zig:57-126); Spark's default drops null keys.
        {"ignoreNullFields": "false"},
    )


def serialize_feed(df: DataFrame, data_cols: list[str]) -> DataFrame:
    """Flat feed frame -> (key columns +) ``value`` JSON envelope.

    ``data_cols`` is the new-image payload (R4: for UPDATE the feed
    carries only the new image downstream). Emitted once per event; the
    routing join afterwards fans the same serialized value out to N
    streams without re-serializing. Double columns get the non-finite
    hard-error guard.

    The ``value`` expression depends only on the payload column names
    and which of them are floating point, so it is built once per shape
    and reused (``_envelope_value``): a micro-batch pays one
    ``withColumn`` instead of rebuilding the expression tree over py4j.
    """
    types = dict(zip(df.schema.names, df.schema.fields))
    floats = tuple(
        c
        for c in data_cols
        if c in types and isinstance(types[c].dataType, (T.DoubleType, T.FloatType))
    )
    return df.withColumn("value", _envelope_value(tuple(data_cols), floats))


@lru_cache(maxsize=64)
def _envelope_value(data_cols: tuple[str, ...], floats: tuple[str, ...]) -> Column:
    """The envelope expression for one payload shape. A Column is an
    unresolved expression held through the driver's py4j gateway, which
    lives as long as the process, so a cached one stays valid across
    sessions and ``SparkContext.stop()``."""
    data = F.struct(
        *[
            (_finite_guard(F.col(c), c) if c in floats else F.col(c)).alias(c)
            for c in data_cols
        ]
    )
    return envelope_json(F.col("op"), data, F.col("resource"), F.col("commit_ts"), F.col("lsn"))
