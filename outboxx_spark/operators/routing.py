"""Routing (R1/R2): match change events to configured streams, with fan-out.

Reference `matchStreams` (`src/processor/processor.zig:31-51`): keep
streams where ``stream.source.resource == change.meta.resource`` (exact
equality on the fully-qualified name) AND ``change.op`` is in the
stream's operation subset (case-insensitive). One change can match N
streams — it is produced once per match (fan-out). READ events route only
to read-opted streams (R2, `config.zig:130-147`).

Spark-first design — ``route_config`` picks between two shapes by
config size, because their costs cross over:

- **Literal-map route (small configs, the common case)**: the stream
  config is a driver-side constant, so the whole match table is
  embedded in the plan as ONE folded map literal ``(resource + NUL +
  op) -> array<struct<stream, destination, routing_key>>`` and
  fan-out is ``inline(map[key])`` — a codegen'd Generate with no
  join, no broadcast exchange, and no per-plan ``createDataFrame``
  round trip. Caveat that sets the threshold: Catalyst evaluates
  ``GetMapValue`` on an ``ArrayBasedMapData`` literal by LINEAR key
  scan (there is no hashed literal map), so the per-event probe is
  O(config entries) — negligible for the tens-of-entries configs
  this engine routes in practice, wrong for thousands.
- **Dim-table route (`route` + `streams_dim`, large configs)**: a
  broadcast-HASH join against the exploded config dimension — O(1)
  probe per event after a per-executor build, the right trade once
  the entry count would make the linear scan a per-event tax. Also
  the shape for configs that genuinely live in a table. The event
  side never shuffles in either shape.

``ROUTE_LITERAL_MAX_ENTRIES`` (128) is the crossover: below it the
saved broadcast build/exchange dominates (measured at sf0.1: the
10-entry testbed config runs the full pipeline 0.41 s vs 0.62 s per
invocation literal-vs-join); above it the O(n) scan would cost more
per event than a hash probe ever does.

Both shapes produce identical rows (pinned by
``tests/test_cdc_core.py::test_route_config_matches_dim_join``).
"""

from __future__ import annotations

import json
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.config import StreamConfig

# NUL cannot appear in a Postgres identifier, so resource + NUL + op is
# collision-free as a composite map key
_KEY_SEP = "\x00"

_ROUTE_MAP_SCHEMA = (
    "map<string, array<struct<"
    "stream:string,destination:string,routing_key:string>>>"
)


def streams_route_map(streams: list[StreamConfig]) -> Column:
    """Config -> one constant map column ``(resource NUL op) -> matches``.

    Built as ``from_json`` over a literal string: Catalyst's constant
    folding evaluates it once at optimization time, so the executed
    plan carries a map *literal* — nothing is parsed per row. Ops are
    stored lowercase in config; ``route_config`` lowercases the event
    op, giving the reference's case-insensitive match
    (`processor.zig:43-48`)."""
    entries: dict[str, list[dict[str, str | None]]] = {}
    for s in streams:
        for op in s.operations:
            entries.setdefault(f"{s.resource}{_KEY_SEP}{op}", []).append(
                {
                    "stream": s.name,
                    "destination": s.destination,
                    "routing_key": s.routing_key,
                }
            )
    return F.from_json(F.lit(json.dumps(entries)), _ROUTE_MAP_SCHEMA)


# literal-map crossover: GetMapValue linear-scans the literal, so cap
# the per-event probe at a size where the scan stays cheaper than a
# broadcast-hash build + probe (see module docstring)
ROUTE_LITERAL_MAX_ENTRIES = 128


def route_config(events: DataFrame, streams: list[StreamConfig]) -> DataFrame:
    """events x config -> one output row per (event, matched stream).
    Unmatched events drop — the reference skips changes matching zero
    streams (`processor.zig:177-179`). Picks the literal-map shape for
    small configs and the broadcast-hash dim join past
    ``ROUTE_LITERAL_MAX_ENTRIES`` (rationale in the module docstring);
    both shapes are row-identical."""
    n_entries = sum(len(s.operations) for s in streams)
    if n_entries > ROUTE_LITERAL_MAX_ENTRIES:
        return route(events, streams_dim(events.sparkSession, streams))
    return events.select("*", _route_matches(tuple(streams)))


@lru_cache(maxsize=64)
def _route_matches(streams: tuple[StreamConfig, ...]) -> Column:
    """The literal-map fan-out for one config: ``inline`` turns each
    matched struct into the (stream, destination, routing_key) columns
    directly. ``StreamConfig`` is frozen, so the config tuple is the
    cache key and a micro-batch reuses the expression instead of
    rebuilding it over py4j."""
    key = F.concat(F.col("resource"), F.lit(_KEY_SEP), F.lower(F.col("op")))
    return F.inline(streams_route_map(list(streams))[key])


def streams_dim(spark: SparkSession, streams: list[StreamConfig]) -> DataFrame:
    """Config -> exploded (stream, resource, op, destination, routing_key)
    dimension, for the dim-table join shape. Ops are stored lowercase; the
    join lowercases the event op, giving the reference's case-insensitive
    match (`processor.zig:43-48`)."""
    rows = [
        (s.name, s.resource, op, s.destination, s.routing_key)
        for s in streams
        for op in s.operations
    ]
    return spark.createDataFrame(
        rows, "stream string, resource string, op_lc string, destination string, routing_key string"
    )


def route(events: DataFrame, streams: DataFrame) -> DataFrame:
    """events x broadcast(streams) -> one output row per (event, matched
    stream). Unmatched events drop (inner join). The dim-table shape of
    ``route_config`` — same semantics when the dim comes from
    ``streams_dim``."""
    return events.join(
        F.broadcast(streams),
        (events["resource"] == streams["resource"])
        & (F.lower(events["op"]) == streams["op_lc"]),
        "inner",
    ).drop(streams["resource"]).drop("op_lc")
