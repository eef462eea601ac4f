"""Per-batch event tally (A1) — the reference's only aggregation.

Reference (`src/processor/processor.zig:18-28, 174-183`): group routed
events by (stream, operation) within a batch and emit one metrics add per
combo. Spark: ``groupBy(stream, op).count()`` — a partial (map-side)
aggregation followed by a tiny shuffle of at most |streams| x |ops| rows,
regardless of event volume. At 100 TB the shuffle payload is still bytes.

The delivery loops take the same counts without a second job:
``observed_tally`` hangs the per-(stream, op) counts on the delivered
frame as observed metrics, so the sink's own pass over the rows computes
them — one pass per batch, like the reference's already-coalesced
counts (`processor.zig:174-183`).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from outboxx_spark.config import StreamConfig


def tally(routed: DataFrame) -> DataFrame:
    return routed.groupBy("stream", "op").agg(F.count("*").alias("n"))


BatchCounts = tuple[dict[tuple[str, str], int], int | None]


def observed_tally(
    routed: DataFrame, streams: list[StreamConfig]
) -> tuple[DataFrame, Callable[[], BatchCounts]]:
    """Attach the batch tally to ``routed`` (which must carry ``stream``,
    ``op`` and ``commit_ts``) and return ``(observed, read)``.

    Hand ``observed`` (or a projection of it) to the sink, then call
    ``read()`` after the sink returns. It gives the non-zero counts keyed
    by (stream, upper-case op) and ``max(commit_ts)`` (None for an empty
    batch). The counts come from the first action over ``observed``,
    which must read every row; a sink that ran no action gets the same
    aggregate computed directly, so ``read`` never blocks on it."""
    # every configured (stream, lowercase op) pair, in config order
    pairs = tuple(dict.fromkeys((s.name, op) for s in streams for op in s.operations))
    metrics = _tally_metrics(pairs)
    observation = Observation()
    observed = routed.observe(observation, *metrics)

    def read() -> BatchCounts:
        if _completed(observation, routed):
            row = observation.get
        else:
            row = _aggregate(routed, metrics)
        counts = {
            (stream, op.upper()): row[f"n{i}"]
            for i, (stream, op) in enumerate(pairs)
            if row[f"n{i}"]
        }
        return counts, row["head"]

    return observed, read


# Observed metrics reach the Observation through Spark's listener bus, a
# moment after the action that computed them returned. Before deciding
# that the sink read no rows, wait (bounded) until the bus has delivered
# what the sink's actions posted; a bus still busy past this falls back
# to the direct aggregate, which is slower but counts the same rows.
_BUS_DRAIN_MS = 2000


def _completed(observation: Observation, routed: DataFrame) -> bool:
    done = observation._jo.future()
    if not done.isCompleted():
        bus = routed.sparkSession.sparkContext._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty(_BUS_DRAIN_MS)
        except Py4JJavaError as e:
            if not e.java_exception.getClass().getName().endswith("TimeoutException"):
                raise
    return done.isCompleted()


def _aggregate(routed: DataFrame, metrics: tuple[Column, ...]) -> dict:
    """The tally as a job of its own, for a sink that read no rows."""
    return routed.agg(*metrics).first().asDict()


@lru_cache(maxsize=64)
def _tally_metrics(pairs: tuple[tuple[str, str], ...]) -> tuple[Column, ...]:
    """One ``count_if`` per pair plus ``max(commit_ts)``, built once per
    config (routing matches ops case-insensitively, so the count does
    too)."""
    return (
        *(
            F.count_if((F.col("stream") == s) & (F.lower(F.col("op")) == op)).alias(f"n{i}")
            for i, (s, op) in enumerate(pairs)
        ),
        F.max("commit_ts").alias("head"),
    )


def op_pivot(feed: DataFrame) -> DataFrame:
    """Operation-mix matrix: one row per resource, one column per
    operation (PIVOT). Spark lowers ``groupBy().pivot()`` with an
    explicit value list to a single hash aggregate of conditional
    counts — no second pass to discover pivot values, one tiny shuffle
    (|resources| rows). Missing combinations are 0, not null, so the
    output is total-order comparable."""
    ops = ["INSERT", "UPDATE", "DELETE", "READ"]
    piv = feed.groupBy("resource").pivot("op", ops).count()
    return piv.select(
        "resource",
        *[F.coalesce(F.col(o), F.lit(0)).cast("long").alias(f"n_{o.lower()}") for o in ops],
    )


OP_PIVOT_SQL_BODY = """
SELECT resource,
       CAST(count(*) FILTER (op = 'INSERT') AS BIGINT) AS n_insert,
       CAST(count(*) FILTER (op = 'UPDATE') AS BIGINT) AS n_update,
       CAST(count(*) FILTER (op = 'DELETE') AS BIGINT) AS n_delete,
       CAST(count(*) FILTER (op = 'READ') AS BIGINT) AS n_read
FROM feed
GROUP BY resource
"""
