"""Spans for the traced run.

``Tracer`` keeps spans (id, name, start, end, parent id, run id) in memory
and writes them as JSON lines at the end. ``traced_job`` wraps the public
functions that ``streaming.job`` calls so that every boundary from
``sources`` to ``envelope`` to ``routing`` to ``keys`` is materialized
(persist + count) inside a span of its own. The program's files are not
touched: the wrappers replace the names in the job module's namespace
(and, for the snapshot, ``DataFrameWriter.parquet``) for the duration of
one round and put them back after. ``TimedRegistry`` is handed to
``start_stream`` as its metrics registry and notes when the job's
post-sink tally reports to it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.readwriter import DataFrameWriter

from outboxx_spark.streaming import job
from outboxx_spark.streaming.metrics import MetricsRegistry

# the order in which a micro-batch runs its progress phases
PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
               "commitOffsets")


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "run_id": self.run_id, **attrs})
        return sid

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, t0, time.time())

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def rows(self, name: str) -> int:
        return sum(s.get("rows", 0) for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(s["name"] == name for s in self.spans)

    def link_round(self, r: dict) -> None:
        """Add the round's span and, for a stream round, a span per
        micro-batch and progress phase (laid out in the order Spark runs
        them), a ``kafka_sink`` span per ``sink_fn`` call and a
        ``job.tally`` span from each ``sink_fn`` return to the job's last
        registry call before the next batch, then hang every span recorded
        during the round under the span that contains it: the batch's
        addBatch, or the round."""
        leaves = [s for s in self.spans if s["parent"] is None]
        root = self.add("round", r["t0"], r["t1"])
        if "progress" not in r:
            for s in leaves:
                s["parent"] = root
            return
        self.add("job.start", r["t0"], r["started"], root)
        batches = []  # (start, end, addBatch span id, batch id)
        for p in r["progress"]:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            end = start + p["triggerExecution"] / 1000
            trigger = self.add("job.trigger", start, end, root, batch=p["batch"])
            at = start
            for phase in PHASE_ORDER:
                d = p.get(phase, 0) / 1000
                sid = self.add(f"job.{phase}", at, at + d, trigger, batch=p["batch"])
                if phase == "addBatch":
                    batches.append((start, end, sid, p["batch"]))
                at += d
        sinks = sorted(r["sink"].items(), key=lambda kv: kv[1][0])
        for i, (epoch, (a, b)) in enumerate(sinks):
            leaves.append(self.spans[self.add("kafka_sink", a, b, batch=epoch)])
            upto = sinks[i + 1][1][0] if i + 1 < len(sinks) else r["t1"]
            calls = [t for t in r["tally_calls"] if b <= t < upto]
            if calls:
                leaves.append(self.spans[self.add("job.tally", b, max(calls), batch=epoch)])
        for s in leaves:
            mid = (s["start"] + s["end"]) / 2
            s["parent"] = root
            for start, end, add_batch, batch in batches:
                if start <= mid <= end:
                    s["parent"], s["batch"] = add_batch, batch

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class TimedRegistry(MetricsRegistry):
    """A metrics registry that keeps the time of every call the job makes
    to it; the job calls it only from its post-sink tally."""

    def __init__(self):
        super().__init__()
        self.calls: list[float] = []

    def add_processed(self, stream: str, op: str, n: int) -> None:
        super().add_processed(stream, op, n)
        self.calls.append(time.time())

    def set_lag(self, seconds: float) -> None:
        super().set_lag(seconds)
        self.calls.append(time.time())


@contextmanager
def traced_job(tracer: Tracer, snapshot: bool):
    """Materialize each layer boundary inside ``job.start_stream`` and
    ``job.run_snapshot_phase`` in its own span, with row counts on the
    ``sources``, ``envelope``, ``routing`` and ``keys`` spans. For the
    snapshot, ``snapshot_table`` (plan building) is a ``sources`` span and
    every parquet write a ``snapshot.write`` span."""
    real = {n: getattr(job, n) for n in
            ("serialize_feed", "route_config", "snapshot_table", "snapshot_tables_preflight")}
    real_parquet = DataFrameWriter.parquet
    held: list = []  # frames persisted by the tracer, released after use
    state: dict = {"data_cols": None}

    def release():
        while held:
            held.pop().unpersist()

    def materialize(layer: str, build):
        """The frame ``build()`` plans, persisted and counted, all inside a
        span named ``layer``."""
        with tracer.span(layer):
            df = build().persist()
            n = df.count()
        tracer.spans[-1]["rows"] = n
        held.append(df)
        return df

    def preflight(*a, **kw):
        with tracer.span("snapshot.preflight"):
            return real["snapshot_tables_preflight"](*a, **kw)

    def snapshot_table(*a, **kw):
        with tracer.span("sources"):
            return real["snapshot_table"](*a, **kw)

    def write_parquet(writer, *a, **kw):
        with tracer.span("snapshot.write"):
            return real_parquet(writer, *a, **kw)

    def serialize_feed(df, data_cols):
        release()  # the previous micro-batch's or table's frames
        df = materialize("sources", lambda: df)
        state["data_cols"] = data_cols
        return materialize("envelope", lambda: real["serialize_feed"](df, data_cols))

    def route_config(events, streams):
        routed = materialize("routing", lambda: real["route_config"](events, streams))
        # the job keys the routed frame with exactly this expression next,
        # so its own plan finds this cached frame
        materialize("keys", lambda: routed.withColumn("key", job._dynamic_key(state["data_cols"])))
        return routed

    job.snapshot_tables_preflight = preflight
    job.snapshot_table = snapshot_table
    job.serialize_feed = serialize_feed
    job.route_config = route_config
    if snapshot:
        DataFrameWriter.parquet = write_parquet
    try:
        yield
    finally:
        for n, f in real.items():
            setattr(job, n, f)
        DataFrameWriter.parquet = real_parquet
        release()
