"""CDC delivery benchmark.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):

- ``stream_drain``: a 500k-event backlog through ``streaming.job.start_stream``
  with ``streaming.kafka_sink.make_kafka_sink`` into a 3-broker stand.
- ``snapshot_bootstrap``: ``streaming.job.run_snapshot_phase`` over
  lineitem, orders and customer, writing partitioned parquet.

Each run starts a Spark session, generates its inputs from ``--seed``,
starts a fresh broker process (stream workloads) and makes one warm-up
pass; that is ``setup_s``. It then repeats the workload until ``--seconds``
have passed, checks every delivered record against an oracle, and prints
one JSON line. ``--trace 1`` instead runs one untraced and one traced
round, writes spans to ``.perfbench/spans/`` and prints the per-layer
metrics. A failed check exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from collections import Counter
from dataclasses import replace
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))  # the package under test, from this checkout

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from outboxx_spark.config import PipelineConfig, make_stream, validate  # noqa: E402
from outboxx_spark.functions.envelope import serialize_feed  # noqa: E402
from outboxx_spark.pipeline import FEED_DATA_COLS, routed_envelopes  # noqa: E402
from outboxx_spark.session import get_spark  # noqa: E402
from outboxx_spark.sources.feed import read_feed  # noqa: E402
from outboxx_spark.sources.snapshot import snapshot_table  # noqa: E402
from outboxx_spark.streaming.job import run_snapshot_phase, start_stream  # noqa: E402
from outboxx_spark.streaming.kafka_sink import make_kafka_sink  # noqa: E402
from outboxx_spark.testbed import default_config  # noqa: E402

import inputs  # noqa: E402
from procstat import TreeSampler, cpu_s, tree  # noqa: E402
from tracing import TimedRegistry, Tracer, traced_job  # noqa: E402

WORK_ROOT = ROOT / ".perfbench"
CPUS = len(os.sched_getaffinity(0))
_LSN = re.compile(rb'"lsn":"([0-9A-F]+)/([0-9A-F]+)"')

STREAM = {
    # 50 files of 10k events, 5 files per trigger: 10 batches of 50k
    "stream_drain": {"events": 500_000, "files": 50, "files_per_trigger": 5},
}
# the first micro-batch is cold (~7 s); three more of the timed batches'
# size warm the per-batch path (with smaller ones the first timed round
# ran 20% slower than the second)
WARMUP_FEED = {"events": 200_000, "files": 20, "files_per_trigger": 5}
WARMUP_TOPIC_PREFIX = "warmup."
BROKERS, PARTITIONS = 3, 8
SNAPSHOT_LSN, SNAPSHOT_TS = 1 << 32, 1_700_000_000
# progress durationMs keys -> per-layer metric names
PHASES = {
    "triggerExecution": "job.trigger_ms",
    "addBatch": "job.add_batch_ms",
    "latestOffset": "job.latest_offset_ms",
    "getBatch": "job.get_batch_ms",
    "queryPlanning": "job.query_planning_ms",
    "walCommit": "job.wal_commit_ms",
    "commitOffsets": "job.commit_offsets_ms",
}


def declared_units(section: str) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json's ``end_to_end`` or
    ``per_layer`` list: the file is the one list of what a run prints."""
    with open(ROOT / "BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else median(xs)


class CheckFailed(Exception):
    pass


def check(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


# ---------------------------------------------------------------- setup


def prepare_env(work: Path) -> None:
    """Everything the session and its workers need, before Spark starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)  # session.py defaults to local[32]
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start_session(work: Path):
    tmp = work / "tmp"
    return get_spark("perfbench", {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })


def start_broker():
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "broker.py"), "--brokers", str(BROKERS),
         "--partitions", str(PARTITIONS)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    line = proc.stdout.readline()
    if not line:
        proc.wait()
        raise RuntimeError("broker process did not start")
    return proc, [tuple(x) for x in json.loads(line)]


def stop_broker(proc) -> None:
    """The stand keeps its logs in memory only, so it is killed outright."""
    proc.kill()
    proc.wait()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    gateway = SparkContext._gateway
    pids = set(tree(os.getpid())) - {os.getpid()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def base_tables(kind: str, spec: dict) -> dict:
    """A workload's table contents, the same for every seed."""
    if kind == "stream":
        n = spec["events"]
        return {"events": inputs.base_events(-(-n // inputs.FEED_BASE_EVENTS)).slice(0, n)}
    return {t: inputs.base_snapshot(t) for t in inputs.SNAPSHOT_ROWS}


def build_inputs(kind: str, spec: dict, base: dict, seed: int) -> dict:
    """Seeded part files of each table: name -> tables."""
    if kind == "stream":
        return {"events": inputs.split(base["events"], spec["files"], seed, 0)}
    return {t: inputs.split(table, inputs.SNAPSHOT_FILES[t], seed, 1) for t, table in base.items()}


def expected_counts(kind: str, tables: dict, streams) -> tuple[int, Counter]:
    """-> (source events, deliveries per destination), from the generator."""
    if kind == "stream":
        return inputs.feed_counts(pa.concat_tables(tables["events"]), streams)
    per_dest: Counter = Counter()
    rows = 0
    for t, parts in tables.items():
        n = sum(p.num_rows for p in parts)
        rows += n
        for s in streams:
            if s.resource == f"public.{t}":
                per_dest[s.destination] += n
    return rows, per_dest


def generate(kind: str, spec: dict, seed: int, data: Path, streams) -> tuple[float, int, Counter]:
    """Split the tables into files three times (seed, seed again, seed + 1),
    write the first, and check that the second is byte-identical and the
    third holds the same events and deliveries. -> (content plus median
    split plus write time, source events, deliveries per destination)."""
    t0 = time.perf_counter()
    base = base_tables(kind, spec)
    content_s = time.perf_counter() - t0
    builds, times = [], []
    for s in (seed, seed, seed + 1):
        t0 = time.perf_counter()
        builds.append(build_inputs(kind, spec, base, s))
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for name, parts in builds[0].items():
        inputs.write_dataset(parts, str(data / f"{name}.parquet"))
    write_s = time.perf_counter() - t0
    for name, parts in builds[1].items():
        check(inputs.same_bytes(parts, str(data / f"{name}.parquet")),
              f"seed {seed} must give byte-identical {name} files")
    events, per_dest = expected_counts(kind, builds[0], streams)
    check(expected_counts(kind, builds[2], streams) == (events, per_dest),
          f"seeds {seed} and {seed + 1} must give the same events and deliveries")
    return content_s + median(times) + write_s, events, per_dest


# ---------------------------------------------------------------- rounds


class Run:
    """One benchmark process: session, inputs, broker and listener."""

    def __init__(self, workload: str, seed: int, work: Path):
        self.workload, self.seed, self.work = workload, seed, work
        self.kind = "stream" if workload in STREAM else "snapshot"
        self.spec = STREAM.get(workload, {})
        self.data = work / "data"
        self.setup: dict[str, float] = {}
        self.spark = self.broker = None

    def start(self) -> None:
        t0 = time.perf_counter()
        self.spark = start_session(self.work)
        self.setup["setup.session_s"] = time.perf_counter() - t0
        self.cfg = default_config() if self.kind == "stream" else snapshot_config()
        gen_s, self.sources, self.per_dest = generate(
            self.kind, self.spec, self.seed, self.data, self.cfg.streams)
        # events a round delivers: source events for a stream (delivered
        # means acked and committed), READ rows written for the snapshot
        self.events = self.sources if self.kind == "stream" else sum(self.per_dest.values())
        self.setup["setup.generate_s"] = gen_s
        self.setup["setup.broker_s"] = 0.0
        if self.kind == "stream":
            t0 = time.perf_counter()
            self.broker, self.bootstrap = start_broker()
            self.setup["setup.broker_s"] = time.perf_counter() - t0
            self.progress = install_listener(self.spark)
            host, port = self.bootstrap[0]
            self.sink = make_kafka_sink(host, port, bootstrap=self.bootstrap,
                                        n_partitions=PARTITIONS, sink_parallelism=CPUS)
        t0 = time.perf_counter()
        self.warm_up()
        self.setup["setup.warmup_s"] = time.perf_counter() - t0

    def warm_up(self) -> None:
        """Passes over the same path, so the timed phase starts warm: a
        smaller feed into topics of its own, or two rounds of the snapshot
        (after one, the first timed rounds still ran a third slower)."""
        if self.kind == "stream":
            feed = self.work / "warmup"
            spec = WARMUP_FEED
            events = inputs.base_events(-(-spec["events"] // inputs.FEED_BASE_EVENTS)).slice(
                0, spec["events"])
            inputs.write_dataset(inputs.split(events, spec["files"], self.seed, 2),
                                 str(feed / "events.parquet"))
            cfg = validate(PipelineConfig(streams=[
                replace(s, destination=WARMUP_TOPIC_PREFIX + s.destination)
                for s in self.cfg.streams]))
            self.stream_round("warmup", feed, cfg, spec)
        else:
            for i in range(2):
                self.snapshot_round(f"warmup{i}")

    def stream_round(self, tag: str, feed: Path, cfg, spec: dict,
                     registry: TimedRegistry | None = None) -> dict:
        """One drain of ``feed``; ``registry`` (traced rounds) is passed to
        ``start_stream`` as its metrics registry."""
        sink_spans: dict[int, tuple[float, float]] = {}

        def timed_sink(delivery, epoch_id):
            t0 = time.time()
            self.sink(delivery, epoch_id)
            sink_spans[epoch_id] = (t0, time.time())

        t0 = time.time()
        q = start_stream(self.spark, str(feed), cfg, str(self.work / "out" / tag),
                         str(self.work / "ckpt" / tag), registry=registry,
                         max_files_per_trigger=spec["files_per_trigger"], sink_fn=timed_sink)
        started = time.time()
        q.awaitTermination()
        t1 = time.time()
        progress = self.progress.wait(str(q.runId))
        log(f"{tag}: {t1 - t0:.2f} s, triggerExecution ms {[p['triggerExecution'] for p in progress]}")
        want = -(-spec["files"] // spec["files_per_trigger"])
        check(len(progress) == want,
              f"{tag}: {len(progress)} micro-batches reported, {want} expected")
        check(sum(p["rows"] for p in progress) == spec["events"],
              f"{tag}: micro-batches read {sum(p['rows'] for p in progress)} events")
        return {"t0": t0, "started": started, "t1": t1, "wall": t1 - t0,
                "progress": progress, "sink": sink_spans,
                "tally_calls": registry.calls if registry is not None else []}

    def snapshot_round(self, tag: str) -> dict:
        out = self.work / "out" / tag
        t0 = time.time()
        n = run_snapshot_phase(self.spark, str(self.data), self.cfg, str(out),
                               start_lsn=SNAPSHOT_LSN, snapshot_ts=SNAPSHOT_TS)
        t1 = time.time()
        log(f"{tag}: {t1 - t0:.2f} s")
        # run_snapshot_phase returns the number of tables written, not the
        # rows its docstring promises; rows are counted from the output
        check(n == len(self.cfg.snapshot_resources()), f"{tag}: {n} tables written")
        return {"t0": t0, "t1": t1, "wall": t1 - t0, "out": out}

    def round(self, tag: str, registry: TimedRegistry | None = None) -> dict:
        if self.kind == "stream":
            return self.stream_round(tag, self.data, self.cfg, self.spec, registry)
        return self.snapshot_round(tag)

    # ------------------------------------------------------------ checks

    def verify(self, rounds: list[dict]) -> dict:
        if self.kind == "stream":
            return self.verify_stream(len(rounds))
        return self.verify_snapshot(rounds)

    def verify_stream(self, k: int) -> dict:
        """Every destination's broker log against the batch-path oracle on
        the same input; each oracle record must be there ``k`` times."""
        pdf = (routed_envelopes(self.spark, str(self.data), self.cfg)
               .select("destination", "lsn", "key", "value").toPandas())
        want = Counter(zip(pdf["destination"], pdf["lsn"].astype(int), pdf["key"], pdf["value"]))
        check(Counter(pdf["destination"]) == self.per_dest,
              "oracle deliveries per destination differ from the generator's counts")
        check(max(want.values()) == 1, "oracle holds a repeated record")
        got: Counter = Counter()
        nbytes = 0
        for dest, records in self.broker_logs().items():
            if dest.startswith(WARMUP_TOPIC_PREFIX):
                continue
            for _pid, _off, key, value in records:
                hi, lo = _LSN.search(value).groups()
                got[(dest, (int(hi, 16) << 32) | int(lo, 16),
                     key.decode() if key is not None else None, value.decode())] += 1
                nbytes += len(key or b"") + len(value)
        expected = k * len(want)
        missing = sum(max(0, k - got[r]) for r in want)
        extra = sum(max(0, n - k) for r, n in got.items() if r in want)
        unknown = sum(n for r, n in got.items() if r not in want)
        appended = sum(got.values())
        return {"expected": expected, "missing": missing, "extra": extra, "unknown": unknown,
                "appended": appended, "bytes": nbytes, "deliveries": len(want),
                "matched_events": len({r[1] for r in want}),
                "failed": missing + unknown, "correct": missing == 0 and unknown == 0}

    def broker_logs(self) -> dict[str, list]:
        """Every record appended at the broker, per topic."""
        path = self.work / "broker.pickle"
        self.broker.stdin.write(f"dump {path}\n")
        self.broker.stdin.flush()
        check(self.broker.stdout.readline().strip() == "ok", "broker did not dump its logs")
        with open(path, "rb") as fh:
            return pickle.load(fh)

    def verify_snapshot(self, rounds: list[dict]) -> dict:
        """Per-destination row counts of every round's output against
        table rows x matching streams."""
        missing = extra = appended = files = nbytes = 0
        for r in rounds:
            got: Counter = Counter()
            for d in Path(r["out"]).iterdir():
                if d.name.startswith("destination="):
                    for f in d.glob("*.parquet"):
                        got[d.name.split("=", 1)[1]] += pq.read_metadata(f).num_rows
                        files += 1
                        nbytes += f.stat().st_size
            for dest in set(got) | set(self.per_dest):
                missing += max(0, self.per_dest.get(dest, 0) - got[dest])
                extra += max(0, got[dest] - self.per_dest.get(dest, 0))
            appended += sum(got.values())
        expected = len(rounds) * sum(self.per_dest.values())
        return {"expected": expected, "missing": missing, "extra": extra,
                "appended": appended, "files": files // len(rounds),
                "bytes": nbytes // len(rounds), "failed": missing + extra,
                "correct": missing == 0 and extra == 0}

    def close(self) -> None:
        if self.broker is not None:
            stop_broker(self.broker)
        if self.spark is not None:
            stop_session(self.spark)


def snapshot_config():
    """Read-opted streams keyed on columns other than user_id; orders is
    read by two streams (600k + 2 x 150k + 15k = 915k READ envelopes)."""
    return validate(PipelineConfig(streams=[
        make_stream("lineitem_by_order", "public.lineitem", ["read"], "snap.lineitem", "l_orderkey"),
        make_stream("orders_by_order", "public.orders", ["read"], "snap.orders", "o_orderkey"),
        make_stream("orders_by_customer", "public.orders", ["read"], "snap.orders.by_customer",
                    "o_custkey"),
        make_stream("customer_by_key", "public.customer", ["read"], "snap.customer", "c_custkey"),
    ]))


class ProgressLog:
    """Every micro-batch's StreamingQueryProgress, per query run
    (``query.recentProgress`` keeps only the last 100)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: dict[str, list[dict]] = {}
        self._done: dict[str, threading.Event] = {}

    def _event(self, run_id: str) -> threading.Event:
        with self._lock:
            return self._done.setdefault(run_id, threading.Event())

    def add(self, p) -> None:
        with self._lock:
            self._progress.setdefault(str(p.runId), []).append(
                {"batch": p.batchId, "timestamp": p.timestamp, "rows": p.numInputRows,
                 **p.durationMs})

    def terminated(self, run_id: str) -> None:
        self._event(run_id).set()

    def wait(self, run_id: str) -> list[dict]:
        """Progress of a finished query, once its last event has arrived
        (listener events are delivered after ``awaitTermination`` returns)."""
        check(self._event(run_id).wait(60), f"query {run_id}: no termination event")
        with self._lock:
            return sorted(self._progress.pop(run_id, []), key=lambda p: p["batch"])


def install_listener(spark) -> ProgressLog:
    progress = ProgressLog()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.add(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            progress.terminated(str(event.runId))

    spark.streams.addListener(Listener())
    return progress


# ---------------------------------------------------------------- metrics


def batch_latencies_ms(run: Run, rounds: list[dict]) -> list[float]:
    """Per-micro-batch triggerExecution; for the snapshot, per bootstrap."""
    if run.kind == "stream":
        return [float(p["triggerExecution"]) for r in rounds for p in r["progress"]]
    return [r["wall"] * 1000 for r in rounds]


def measure(run: Run, seconds: float) -> tuple[dict, dict]:
    """Rounds until ``seconds`` have passed, and the CPU time they cost."""
    exclude = {run.broker.pid} if run.broker is not None else set()
    rounds = []
    cpu0 = cpu_s(tree(os.getpid(), exclude))
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < seconds:
        rounds.append(run.round(f"r{len(rounds)}"))
    elapsed = time.perf_counter() - t0
    cpu = cpu_s(tree(os.getpid(), exclude)) - cpu0
    t1 = time.perf_counter()
    res = run.verify(rounds)
    log(f"verified in {time.perf_counter() - t1:.2f} s: {res}")
    events = len(rounds) * run.events
    lat = batch_latencies_ms(run, rounds)
    log(f"{run.workload}: {len(rounds)} rounds, {events} events in {elapsed:.2f} s, "
        f"{len(lat)} batches, setup {run.setup}")
    return {
        # the median round: a round slowed by the host or by the JIT still
        # warming (the snapshot's first timed rounds) does not set the figure
        "events_per_s": median([run.events / r["wall"] for r in rounds]),
        "batch_latency_p50_ms": median(lat),
        "appended_per_delivery": res["appended"] / res["expected"],
        "cpu_s_per_mevent": cpu / (events / 1e6),
        "setup_s": sum(run.setup.values()),
    }, res


def envelope_bytes(run: Run) -> int:
    """Bytes of every envelope the serializer builds for one round's input
    (dropped events included), through the package's own functions."""
    meta = ("op", "resource", "lsn", "commit_ts")
    if run.kind == "stream":
        frames = [serialize_feed(read_feed(run.spark, str(run.data)), FEED_DATA_COLS)]
    else:
        frames = []
        for res in run.cfg.snapshot_resources():
            snap = snapshot_table(run.spark, str(run.data), res.split(".", 1)[1],
                                  start_lsn=SNAPSHOT_LSN, snapshot_ts=SNAPSHOT_TS)
            frames.append(serialize_feed(snap, [c for c in snap.columns if c not in meta]))
    return sum(f.agg(F.sum(F.octet_length("value"))).first()[0] for f in frames)


def measure_traced(run: Run, spans_path: Path) -> tuple[dict, dict]:
    """One untraced round, then one traced round on the same input."""
    exclude = {run.broker.pid} if run.broker is not None else set()
    with TreeSampler(os.getpid(), exclude) as sut:
        untraced = run.round("untraced")
    tracer = Tracer(f"{run.workload}-seed{run.seed}")
    stream = run.kind == "stream"
    with traced_job(tracer, snapshot=not stream):
        traced = run.round("traced", TimedRegistry() if stream else None)
    tracer.link_round(traced)
    tracer.write(str(spans_path))
    res = run.verify([untraced, traced])

    wall = traced["wall"]
    # layers a workload does not run stay 0
    m = dict.fromkeys(declared_units("per_layer"), 0.0)
    m.update(run.setup)
    m["sut.peak_rss_mb"] = sut.peak_rss_mb
    inner = ("sources", "envelope", "routing", "keys")
    for layer in inner:
        m[f"{layer}.busy_s"] = tracer.total(layer)
    m["sources.rows"] = tracer.rows("sources")
    m["routing.fanout_ratio"] = tracer.rows("routing") / m["sources.rows"]
    m["envelope.bytes_out"] = envelope_bytes(run)
    # every named layer of the workload must have recorded work
    layers = {layer: tracer.rows(layer) for layer in inner}
    if stream:
        prog = untraced["progress"]
        for phase, name in PHASES.items():
            m[name] = median([float(p.get(phase, 0)) for p in prog])
        m["job.trigger_p90_ms"] = p90([float(p["triggerExecution"]) for p in prog])
        m["job.batches"] = len(prog)
        m["job.overhead_ms"] = median([p["triggerExecution"] - p["addBatch"] for p in prog])
        sink_ms = {e: (b - a) * 1000 for e, (a, b) in untraced["sink"].items()}
        m["job.tally_ms"] = median([p["addBatch"] - sink_ms[p["batch"]] for p in prog])
        m["kafka_sink.busy_s"] = sum(sink_ms.values()) / 1000
        m["kafka_sink.produce_s"] = tracer.total("kafka_sink")
        m["kafka_sink.records_acked"] = res["appended"] // 2
        m["kafka_sink.bytes"] = res["bytes"] // 2
        m["kafka_sink.ack_ratio"] = res["expected"] / res["appended"]
        m["routing.drop_ratio"] = 1 - res["matched_events"] / run.sources
        # the job's own time, each part measured: the start_stream call,
        # every trigger outside its addBatch (Spark's phase timers) and the
        # post-sink tally (sink_fn return to the job's last registry call)
        outside = sum(p["triggerExecution"] - p["addBatch"] for p in traced["progress"]) / 1000
        m["job.self_s"] = tracer.total("job.start") + outside + tracer.total("job.tally")
        layers["kafka_sink"] = tracer.count("kafka_sink") == len(traced["progress"])
        layers["job.tally"] = tracer.count("job.tally") == len(traced["progress"])
        selfs = sum(m[f"{layer}.busy_s"] for layer in inner) + m["kafka_sink.produce_s"] + m["job.self_s"]
    else:
        m["snapshot.preflight_s"] = tracer.total("snapshot.preflight")
        m["snapshot.write_s"] = tracer.total("snapshot.write")
        m["snapshot.files"] = res["files"]
        m["snapshot.bytes"] = res["bytes"]
        m["snapshot.self_s"] = m["snapshot.preflight_s"] + m["snapshot.write_s"]
        layers["snapshot.preflight"] = tracer.count("snapshot.preflight") == 1
        layers["snapshot.write"] = tracer.count("snapshot.write") == len(run.cfg.snapshot_resources())
        selfs = sum(m[f"{layer}.busy_s"] for layer in inner) + m["snapshot.self_s"]
    m["duplicate_ratio"] = res["extra"] / res["expected"]
    m["failed_ratio"] = res["missing"] / res["expected"]
    m["trace.wall_s"] = wall
    m["trace.untraced_wall_s"] = untraced["wall"]
    m["trace.overhead_s"] = wall - untraced["wall"]
    # every self time above is a span of its own, not a remainder, so time
    # a layer's spans miss is missing here too
    m["trace.coverage"] = selfs / wall
    log(f"{run.workload} traced: wall {wall:.3f} s, self times sum to {selfs:.3f} s "
        f"({m['trace.coverage']:.1%}), overhead {m['trace.overhead_s']:.3f} s; spans in {spans_path}")
    empty = [layer for layer, ok in layers.items() if not ok]
    check(not empty, f"traced round: no work recorded for {empty}")
    res["correct"] = res["correct"] and abs(m["trace.coverage"] - 1) <= 0.10
    return m, res


# ---------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*STREAM, "snapshot_bootstrap"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    run = Run(args.workload, args.seed, work)
    try:
        run.start()
        if args.trace:
            spans = WORK_ROOT / "spans"
            spans.mkdir(parents=True, exist_ok=True)
            metrics, res = measure_traced(run, spans / f"{args.workload}-seed{args.seed}.jsonl")
            units = declared_units("per_layer")
        else:
            metrics, res = measure(run, args.seconds)
            units = declared_units("end_to_end")
    finally:
        t0 = time.perf_counter()
        run.close()
        log(f"closed in {time.perf_counter() - t0:.2f} s")
        shutil.rmtree(work, ignore_errors=True)
    check(metrics.keys() == units.keys(),
          f"measured {sorted(metrics.keys() ^ units.keys())} differ from BENCHMARK.json")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["expected"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except CheckFailed as e:
        log(f"check failed: {e}")
        sys.exit(1)
