"""Observability (M1-M4, O7): metrics registry + streaming listener.

Reference instruments (`src/observability/observability.zig:94-158`):
- events_processed_total{stream, operation} counter
- produce_errors_total counter
- replication_lag_seconds gauge (per-batch, 0 when caught up)
plus liveness: no wire activity for 90 s => stalled
(`src/constants.zig:43-53`, `processor.zig:393-399`) and health
endpoints (`src/observability/http.zig`).

Spark rebuild: a ``StreamingQueryListener`` feeds the same three
instruments from query progress events; the tally itself is observed
inside ``foreachBatch`` on the sink's own pass over the batch (one
``count_if`` per configured (stream, op) plus ``max(commit_ts)``, read
after the sink returns — ``operators.tally.observed_tally``), the
reference's per-batch metrics coalescing (`processor.zig:18-28`) with
no second job. Health = listener
state, exposed as properties a /healthz HTTP thread can read; rendering
to Prometheus text format is a straight serialization of the registry.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

LIVENESS_WINDOW_S = 90  # reference: src/constants.zig:52


class MetricsRegistry:
    """Thread-safe counters/gauges with Prometheus text rendering."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events_processed: dict[tuple[str, str], int] = defaultdict(int)
        self.produce_errors = 0
        self.replication_lag_seconds = 0.0
        self.last_activity_ts = time.time()

    def add_processed(self, stream: str, op: str, n: int) -> None:
        with self._lock:
            self.events_processed[(stream, op)] += n
            self.last_activity_ts = time.time()

    def record_batch(self, counts: dict[tuple[str, str], int], head_ts: float | None) -> None:
        """One delivered batch: its (stream, op) counts (M1) and, when it
        carried events, the lag behind its newest commit, in unix
        seconds (M4)."""
        for (stream, op), n in counts.items():
            self.add_processed(stream, op, n)
        if head_ts:
            self.set_lag(time.time() - head_ts)

    def add_produce_errors(self, n: int) -> None:
        with self._lock:
            self.produce_errors += n

    def set_lag(self, seconds: float) -> None:
        with self._lock:
            self.replication_lag_seconds = max(0.0, seconds)

    def mark_activity(self) -> None:
        with self._lock:
            self.last_activity_ts = time.time()

    # -- health (M3 / O7) ---------------------------------------------------

    def is_live(self, window_s: float = LIVENESS_WINDOW_S) -> bool:
        """Liveness: any activity (data or keepalive) within the window."""
        return (time.time() - self.last_activity_ts) < window_s

    def render_prometheus(self) -> str:
        """Pull-style text exposition (M2). Label values escaped per the
        Prometheus text format."""
        def esc(s: str) -> str:
            return s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")

        lines = [
            "# TYPE outboxx_events_processed_total counter",
        ]
        with self._lock:
            for (stream, op), n in sorted(self.events_processed.items()):
                lines.append(
                    f'outboxx_events_processed_total{{stream="{esc(stream)}",operation="{esc(op)}"}} {n}'
                )
            lines.append("# TYPE outboxx_produce_errors_total counter")
            lines.append(f"outboxx_produce_errors_total {self.produce_errors}")
            lines.append("# TYPE outboxx_replication_lag_seconds gauge")
            lines.append(f"outboxx_replication_lag_seconds {self.replication_lag_seconds}")
        return "\n".join(lines) + "\n"


class CdcQueryListener(StreamingQueryListener):
    """Watches query progress: marks activity (liveness), surfaces
    exceptions as produce errors (K6 fail-fast analog)."""

    def __init__(self, registry: MetricsRegistry) -> None:
        self.registry = registry
        self.terminated_with_error = False

    def onQueryStarted(self, event) -> None:
        self.registry.mark_activity()

    def onQueryProgress(self, event) -> None:
        # every trigger = wire activity, even with 0 rows (keepalive analog)
        self.registry.mark_activity()

    def onQueryIdle(self, event) -> None:
        self.registry.mark_activity()

    def onQueryTerminated(self, event) -> None:
        if getattr(event, "exception", None):
            self.terminated_with_error = True
            self.registry.add_produce_errors(1)
