"""Pipeline observability: StreamingQueryListener + alert thresholds.

Mirrors the reference's Prometheus surface (shared/metrics/
prometheus_metrics.py:28-90: events processed, failures, batch sizes,
processing durations, consumer lag, DLQ depth) and its alert rules
(docker/monitoring/prometheus/alerts.yml:5-60: lag 300 s warn / 600 s crit,
>10 err/s, DLQ growth). Metrics come from Spark's built-in
StreamingQueryProgress — no instrumentation in the data path.
"""

from __future__ import annotations

import json
from collections import deque
from dataclasses import dataclass, field
from typing import Any

try:  # PySpark ships the listener under .streaming
    from pyspark.sql.streaming import StreamingQueryListener
except ImportError:  # pragma: no cover
    StreamingQueryListener = object  # type: ignore[assignment,misc]

LAG_WARN_SECONDS = 300.0  # alerts.yml:7
LAG_CRIT_SECONDS = 600.0  # alerts.yml:19
ERROR_RATE_PER_SECOND = 10.0  # alerts.yml:31
#: per-query history kept for durations and alerts: a listener lives as
#: long as the session, so its state must not grow with uptime
HISTORY = 256


@dataclass
class PipelineMetrics:
    """Cumulative counters per query (reference prometheus_metrics.py
    names kept where they map 1:1)."""

    events_processed_total: int = 0
    batches_total: int = 0
    failures_total: int = 0
    last_batch_rows: int = 0
    last_batch_duration_ms: float = 0.0
    #: largest ``maxOffsetsBehindLatest`` over the trigger's sources — a
    #: COUNT of offsets, not a time
    last_offsets_behind: int | None = None
    #: seconds to drain that backlog at the trigger's processing rate
    #: (offsets / rows-per-second); inf when a backlog made no progress
    last_lag_seconds: float | None = None
    batch_durations_ms: deque = field(
        default_factory=lambda: deque(maxlen=HISTORY)
    )
    alerts: deque = field(default_factory=lambda: deque(maxlen=HISTORY))


class PipelineMetricsListener(StreamingQueryListener):
    """Collects per-query metrics from progress events and raises
    threshold alerts into ``metrics.alerts`` (the reference pushes the
    same thresholds to Prometheus alertmanager)."""

    def __init__(
        self,
        lag_warn_s: float = LAG_WARN_SECONDS,
        lag_crit_s: float = LAG_CRIT_SECONDS,
    ):
        self.lag_warn_s = lag_warn_s
        self.lag_crit_s = lag_crit_s
        self.by_query: dict[str, PipelineMetrics] = {}
        #: query id → name of every live query, so a termination (which
        #: carries only the id) is charged to the query that died
        self._names: dict[str, str | None] = {}

    def _metrics(self, name: str | None) -> PipelineMetrics:
        return self.by_query.setdefault(name or "<unnamed>", PipelineMetrics())

    # -- StreamingQueryListener interface ------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self._names[str(event.id)] = event.name
        self._metrics(event.name)

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        # also learned here: the listener may be added after the start
        self._names[str(p.id)] = p.name
        m = self._metrics(p.name)
        m.batches_total += 1
        m.last_batch_rows = int(p.numInputRows)
        m.events_processed_total += int(p.numInputRows)
        duration = (p.durationMs or {}).get("triggerExecution", 0)
        m.last_batch_duration_ms = float(duration)
        m.batch_durations_ms.append(float(duration))

        # consumer lag: Kafka sources report how many offsets the trigger
        # ended behind the newest available one; divided by the rate the
        # trigger processed at, that backlog becomes a drain time in
        # seconds, the unit of the alert thresholds
        behind = None
        for s in p.sources or []:
            try:
                md = json.loads(s.metrics) if isinstance(s.metrics, str) else s.metrics
                if md and "maxOffsetsBehindLatest" in md:
                    n = int(float(md["maxOffsetsBehindLatest"]))
                    behind = n if behind is None else max(behind, n)
            except Exception:
                pass
        m.last_offsets_behind = behind
        lag = None
        if behind == 0:
            lag = 0.0
        elif behind is not None:
            rate = float(p.processedRowsPerSecond or 0.0)
            lag = behind / rate if rate > 0 else float("inf")
        m.last_lag_seconds = lag
        if lag is not None:
            if lag >= self.lag_crit_s:
                m.alerts.append({"level": "critical", "metric": "lag", "value": lag})
            elif lag >= self.lag_warn_s:
                m.alerts.append({"level": "warning", "metric": "lag", "value": lag})

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        qid = str(event.id)
        name = self._names.pop(qid, qid)
        if getattr(event, "exception", None):
            self._metrics(name).failures_total += 1

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass
