"""PipelineMetricsListener driven by fake listener events: lag units,
bounded per-query history, and failure attribution on termination. No
stream is started — the listener only reads the event fields it is
handed, so plain namespaces stand in for Spark's event objects."""

from __future__ import annotations

import uuid
from types import SimpleNamespace

from mongodb_cdc_delta_spark.streaming.metrics import (
    HISTORY,
    PipelineMetricsListener,
)


def _progress(qid, name, rows=100, rate=50.0, behind=None, ms=1000):
    sources = []
    if behind is not None:
        sources.append(
            SimpleNamespace(metrics={"maxOffsetsBehindLatest": str(behind)})
        )
    return SimpleNamespace(
        progress=SimpleNamespace(
            id=qid,
            name=name,
            numInputRows=rows,
            processedRowsPerSecond=rate,
            durationMs={"triggerExecution": ms},
            sources=sources,
        )
    )


def _started(qid, name):
    return SimpleNamespace(id=qid, runId=uuid.uuid4(), name=name)


def _terminated(qid, exception=None):
    return SimpleNamespace(id=qid, runId=uuid.uuid4(), exception=exception)


class TestLagUnits:
    def test_offsets_are_a_count_and_lag_is_drain_seconds(self):
        listener = PipelineMetricsListener(lag_warn_s=300, lag_crit_s=600)
        q = uuid.uuid4()
        # 450 offsets behind is far below 300 "seconds" read as a count,
        # but at 1 row/s it is 450 s of backlog: a warning, not silence
        listener.onQueryProgress(_progress(q, "a", rate=1.0, behind=450))
        m = listener.by_query["a"]
        assert m.last_offsets_behind == 450
        assert m.last_lag_seconds == 450.0
        assert [a["level"] for a in m.alerts] == ["warning"]

    def test_large_count_drained_fast_raises_no_alert(self):
        # 10k offsets behind at 1000 rows/s drains in 10 s: the old code
        # compared 10000 against the 600 s threshold and went critical
        listener = PipelineMetricsListener(lag_warn_s=300, lag_crit_s=600)
        q = uuid.uuid4()
        listener.onQueryProgress(_progress(q, "a", rate=1000.0, behind=10_000))
        m = listener.by_query["a"]
        assert m.last_offsets_behind == 10_000
        assert m.last_lag_seconds == 10.0
        assert list(m.alerts) == []

    def test_stalled_backlog_is_critical_and_no_source_metric_is_none(self):
        listener = PipelineMetricsListener()
        q = uuid.uuid4()
        listener.onQueryProgress(_progress(q, "a", rows=0, rate=0.0, behind=5))
        m = listener.by_query["a"]
        assert m.last_lag_seconds == float("inf")
        assert m.alerts[-1]["level"] == "critical"
        listener.onQueryProgress(_progress(q, "a"))
        assert m.last_offsets_behind is None and m.last_lag_seconds is None


class TestBoundedState:
    def test_history_does_not_grow_with_uptime(self):
        listener = PipelineMetricsListener(lag_warn_s=1, lag_crit_s=2)
        q = uuid.uuid4()
        for i in range(HISTORY * 3):
            listener.onQueryProgress(
                _progress(q, "a", rate=1.0, behind=10, ms=i)
            )
        m = listener.by_query["a"]
        assert m.batches_total == HISTORY * 3
        assert len(m.batch_durations_ms) == HISTORY
        assert m.batch_durations_ms[-1] == float(HISTORY * 3 - 1)
        assert len(m.alerts) == HISTORY

    def test_terminated_queries_leave_no_id_mapping(self):
        listener = PipelineMetricsListener()
        for i in range(50):
            q = uuid.uuid4()
            listener.onQueryStarted(_started(q, "a"))
            listener.onQueryTerminated(_terminated(q))
        assert listener._names == {}


class TestFailureAttribution:
    def test_only_the_query_that_died_is_charged(self):
        listener = PipelineMetricsListener()
        qa, qb = uuid.uuid4(), uuid.uuid4()
        listener.onQueryStarted(_started(qa, "a"))
        listener.onQueryStarted(_started(qb, "b"))
        listener.onQueryTerminated(_terminated(qb, exception="boom"))
        listener.onQueryTerminated(_terminated(qa))
        assert listener.by_query["a"].failures_total == 0
        assert listener.by_query["b"].failures_total == 1

    def test_query_seen_only_through_progress_is_attributed(self):
        # a listener added after the query started never sees the start
        listener = PipelineMetricsListener()
        qa, qb = uuid.uuid4(), uuid.uuid4()
        listener.onQueryProgress(_progress(qa, "a"))
        listener.onQueryProgress(_progress(qb, "b"))
        listener.onQueryTerminated(_terminated(qa, exception="boom"))
        assert listener.by_query["a"].failures_total == 1
        assert listener.by_query["b"].failures_total == 0
