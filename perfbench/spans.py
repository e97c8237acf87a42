"""Outside-in tracing for the traced run: spans around the package's public
calls, recorded from the benchmark's own files, plus Spark work counters.

Nothing here runs in an untraced run. ``Tracer.patch`` wraps the public
entry points of each layer in place (class attributes and the one module
global the CDC path calls by name) and ``unpatch`` restores them. Spans are
kept in memory; ``summary`` folds them into per-layer numbers when the run
ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: child spans subtracted from ``cdc.ingest_batch`` to give its self time
CDC_CHILDREN = (
    "schema.merge_schemas",
    "sinks.append",
    "sinks.txn_commit",
    "sinks.merge",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        #: job groups set so far, for the Spark counters read after the run
        self.groups: list[str] = []

    # ------------------------------------------------------------- spans

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(
            name,
            time.perf_counter(),
            0.0,
            next(self._ids),
            parent.span_id if parent else None,
            op if op is not None else (parent.op if parent else None),
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def job_group(self, group: str):
        """Tag the Spark jobs this thread launches; Spark job groups are
        per thread, so this must run on the thread that submits them."""
        self.groups.append(group)
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    # ------------------------------------------------------------ patches

    def _wrap(self, owner, attr: str, name: str, before=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is None:
                with self.span(name):
                    return orig(*args, **kwargs)
            op = before(*args, **kwargs)
            group = f"pb-{op}"  # spark_work reads it back by this name
            with self.span(name, op=op), self.job_group(group):
                return orig(*args, **kwargs)

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def patch(self) -> None:
        from mongodb_cdc_delta_spark.cdc import pipeline as cdc_pipeline
        from mongodb_cdc_delta_spark.sinks.table import LakeTable
        from mongodb_cdc_delta_spark.sinks.txn import MultiTableTxn

        def ingest_op(_self, _raw, batch_id=None, **_kw):
            return f"ingest-{batch_id}"

        self._wrap(
            cdc_pipeline.CDCIngestor, "ingest_batch", "cdc.ingest_batch",
            before=ingest_op,
        )
        self._wrap(cdc_pipeline, "merge_schemas", "schema.merge_schemas")
        self._wrap(LakeTable, "append", "sinks.append")
        self._wrap(LakeTable, "merge", "sinks.merge")
        self._wrap(MultiTableTxn, "commit", "sinks.txn_commit")

    def unpatch(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # ----------------------------------------------------------- counters

    def spark_work(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks, shuffle bytes and executor run time of one
        job group, from the status tracker and the status store (both work
        with the UI disabled). Skipped stages are not counted."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_read_bytes",
             "shuffle_write_bytes", "executor_run_s"), 0.0,
        )
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    data = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted or unknown
                    continue
                if data.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += data.numTasks()
                out["shuffle_read_bytes"] += data.shuffleReadBytes()
                out["shuffle_write_bytes"] += data.shuffleWriteBytes()
                out["executor_run_s"] += data.executorRunTime() / 1000.0
        return out

    # ------------------------------------------------------------ summary

    def by_name(self, name: str, ops: set[str] | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (ops is None or s.op in ops)
        ]

    def total(self, name: str, ops: set[str] | None = None) -> float:
        return sum(s.end - s.start for s in self.by_name(name, ops))

    def self_time(
        self, name: str, children: tuple[str, ...], ops: set[str] | None = None
    ) -> float:
        """Summed duration of ``name`` spans (of ``ops``) minus the time
        covered by ``children`` spans nested anywhere below them; time where
        children overlap counts once."""
        parent_of = {s.span_id: s.parent for s in self.spans}
        tops = {s.span_id: s for s in self.by_name(name, ops)}
        covered: dict[int, list[tuple[float, float]]] = {t: [] for t in tops}
        for c in self.spans:
            if c.name not in children:
                continue
            p = c.parent
            while p is not None and p not in tops:
                p = parent_of.get(p)
            if p is not None:
                covered[p].append((c.start, c.end))
        total = 0.0
        for sid, s in tops.items():
            busy, run = 0.0, None  # run: the merged interval being built
            for a, b in sorted(covered[sid]):
                if run is not None and a <= run[1]:
                    run[1] = max(run[1], b)
                else:
                    if run is not None:
                        busy += run[1] - run[0]
                    run = [a, b]
            if run is not None:
                busy += run[1] - run[0]
            total += (s.end - s.start) - busy
        return total
