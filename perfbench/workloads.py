"""The three workloads. Each sets up untimed, runs a closed loop whose
amount of work is fixed from the requested seconds, then checks its outputs
against the generator's truth or the golden file, untimed.

End-to-end metrics (every workload reports all three):

- ``throughput_per_s`` — work completed per second of steady timed wall
  time: change events for the CDC workloads, registry queries for
  ``query_suite``;
- ``op_p50_s`` — median latency of one timed operation: a streaming
  trigger's ``triggerExecution``, one upsert step (ingest batch plus its
  reads), one registry query;
- ``setup_s`` — process start to the first timed operation: session start,
  input generation and the cold (warm-up) operations.

With tracing on, the timed loop runs twice, untraced then traced, and the
result holds the per-layer metrics of the traced loop plus
``overhead.<metric>`` = traced minus untraced.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import changelog
import suite
import tables
from changelog import Changelog, Spec
from spans import CDC_CHILDREN, Tracer

E2E = {"throughput_per_s": "1/s", "op_p50_s": "s", "setup_s": "s"}
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Phase marks on stderr (the result goes to stdout)."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]
    details: dict = field(default_factory=dict)


def _overhead(untraced: dict, traced: dict) -> dict[str, tuple[float, str]]:
    return {
        f"overhead.{k}": (traced[k] - untraced[k], E2E[k]) for k in untraced
    }


def _layer_metrics(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, in its unit; layers a workload leaves idle
    read 0."""
    return {
        name: (float(values.get(name, 0.0)), unit)
        for name, unit in LAYER_METRICS.items()
    }


LAYER_METRICS: dict[str, str] = {
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.get_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "cdc.ingest_batch_s": "s",
    "cdc.ingest_self_s": "s",
    "cdc.jobs_per_batch": "count",
    "cdc.stages_per_batch": "count",
    "cdc.tasks_per_batch": "count",
    "cdc.dlq_rows": "count",
    "cdc.schema_evolutions": "count",
    "cdc.tables_per_batch": "count",
    "schema.merge_schemas_calls": "count",
    "schema.merge_schemas_s": "s",
    "sinks.append_calls": "count",
    "sinks.append_s": "s",
    "sinks.txn_commits": "count",
    "sinks.txn_commit_s": "s",
    "sinks.merge_calls": "count",
    "sinks.merge_s": "s",
    "sinks.lake_bytes_per_event": "B",
    "sinks.read_s": "s",
    "sinks.read_changes_s": "s",
    "sinks.count_s": "s",
    "sinks.files_per_table": "count",
    "sinks.commits_per_table": "count",
    "reconcile.compare_s": "s",
    "reconcile.mismatched_buckets": "count",
    "queries.jobs_per_pass": "count",
    "queries.stages_per_pass": "count",
    "queries.tasks_per_pass": "count",
    "queries.shuffle_read_bytes_per_pass": "B",
    "queries.shuffle_write_bytes_per_pass": "B",
    "queries.executor_run_s_per_pass": "s",
    **{f"queries.{name}_s": "s" for name in suite.SUITE},
}


def _lake_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _cdc_layers(tracer, ops: set[str], stats: list, lake: str, tables: list[str], events: int) -> dict:
    """Per-layer numbers of the CDC workloads, per timed ingest batch."""
    from mongodb_cdc_delta_spark.sinks.table import LakeTable

    n = max(1, len(ops))
    work = [tracer.spark_work(f"pb-{op}") for op in ops]
    out = {
        "cdc.ingest_batch_s": tracer.total("cdc.ingest_batch", ops) / n,
        "cdc.ingest_self_s": tracer.self_time("cdc.ingest_batch", CDC_CHILDREN, ops) / n,
        "cdc.jobs_per_batch": sum(w["jobs"] for w in work) / n,
        "cdc.stages_per_batch": sum(w["stages"] for w in work) / n,
        "cdc.tasks_per_batch": sum(w["tasks"] for w in work) / n,
        # run totals: evolution and dead letters happen in a few batches
        "cdc.dlq_rows": sum(s.dlq_rows for s in stats),
        "cdc.schema_evolutions": sum(len(s.schema_evolutions) for s in stats),
        "cdc.tables_per_batch": statistics.mean(len(s.collections) for s in stats),
        "schema.merge_schemas_calls": len(tracer.by_name("schema.merge_schemas", ops)) / n,
        "schema.merge_schemas_s": tracer.total("schema.merge_schemas", ops) / n,
        "sinks.append_calls": len(tracer.by_name("sinks.append", ops)) / n,
        "sinks.append_s": tracer.total("sinks.append", ops) / n,
        "sinks.txn_commits": len(tracer.by_name("sinks.txn_commit", ops)) / n,
        "sinks.txn_commit_s": tracer.total("sinks.txn_commit", ops) / n,
        "sinks.merge_calls": len(tracer.by_name("sinks.merge", ops)) / n,
        "sinks.merge_s": tracer.total("sinks.merge", ops) / n,
        "sinks.lake_bytes_per_event": _lake_bytes(lake) / max(1, events),
        "sinks.files_per_table": statistics.mean(
            LakeTable(tracer.spark, os.path.join(lake, t)).file_count() for t in tables
        ),
        "sinks.commits_per_table": statistics.mean(
            LakeTable(tracer.spark, os.path.join(lake, t)).version() + 1 for t in tables
        ),
    }
    return out


# ============================================================ cdc_stream

STREAM_SPEC = Spec(
    collections=("a0", "a1", "a2", "a3", "b0", "b1", "b2", "b3"),
    op_mix=(0.5, 0.4, 0.1),
    poison_share=0.003,
    key_skew=1.1,
    initial_docs=20,
    # second timed trigger: the evolution always lands in the timed loop
    drift_batch=6,
)
EVENTS_PER_TRIGGER = 2000  # the reference batcher size
#: triggers before timing starts, in the same query as the timed ones
WARM_TRIGGERS = 5
#: a steady trigger on the 4-core reference host; the timed trigger count
#: is fixed from --seconds with it, so every run of one commit does the
#: same work whatever the host's speed that minute
NOMINAL_TRIGGER_S = 1.7


def _write_files(src: str, gen: Changelog, n: int, first: int) -> None:
    """One file per trigger; mtimes strictly increase so the file source
    reads them in generation order."""
    for i in range(first, first + n):
        path = os.path.join(src, f"log-{i:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(gen.next_batch(EVENTS_PER_TRIGGER)) + "\n")
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))


def _run_stream(pipe, src: str, name: str):
    q = pipe.start(
        pipe.from_files(src, max_files_per_trigger=1),
        query_name=name,
        available_now=True,
    )
    q.awaitTermination(170)
    if q.isActive:
        q.stop()
        raise RuntimeError(f"stream {name} did not drain in time")
    if q.exception() is not None:
        raise RuntimeError(f"stream {name} failed: {q.exception()}")
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def _parse_ts(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _stream_e2e(steady: list) -> dict[str, float]:
    """Numbers of the timed triggers: events over the wall time from the
    first timed trigger's start to the last one's end."""
    first = _parse_ts(steady[0]["timestamp"])
    last = steady[-1]
    end = _parse_ts(last["timestamp"]) + last["durationMs"]["triggerExecution"] / 1000
    events = sum(p["numInputRows"] for p in steady)
    return {
        "throughput_per_s": events / (end - first),
        "op_p50_s": statistics.median(
            p["durationMs"]["triggerExecution"] / 1000 for p in steady
        ),
    }


def cdc_stream(ctx) -> Result:
    from mongodb_cdc_delta_spark.streaming.pipeline import CDCStreamPipeline

    spark = ctx.spark
    src, lake = ctx.path("src"), ctx.path("lake")
    os.makedirs(src)
    gen = Changelog(STREAM_SPEC, ctx.seed, int(time.time() * 1000) - 3_600_000)
    pipe = CDCStreamPipeline(
        spark, lake, max_events_per_trigger=EVENTS_PER_TRIGGER
    )
    stats: list = []
    ingest = pipe._process_batch

    def keep_stats(df, batch_id):
        ingest(df, batch_id)
        stats.append(pipe.last_stats)

    pipe._process_batch = keep_stats
    n_timed = max(4, round(ctx.seconds / NOMINAL_TRIGGER_S))
    written = WARM_TRIGGERS + n_timed
    _write_files(src, gen, written, 0)
    progress = _run_stream(pipe, src, "cdc")
    # set-up ends where the first timed trigger starts
    steady = progress[WARM_TRIGGERS:]
    ctx.setup_until(_parse_ts(steady[0]["timestamp"]))
    log(f"triggers {[p['durationMs']['triggerExecution'] for p in progress]}")
    e2e = _stream_e2e(steady)
    attempted = len(steady)
    metrics = {k: (v, E2E[k]) for k, v in e2e.items()}
    metrics["setup_s"] = (ctx.setup_s, "s")

    if ctx.trace:
        _write_files(src, gen, n_timed + 1, written)
        written += n_timed + 1
        tracer = Tracer(spark)
        tracer.patch()
        try:
            traced = _run_stream(pipe, src, "traced")
        finally:
            tracer.unpatch()
        # a new query: its first trigger pays query start, as warm-up
        steady = traced[1:]
        ops = {f"ingest-{p['batchId']}" for p in steady}
        t_e2e = _stream_e2e(steady)
        values = _cdc_layers(
            tracer, ops, stats, lake,
            [f"{changelog.DB}_{c}" for c in STREAM_SPEC.collections],
            written * EVENTS_PER_TRIGGER,
        )

        def med(key):
            return statistics.median(p["durationMs"].get(key, 0) / 1000 for p in steady)

        values.update(
            {
                "streaming.trigger_s": med("triggerExecution"),
                "streaming.add_batch_s": med("addBatch"),
                "streaming.latest_offset_s": med("latestOffset"),
                "streaming.get_batch_s": med("getBatch"),
                "streaming.query_planning_s": med("queryPlanning"),
                "streaming.wal_commit_s": med("walCommit"),
                "streaming.commit_offsets_s": med("commitOffsets"),
            }
        )
        metrics = _layer_metrics(values)
        metrics.update(_overhead(e2e, t_e2e))

    log("gate")
    ok, gate = stream_gate(spark, lake, gen)
    log("done")
    return Result(
        ok, attempted, 0, metrics,
        details={
            "changelog": STREAM_SPEC.details(),
            "events_per_trigger": EVENTS_PER_TRIGGER,
            "warm_triggers": WARM_TRIGGERS,
            "timed_triggers": n_timed,
            "trigger_ms": [p["durationMs"]["triggerExecution"] for p in progress],
            "gate": gate,
        },
    )


def _truth_df(spark, rows: list[tuple]):
    return spark.createDataFrame(
        rows, "_id string, v long, s string, d double, t long"
    )


def _lake_projection(df, *extra: str):
    """The lake side of ``changelog.truth_row``, plus ``extra`` columns."""
    from pyspark.sql import functions as F

    if "name" in df.columns:
        s, d, t = "name", "score", "created"
    else:
        s, d, t = "customer", "amount", "placed"
    return df.select(
        F.col("_id"),
        F.col("v"),
        F.col(s).alias("s"),
        F.col(d).alias("d"),
        F.unix_millis(F.col(t)).alias("t"),
        *extra,
    )


def _mismatched_buckets(source, target) -> int:
    from mongodb_cdc_delta_spark.reconcile.engine import bucket_hash_compare

    return (
        bucket_hash_compare(source, target, "_id", n_buckets=64)
        .where("NOT match")
        .count()
    )


def stream_gate(spark, lake: str, gen: Changelog) -> tuple[bool, dict]:
    """Per-table counts, DLQ count, the evolved field, and the current state
    rebuilt from the append log by ``reconcile.engine.current_state``."""
    from functools import reduce

    from mongodb_cdc_delta_spark.reconcile.engine import current_state
    from mongodb_cdc_delta_spark.sinks.table import LakeTable

    problems = []
    logs, truth = [], []
    order = ("_cdc_timestamp", "_kafka_offset")
    for c in gen.spec.collections:
        t = LakeTable(spark, os.path.join(lake, f"{changelog.DB}_{c}"))
        n = t.count()
        if n != gen.clean[c]:
            problems.append(f"{c}: {n} rows, expected {gen.clean[c]}")
        if c.startswith("a") and gen.spec.drift_field not in t.schema().fieldNames():
            problems.append(f"{c}: evolved field {gen.spec.drift_field} missing")
        logs.append(_lake_projection(t.read(), *order, "_cdc_operation"))
        truth.extend(gen.truth(c))
    dlq = LakeTable(spark, os.path.join(lake, "_dlq")).count()
    if dlq != gen.poison:
        problems.append(f"_dlq: {dlq} rows, expected {gen.poison}")
    # keys are unique across collections: one current_state over all logs
    lake_state = current_state(
        reduce(lambda a, b: a.unionByName(b), logs), "_id", order_cols=order
    ).drop(*order, "_cdc_operation")
    bad = _mismatched_buckets(_truth_df(spark, truth), lake_state)
    if bad:
        problems.append(f"current state: {bad} mismatched hash buckets")
    return not problems, {"problems": problems, "dlq_rows": dlq}


# ============================================================ cdc_upsert

UPSERT_SPEC = Spec(
    collections=("a0", "b0", "a1", "b1"),
    op_mix=(0.1, 0.8, 0.1),
    poison_share=0.0,
    key_skew=1.2,
    initial_docs=1000,
    drift_batch=None,
)
EVENTS_PER_BATCH = 1000
#: cold work before timing: one batch with every collection's initial
#: inserts, then untimed steps (the first copy-on-write MERGEs and reads;
#: steps keep getting faster for about three steps)
WARM_STEPS = 2
#: one rotation (a step per collection) on the 4-core reference host; the
#: rotation count is fixed from --seconds with it
NOMINAL_ROTATION_S = 12.0


class Upsert:
    """One collection per batch, rotating; each step ingests the batch and
    then reads the two tables it changed."""

    def __init__(self, ctx):
        from mongodb_cdc_delta_spark.cdc.pipeline import CDCIngestor

        self.ctx = ctx
        self.spark = ctx.spark
        self.lake = ctx.path("lake")
        self.src = ctx.path("src")
        os.makedirs(self.src)
        self.gen = Changelog(UPSERT_SPEC, ctx.seed, int(time.time() * 1000) - 3_600_000)
        self.ingestor = CDCIngestor(self.spark, self.lake, materialize_current=True)
        self.batch_id = 0
        self.events = 0
        self.stats: list = []

    def table(self, coll: str, current: bool):
        from mongodb_cdc_delta_spark.sinks.table import LakeTable

        name = f"{changelog.DB}_{coll}" + ("__current" if current else "")
        return LakeTable(self.spark, os.path.join(self.lake, name))

    def _write(self, lines: list[str]) -> str:
        self.events += len(lines)
        path = os.path.join(self.src, f"batch-{self.batch_id:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        return path

    def initial_input(self) -> str:
        """One batch holding every collection's initial inserts."""
        return self._write(
            [
                line
                for c in UPSERT_SPEC.collections
                for line in self.gen.next_batch(UPSERT_SPEC.initial_docs, c)
            ]
        )

    def next_input(self) -> tuple[str, str]:
        """Generate and write the next batch (untimed)."""
        colls = UPSERT_SPEC.collections
        coll = colls[self.batch_id % len(colls)]
        return coll, self._write(self.gen.next_batch(EVENTS_PER_BATCH, coll))

    def ingest(self, path: str):
        raw = self.spark.read.text(path)
        st = self.ingestor.ingest_batch(raw, batch_id=self.batch_id)
        self.batch_id += 1
        self.stats.append(st)
        return st

    def reads(self, coll: str, truth, tracer, timings: dict) -> int:
        """The fixed read set on the tables the step changed. Returns the
        number of mismatching reconcile buckets."""
        from mongodb_cdc_delta_spark.reconcile.engine import bucket_hash_compare

        cur, hist = self.table(coll, True), self.table(coll, False)
        hot = self.gen.hot_key(coll)

        def timed(name, fn):
            t0 = time.perf_counter()
            if tracer is None:
                out = fn()
            else:
                with tracer.span(name):
                    out = fn()
            timings.setdefault(name, []).append(time.perf_counter() - t0)
            return out

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        timed("sinks.read", lambda: cur.read(predicate=f"_id = '{hot}'").collect())
        timed("sinks.count", cur.count)
        v = hist.version()
        timed("sinks.read", lambda: noop(hist.read(version_as_of=v - 1)))
        timed("sinks.read_changes", lambda: noop(hist.read_changes(v)))
        return timed(
            "reconcile.compare",
            lambda: bucket_hash_compare(
                truth, _lake_projection(cur.read()), "_id", n_buckets=64
            ).where("NOT match").count(),
        )

    def step(self, tracer=None, timings=None, timed=False) -> tuple[float, int]:
        """Generate the next batch and its truth (untimed), then ingest it
        and run the read set. Returns (step seconds, mismatched buckets)."""
        coll, path = self.next_input()
        truth = _truth_df(self.spark, self.gen.truth(coll))
        if timed:
            self.ctx.setup_done()
        t0 = time.perf_counter()
        self.ingest(path)
        bad = self.reads(coll, truth, tracer, {} if timings is None else timings)
        return time.perf_counter() - t0, bad

    def loop(self, tracer=None) -> tuple[dict, list[str], dict, int]:
        """Whole rotations over the collections, one step each. Returns e2e
        numbers, the op ids, per-read timings and the mismatched-bucket
        total."""
        steps, ops, timings, bad = [], [], {}, 0
        n_steps = len(UPSERT_SPEC.collections) * max(
            1, round(self.ctx.seconds / NOMINAL_ROTATION_S)
        )
        for _ in range(n_steps):
            ops.append(f"ingest-{self.batch_id}")
            dt, n_bad = self.step(tracer, timings, timed=True)
            steps.append(dt)
            bad += n_bad
        log(f"steps {[round(x, 3) for x in steps]}")
        e2e = {
            "throughput_per_s": len(steps) * EVENTS_PER_BATCH / sum(steps),
            "op_p50_s": statistics.median(steps),
        }
        return e2e, ops, timings, bad


def cdc_upsert(ctx) -> Result:
    up = Upsert(ctx)
    up.ingest(up.initial_input())
    bad = sum(up.step()[1] for _ in range(WARM_STEPS))
    e2e, ops, timings, n_bad = up.loop()
    bad += n_bad
    log(f"timed steps {len(ops)}; reads " + str({k: [round(x, 2) for x in v] for k, v in timings.items()}))
    # each step is one ingest batch and five reads
    attempted = len(ops) * 6
    metrics = {k: (v, E2E[k]) for k, v in e2e.items()}
    metrics["setup_s"] = (ctx.setup_s, "s")

    if ctx.trace:
        tracer = Tracer(ctx.spark)
        tracer.patch()
        try:
            t_e2e, t_ops, timings, t_bad = up.loop(tracer)
        finally:
            tracer.unpatch()
        bad += t_bad
        ops_set = set(t_ops)
        n = len(t_ops)
        tables = [
            f"{changelog.DB}_{c}{s}"
            for c in UPSERT_SPEC.collections for s in ("", "__current")
        ]
        values = _cdc_layers(
            tracer, ops_set, up.stats, up.lake, tables, up.events,
        )
        for name in ("sinks.read", "sinks.count", "sinks.read_changes", "reconcile.compare"):
            values[name + "_s"] = sum(timings.get(name, [])) / max(1, n)
        values["reconcile.mismatched_buckets"] = t_bad
        metrics = _layer_metrics(values)
        metrics.update(_overhead(e2e, t_e2e))

    log("gate")
    ok, gate = upsert_gate(up)
    log("done")
    if bad:
        ok = False
        gate["problems"].append(f"{bad} mismatched buckets during the loop")
    return Result(
        ok, attempted, 0, metrics,
        details={
            "changelog": UPSERT_SPEC.details(),
            "events_per_batch": EVENTS_PER_BATCH,
            "warm_steps": WARM_STEPS,
            "gate": gate,
        },
    )


def upsert_gate(up: Upsert) -> tuple[bool, dict]:
    """Every ``__current`` table matches the truth under count_compare and
    bucket_hash_compare, and point lookups return the expected documents."""
    from functools import reduce

    from mongodb_cdc_delta_spark.reconcile.engine import count_compare

    problems = []
    truth, lake = [], []
    for c in UPSERT_SPEC.collections:
        truth.extend(up.gen.truth(c))
        lake.append(_lake_projection(up.table(c, True).read()))
    truth_df = _truth_df(up.spark, truth)
    lake_df = reduce(lambda a, b: a.unionByName(b), lake)
    n_bad = (
        count_compare(truth_df, lake_df, "_id", n_buckets=64)
        .where("count_diff != 0")
        .count()
    )
    if n_bad:
        problems.append(f"__current: {n_bad} buckets differ in count")
    n_bad = _mismatched_buckets(truth_df, lake_df)
    if n_bad:
        problems.append(f"__current: {n_bad} buckets differ in hash")
    for c in UPSERT_SPEC.collections:
        cur = up.table(c, True)
        for key in (up.gen.hot_key(c), min(up.gen.live[c])):
            rows = _lake_projection(cur.read(predicate=f"_id = '{key}'")).collect()
            want = changelog.truth_row(key, up.gen.expected_doc(c, key))
            if [tuple(r) for r in rows] != [want]:
                problems.append(f"{c}: lookup {key} returned {rows}")
    return not problems, {"problems": problems}


# =========================================================== query_suite


#: one warm pass on the 4-core reference host; the pass count is fixed from
#: --seconds with it
NOMINAL_PASS_S = 5.0


def _suite_passes(ctx, reg, data: str, rng, tracer=None, first_pass: int = 0):
    """Whole passes over the suite, each in a seeded order. Returns
    per-query latencies, pass walls and the failed-query count."""
    latencies: dict[str, list[float]] = {n: [] for n in suite.SUITE}
    walls: list[float] = []
    failed = 0
    n_pass = max(1, round(ctx.seconds / NOMINAL_PASS_S))
    for p in range(first_pass, first_pass + n_pass):
        order = list(suite.SUITE)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    _force(reg[name].fn(ctx.spark, data))
                else:
                    with tracer.span(f"queries.{name}", op=f"q{p}-{name}"), \
                            tracer.job_group(f"pb-q{p}-{name}"):
                        _force(reg[name].fn(ctx.spark, data))
            except Exception as exc:  # noqa: BLE001 - counted, run continues
                failed += 1
                log(f"{name} failed: {exc!r}"[:500])
            latencies[name].append(time.perf_counter() - t0)
        walls.append(time.perf_counter() - t_pass)
    return latencies, walls, failed


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _suite_e2e(latencies: dict, walls: list) -> dict[str, float]:
    n = sum(len(v) for v in latencies.values())
    return {
        "throughput_per_s": n / sum(walls),
        "op_p50_s": statistics.median(x for v in latencies.values() for x in v),
    }


def query_suite(ctx) -> Result:
    import random

    from mongodb_cdc_delta_spark.queries import all_queries

    reg = all_queries()
    data = tables.write(ctx.path("corpus"))
    golden = suite.load_golden()
    # cold pass: warms every query and captures its result for the gate
    results = {}
    for name in suite.SUITE:
        t0 = time.perf_counter()
        df = reg[name].fn(ctx.spark, data)
        rows = [tuple(r) for r in df.collect()]
        results[name] = (len(rows), suite.result_hash(df.columns, rows))
        log(f"cold {name} {time.perf_counter() - t0:.2f}s")
    rng = random.Random(ctx.seed)
    ctx.setup_done()
    latencies, walls, failed = _suite_passes(ctx, reg, data, rng)
    log(f"timed passes {[round(w, 2) for w in walls]}")
    e2e = _suite_e2e(latencies, walls)
    attempted = sum(len(v) for v in latencies.values())
    metrics = {k: (v, E2E[k]) for k, v in e2e.items()}
    metrics["setup_s"] = (ctx.setup_s, "s")

    if ctx.trace:
        tracer = Tracer(ctx.spark)
        t_lat, t_walls, t_failed = _suite_passes(
            ctx, reg, data, rng, tracer, first_pass=len(walls)
        )
        failed += t_failed
        n_pass = len(t_walls)
        values = {
            f"queries.{n}_s": statistics.mean(v) for n, v in t_lat.items()
        }
        work = [tracer.spark_work(g) for g in tracer.groups]
        for key in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                    "shuffle_write_bytes", "executor_run_s"):
            values[f"queries.{key}_per_pass"] = sum(w[key] for w in work) / n_pass
        metrics = _layer_metrics(values)
        metrics.update(_overhead(e2e, _suite_e2e(t_lat, t_walls)))

    problems = [
        p for p in (suite.check(n, *results[n], golden) for n in suite.SUITE) if p
    ]
    return Result(
        not problems and not failed, attempted, failed, metrics,
        details={
            "suite": list(suite.SUITE),
            "corpus_seed": tables.DATA_SEED,
            "passes": len(walls),
            "gate": {"problems": problems},
        },
    )


WORKLOADS = {
    "cdc_stream": cdc_stream,
    "cdc_upsert": cdc_upsert,
    "query_suite": query_suite,
}
