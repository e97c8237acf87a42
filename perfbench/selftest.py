#!/usr/bin/env python3
"""Negative test of the benchmark's correctness gates.

    python3 perfbench/selftest.py        # from the repository root; ~1 min

Builds a small lake for each CDC gate and checks that the gate passes on it,
then tampers with the lake and checks that the gate fails. For the query
suite, checks that a result passes against ``golden.json`` and fails against
a tampered copy. Exits 0 only if every gate behaves.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


class _Ctx:
    """The part of run.Context the Upsert workload uses."""

    def __init__(self, spark, run_dir: str):
        self.spark = spark
        self.seed = 5
        self.seconds = 0.0
        self.run_dir = run_dir

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def setup_done(self) -> None:
        pass


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    import run

    os.makedirs(os.path.join(root, run.RUNS_DIR), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(root, run.RUNS_DIR))
    spark = None
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            failures.append(what)

    try:
        import workloads

        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        expect(
            {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.E2E,
            "BENCHMARK.json end_to_end matches the metrics run.py prints",
        )
        layer = dict(workloads.LAYER_METRICS)
        layer.update(
            {f"overhead.{k}": u for k, u in workloads.E2E.items() if k != "setup_s"}
        )
        expect(
            {m["name"]: m["unit"] for m in bench["per_layer"]} == layer,
            "BENCHMARK.json per_layer matches the metrics run.py prints traced",
        )
        expect(
            sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS),
            "BENCHMARK.json workloads match run.py's",
        )

        run.isolate(run_dir, root)
        spark = run.start_spark(run_dir)
        import changelog
        import suite
        import tables
        from mongodb_cdc_delta_spark.cdc.pipeline import CDCIngestor
        from mongodb_cdc_delta_spark.queries import all_queries
        from mongodb_cdc_delta_spark.sinks.table import LakeTable

        # cdc_stream gate: a lake written batch by batch, past the drift
        lake = os.path.join(run_dir, "stream-lake")
        gen = changelog.Changelog(
            workloads.STREAM_SPEC, 5, int(time.time() * 1000) - 3_600_000
        )
        ing = CDCIngestor(spark, lake)
        for b in range(workloads.STREAM_SPEC.drift_batch + 1):
            lines = gen.next_batch(workloads.EVENTS_PER_TRIGGER)
            ing.ingest_batch(
                spark.createDataFrame([(x,) for x in lines], "value string"),
                batch_id=b,
            )
        ok, gate = workloads.stream_gate(spark, lake, gen)
        expect(ok, f"cdc_stream gate passes on a correct lake {gate['problems']}")
        a0 = LakeTable(spark, os.path.join(lake, f"{changelog.DB}_a0"))
        a0.delete_where(f"_id = '{gen.hot_key('a0')}'")
        ok, gate = workloads.stream_gate(spark, lake, gen)
        expect(not ok, f"cdc_stream gate fails after rows are deleted {gate['problems']}")
        dlq = LakeTable(spark, os.path.join(lake, "_dlq"))
        dlq.delete_where("offset >= 0")
        ok, gate = workloads.stream_gate(spark, lake, gen)
        expect(
            any("_dlq" in p for p in gate["problems"]),
            "cdc_stream gate reports an emptied DLQ",
        )

        # cdc_upsert gate: the real workload's warm-up plus two steps
        up = workloads.Upsert(_Ctx(spark, os.path.join(run_dir, "upsert")))
        up.ingest(up.initial_input())
        for _ in range(2):
            _dt, bad = up.step()
            expect(bad == 0, "cdc_upsert in-loop reconcile finds no mismatch")
        ok, gate = workloads.upsert_gate(up)
        expect(ok, f"cdc_upsert gate passes on a correct lake {gate['problems']}")
        hot = up.gen.hot_key("a0")
        up.table("a0", True).update_where(f"_id = '{hot}'", {"v": "v + 1"})
        ok, gate = workloads.upsert_gate(up)
        expect(not ok, f"cdc_upsert gate fails after a value is changed {gate['problems']}")

        # query_suite gate: one query against the golden file and a tampered copy
        data = tables.write(os.path.join(run_dir, "corpus"))
        golden = suite.load_golden()
        name = "cdc_latest_state"
        df = all_queries()[name].fn(spark, data)
        rows = [tuple(r) for r in df.collect()]
        digest = suite.result_hash(df.columns, rows)
        expect(suite.check(name, len(rows), digest, golden) is None,
               "query_suite result matches golden.json")
        bad_hash = copy.deepcopy(golden)
        bad_hash[name]["hash"] = "0" * 64
        expect(suite.check(name, len(rows), digest, bad_hash) is not None,
               "query_suite gate fails on a tampered golden hash")
        bad_rows = copy.deepcopy(golden)
        bad_rows[name]["rows"] += 1
        expect(suite.check(name, len(rows), digest, bad_rows) is not None,
               "query_suite gate fails on a tampered golden row count")
        expect(suite.check(name, len(rows) - 1, digest, golden) is not None,
               "query_suite gate fails on a short result")
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("selftest:", "FAILED " + str(len(failures)) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
