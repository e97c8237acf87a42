"""Sustained streaming soak with live maintenance (r7 verdict item 3).

The 30 s lag-SLO steps prove throughput; drift (checkpoint growth, small-
file accumulation, maintenance/ingest interplay) only shows over minutes.
This harness runs the routed 10-collection shape for >= 5 minutes at the
spec's normal-load ceiling (5k ev/s per collection) with a MaintenanceLoop
ticking auto_maintain (compaction + DV rewrite + retention-gated vacuum +
log truncation) against the SAME tables the stream is appending to, then
reports:

- lag percentiles per 30 s slice (by event time) — the no-upward-trend
  series the verdict asks for;
- maintenance outcomes per tick (optimizes fired, failures — a
  ConcurrentWriteError that retries away is the designed behavior; an
  unhandled exception is a race bug);
- end-state accounting: produced == committed (exactly-once under
  maintenance interleaving).

Usage: python tools/soak_bench.py [duration_s] [rate_per_collection]
                                  [out_json]
Defaults: 300 s, 5000 ev/s x 10 collections, /tmp/soak_r8.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mongodb_cdc_delta_spark.session import get_spark  # noqa: E402
from mongodb_cdc_delta_spark.sinks.maintenance import auto_maintain  # noqa: E402
from mongodb_cdc_delta_spark.sinks.table import LakeTable  # noqa: E402
from mongodb_cdc_delta_spark.streaming.pipeline import CDCStreamPipeline  # noqa: E402

COLLECTIONS = 10


def main() -> None:
    duration = float(sys.argv[1]) if len(sys.argv) > 1 else 300.0
    rate_per = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    out_path = sys.argv[3] if len(sys.argv) > 3 else "/tmp/soak_r8.json"

    spark = get_spark(app_name="soak-bench")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="soak-r8-")
    src = os.path.join(base, "src")
    lake = os.path.join(base, "lake")
    os.makedirs(src, exist_ok=True)
    stop = threading.Event()
    chunk = max(rate_per // 2, 1)
    produced = [0] * COLLECTIONS

    def producer(c: int) -> None:
        i = 0
        while not stop.is_set():
            t0 = time.perf_counter()
            now_ms = int(time.time() * 1000)
            lines = "\n".join(
                json.dumps(
                    {
                        "payload": {
                            "op": "c",
                            "ts_ms": now_ms,
                            "source": {
                                "db": "soak",
                                "collection": f"col{c}",
                            },
                            "after": json.dumps(
                                {"_id": f"S{c}_{i + k}", "n": i + k}
                            ),
                        }
                    }
                )
                for k in range(chunk)
            )
            tmp = os.path.join(src, f".tmp-{c}-{i}")
            with open(tmp, "w") as fh:
                fh.write(lines + "\n")
            os.rename(tmp, os.path.join(src, f"chunk-{c}-{i}.json"))
            produced[c] += chunk
            i += chunk
            time.sleep(
                max(0.0, chunk / rate_per - (time.perf_counter() - t0))
            )

    def table(c: int) -> LakeTable:
        return LakeTable(spark, os.path.join(lake, f"soak_col{c}"))

    maint_events: list[dict] = []

    def maintenance() -> None:
        """Tick auto_maintain over every live table every ~20 s, under
        ingest. Aggressive small-file thresholds so compaction actually
        fires repeatedly during the soak."""
        while not stop.is_set():
            stop.wait(20.0)
            if stop.is_set():
                return
            tick = {"t": round(time.perf_counter() - t_start, 1),
                    "optimized": 0, "errors": []}
            tick_t0 = time.perf_counter()
            for c in range(COLLECTIONS):
                t = table(c)
                if not t.exists():
                    continue
                try:
                    res = auto_maintain(
                        t,
                        small_file_bytes=1 << 20,
                        small_file_count=8,
                        auto_recluster=False,
                        log_retain_commits=200,
                    )
                    if "optimize" in res:
                        tick["optimized"] += 1
                        tick["rows_rewritten"] = tick.get(
                            "rows_rewritten", 0
                        ) + res["optimize"].get("rows_rewritten", 0)
                    if res.get("truncate_log"):
                        tick["truncated"] = (
                            tick.get("truncated", 0)
                            + res["truncate_log"]["commits_deleted"]
                        )
                except Exception as e:  # a race bug, not designed behavior
                    tick["errors"].append(f"col{c}: {type(e).__name__}: {e}")
            # per-tick wall cost: the r8 bin-packing fix pins this to the
            # new small files since the last tick, not the table size —
            # an upward trend here is the growing-compaction-cost defect
            tick["tick_s"] = round(time.perf_counter() - tick_t0, 2)
            maint_events.append(tick)

    pipe = CDCStreamPipeline(spark, lake, trigger_seconds=4.0)
    query = pipe.start(
        pipe.from_files(src, max_files_per_trigger=64 * COLLECTIONS),
        query_name="soak-r8",
    )
    deadline = time.perf_counter() + 60
    while time.perf_counter() < deadline and not query.isActive:
        time.sleep(0.2)

    t_start = time.perf_counter()
    threads = [
        threading.Thread(target=producer, args=(c,), daemon=True)
        for c in range(COLLECTIONS)
    ]
    for th in threads:
        th.start()
    mt = threading.Thread(target=maintenance, daemon=True)
    mt.start()

    time.sleep(duration)
    stop.set()
    for th in threads:
        th.join(timeout=10)
    mt.join(timeout=30)
    # drain
    deadline = time.perf_counter() + 90
    while time.perf_counter() < deadline:
        try:
            if sum(table(c).count() for c in range(COLLECTIONS)) >= sum(
                produced
            ):
                break
        except Exception:
            pass
        time.sleep(2)
    wall = time.perf_counter() - t_start
    try:
        query.stop()
    except Exception:
        pass

    # post-hoc lag, sliced by event time into 30 s windows
    frames = []
    committed = 0
    for c in range(COLLECTIONS):
        t = table(c)
        try:
            committed += t.count()
            ch = t.read_changes(0)
        except Exception:
            continue
        frames.append(
            ch.where(F.col("_change_type") == "insert").select(
                (
                    (
                        F.col("_commit_timestamp")
                        - F.unix_millis(F.col("_cdc_timestamp"))
                    )
                    / 1000.0
                ).alias("lag"),
                F.unix_millis(F.col("_cdc_timestamp")).alias("ev_ms"),
            )
        )
    lags = frames[0]
    for f in frames[1:]:
        lags = lags.unionByName(f)
    t0_ms = lags.agg(F.min("ev_ms")).collect()[0][0]
    sliced = lags.select(
        ((F.col("ev_ms") - F.lit(t0_ms)) / 30000).cast("int").alias("slice"),
        "lag",
    )
    rows = (
        sliced.groupBy("slice")
        .agg(
            F.count("*").alias("n"),
            F.expr("percentile(lag, array(0.5, 0.95, 0.99))").alias("p"),
        )
        .orderBy("slice")
        .collect()
    )
    slices = [
        {
            "slice": r["slice"],
            "n": r["n"],
            "p50": round(r["p"][0], 2),
            "p95": round(r["p"][1], 2),
            "p99": round(r["p"][2], 2),
        }
        for r in rows
    ]
    total = lags.agg(
        F.count("*").alias("n"),
        F.expr("percentile(lag, array(0.5, 0.95, 0.99))").alias("p"),
    ).collect()[0]

    result = {
        "duration_s": duration,
        "rate_per_collection": rate_per,
        "collections": COLLECTIONS,
        "produced": sum(produced),
        "committed": committed,
        "events_per_sec": round(total["n"] / wall),
        "lag_p50": round(total["p"][0], 2),
        "lag_p95": round(total["p"][1], 2),
        "lag_p99": round(total["p"][2], 2),
        "slices": slices,
        "maintenance": maint_events,
        "maintenance_errors": sum(len(m["errors"]) for m in maint_events),
    }
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "slices"}))
    for s in slices:
        print(json.dumps(s))
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
