"""Initial-snapshot throughput vs SC-008 (r8 verdict #3).

The reference's bulk-load targets (reference spec.md:337,353): initial
snapshot sustained >= 12 MB/s, 1 TB <= 24 h. The mongodump DataSource +
``CDCIngestor.snapshot_load_dump`` path has been correctness-tested since
r7 but never had a measured MB/s. This tool:

1. synthesizes a mongodump tree (``<dir>/<db>/<collection>.json``, one
   extended-JSON doc per line, ~$LINE_BYTES bytes/doc — mixed scalar,
   $date, $numberLong, nested fields, so the normalizer does real work);
2. times ``snapshot_load_dump`` COLD (fresh lake root, fresh table) at
   each requested size and split size — the full parse → normalize →
   infer → evolve → transactional-append path, not just the scan;
3. prints one JSON line with MB/s, events/s, and the 1 TB extrapolation.

Split-size sweep: byte-range splits are the parallelism contract (one
collection = one file = hundreds of GB in a real dump); halving
splitSizeMb must increase task count without changing results or
collapsing throughput.

Usage:
  python tools/snapshot_bench.py [--mb 128,640] [--splits 16,64]
      [--collections 2] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time

LINE_TMPL = (
    '{{"_id": {{"$oid": "%024x"}}, "seq": {id}, '
    '"user": "user-{uid}", "amount": {{"$numberLong": "{amt}"}}, '
    '"ts": {{"$date": "2026-0{m}-1{d}T0{h}:00:00Z"}}, '
    '"tags": ["t{t1}", "t{t2}"], '
    '"addr": {{"city": "city-{c}", "zip": "{z:05d}"}}, '
    '"note": "{pad}"}}'
)


def make_dump(root: str, total_mb: int, n_collections: int) -> tuple[int, int]:
    """Write ~total_mb of line-delimited ext-JSON under root. Returns
    (bytes_written, n_docs). Deterministic; ~330-byte docs."""
    os.makedirs(os.path.join(root, "benchdb"), exist_ok=True)
    target = total_mb * 1024 * 1024
    per_coll = target // n_collections
    n_docs = 0
    written = 0
    pad = "x" * 80
    for ci in range(n_collections):
        path = os.path.join(root, "benchdb", f"coll{ci}.json")
        with open(path, "w") as fh:
            size = 0
            i = 0
            buf = []
            while size < per_coll:
                line = (
                    LINE_TMPL % (i * 7919 + ci)
                ).format(
                    id=i,
                    uid=i % 9973,
                    amt=i * 131 + 17,
                    m=i % 9 + 1,
                    d=i % 8 + 1,
                    h=i % 9,
                    t1=i % 23,
                    t2=i % 41,
                    c=i % 257,
                    z=i % 99999,
                    pad=pad,
                ) + "\n"
                buf.append(line)
                size += len(line)
                i += 1
                if len(buf) >= 50_000:
                    fh.write("".join(buf))
                    buf.clear()
            fh.write("".join(buf))
        n_docs += i
        written += size
    return written, n_docs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mb", default="128,640")
    ap.add_argument("--splits", default="16,64")
    ap.add_argument("--collections", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mongodb_cdc_delta_spark.cdc.pipeline import CDCIngestor
    from mongodb_cdc_delta_spark.session import get_spark

    spark = get_spark(app_name="snapshot-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: a 2 MB dump through the full path once, so the first
    # timed run doesn't absorb JVM/codegen cold costs
    warm_dump = tempfile.mkdtemp(prefix="snapwarm-")
    make_dump(warm_dump, 2, args.collections)
    lake = tempfile.mkdtemp(prefix="snapwarmlake-")
    try:
        CDCIngestor(spark, lake).snapshot_load_dump(warm_dump, batch_id=1)
    finally:
        shutil.rmtree(lake, ignore_errors=True)
    shutil.rmtree(warm_dump, ignore_errors=True)

    runs = []
    for mb in [int(x) for x in args.mb.split(",")]:
        dump = tempfile.mkdtemp(prefix=f"snapdump{mb}-")
        t0 = time.time()
        nbytes, ndocs = make_dump(dump, mb, args.collections)
        gen_s = round(time.time() - t0, 1)
        for split_mb in [int(x) for x in args.splits.split(",")]:
            lake = tempfile.mkdtemp(prefix="snaplake-")
            try:
                ing = CDCIngestor(spark, lake)
                t0 = time.time()
                stats = ing.snapshot_load_dump(
                    dump, batch_id=1, split_size_mb=split_mb
                )
                wall = time.time() - t0
                rows = sum(
                    c.get("rows", 0)
                    for s in stats.values()
                    for c in s.collections.values()
                )
                mbps = nbytes / 1024 / 1024 / wall
                runs.append(
                    {
                        "dump_mb": round(nbytes / 1024 / 1024, 1),
                        "docs": ndocs,
                        "rows_written": rows,
                        "collections": args.collections,
                        "split_mb": split_mb,
                        "n_splits": -(
                            -nbytes // (split_mb * 1024 * 1024)
                        ),
                        "gen_s": gen_s,
                        "wall_s": round(wall, 1),
                        "mb_per_s": round(mbps, 1),
                        "events_per_s": round(rows / wall),
                        "tb_hours_extrapolated": round(
                            1024 * 1024 / mbps / 3600, 1
                        ),
                        "ok": rows == ndocs,
                    }
                )
                print(json.dumps(runs[-1]), flush=True)
            finally:
                shutil.rmtree(lake, ignore_errors=True)
        shutil.rmtree(dump, ignore_errors=True)
    payload = {
        "metric": "snapshot_load_mb_per_s",
        "sc008_target_mb_per_s": 12,
        "sc008_target_tb_hours": 24,
        "runs": runs,
        "value": max(r["mb_per_s"] for r in runs),
        "pass": all(r["ok"] for r in runs)
        and max(r["mb_per_s"] for r in runs) >= 12,
    }
    line = json.dumps(payload)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    spark.stop()
    return 0 if payload["pass"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
