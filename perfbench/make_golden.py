#!/usr/bin/env python3
"""Regenerate ``golden.json``, the query suite's expected results.

    python3 perfbench/make_golden.py        # from the repository root

For each suite query with a DuckDB oracle, the golden row count and hash
come from the oracle run over the static corpus, and the Spark result must
equal them (the script fails otherwise). A query without an oracle gets a
rows-only entry from Spark. The corpus is written under
``.perfbench_runs/`` and removed afterwards.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    import run

    import suite
    import tables

    os.makedirs(os.path.join(root, run.RUNS_DIR), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="golden-", dir=os.path.join(root, run.RUNS_DIR))
    spark = None
    try:
        run.isolate(run_dir, root)
        import duckdb

        from mongodb_cdc_delta_spark.queries import all_queries

        data = tables.write(os.path.join(run_dir, "corpus"))
        spark = run.start_spark(run_dir)
        reg = all_queries()
        con = duckdb.connect()
        for t in tables.build():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data, t + '.parquet')}')"
            )
        golden, bad = {}, []
        for name in suite.SUITE:
            df = reg[name].fn(spark, data)
            s_rows = [tuple(r) for r in df.collect()]
            s_hash = suite.result_hash(df.columns, s_rows)
            oracle = reg[name].oracle
            if oracle is None:
                golden[name] = {"rows": len(s_rows), "hash": None, "source": "rows-only"}
                continue
            cur = con.execute(oracle)
            cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
            d_hash = suite.result_hash(cols, d_rows)
            if (len(d_rows), d_hash) != (len(s_rows), s_hash):
                bad.append(f"{name}: spark {len(s_rows)} rows, duckdb {len(d_rows)}")
            golden[name] = {"rows": len(d_rows), "hash": d_hash, "source": "duckdb"}
            print(name, golden[name], file=sys.stderr)
        if bad:
            print("spark and duckdb disagree:\n  " + "\n  ".join(bad), file=sys.stderr)
            return 1
        with open(suite.GOLDEN, "w") as fh:
            json.dump(golden, fh, indent=1, sort_keys=True)
            fh.write("\n")
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
