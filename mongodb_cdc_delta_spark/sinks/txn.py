"""Multi-table transactional commit: one CDC batch, N tables, all-or-nothing.

The reference writes each Delta table independently (delta-writer
delta_writer.py:55-201 — one ``write_deltalake`` per collection batch), so a
crash between the main-table write and a side-table write (current-state
materialization, DLQ, audit) leaves the pipeline relying on per-table
idempotent retries to converge. This module closes that window *by
construction* with a write-ahead intent manifest:

1. ``stage_append(table, df)``   — data files land in each table's directory
   but NO commit entry is published: invisible to every reader.
2. ``commit()``                  — first durably writes ONE manifest file
   (atomic tmp+rename) naming every pending table commit, then publishes
   each table's commit-log entry tagged ``txn=(app_id, version)``.
3. ``recover(spark, dir)``       — at startup, any manifest still present is
   rolled FORWARD: per-table ``txn_version`` makes finished publishes
   no-ops, unfinished ones complete from the manifest's recorded file
   lists. A manifest is deleted only after every table is published.

The atomic point is the manifest rename. Before it: nothing is visible
anywhere; staged parquet files are unreferenced orphans that
``vacuum(sweep_orphans=True)`` reaps past retention. After it: every table
is guaranteed to commit — either by ``commit()`` finishing or by the next
``recover``. Readers get per-table snapshot isolation (a cross-table read
during the in-flight window can observe table A's commit before table B's);
what can never happen is a permanently half-applied batch — the asymmetry
class ADVICE r1 found in ``_merge_current_state`` retry handling, eliminated
rather than patched.

Scale notes: the manifest holds file *paths + stats*, not data, so it is
O(files-per-batch) small; publishes are O(1) log appends with optimistic
retry. No coordination service — single-filesystem rename semantics, the
same assumption the per-table commit log already makes (an object-store
deployment swaps rename for put-if-absent on both).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..schema import MergeMode, cast_to_schema, merge_schemas
from .table import CommitInfo, ConcurrentWriteError, LakeTable

_MANIFEST_PREFIX = "txn-"


class MultiTableTxn:
    """Stage appends across tables, then commit them atomically (see module
    docstring for exact semantics). One instance = one transaction."""

    def __init__(
        self,
        spark: SparkSession,
        coordinator_dir: str,
        app_id: str,
        version: int | None,
    ):
        self.spark = spark
        self.dir = coordinator_dir
        self.app_id = app_id
        self.version = version
        self.txn_id = uuid.uuid4().hex
        self._staged: list[dict[str, Any]] = []
        self._manifest_path: str | None = None

    # ------------------------------------------------------------ staging

    def stage_append(
        self,
        table: LakeTable,
        df: DataFrame,
        partition_by: list[str] | None = None,
        mode: MergeMode = MergeMode.AUTO,
        operation: str = "WRITE",
        app_id: str | None = None,
    ) -> dict[str, Any]:
        """Write df's files into ``table``'s directory without publishing a
        commit. Schema evolution is resolved here (same merge the plain
        ``append`` does); the merged schema rides the manifest so recovery
        publishes exactly what was staged.

        ``app_id`` overrides the txn-level app id for THIS table's commit
        marker (the CDC ingest keys idempotence per table as
        ``cdc-<table>``)."""
        app = app_id or self.app_id
        if self.version is not None and table.txn_version(app) >= self.version:
            return {"rows": 0, "files": 0, "skipped": True}
        snap = table._replay()
        partition_by = list(
            partition_by if partition_by is not None else snap.partition_by
        )
        if snap.files and partition_by != snap.partition_by:
            raise ValueError(
                f"partition layout change {snap.partition_by} -> "
                f"{partition_by} inside a multi-table txn"
            )
        df = table._apply_generated(df, partition_by)
        merged = (
            merge_schemas(snap.schema, df.schema, mode)
            if snap.schema is not None
            else df.schema
        )
        add, n_rows = table._stage_write(
            cast_to_schema(df, merged), partition_by
        )
        self._staged.append(
            {
                "root": table.root,
                "add": add,
                "rows": n_rows,
                "schema": merged.jsonValue(),
                "partition_by": partition_by,
                "operation": operation,
                **({"app_id": app_id} if app_id else {}),
            }
        )
        return {"rows": n_rows, "files": len(add), "skipped": False}

    def stage_adopted(
        self,
        root: str,
        add: list[dict[str, Any]],
        rows: int,
        schema: dict,
        partition_by: list[str],
        operation: str = "WRITE",
        app_id: str | None = None,
    ) -> None:
        """Enroll files ALREADY placed in ``root``'s directory (by a
        caller-run grouped write job — see CDCIngestor's routed group
        write) as one pending table commit. The caller guarantees the
        files are invisible (no published commit references them) and
        that ``schema`` (a StructType.jsonValue dict) is the
        post-evolution table schema they were written with."""
        self._staged.append(
            {
                "root": root,
                "add": add,
                "rows": rows,
                "schema": schema,
                "partition_by": list(partition_by),
                "operation": operation,
                **({"app_id": app_id} if app_id else {}),
            }
        )

    # ------------------------------------------------------------ commit

    def prepare(self) -> str:
        """Durably record the intent manifest — the transaction's atomic
        point. After this returns, the txn WILL complete (here or in
        ``recover``)."""
        os.makedirs(self.dir, exist_ok=True)
        tmp = os.path.join(self.dir, f".tmp-{self.txn_id}.json")
        final = os.path.join(self.dir, f"{_MANIFEST_PREFIX}{self.txn_id}.json")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "txn_id": self.txn_id,
                    "app_id": self.app_id,
                    "version": self.version,
                    "tables": self._staged,
                },
                fh,
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, final)
        self._manifest_path = final
        return final

    def finalize(self) -> list[dict[str, Any]]:
        """Publish every table's commit, then drop the manifest."""
        assert self._manifest_path is not None, "prepare() first"
        results = [
            _publish_entry(self.spark, entry, self.app_id, self.version)
            for entry in self._staged
        ]
        os.unlink(self._manifest_path)
        self._manifest_path = None
        return results

    def commit(self) -> list[dict[str, Any]]:
        if self.version is None:
            # without a version no mark could make a roll-forward
            # idempotent, so there is no manifest: each table publishes as
            # a plain ``append(txn=None)`` does
            return [
                _publish_entry(self.spark, entry, self.app_id, None)
                for entry in self._staged
            ]
        self.prepare()
        return self.finalize()

    def abort(self) -> None:
        """Delete staged files; nothing was ever visible. A no-op after
        ``prepare`` (the txn is then committed, not abortable)."""
        if self._manifest_path is not None:
            raise RuntimeError("cannot abort after prepare()")
        for entry in self._staged:
            for f in entry["add"]:
                try:
                    os.remove(os.path.join(entry["root"], f["path"]))
                except OSError:
                    pass
        self._staged = []


def _publish_entry(
    spark: SparkSession,
    entry: dict[str, Any],
    app_id: str,
    version: int | None,
) -> dict[str, Any]:
    """Idempotently publish one table's staged commit: skipped when the
    (app_id, version) mark is already in the table's log, retried with a
    fresh version number when another writer wins the optimistic race
    (data files are already in place — only the log entry re-publishes).
    An entry-level ``app_id`` (CDC batches mark per-table ``cdc-<table>``
    ids) overrides the manifest-level one. ``version=None`` publishes
    with no mark and no skip check."""
    from pyspark.sql.types import StructType

    app_id = entry.get("app_id") or app_id
    table = LakeTable(spark, entry["root"])
    while True:
        if version is not None and table.txn_version(app_id) >= version:
            return {"root": entry["root"], "skipped": True}
        snap = table._replay()
        schema = StructType.fromJson(entry["schema"])
        if snap.schema is not None:
            schema = merge_schemas(snap.schema, schema, MergeMode.AUTO)
        commit = CommitInfo(
            version=(snap.version if snap.version is not None else -1) + 1,
            timestamp_ms=int(time.time() * 1000),
            operation=entry["operation"],
            add=entry["add"],
            schema=schema.jsonValue(),
            partition_by=entry["partition_by"],
            txn=(
                {"app_id": app_id, "version": version}
                if version is not None
                else None
            ),
            metrics={"files": len(entry["add"]), "rows": entry["rows"]},
        )
        try:
            table._publish(commit)
            return {
                "root": entry["root"],
                "version": commit.version,
                "skipped": False,
            }
        except ConcurrentWriteError:
            continue  # lost the race: re-read version, publish again


def recover(spark: SparkSession, coordinator_dir: str) -> list[str]:
    """Roll forward every incomplete transaction. Call at pipeline startup
    (before the first batch) — O(pending manifests), normally zero work.
    Returns the txn ids completed."""
    if not os.path.isdir(coordinator_dir):
        return []
    done: list[str] = []
    for name in sorted(os.listdir(coordinator_dir)):
        if not (name.startswith(_MANIFEST_PREFIX) and name.endswith(".json")):
            continue
        path = os.path.join(coordinator_dir, name)
        try:
            with open(path) as fh:
                manifest = json.load(fh)
        except (OSError, ValueError):
            continue  # torn tmp never renamed — not a committed txn
        for entry in manifest["tables"]:
            _publish_entry(
                spark, entry, manifest["app_id"], manifest["version"]
            )
        os.unlink(path)
        done.append(manifest["txn_id"])
    return done
