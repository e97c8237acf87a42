"""LakeTable — transactional parquet table with a JSON commit log.

The reference appends CDC batches to Delta Lake tables via delta-rs
(reference: delta-writer/src/writer/delta_writer.py:55-201 write_batch,
:234-282 compact/vacuum; time travel spec FR-053 spec.md:255). delta-spark is
not available in this environment, so this module provides the same
capability set natively on Spark:

- ACID append: data parquet files land first, then one atomic commit-log
  rename publishes them (readers replay the log, so half-written data is
  invisible) — the same two-phase publish the Delta protocol uses.
- Schema evolution on write: incoming batch schema is merged with the table
  schema via the widening matrix (schema/types.py) under AUTO / STRICT /
  PERMISSIVE, the batch is cast to the merged schema, and the commit records
  the new schema — this covers widening and conflict-to-string, which Delta's
  own ``mergeSchema`` cannot (reference delta_writer.py:114-129).
- Hive-style partition layout (default ``_ingestion_date``) so partition
  pruning is a plain Catalyst ``PartitionFilters`` push-down.
- Time travel: ``version_as_of`` / ``timestamp_as_of`` replay a log prefix.
- Idempotent writer transactions: ``txn=(app_id, version)`` per commit, the
  foreachBatch exactly-once pattern (skip if the batch id was committed).
- OPTIMIZE (small-file compaction per partition) and VACUUM (delete
  unreferenced files past retention) — reference delta_writer.py:234-282.

Scale notes (100 TB): data files are immutable and uniquely named (uuid per
commit), so concurrent readers never see partial state; the log is O(commits)
JSON files of O(files-per-commit) size — at high commit rates a checkpointing
scheme (Delta does every 10 commits) bolts on without changing the format.
Reads are explicit-file-list parquet scans, so Spark's vectorized reader,
predicate pushdown, and partition pruning all apply unchanged.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..schema import MergeMode, cast_to_schema, merge_schemas

_LOG_DIR = "_log"
_TMP_DIR = "_tmp"


@dataclass
class Snapshot:
    """Materialized view of the commit log at a version.

    ``file_schema`` maps each active data file to an index into ``schemas``
    (the distinct schemas in commit order) — the schema the file was
    *written* with. Readers group files by write-schema and cast each group
    to the snapshot schema, so type widening (long→string, int→double)
    never requires rewriting old data files (the Iceberg-style approach;
    Delta needs its type-widening table feature for the same thing).
    """

    files: list[str]
    schema: StructType | None
    partition_by: list[str]
    version: int
    file_schema: dict[str, int] = field(default_factory=dict)
    schemas: list[dict] = field(default_factory=list)
    #: per-file column stats from the add entries ({path: {"numRecords",
    #: "minValues": {col: v}, "maxValues": {...}, "nullCount": {...}}});
    #: None for files written before stats collection existed
    file_stats: dict[str, dict | None] = field(default_factory=dict)
    #: merge-on-read deletion vectors: path → sorted deleted row positions
    #: (absolute within the file); readers subtract these rows
    file_dvs: dict[str, list[int]] = field(default_factory=dict)


class ConcurrentWriteError(Exception):
    """Another writer published this version first (optimistic concurrency)."""


@dataclass
class CommitInfo:
    version: int
    timestamp_ms: int
    operation: str
    add: list[dict[str, Any]] = field(default_factory=list)
    remove: list[str] = field(default_factory=list)
    schema: dict | None = None
    partition_by: list[str] = field(default_factory=list)
    txn: dict[str, Any] | None = None
    metrics: dict[str, Any] = field(default_factory=dict)
    properties: dict[str, str] | None = None
    #: deletion vectors written by this commit: path → FULL sorted deleted
    #: position list for that file as of this commit (replace, not delta)
    dv: dict[str, list[int]] | None = None


#: stats are collected for at most this many leading columns (Delta's
#: dataSkippingNumIndexedCols default)
_STATS_MAX_COLS = 32
#: string min/max longer than this are dropped (a truncated upper bound
#: would admit the wrong files; Delta solves this with tie-breaking
#: truncation — skipping the column is the simple safe choice)
_STATS_MAX_STR = 64


def _collect_file_stats(path: str) -> dict | None:
    """Per-file column min/max/nullCount from the parquet footer.

    One footer read per just-written file (the write path already has the
    file local); on an object store this is the same ranged GET every
    reader does. Any failure degrades to no stats — pruning is optional."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        # name -> (lo, hi), or None once any row group lacks usable stats
        agg: dict[str, tuple | None] = {}
        nulls: dict[str, int] = {}
        order: list[str] = []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaves: file-level skip not safe
                    continue
                if name not in order:
                    if len(order) >= _STATS_MAX_COLS:
                        continue
                    order.append(name)
                st = col.statistics
                lo = hi = None
                if st is not None and st.has_min_max:
                    lo, hi = _json_stat(st.min), _json_stat(st.max)
                if lo is None or hi is None:
                    agg[name] = None
                elif name not in agg:
                    agg[name] = (lo, hi)
                elif agg[name] is not None:
                    agg[name] = (min(agg[name][0], lo), max(agg[name][1], hi))
                if st is not None and st.null_count is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
        return {
            "numRecords": md.num_rows,
            "minValues": {k: v[0] for k, v in agg.items() if v},
            "maxValues": {k: v[1] for k, v in agg.items() if v},
            "nullCount": nulls,
        }
    except Exception:
        return None


def adopt_staged(stage: str, root: str, prefix: str) -> list[dict[str, Any]]:
    """Move every parquet file written under ``stage`` to the same hive
    partition subpath below ``root``, renamed ``part-<prefix>-<n>.parquet``,
    and return one add-file entry (path relative to ``root``, size, column
    stats) per file. The files stay invisible until a commit names them."""
    add: list[dict[str, Any]] = []
    for dirpath, _dirs, names in os.walk(stage):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            rel_part = os.path.relpath(dirpath, stage)
            part_dir = root if rel_part == "." else os.path.join(root, rel_part)
            os.makedirs(part_dir, exist_ok=True)
            dst = os.path.join(part_dir, f"part-{prefix}-{len(add):05d}.parquet")
            os.rename(os.path.join(dirpath, name), dst)
            add.append(
                {
                    "path": os.path.relpath(dst, root),
                    "size": os.path.getsize(dst),
                    "stats": _collect_file_stats(dst),
                }
            )
    return add


def bloom_options(columns: list[str]) -> dict[str, str]:
    """Parquet writer options enabling a bloom filter on each column."""
    return {f"parquet.bloom.filter.enabled#{c}": "true" for c in columns}


def _json_stat(v):
    """Footer statistic → JSON-safe comparable scalar, or None to skip."""
    import datetime as _d

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_STR else None
    if isinstance(v, (_d.datetime, _d.date)):
        return None  # timestamp literals are not parsed by the pruner
    return None


_PRUNE_CMP = re.compile(
    r"^\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\s*(==|=|<=|>=|<|>)\s*(.+?)\s*$"
)


def _parse_pruning_conjuncts(predicate: str) -> list[tuple[str, str, Any]]:
    """Conservative parse of a predicate into (col, op, literal) conjuncts.

    Anything beyond top-level `col op literal [AND ...]` (parens, OR, NOT,
    functions, unquoted non-numeric literals) disables pruning — the scan
    still evaluates the full predicate, so pruning is only ever an
    optimization, never a semantics change."""
    up = f" {predicate.upper()} "
    if "(" in predicate or " OR " in up or " NOT " in up:
        return []
    out: list[tuple[str, str, Any]] = []
    for part in re.split(r"\s+[Aa][Nn][Dd]\s+", predicate.strip()):
        m = _PRUNE_CMP.match(part)
        if not m:
            continue
        col, op, lit = m.groups()
        val = _parse_literal(lit)
        if val is None:
            continue
        out.append((col, "=" if op == "==" else op, val))
    return out


def _parse_literal(s: str):
    s = s.strip()
    if re.fullmatch(r"-?\d+", s):
        return int(s)
    if re.fullmatch(r"-?\d+\.\d*([eE][+-]?\d+)?", s):
        return float(s)
    if len(s) >= 2 and s[0] == s[-1] == "'" and "'" not in s[1:-1]:
        return s[1:-1]
    return None


def _stats_admit(stats: dict | None, col: str, op: str, val) -> bool:
    """Can a file with these stats contain a row where `col op val`?
    Missing stats → must admit (no false pruning)."""
    if not stats:
        return True
    mn = (stats.get("minValues") or {}).get(col)
    mx = (stats.get("maxValues") or {}).get(col)
    if mn is None or mx is None:
        return True
    val_num = isinstance(val, (int, float)) and not isinstance(val, bool)
    stat_num = isinstance(mn, (int, float)) and not isinstance(mn, bool)
    if val_num != stat_num:
        return True
    try:
        if op == "=":
            return mn <= val <= mx
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
        if op == ">":
            return mx > val
        if op == ">=":
            return mx >= val
    except TypeError:
        return True
    return True


#: operator relaxation for mapping a predicate through a monotonic
#: non-decreasing generator (date(), year(), date_trunc): src > T implies
#: f(src) >= f(T) (not >), and likewise for <
_RELAX_OP = {"=": "=", ">": ">=", ">=": ">=", "<": "<=", "<=": "<="}

#: generator expressions read() can invert for partition pruning; both are
#: monotonic in their source column AND produce partition-path encodings
#: that compare correctly against derived literals ('YYYY-MM-DD' strings /
#: year ints). month()/day() alone cycle (not monotonic) and
#: date_trunc() paths embed timestamp formatting — deliberately absent.
_GEN_EXPR = re.compile(r"(date|year)\((\w+)\)", re.IGNORECASE)


def _partition_values(path: str) -> dict[str, str]:
    """Hive partition values encoded in a file's relative path."""
    import urllib.parse

    vals: dict[str, str] = {}
    for seg in path.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            vals[k] = urllib.parse.unquote(v)
    return vals


def _partition_admit(path: str, col: str, op: str, val) -> bool:
    """Can a file at this hive path hold a row where `col op val`? The
    partition value acts as min==max stats for its column; files without
    that partition column admit (no false pruning)."""
    pv = _partition_values(path).get(col)
    if pv is None:
        return True
    if isinstance(val, (int, float)) and not isinstance(val, bool):
        try:
            pv = float(pv) if isinstance(val, float) else int(pv)
        except ValueError:
            return True
    return _stats_admit(
        {"minValues": {col: pv}, "maxValues": {col: pv}}, col, op, val
    )


def _zorder_column(df: DataFrame, cols: list[str], bits: int = 12):
    """Bit-interleaved (Morton/Z-curve) sort key over up to 4 columns.

    Each column is min/max-scaled to a ``bits``-wide integer (one tiny agg
    job for the bounds, then a pure codegen projection — no window, no
    extra shuffle), and the bit planes are interleaved so a sort by the
    result clusters rows that are close in EVERY dimension. Files cut from
    contiguous z-ranges then carry tight min/max stats on all clustered
    columns at once — multi-dimensional data skipping, where a linear
    ORDER BY only narrows the leading column.

    Numeric / date / timestamp columns only: hashing strings would destroy
    the locality the curve exists to preserve.
    """
    from pyspark.sql.types import DateType, NumericType, TimestampType

    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_by takes 1-4 columns")
    numeric_cols = []
    for c in cols:
        t = df.schema[c].dataType
        if isinstance(t, NumericType):
            numeric_cols.append(F.col(c).cast("double"))
        elif isinstance(t, TimestampType):
            numeric_cols.append(F.unix_micros(F.col(c)).cast("double"))
        elif isinstance(t, DateType):
            numeric_cols.append(F.unix_date(F.col(c)).cast("double"))
        else:
            raise ValueError(
                f"zorder_by column {c!r} has type {t.simpleString()}; "
                "only numeric/date/timestamp columns preserve curve locality"
            )
    bounds = df.agg(
        *[f for c in numeric_cols for f in (F.min(c), F.max(c))]
    ).first()
    max_v = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(numeric_cols):
        mn, mx = bounds[2 * i], bounds[2 * i + 1]
        if mn is None or mx is None or mx == mn:
            scaled.append(F.lit(0).cast("long"))
        else:
            frac = (c - F.lit(float(mn))) / F.lit(float(mx - mn))
            scaled.append(
                F.least(F.lit(max_v), F.floor(frac * max_v)).cast("long")
            )
    k = len(scaled)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for ci, s in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)), b * k + ci
            )
    return z


def _commit_path(root: str, version: int) -> str:
    return os.path.join(root, _LOG_DIR, f"{version:020d}.json")


def _checkpoint_path(root: str, version: int) -> str:
    return os.path.join(root, _LOG_DIR, f"{version:020d}.checkpoint.json")


def _last_checkpoint_path(root: str) -> str:
    # Delta protocol: _delta_log/_last_checkpoint points readers at the
    # newest checkpoint so they never have to LIST the whole log directory
    # to find it. Same contract here (the name drops the leading
    # underscore clash with _LOG_DIR contents: commits are digits, the
    # pointer is not a commit).
    return os.path.join(root, _LOG_DIR, "_last_checkpoint.json")


#: every N commits the full replay state is checkpointed (Delta does 10);
#: replay cost is then O(interval), not O(commits)
CHECKPOINT_INTERVAL = 10

#: parse cache for checkpoint files. Safe because a published checkpoint
#: is immutable: it is created by atomic tmp+rename and its content is a
#: pure function of the log prefix it covers (an idempotent concurrent
#: rewrite produces identical bytes). Without this, EVERY append re-parses
#: the checkpoint JSON twice (txn probe + replay) — at a 10k-file table
#: that is 2x ~1.4 MB of json.load per commit, the measured growth term
#: in the longevity bench. Entries are validated by (mtime_ns, size)
#: because a PATH can be recycled (table dir dropped and recreated) even
#: though a live checkpoint file never mutates. Consumers must not mutate
#: returned dicts (in-tree callers copy what they extend). Bounded to the
#: newest few entries — old checkpoints stop being requested once
#: superseded.
_CKPT_PARSE_CACHE: dict[str, tuple[int, int, dict]] = {}
_CKPT_PARSE_CACHE_MAX = 8


def _load_checkpoint_file(path: str) -> dict:
    st = os.stat(path)
    key = (st.st_mtime_ns, st.st_size)
    cached = _CKPT_PARSE_CACHE.get(path)
    if cached is not None and (cached[0], cached[1]) == key:
        return cached[2]
    with open(path) as fh:
        d = json.load(fh)
    if len(_CKPT_PARSE_CACHE) >= _CKPT_PARSE_CACHE_MAX:
        try:  # benign race with a concurrent reader thread's insert
            _CKPT_PARSE_CACHE.pop(next(iter(_CKPT_PARSE_CACHE)))
        except (KeyError, StopIteration, RuntimeError):
            # RuntimeError: "dictionary changed size during iteration" —
            # a concurrent reader inserted between iter() and next()
            pass
    _CKPT_PARSE_CACHE[path] = (key[0], key[1], d)
    return d


class LakeTable:
    """One CDC target table (reference: one Delta table per collection,
    event_consumer.py:232-247)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ---------------------------------------------------------------- log

    def exists(self) -> bool:
        return os.path.isdir(os.path.join(self.root, _LOG_DIR))

    def _versions(self) -> list[int]:
        log_dir = os.path.join(self.root, _LOG_DIR)
        if not os.path.isdir(log_dir):
            return []
        return sorted(
            int(f[:-5])
            for f in os.listdir(log_dir)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def _read_commit(self, version: int) -> CommitInfo:
        with open(_commit_path(self.root, version)) as fh:
            d = json.load(fh)
        return CommitInfo(**d)

    def history(self) -> list[CommitInfo]:
        """DESCRIBE HISTORY equivalent (newest first)."""
        return [self._read_commit(v) for v in reversed(self._versions())]

    def _latest_checkpoint(self, max_version: int) -> dict | None:
        """Most recent replay checkpoint at or before max_version.

        Fast path: the ``_last_checkpoint`` pointer (one tiny read, no
        directory listing — this runs on every read/append/txn probe, so
        at a 10k+ commit log the listdir would dominate). The listing
        scan remains as the fallback for time travel to a version before
        the newest checkpoint, for a missing/corrupt pointer, and for
        logs written by older versions of this module."""
        log_dir = os.path.join(self.root, _LOG_DIR)
        if not os.path.isdir(log_dir):
            return None
        try:
            with open(_last_checkpoint_path(self.root)) as fh:
                v = int(json.load(fh)["version"])
            if v <= max_version:
                return _load_checkpoint_file(_checkpoint_path(self.root, v))
        except (OSError, ValueError, KeyError):
            pass  # no/corrupt pointer, or pointed file missing → scan
        best = -1
        for f in os.listdir(log_dir):
            if f.endswith(".checkpoint.json") and f.split(".")[0].isdigit():
                v = int(f.split(".")[0])
                if best < v <= max_version:
                    best = v
        if best < 0:
            return None
        return _load_checkpoint_file(_checkpoint_path(self.root, best))

    def _write_checkpoint(self, version: int) -> None:
        """Materialize full replay state at `version` (idempotent; readers
        ignore a missing/partial checkpoint and fall back to full replay).
        Includes writer-txn high-water marks and table properties so
        txn_version()/properties() are also O(interval), not O(history).

        Builds INCREMENTALLY from the previous checkpoint: only the tail
        commits since it are re-read. A from-v0 rebuild here (the pre-r8
        shape) made every 10th commit O(total history) — O(N²/interval)
        cumulative work, the thing that kills a month-long 10 s-batch
        stream at ~260k commits (BASELINE SLO horizon)."""
        active: dict[str, int] = {}
        schemas: list[dict] = []
        cur_idx = -1
        partition_by: list[str] = []
        txns: dict[str, int] = {}
        props: dict[str, str] = {}
        stats: dict[str, dict | None] = {}
        dvs: dict[str, list[int]] = {}
        start = -1
        ckpt = self._latest_checkpoint(version)
        if ckpt is not None:
            active = dict(ckpt["active"])
            schemas = list(ckpt["schemas"])
            cur_idx = ckpt["cur_idx"]
            partition_by = list(ckpt["partition_by"])
            txns = {k: int(v) for k, v in ckpt.get("txns", {}).items()}
            props = dict(ckpt.get("properties", {}))
            stats = dict(ckpt.get("stats", {}))
            dvs = {k: list(v) for k, v in ckpt.get("dvs", {}).items()}
            start = int(ckpt["version"])
        for v in self._versions():
            if v <= start:
                continue
            if v > version:
                break
            c = self._read_commit(v)
            if c.schema is not None and (
                not schemas or c.schema != schemas[cur_idx]
            ):
                schemas.append(c.schema)
                cur_idx = len(schemas) - 1
            if c.partition_by:
                partition_by = c.partition_by
            if c.txn:
                app = c.txn["app_id"]
                txns[app] = max(txns.get(app, -1), int(c.txn["version"]))
            if c.properties:
                props.update(c.properties)
            for a in c.add:
                active[a["path"]] = cur_idx
                stats[a["path"]] = a.get("stats")
                dvs.pop(a["path"], None)
            for r in c.remove:
                active.pop(r, None)
                stats.pop(r, None)
                dvs.pop(r, None)
            if c.dv:
                for path, positions in c.dv.items():
                    if path in active:
                        dvs[path] = list(positions)
        tmp = os.path.join(
            self.root, _LOG_DIR, f".ckpt-tmp-{uuid.uuid4().hex}.json"
        )
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": version,
                    "active": active,
                    "schemas": schemas,
                    "cur_idx": cur_idx,
                    "partition_by": partition_by,
                    "txns": txns,
                    "properties": props,
                    "stats": stats,
                    "dvs": dvs,
                },
                fh,
            )
        os.replace(tmp, _checkpoint_path(self.root, version))
        # advance the _last_checkpoint pointer (atomic tmp+rename; a stale
        # or missing pointer only costs readers the listing-scan fallback)
        ptmp = os.path.join(
            self.root, _LOG_DIR, f".lckpt-tmp-{uuid.uuid4().hex}.json"
        )
        with open(ptmp, "w") as fh:
            json.dump({"version": version}, fh)
        os.replace(ptmp, _last_checkpoint_path(self.root))

    def _replay(
        self,
        version_as_of: int | None = None,
        timestamp_as_of: str | int | None = None,
    ) -> Snapshot:
        """Active files, schema, partition columns, version at a snapshot."""
        versions = self._versions()
        if not versions:
            return Snapshot([], None, [], -1)
        if timestamp_as_of is not None:
            if isinstance(timestamp_as_of, (int, float)):
                ts_ms = int(timestamp_as_of)
            else:
                # commit timestamp_ms is UTC epoch millis, so naive strings
                # are interpreted as UTC (not host-local) and sub-second
                # precision is preserved
                dt = datetime.datetime.fromisoformat(str(timestamp_as_of))
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=datetime.timezone.utc)
                ts_ms = int(dt.timestamp() * 1000)
            eligible = [
                v for v in versions if self._read_commit(v).timestamp_ms <= ts_ms
            ]
            if not eligible:
                raise ValueError(
                    f"no table version at or before timestamp {timestamp_as_of}"
                )
            version_as_of = eligible[-1]
        if version_as_of is not None:
            if version_as_of not in versions:
                raise ValueError(f"version {version_as_of} not in table log")
            versions = [v for v in versions if v <= version_as_of]

        target_version = versions[-1]
        active: dict[str, int] = {}
        schemas: list[dict] = []
        cur_idx = -1
        partition_by: list[str] = []
        file_stats: dict[str, dict | None] = {}
        file_dvs: dict[str, list[int]] = {}
        ckpt = self._latest_checkpoint(target_version)
        if ckpt is not None:
            active = dict(ckpt["active"])
            # list() copy: the tail loop below appends to `schemas`, and
            # the checkpoint dict may come from the immutable-file parse
            # cache — mutating it in place would corrupt later readers
            schemas = list(ckpt["schemas"])
            cur_idx = ckpt["cur_idx"]
            partition_by = ckpt["partition_by"]
            file_stats = dict(ckpt.get("stats", {}))
            file_dvs = {k: list(v) for k, v in ckpt.get("dvs", {}).items()}
            versions = [v for v in versions if v > ckpt["version"]]
        for v in versions:
            c = self._read_commit(v)
            if c.schema is not None and (
                not schemas or c.schema != schemas[cur_idx]
            ):
                schemas.append(c.schema)
                cur_idx = len(schemas) - 1
            if c.partition_by:
                partition_by = c.partition_by
            for a in c.add:
                active[a["path"]] = cur_idx
                file_stats[a["path"]] = a.get("stats")
                file_dvs.pop(a["path"], None)  # fresh file: no deletions
            for r in c.remove:
                active.pop(r, None)
                file_stats.pop(r, None)
                file_dvs.pop(r, None)
            if c.dv:
                for path, positions in c.dv.items():
                    if path in active:
                        file_dvs[path] = list(positions)
        schema = StructType.fromJson(schemas[cur_idx]) if schemas else None
        return Snapshot(
            sorted(active),
            schema,
            partition_by,
            target_version,
            active,
            schemas,
            file_stats,
            file_dvs,
        )

    def version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else -1

    def schema(self) -> StructType | None:
        return self._replay().schema

    def properties(self) -> dict[str, str]:
        """Accumulated table properties (ALTER TABLE SET TBLPROPERTIES
        equivalent; reference delta_writer.py:284-411 schema-version
        metadata). Later commits override earlier keys. Checkpoint + tail."""
        versions = self._versions()
        if not versions:
            return {}
        ckpt = self._latest_checkpoint(versions[-1])
        props: dict[str, str] = dict((ckpt or {}).get("properties", {}))
        start = (ckpt or {}).get("version", -1)
        for v in versions:
            if v <= start:
                continue
            c = self._read_commit(v)
            if c.properties:
                props.update(c.properties)
        return props

    def set_properties(self, props: dict[str, str]) -> int:
        """Record properties in a metadata-only commit (e.g. schema version
        descriptions, file-size targets research.md:441-458)."""
        commit = CommitInfo(
            version=self.version() + 1,
            timestamp_ms=int(time.time() * 1000),
            operation="SET_TBLPROPERTIES",
            properties={str(k): str(v) for k, v in props.items()},
        )
        self._publish(commit)
        return commit.version

    def txn_version(self, app_id: str) -> int:
        """Highest committed writer-transaction version for app_id
        (Delta's txnAppId/txnVersion idempotency contract). Checkpoint +
        tail scan — this runs on EVERY idempotent append, so it must not
        re-read the whole history."""
        versions = self._versions()
        if not versions:
            return -1
        ckpt = self._latest_checkpoint(versions[-1])
        latest = int((ckpt or {}).get("txns", {}).get(app_id, -1))
        start = (ckpt or {}).get("version", -1)
        for v in versions:
            if v <= start:
                continue
            c = self._read_commit(v)
            if c.txn and c.txn.get("app_id") == app_id:
                latest = max(latest, int(c.txn["version"]))
        return latest

    # -------------------------------------------------------------- write

    def _stage_write(
        self, df: DataFrame, partition_by: list[str]
    ) -> tuple[list[dict[str, Any]], int]:
        """Write df's parquet files under a per-commit staging dir, then move
        them under the table root (``adopt_staged``). Returns (add-file
        entries, rows written) — the row count rides the write via the
        Observation API, no second scan (reference write_batch returns
        records_written)."""
        from pyspark.sql import Observation

        commit_id = uuid.uuid4().hex
        stage = os.path.join(self.root, _TMP_DIR, commit_id)
        obs = Observation(f"stage-{commit_id}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        writer = df.write.mode("overwrite").options(
            **bloom_options([c for c in self.bloom_columns() if c in df.columns])
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage)
        rows = int(obs.get["rows"])
        add = adopt_staged(stage, self.root, commit_id)
        shutil.rmtree(stage, ignore_errors=True)
        return add, rows

    def bloom_columns(self) -> list[str]:
        """Columns named by the table property ``bloom.filter.columns``:
        their parquet files carry bloom filters. min/max stats cannot
        discriminate random keys (UUIDs — the CDC _id case); blooms give
        row-group skipping for point lookups there at ~1 byte/row cost."""
        return [
            c.strip()
            for c in self.properties().get("bloom.filter.columns", "").split(",")
            if c.strip()
        ]

    def _publish(self, commit: CommitInfo) -> None:
        """Two-phase atomic publish: write tmp, link into place. os.link
        fails with EEXIST if the version was taken — optimistic concurrency
        without locks (single-filesystem; object stores would use
        put-if-absent)."""
        log_dir = os.path.join(self.root, _LOG_DIR)
        os.makedirs(log_dir, exist_ok=True)
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(commit.__dict__, fh)
        try:
            os.link(tmp, _commit_path(self.root, commit.version))
        except FileExistsError as e:
            raise ConcurrentWriteError(
                f"version {commit.version} already committed"
            ) from e
        finally:
            os.unlink(tmp)
        if commit.version > 0 and commit.version % CHECKPOINT_INTERVAL == 0:
            self._write_checkpoint(commit.version)

    def _publish_staged(self, commit: CommitInfo, staged: list[dict]) -> None:
        """``_publish`` that deletes just-staged data files when the commit
        loses the optimistic-concurrency race. Callers retry with a fresh
        stage, and vacuum only deletes paths named in commit remove-lists —
        without this, every lost race orphans its data files forever."""
        try:
            self._publish(commit)
        except ConcurrentWriteError:
            for entry in staged:
                try:
                    os.remove(os.path.join(self.root, entry["path"]))
                except OSError:
                    pass
            raise

    def create_if_not_exists(
        self,
        schema: StructType,
        partition_by: list[str] | None = None,
        generated: dict[str, str] | None = None,
    ) -> bool:
        """Empty table with schema + partitioning (reference
        schema_manager.py:217-254).

        ``generated`` maps a partition column to a generator expression over
        data columns (e.g. ``{"p_date": "date(ts)"}``, Delta's generated
        columns): writers never materialize it — ``append`` computes it —
        and ``read(predicate=...)`` maps source-column predicates through
        monotonic generators (date/year/date_trunc) onto partition-dir
        pruning, so ``ts >= X`` skips date partitions without the caller
        ever mentioning the partition column."""
        if self.exists():
            return False
        self._publish(
            CommitInfo(
                version=0,
                timestamp_ms=int(time.time() * 1000),
                operation="CREATE",
                schema=schema.jsonValue(),
                partition_by=list(partition_by or []),
                properties=(
                    {f"generated.{k}": v for k, v in generated.items()}
                    if generated
                    else None
                ),
            )
        )
        return True

    def _generated_columns(self) -> dict[str, str]:
        """partition column → generator expression, from table properties."""
        return {
            k[len("generated.") :]: v
            for k, v in self.properties().items()
            if k.startswith("generated.")
        }

    def _apply_generated(
        self, df: DataFrame, partition_by: list[str]
    ) -> DataFrame:
        """Materialize absent generated partition columns before a write."""
        gens = self._generated_columns()
        for pcol in partition_by:
            if pcol not in df.columns and pcol in gens:
                df = df.withColumn(pcol, F.expr(gens[pcol]))
        return df

    def _derived_partition_conjuncts(
        self, conj: list[tuple[str, str, Any]]
    ) -> list[tuple[str, str, Any]]:
        """Map source-column conjuncts through monotonic generators onto
        their partition columns. Sound because for non-decreasing f,
        ``src > T`` implies ``f(src) >= f(T)`` — derived conjuncts only
        ever ADD pruning opportunities, the original predicate still
        filters rows exactly."""
        out: list[tuple[str, str, Any]] = []
        for pcol, expr in self._generated_columns().items():
            m = _GEN_EXPR.fullmatch(expr.strip())
            if not m:
                continue
            fn, src = m.group(1).lower(), m.group(2)
            for c, op, val in conj:
                if c != src or op not in _RELAX_OP:
                    continue
                if not (
                    isinstance(val, str)
                    and re.match(r"\d{4}-\d{2}-\d{2}", val)
                ):
                    continue
                if fn == "date":
                    out.append((pcol, _RELAX_OP[op], val[:10]))
                else:  # year
                    out.append((pcol, _RELAX_OP[op], int(val[:4])))
        return out

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        mode: MergeMode = MergeMode.AUTO,
        txn: tuple[str, int] | None = None,
        operation: str = "WRITE",
    ) -> dict[str, Any]:
        """Append a batch with schema evolution (reference
        delta_writer.py:55-201 write_batch).

        Returns stats {rows, files, version, skipped}. With ``txn``, a batch
        whose (app_id, version) was already committed is skipped — this is
        what makes foreachBatch retries exactly-once.
        """
        if txn is not None and self.txn_version(txn[0]) >= txn[1]:
            return {"rows": 0, "files": 0, "version": self.version(), "skipped": True}

        snap = self._replay()
        cur_schema = snap.schema
        partition_by = list(
            partition_by if partition_by is not None else snap.partition_by
        )
        if snap.files and partition_by != snap.partition_by:
            # mixed hive layouts under one basePath silently DROP files
            # whose directory depth disagrees with partition discovery —
            # data loss, not an error. Refuse; layout changes go through
            # repartition_table (explicit one-commit rewrite).
            raise ValueError(
                f"partition layout change {snap.partition_by} -> "
                f"{partition_by} on a non-empty table: use "
                f"repartition_table() to rewrite into the new layout"
            )
        df = self._apply_generated(df, partition_by)
        batch_schema = df.schema
        if cur_schema is not None:
            merged = merge_schemas(cur_schema, batch_schema, mode)
        else:
            merged = batch_schema
        df = cast_to_schema(df, merged)

        add, n_rows = self._stage_write(df, partition_by)

        commit = CommitInfo(
            version=self.version() + 1,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            add=add,
            schema=merged.jsonValue(),
            partition_by=partition_by,
            txn={"app_id": txn[0], "version": txn[1]} if txn else None,
            metrics={"files": len(add), "rows": n_rows},
        )
        self._publish_staged(commit, add)
        return {
            "rows": n_rows,
            "files": len(add),
            "version": commit.version,
            "skipped": False,
        }

    def merge(
        self,
        source: DataFrame,
        key: str,
        delete_expr: str | None = None,
        mode: MergeMode = MergeMode.AUTO,
        txn: tuple[str, int] | None = None,
    ) -> dict[str, Any]:
        """Copy-on-write MERGE (Delta's ``MERGE INTO`` equivalent; reference
        reconciliation repair FR-021 research.md:826-855, and the upsert
        write mode config.py:47 left unused by the reference writer).

        Semantics: rows of ``source`` matching ``delete_expr`` delete their
        key from the table; all other source rows upsert (update matched
        keys, insert new ones). Duplicate keys in the table collapse to the
        source row on upsert.

        Scale: only data files that *contain a matched key* are rewritten —
        file pruning via a semi-join on the key (the same strategy Delta's
        MERGE uses). Unmatched files are untouched, so a 100 TB table with
        a 1 GB repair plan rewrites ~1 GB, not 100 TB.
        """
        if txn is not None and self.txn_version(txn[0]) >= txn[1]:
            return {"version": self.version(), "skipped": True}

        snap = self._replay()
        # delete rows need no special handling beyond key membership: their
        # keys drop out of the survivors and are not re-inserted.
        ups = (
            source.where(f"NOT ({delete_expr})")
            if delete_expr is not None
            else source
        )

        if snap.schema is None or not snap.files:
            # empty/missing table: merge degenerates to an insert-only append
            return self.append(ups, mode=mode, txn=txn, operation="MERGE")

        keys = source.select(key).distinct()
        target_schema = merge_schemas(snap.schema, ups.schema, mode)

        # 1) locate affected files (per historical-schema group so the scan
        #    schema always matches the physical files)
        by_schema: dict[int, list[str]] = {}
        for f in snap.files:
            by_schema.setdefault(snap.file_schema[f], []).append(f)
        affected: list[str] = []
        for idx, group in sorted(by_schema.items()):
            write_schema = StructType.fromJson(snap.schemas[idx])
            if key not in write_schema.fieldNames():
                continue
            paths = [os.path.join(self.root, f) for f in group]
            scan = (
                self.spark.read.schema(write_schema)
                .option("basePath", self.root)
                .parquet(*paths)
                .select(
                    F.col(key), F.col("_metadata.file_path").alias("__file")
                )
            )
            hits = (
                scan.join(F.broadcast(keys), key, "left_semi")
                .select("__file")
                .distinct()
                .collect()
            )
            root_real = os.path.realpath(self.root)
            for r in hits:
                p = r["__file"]
                if p.startswith("file:"):
                    p = p[len("file:") :]
                affected.append(os.path.relpath(os.path.realpath(p), root_real))
        affected = sorted(set(affected))

        # 2) survivors: rows in affected files whose key is NOT in source
        parts: list[DataFrame] = []
        if affected:
            survivors = self._read_file_groups(
                snap, affected, target_schema
            ).join(F.broadcast(keys), key, "left_anti")
            parts.append(survivors)
        parts.append(cast_to_schema(ups, target_schema))
        # by NAME, not position: the USING-style anti-join above moves the
        # key column to the front of survivors, so a positional union would
        # misalign every column for any key that isn't the table's first
        new_df = parts[0]
        for p in parts[1:]:
            new_df = new_df.unionByName(p)
        new_df = new_df.select(*[f.name for f in target_schema.fields])

        add, _ = self._stage_write(new_df, snap.partition_by)
        commit = CommitInfo(
            version=self.version() + 1,
            timestamp_ms=int(time.time() * 1000),
            operation="MERGE",
            add=add,
            remove=affected,
            schema=target_schema.jsonValue(),
            partition_by=snap.partition_by,
            txn={"app_id": txn[0], "version": txn[1]} if txn else None,
            metrics={"files_rewritten": len(affected), "files_added": len(add)},
        )
        self._publish_staged(commit, add)
        return {
            "version": commit.version,
            "files_rewritten": len(affected),
            "files_added": len(add),
            "skipped": False,
        }

    def _affected_files(self, snap: Snapshot, predicate: str) -> list[str]:
        """Data files containing at least one row matching `predicate` —
        the scan pushes the predicate down, so parquet row-group stats
        prune most files before any row is read."""
        affected: list[str] = []
        by_schema: dict[int, list[str]] = {}
        # stats pre-filter: files whose min/max preclude the predicate are
        # never scanned at all (the survivors still get the exact scan)
        conj = _parse_pruning_conjuncts(predicate)
        if conj:
            conj = conj + self._derived_partition_conjuncts(conj)
        for f in snap.files:
            if conj and not all(
                _stats_admit(snap.file_stats.get(f), c, o, v)
                and _partition_admit(f, c, o, v)
                for c, o, v in conj
            ):
                continue
            by_schema.setdefault(snap.file_schema[f], []).append(f)
        root_real = os.path.realpath(self.root)
        for idx, group in sorted(by_schema.items()):
            write_schema = StructType.fromJson(snap.schemas[idx])
            paths = [os.path.join(self.root, f) for f in group]
            try:
                hits = (
                    self.spark.read.schema(write_schema)
                    .option("basePath", self.root)
                    .parquet(*paths)
                    .where(predicate)
                    .select(F.col("_metadata.file_path").alias("__file"))
                    .distinct()
                    .collect()
                )
            except AnalysisException as e:
                # predicate references columns absent from this historical
                # schema → no row in these files can match. Anything else
                # (bad predicate syntax, transient scan failure) must NOT
                # be swallowed: returning "no matches" would make a DELETE
                # silently do nothing while reporting success.
                cond = (
                    e.getCondition()
                    if hasattr(e, "getCondition")
                    else getattr(e, "getErrorClass", lambda: None)()
                )
                if cond and "UNRESOLVED_COLUMN" in cond:
                    continue
                raise
            for r in hits:
                p = r["__file"]
                if p.startswith("file:"):
                    p = p[len("file:") :]
                affected.append(os.path.relpath(os.path.realpath(p), root_real))
        return sorted(set(affected))

    def _rewrite(
        self,
        predicate: str,
        transform,
        operation: str,
        txn: tuple[str, int] | None = None,
    ) -> dict[str, Any]:
        """Copy-on-write rewrite of files containing predicate matches:
        survivors + transform(matching rows) land in new files; untouched
        files stay. Shared engine of delete_where/update_where."""
        if txn is not None and self.txn_version(txn[0]) >= txn[1]:
            return {"version": self.version(), "skipped": True}
        snap = self._replay()
        if snap.schema is None or not snap.files:
            return {"version": snap.version, "files_rewritten": 0, "skipped": False}
        affected = self._affected_files(snap, predicate)
        if not affected:
            return {"version": snap.version, "files_rewritten": 0, "skipped": False}
        scan = self._read_file_groups(snap, affected, snap.schema)
        new_df = transform(scan)
        add, _ = self._stage_write(new_df, snap.partition_by)
        commit = CommitInfo(
            version=self.version() + 1,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            add=add,
            remove=affected,
            schema=snap.schema.jsonValue(),
            partition_by=snap.partition_by,
            txn={"app_id": txn[0], "version": txn[1]} if txn else None,
            metrics={"files_rewritten": len(affected)},
        )
        self._publish_staged(commit, add)
        return {
            "version": commit.version,
            "files_rewritten": len(affected),
            "files_added": len(add),
            "skipped": False,
        }

    def delete_where(
        self,
        predicate: str,
        txn: tuple[str, int] | None = None,
        deletion_vectors: bool = False,
    ) -> dict[str, Any]:
        """DELETE FROM ... WHERE predicate.

        Default is Delta-parity copy-on-write: only files containing
        matches are rewritten, without their matching rows.

        ``deletion_vectors=True`` is merge-on-read (Delta's DV feature): no
        data file is rewritten; the commit records the deleted row
        positions per file and every reader subtracts them. A point DELETE
        on a 100 TB table then costs one pushed-down scan of the admitted
        files plus a metadata commit — O(deleted rows), not O(file bytes).
        Use for selective deletes (GDPR erasure, bad-record surgery); mass
        deletes should stay copy-on-write, and ``optimize()`` rewrites
        DV-carrying files to reclaim space."""
        if deletion_vectors:
            return self._delete_dv(predicate, txn)
        return self._rewrite(
            predicate,
            lambda df: df.where(f"NOT ({predicate})"),
            "DELETE",
            txn,
        )

    def _delete_dv(
        self, predicate: str, txn: tuple[str, int] | None
    ) -> dict[str, Any]:
        if txn is not None and self.txn_version(txn[0]) >= txn[1]:
            return {"version": self.version(), "skipped": True}
        snap = self._replay()
        if snap.schema is None or not snap.files:
            return {"version": snap.version, "rows_deleted": 0, "skipped": False}
        by_schema: dict[int, list[str]] = {}
        conj = _parse_pruning_conjuncts(predicate)
        if conj:
            conj = conj + self._derived_partition_conjuncts(conj)
        for f in snap.files:
            if conj and not all(
                _stats_admit(snap.file_stats.get(f), c, o, v)
                and _partition_admit(f, c, o, v)
                for c, o, v in conj
            ):
                continue
            by_schema.setdefault(snap.file_schema[f], []).append(f)
        root_real = os.path.realpath(self.root)
        new_dv: dict[str, list[int]] = {}
        rows_deleted = 0
        for idx, group in sorted(by_schema.items()):
            write_schema = StructType.fromJson(snap.schemas[idx])
            paths = [os.path.join(self.root, f) for f in group]
            try:
                # aggregate row positions per file EXECUTOR-side
                # (map-side-combined groupBy on the file path): the
                # driver collects one row per touched file carrying the
                # position array (order-free — the driver set-merges
                # and sorts once anyway), never a row per deleted row —
                # a wide predicate delete at 100x no longer funnels
                # millions of (path, index) Rows through py4j (r6
                # verdict finding #2). The per-file arrays are the
                # commit payload either way (the log stores them).
                hits = (
                    self.spark.read.schema(write_schema)
                    .option("basePath", self.root)
                    .parquet(*paths)
                    .where(predicate)
                    .select(
                        F.col("_metadata.file_path").alias("__p"),
                        F.col("_metadata.row_index").alias("__i"),
                    )
                    .groupBy("__p")
                    .agg(F.collect_list("__i").alias("__idx"))
                    .collect()
                )
            except AnalysisException as e:
                cond = (
                    e.getCondition()
                    if hasattr(e, "getCondition")
                    else getattr(e, "getErrorClass", lambda: None)()
                )
                if cond and "UNRESOLVED_COLUMN" in cond:
                    continue
                raise
            # Accumulate positions per rel path across hit rows FIRST,
            # then merge once with the snapshot base: two distinct __p
            # spellings (file:-prefix, symlink alias) can normalize to
            # the same rel, and a per-row re-base from snap.file_dvs
            # would let the later row overwrite the earlier row's
            # positions and over-count rows_deleted.
            hit_pos: dict[str, set[int]] = {}
            for r in hits:
                p = r["__p"]
                if p.startswith("file:"):
                    p = p[len("file:"):]
                rel = os.path.relpath(os.path.realpath(p), root_real)
                hit_pos.setdefault(rel, set()).update(
                    int(i) for i in r["__idx"]
                )
            for rel, pos in hit_pos.items():
                merged = set(snap.file_dvs.get(rel, ()))
                before = len(merged)
                merged.update(pos)
                rows_deleted += len(merged) - before
                new_dv[rel] = sorted(merged)
        if not new_dv:
            return {
                "version": snap.version,
                "rows_deleted": 0,
                "files_with_dv": 0,
                "skipped": False,
            }
        commit = CommitInfo(
            version=self.version() + 1,
            timestamp_ms=int(time.time() * 1000),
            operation="DELETE",
            schema=snap.schema.jsonValue(),
            partition_by=snap.partition_by,
            txn={"app_id": txn[0], "version": txn[1]} if txn else None,
            metrics={"rows_deleted": rows_deleted, "mode": "deletion-vector"},
            dv=new_dv,
        )
        self._publish(commit)
        return {
            "version": commit.version,
            "rows_deleted": rows_deleted,
            "files_with_dv": len(new_dv),
            "skipped": False,
        }

    def update_where(
        self,
        predicate: str,
        assignments: dict[str, str],
        txn: tuple[str, int] | None = None,
    ) -> dict[str, Any]:
        """UPDATE ... SET col=expr WHERE predicate (copy-on-write).
        ``assignments`` maps column name → SQL expression evaluated on
        matching rows; non-matching rows in affected files are preserved."""

        def apply(df: DataFrame) -> DataFrame:
            # one select evaluates every SET expression against the
            # ORIGINAL row (SQL UPDATE's simultaneous-assignment semantics;
            # chained withColumn would leak earlier assignments into later
            # expressions)
            cond = F.expr(predicate)
            cols = []
            for name in df.columns:
                if name in assignments:
                    cols.append(
                        F.when(cond, F.expr(assignments[name]))
                        .otherwise(F.col(name))
                        .cast(df.schema[name].dataType)  # no schema drift
                        .alias(name)
                    )
                else:
                    cols.append(F.col(name))
            return df.select(*cols)

        return self._rewrite(predicate, apply, "UPDATE", txn)

    # --------------------------------------------------------------- read

    def _read_file_groups(
        self, snap: Snapshot, files: list[str], target: StructType
    ) -> DataFrame:
        """Read a set of active files, each group with the schema it was
        written under, cast every group to ``target``, and union. One scan
        per *distinct historical schema* (small), so vectorized reads,
        pushdown, and partition pruning still apply per group."""
        by_schema: dict[int, list[str]] = {}
        for f in files:
            by_schema.setdefault(snap.file_schema[f], []).append(f)
        parts: list[DataFrame] = []
        for idx, group in sorted(by_schema.items()):
            write_schema = StructType.fromJson(snap.schemas[idx])
            paths = [os.path.join(self.root, f) for f in group]
            df = (
                self.spark.read.schema(write_schema)
                .option("basePath", self.root)
                .parquet(*paths)
            )
            dv_files = [f for f in group if snap.file_dvs.get(f)]
            if dv_files:
                # merge-on-read: subtract deletion-vector rows via a
                # broadcast anti-join on (file uri, row position). DV size
                # is bounded by deleted rows, so the broadcast is small;
                # files without a DV in this group pass through untouched.
                tombstones = [
                    (os.path.realpath(os.path.join(self.root, f)), int(p))
                    for f in dv_files
                    for p in snap.file_dvs[f]
                ]
                tdf = self.spark.createDataFrame(
                    tombstones, "__dv_path string, __dv_idx long"
                )
                # join directly on _metadata expressions (no materialized
                # helper columns — a user column named __path/__idx must
                # not be clobbered). file_path renders as file:/abs or
                # file:///abs depending on the Hadoop path layer — strip
                # the scheme before comparing.
                cond = (
                    F.regexp_replace(
                        df["_metadata.file_path"], "^file:(//)?", ""
                    )
                    == tdf["__dv_path"]
                ) & (df["_metadata.row_index"] == tdf["__dv_idx"])
                df = df.join(F.broadcast(tdf), cond, "left_anti")
            # ALWAYS project onto the target schema, even when the write
            # schema matches: the file relation moves partition columns to
            # the end, so group column ORDER differs from the declared
            # schema and a positional union would misalign columns.
            df = cast_to_schema(df, target)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        return out

    def read(
        self,
        version_as_of: int | None = None,
        timestamp_as_of: str | int | None = None,
        predicate: str | None = None,
    ) -> DataFrame:
        """Snapshot read with optional time travel (reference FR-053; DuckDB
        delta_scan version/timestamp params research.md:604-615).

        ``predicate`` additionally file-skips via the commit log's per-file
        min/max stats before Spark ever opens a footer (Delta's data
        skipping), then applies the same predicate as a normal filter — so
        it is always exact, and on a 100 TB table a point lookup touches
        only the files whose range admits the key."""
        snap = self._replay(version_as_of, timestamp_as_of)
        if snap.schema is None:
            raise ValueError(f"table does not exist: {self.root}")
        files = snap.files
        if predicate is not None:
            conj = _parse_pruning_conjuncts(predicate)
            self._log_predicate_columns(conj)
            if conj:
                # partition-dir values prune alongside footer stats, and
                # source-column predicates additionally prune through any
                # monotonic generated-column mapping (date(ts) etc.)
                conj = conj + self._derived_partition_conjuncts(conj)
                files = [
                    f
                    for f in files
                    if all(
                        _stats_admit(snap.file_stats.get(f), c, o, v)
                        and _partition_admit(f, c, o, v)
                        for c, o, v in conj
                    )
                ]
        if not files:
            df = self.spark.createDataFrame([], snap.schema)
            return df.where(predicate) if predicate is not None else df
        if version_as_of is not None or timestamp_as_of is not None:
            # historical snapshots may reference vacuumed files — fail with
            # a clear retention error, not a mid-query FileNotFound
            missing = [
                f
                for f in files
                if not os.path.exists(os.path.join(self.root, f))
            ]
            if missing:
                raise ValueError(
                    f"version {snap.version} is no longer reconstructible: "
                    f"{len(missing)} data file(s) removed by VACUUM "
                    f"(first: {missing[0]})"
                )
        df = self._read_file_groups(snap, files, snap.schema)
        return df.where(predicate) if predicate is not None else df

    def restore(self, version: int) -> dict[str, Any]:
        """RESTORE TABLE TO VERSION equivalent: one commit that resets the
        active file set (and schema/partitioning) to an older snapshot.
        Metadata-only — no data files move, history is preserved, and the
        restore itself is time-travelable."""
        old = self._replay(version_as_of=version)
        cur = self._replay()
        if old.schema is None:
            raise ValueError(f"version {version} not found")
        missing = [
            f
            for f in old.files
            if not os.path.exists(os.path.join(self.root, f))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to {version}: {len(missing)} file(s) "
                "removed by VACUUM"
            )
        # a commit carries ONE schema, so re-added files must physically
        # match it; files written under older schemas in the target
        # snapshot are rewritten (cast) — the rest re-attach metadata-only
        old_schema_json = old.schema.jsonValue()
        reusable: list[str] = []
        needs_rewrite: list[str] = []
        for f in old.files:
            if old.schemas[old.file_schema[f]] == old_schema_json:
                reusable.append(f)
            else:
                needs_rewrite.append(f)
        cur_files = set(cur.files)
        add = [
            {"path": f, "size": os.path.getsize(os.path.join(self.root, f))}
            for f in reusable
            if f not in cur_files
        ]
        staged_new: list[dict] = []
        if needs_rewrite:
            rewritten = self._read_file_groups(old, needs_rewrite, old.schema)
            staged_new = self._stage_write(rewritten, old.partition_by)[0]
            add.extend(staged_new)
        remove = [
            f
            for f in cur.files
            if f not in set(reusable) or f in set(needs_rewrite)
        ]
        commit = CommitInfo(
            version=cur.version + 1,
            timestamp_ms=int(time.time() * 1000),
            operation="RESTORE",
            add=add,
            remove=remove,
            schema=old_schema_json,
            partition_by=old.partition_by,
            metrics={"restored_to": version, "files_rewritten": len(needs_rewrite)},
        )
        # only the just-staged rewrites are safe to delete on a lost race;
        # `add` also names reused historical files that must survive
        self._publish_staged(commit, staged_new)
        return {
            "version": commit.version,
            "restored_to": version,
            "files_added": len(add),
            "files_removed": len(remove),
        }

    #: operations whose add/remove entries rearrange bytes without changing
    #: table content (dataChange=false in Delta terms) — CDF skips them
    _REARRANGE_OPS = frozenset({"OPTIMIZE", "REPARTITION"})

    def read_changes(
        self,
        starting_version: int,
        ending_version: int | None = None,
    ) -> DataFrame:
        """Change Data Feed: row-level changes committed in versions
        ``[starting_version, ending_version]`` (Delta's ``table_changes``;
        reference consumers tail the Delta log for downstream sync —
        research.md's incremental-read requirement).

        Output = table schema + ``_change_type`` ('insert'/'delete'),
        ``_commit_version``, ``_commit_timestamp`` (epoch ms). No change
        files are stored: appends (the CDC hot path) resolve from add
        entries alone — O(new data), no diffing; deletion-vector deletes
        resolve by reading only the tombstoned positions; copy-on-write
        MERGE/UPDATE/DELETE versions are reconstructed with a multiset
        EXCEPT between removed and added files, which touches only the
        files that commit rewrote, never the whole table. An update
        surfaces as delete(old row) + insert(new row).
        """
        versions = self._versions()
        if not versions:
            raise ValueError(f"table does not exist: {self.root}")
        last = versions[-1] if ending_version is None else ending_version
        span = [v for v in versions if starting_version <= v <= last]
        # every part casts to the schema at the END of the range: a feed
        # spanning a schema evolution must come out in ONE shape (Delta
        # CDF's behavior), not per-version shapes a union would misalign
        final_schema = (
            self._replay(version_as_of=span[-1]).schema if span else None
        )
        parts: list[DataFrame] = []
        meta = [
            "_change_type",
            "_commit_version",
            "_commit_timestamp",
        ]

        def tag(df: DataFrame, kind: str, c: CommitInfo) -> DataFrame:
            return df.select(
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(c.version).cast("long").alias("_commit_version"),
                F.lit(c.timestamp_ms).cast("long").alias("_commit_timestamp"),
            )

        for v in span:
            c = self._read_commit(v)
            if c.operation in self._REARRANGE_OPS:
                continue
            snap = self._replay(version_as_of=v)
            if snap.schema is None:
                continue
            added = [a["path"] for a in c.add if a["path"] in snap.file_schema]
            new_rows = (
                self._read_file_groups(snap, added, final_schema)
                if added
                else None
            )
            old_rows = None
            if c.remove:
                prev = self._replay(version_as_of=v - 1) if v > 0 else None
                if prev is not None and prev.schema is not None:
                    gone = [f for f in c.remove if f in prev.file_schema]
                    if gone:
                        # prev's DVs are subtracted inside the group read, so
                        # already-deleted rows don't resurface as deletes
                        old_rows = self._read_file_groups(
                            prev, gone, final_schema
                        )
            if new_rows is not None and old_rows is not None:
                parts.append(tag(new_rows.exceptAll(old_rows), "insert", c))
                parts.append(tag(old_rows.exceptAll(new_rows), "delete", c))
            elif new_rows is not None:
                parts.append(tag(new_rows, "insert", c))  # append fast path
            elif old_rows is not None:
                parts.append(tag(old_rows, "delete", c))
            if c.dv:
                prev = self._replay(version_as_of=v - 1) if v > 0 else None
                prev_dvs = prev.file_dvs if prev is not None else {}
                for path, positions in sorted(c.dv.items()):
                    if path not in snap.file_schema:
                        continue
                    delta = sorted(
                        set(positions) - set(prev_dvs.get(path, ()))
                    )
                    if not delta:
                        continue
                    write_schema = StructType.fromJson(
                        snap.schemas[snap.file_schema[path]]
                    )
                    rows = (
                        self.spark.read.schema(write_schema)
                        .option("basePath", self.root)
                        .parquet(os.path.join(self.root, path))
                        .where(F.col("_metadata.row_index").isin(delta))
                    )
                    parts.append(
                        tag(cast_to_schema(rows, final_schema), "delete", c)
                    )
        if not parts:
            snap = self._replay()
            if snap.schema is None:
                raise ValueError(f"table does not exist: {self.root}")
            shell = StructType(
                snap.schema.fields
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                    StructField("_commit_timestamp", LongType()),
                ]
            )
            return self.spark.createDataFrame([], shell)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(
            *[f.name for f in out.schema.fields if f.name not in meta], *meta
        )

    # -------------------------------------------------------- maintenance

    def repartition_table(
        self, partition_by: list[str], txn: tuple[str, int] | None = None
    ) -> dict[str, Any]:
        """Partition evolution: rewrite the whole table into a new hive
        layout in one atomic commit (readers never see a mixed layout).

        Scale note: this is a full rewrite by design — the commit-log
        format ties partition discovery to one directory shape per table.
        For cheap query-side re-partitioning prefer zorder/cluster_by,
        which change file contents, not the directory contract."""
        if txn is not None and self.txn_version(txn[0]) >= txn[1]:
            return {"version": self.version(), "skipped": True}
        snap = self._replay()
        if snap.schema is None:
            raise ValueError(f"table does not exist: {self.root}")
        missing = [c for c in partition_by if c not in snap.schema.fieldNames()]
        if missing:
            raise ValueError(f"partition columns not in schema: {missing}")
        if partition_by == snap.partition_by:
            return {"version": snap.version, "skipped": True}
        rows = self._read_file_groups(snap, snap.files, snap.schema)
        add, n_rows = self._stage_write(rows, list(partition_by))
        commit = CommitInfo(
            version=self.version() + 1,
            timestamp_ms=int(time.time() * 1000),
            operation="REPARTITION",
            add=add,
            remove=list(snap.files),
            schema=snap.schema.jsonValue(),
            partition_by=list(partition_by),
            txn={"app_id": txn[0], "version": txn[1]} if txn else None,
            metrics={"rows": n_rows, "new_layout": partition_by},
        )
        self._publish_staged(commit, add)
        return {
            "version": commit.version,
            "rows": n_rows,
            "files_added": len(add),
            "skipped": False,
        }

    def optimize(
        self,
        target_file_rows: int = 1_000_000,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        small_file_bytes: int | None = 32 * 1024 * 1024,
    ) -> dict[str, Any]:
        """Small-file compaction per partition (reference
        delta_writer.py:234-266; 64-256MB file targets research.md:441-458).

        BIN-PACKS, like Delta's OPTIMIZE: in the default path only files
        smaller than ``small_file_bytes`` — or carrying a deletion vector
        (OPTIMIZE is the DV compaction path: applies the vector, reclaims
        space, clears the DV) — are rewrite candidates; files already at
        target size are left untouched. This is what keeps a maintenance
        tick O(new small data) instead of O(partition): on a sustained
        stream the pre-r8 whole-partition rewrite re-read the big
        compacted file on EVERY tick, the measured growing-cost transient
        in the r8 soak (NOTES_r8 slices 7-8). Pass ``small_file_bytes=
        None`` to force a full rewrite. Output is split into
        ``ceil(rows / target_file_rows)`` files, never one unbounded file.

        ``cluster_by`` sorts rows linearly by the given columns and
        rewrites the WHOLE partition (re-clustering is a full-rewrite
        operation by definition): parquet row-group min/max stats on the
        LEADING column become narrow and disjoint — the right call for one
        dominant filter column. Output files are range-split on the
        cluster columns so each file's range is disjoint.

        ``zorder_by`` (OPTIMIZE ZORDER, reference research.md:208) sorts by
        a bit-interleaved Z-curve over up to 4 numeric/date/timestamp
        columns and range-splits output files on the curve, so every
        clustered column gets tight per-file min/max at once — the
        commit-log skip lists then prune point/range queries on ANY of the
        clustered dimensions, not just the leading one."""
        if cluster_by and zorder_by:
            raise ValueError("pass cluster_by or zorder_by, not both")
        snap = self._replay()
        files, schema, partition_by = snap.files, snap.schema, snap.partition_by
        if schema is None or not files:
            return {"partitions_compacted": 0, "files_before": len(files or [])}

        by_part: dict[str, list[str]] = {}
        for f in files:
            by_part.setdefault(os.path.dirname(f), []).append(f)

        add: list[dict[str, Any]] = []
        remove: list[str] = []
        rows_rewritten = 0
        for part_rel, part_files in by_part.items():
            if cluster_by or zorder_by:
                group = part_files  # re-clustering rewrites the partition
            else:
                group = []
                for f in part_files:
                    if snap.file_dvs.get(f):
                        group.append(f)  # DV compaction: always rewrite
                        continue
                    if small_file_bytes is None:
                        group.append(f)
                        continue
                    try:
                        size = os.path.getsize(os.path.join(self.root, f))
                    except OSError:
                        size = 0  # unreadable → treat as small, rewrite
                    if size < small_file_bytes:
                        group.append(f)
            has_dv = any(snap.file_dvs.get(f) for f in group)
            # a lone small file with no DV has nothing to merge with
            if len(group) <= 1 and not (cluster_by or zorder_by) and not has_dv:
                continue
            pdf = self._read_file_groups(snap, group, schema)
            # partition cols are path-derived; drop before writing data files
            data_cols = [c for c in pdf.columns if c not in partition_by]
            # size outputs from commit-log stats when every candidate has
            # them (minus DV'd rows); else pay one count job
            grp_stats = [
                (snap.file_stats.get(f) or {}).get("numRecords")
                for f in group
            ]
            if all(s is not None for s in grp_stats):
                n_rows = sum(grp_stats) - sum(
                    len(snap.file_dvs.get(f, ())) for f in group
                )
            else:
                n_rows = pdf.count()
            rows_rewritten += n_rows
            n_out = max(1, -(-n_rows // target_file_rows))
            if zorder_by:
                z = _zorder_column(pdf, zorder_by)
                pdf = (
                    pdf.withColumn("__z", z)
                    .repartitionByRange(n_out, F.col("__z"))
                    .sortWithinPartitions("__z")
                )
                out = pdf.select(*data_cols)  # __z dropped, order kept
            elif cluster_by:
                # range-split + sort within: n_out files with disjoint
                # cluster-column ranges, written in parallel (the old
                # orderBy().coalesce(1) forced one unbounded file through
                # one task regardless of partition size)
                out = (
                    pdf.repartitionByRange(
                        n_out, *[F.col(c) for c in cluster_by]
                    )
                    .sortWithinPartitions(*cluster_by)
                    .select(*data_cols)
                )
            elif n_out > 1:
                out = pdf.select(*data_cols).repartition(n_out)
            else:
                out = pdf.select(*data_cols).coalesce(1)
            commit_id = uuid.uuid4().hex
            stage = os.path.join(self.root, _TMP_DIR, commit_id)
            out.write.mode("overwrite").parquet(stage)
            part_dir = (
                self.root
                if part_rel in ("", ".")
                else os.path.join(self.root, part_rel)
            )
            n = 0
            for name in os.listdir(stage):
                if name.endswith(".parquet"):
                    dst = os.path.join(part_dir, f"part-{commit_id}-{n:05d}.parquet")
                    os.rename(os.path.join(stage, name), dst)
                    add.append(
                        {
                            "path": os.path.relpath(dst, self.root),
                            "size": os.path.getsize(dst),
                            "stats": _collect_file_stats(dst),
                        }
                    )
                    n += 1
            shutil.rmtree(stage, ignore_errors=True)
            remove.extend(group)

        if not remove:
            return {"partitions_compacted": 0, "files_before": len(files)}
        self._publish_staged(
            CommitInfo(
                version=self.version() + 1,
                timestamp_ms=int(time.time() * 1000),
                operation="OPTIMIZE",
                add=add,
                remove=remove,
                schema=schema.jsonValue(),
                partition_by=partition_by,
                metrics={"files_before": len(files), "files_added": len(add)},
            ),
            add,
        )
        return {
            "partitions_compacted": len({os.path.dirname(f) for f in remove}),
            "files_before": len(files),
            "files_after": len(files) - len(remove) + len(add),
            # observability for maintenance loops: with bin-packing this
            # tracks new small-file data since the last tick, not table size
            "rows_rewritten": rows_rewritten,
        }

    def vacuum(
        self, retention_hours: float = 168.0, sweep_orphans: bool = True
    ) -> dict[str, Any]:
        """Delete data files no longer referenced by the latest snapshot whose
        removing commit is older than retention (reference
        delta_writer.py:268-282, default 168h).

        ``sweep_orphans`` additionally removes parquet files in the table
        directory that appear in NO commit at all and are older than
        retention: a writer that dies between staging its files and
        publishing its commit leaves such orphans (the in-process lost-race
        path cleans up after itself, but a crash cannot). Retention gates
        the sweep so a concurrent writer's just-staged-but-not-yet-committed
        files are never touched — the same uncommitted-file grace Delta's
        VACUUM applies."""
        cutoff_ms = int((time.time() - retention_hours * 3600) * 1000)
        active_set = set(self._replay().files)
        removable: set[str] = set()
        ever_referenced: set[str] = set(active_set)
        for v in self._versions():
            c = self._read_commit(v)
            ever_referenced.update(a["path"] for a in c.add)
            ever_referenced.update(c.remove)
            if c.timestamp_ms <= cutoff_ms:
                for r in c.remove:
                    if r not in active_set:
                        removable.add(r)
        deleted = 0
        for rel in removable:
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                os.unlink(p)
                deleted += 1
        orphans_deleted = 0
        if sweep_orphans:
            cutoff_s = time.time() - retention_hours * 3600
            for dirpath, dirs, names in os.walk(self.root):
                rel_dir = os.path.relpath(dirpath, self.root)
                if rel_dir.split(os.sep)[0] in (_LOG_DIR, _TMP_DIR):
                    dirs[:] = []
                    continue
                for name in names:
                    if not name.endswith(".parquet"):
                        continue
                    rel = os.path.normpath(os.path.join(rel_dir, name))
                    if rel.startswith("./"):
                        rel = rel[2:]
                    if rel == name and rel_dir == ".":
                        rel = name
                    if rel in ever_referenced:
                        continue
                    p = os.path.join(dirpath, name)
                    try:
                        if os.path.getmtime(p) <= cutoff_s:
                            os.unlink(p)
                            orphans_deleted += 1
                    except OSError:
                        pass
        return {"files_deleted": deleted, "orphans_deleted": orphans_deleted}

    def truncate_log(
        self, retain_commits: int = 1000
    ) -> dict[str, Any]:
        """Delete commit-log JSONs (and superseded checkpoints) older than
        the newest checkpoint that still leaves ``retain_commits`` commits
        of history — Delta's ``logRetentionDuration`` expressed in commit
        count. Bounds the log directory over a long-running stream (the
        SLO horizon implies ~260k commits/month at 10 s batches; every
        log LIST is O(entries), so an untruncated log makes each append's
        version probe progressively slower).

        Replay correctness: the cut point is always a CHECKPOINT version
        whose files both survive, so any remaining version replays as
        checkpoint + tail exactly as before. Time travel to a truncated
        version raises the normal "version not in table log" error —
        the documented retention trade, same as Delta's.
        """
        versions = self._versions()
        if not versions:
            return {"commits_deleted": 0, "checkpoints_deleted": 0}
        horizon = versions[-1] - retain_commits
        log_dir = os.path.join(self.root, _LOG_DIR)
        ckpts = sorted(
            int(f.split(".")[0])
            for f in os.listdir(log_dir)
            if f.endswith(".checkpoint.json") and f.split(".")[0].isdigit()
        )
        cut = max((c for c in ckpts if c <= horizon), default=None)
        if cut is None:
            return {"commits_deleted": 0, "checkpoints_deleted": 0}
        commits_deleted = checkpoints_deleted = 0
        for v in versions:
            if v < cut:
                try:
                    os.unlink(_commit_path(self.root, v))
                    commits_deleted += 1
                except OSError:
                    pass
        for c in ckpts:
            if c < cut:
                try:
                    os.unlink(_checkpoint_path(self.root, c))
                    checkpoints_deleted += 1
                except OSError:
                    pass
        return {
            "commits_deleted": commits_deleted,
            "checkpoints_deleted": checkpoints_deleted,
            "oldest_version": cut,
        }

    # ------------------------------------------------------------ helpers

    def _log_predicate_columns(self, conj: list[tuple[str, str, Any]]) -> None:
        """Append the filtered columns of a predicate read to a lightweight
        side log (best-effort, outside the txn protocol) — the workload
        signal ``suggest_clustering`` weights by."""
        if not conj:
            return
        try:
            log_dir = os.path.join(self.root, _LOG_DIR)
            os.makedirs(log_dir, exist_ok=True)
            with open(os.path.join(log_dir, "_predicates.jsonl"), "a") as fh:
                fh.write(json.dumps(sorted({c for c, _o, _v in conj})) + "\n")
        except OSError:
            pass

    def _predicate_frequencies(self) -> dict[str, int]:
        path = os.path.join(self.root, _LOG_DIR, "_predicates.jsonl")
        freq: dict[str, int] = {}
        try:
            with open(path) as fh:
                for line in fh:
                    for col in json.loads(line):
                        freq[col] = freq.get(col, 0) + 1
        except (OSError, ValueError):
            pass
        return freq

    def clustering_report(self) -> dict[str, dict[str, Any]]:
        """Per-column data-skipping effectiveness from the commit log's
        file stats — no data scan, pure metadata.

        For each column with min/max on ≥2 files, reports
        ``mean_overlap``: the average number of OTHER files whose [min,max]
        range intersects a given file's range. 0.0 = perfectly disjoint
        (a point predicate on this column scans one file); n_files-1 =
        every file covers every value (skipping never prunes — the column
        is a clustering candidate). Feed the worst frequently-filtered
        column(s) to ``optimize(zorder_by=...)`` and re-check."""
        snap = self._replay()
        by_col: dict[str, list[tuple[Any, Any]]] = {}
        for f in snap.files:
            st = snap.file_stats.get(f)
            if not st:
                continue
            for col, lo in (st.get("minValues") or {}).items():
                hi = (st.get("maxValues") or {}).get(col)
                if hi is not None:
                    by_col.setdefault(col, []).append((lo, hi))
        import bisect

        report: dict[str, dict[str, Any]] = {}
        for col, ranges in by_col.items():
            if len(ranges) < 2:
                continue
            # O(F log F) sweep, not all-pairs: intervals sorted by lo;
            # each interval overlaps the earlier ones whose hi >= its lo
            # (count via binary search in the sorted hi list). A 100k-file
            # table stays milliseconds instead of 10^10 comparisons.
            try:
                ranges_sorted = sorted(ranges)
                his: list = []
                pairs = 0
                for lo, hi in ranges_sorted:
                    pairs += len(his) - bisect.bisect_left(his, lo)
                    bisect.insort(his, hi)
            except TypeError:  # mixed stat types across historical schemas
                continue
            n = len(ranges)
            report[col] = {
                "n_files": n,
                "mean_overlap": round(2 * pairs / n, 3),
            }
        return report

    def suggest_clustering(
        self, top_n: int = 2, weight_by_queries: bool = True
    ) -> list[str]:
        """zorder_by candidates: columns whose file ranges overlap most
        (worst data skipping), weighted by how often predicate reads
        actually filtered on them (the `_predicates.jsonl` side log). A
        badly-clustered column nobody filters on is not worth a rewrite;
        with no workload history the ranking falls back to overlap alone."""
        rep = self.clustering_report()
        freq = self._predicate_frequencies() if weight_by_queries else {}

        def score(kv):
            col, m = kv
            w = 1 + freq.get(col, 0) if freq else 1
            return -(m["mean_overlap"] * w)

        ranked = sorted(rep.items(), key=score)
        return [c for c, m in ranked[:top_n] if m["mean_overlap"] > 0]

    def count(
        self,
        version_as_of: int | None = None,
        timestamp_as_of: str | int | None = None,
    ) -> int:
        """COUNT(*) from commit-log metadata when possible: sum of per-file
        numRecords minus deletion-vector rows — no data scan, O(files) in
        the driver (the same trick Delta's metadata-only count uses). Falls
        back to a real scan only when some active file predates stats
        collection."""
        snap = self._replay(version_as_of, timestamp_as_of)
        if snap.schema is None:
            raise ValueError(f"table does not exist: {self.root}")
        total = 0
        for f in snap.files:
            st = snap.file_stats.get(f)
            if not st or "numRecords" not in st:
                return self.read(version_as_of, timestamp_as_of).count()
            total += int(st["numRecords"])
        total -= sum(len(v) for v in snap.file_dvs.values())
        return total

    def min_max(
        self,
        column: str,
        version_as_of: int | None = None,
        timestamp_as_of: str | int | None = None,
    ) -> tuple[Any, Any]:
        """MIN/MAX of a column from commit-log stats when possible — no
        data scan, O(files) in the driver.

        Exactness requires every active file to carry min/max for the
        column AND no deletion vectors on files whose extreme could be a
        tombstoned row — DVs make footer stats an over-approximation, so
        any DV on the table falls back to a real (pushdown-pruned) scan.
        On a 100 TB table this turns dashboard-grade range probes into a
        metadata lookup."""
        snap = self._replay(version_as_of, timestamp_as_of)
        if snap.schema is None:
            raise ValueError(f"table does not exist: {self.root}")
        if column not in [f.name for f in snap.schema.fields]:
            raise ValueError(f"no such column: {column}")
        mins, maxs = [], []
        metadata_ok = not snap.file_dvs
        if metadata_ok:
            for f in snap.files:
                st = snap.file_stats.get(f)
                if (
                    not st
                    or column not in st.get("minValues", {})
                    or column not in st.get("maxValues", {})
                    or st.get("nullCount", {}).get(column)
                    == st.get("numRecords")
                ):
                    # missing stats (pre-stats file / truncated string /
                    # all-null file with no contribution) → fall back
                    if st and st.get("nullCount", {}).get(column) == st.get(
                        "numRecords"
                    ):
                        continue  # all-null file: contributes nothing
                    metadata_ok = False
                    break
                mins.append(st["minValues"][column])
                maxs.append(st["maxValues"][column])
        if metadata_ok and mins:
            try:
                # mixed stat types (a file written pre-widening) are not
                # comparable — that's a scan, not a crash
                return min(mins), max(maxs)
            except TypeError:
                pass
        elif metadata_ok:
            return None, None  # empty table or all nulls
        row = (
            self.read(version_as_of, timestamp_as_of)
            .agg(F.min(column), F.max(column))
            .first()
        )
        return row[0], row[1]

    def file_count(self) -> int:
        return len(self._replay().files)
