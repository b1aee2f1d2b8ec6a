"""Spark 4 Python Data Source for the snapshot log: ``spark.read.format
("snapshot_log")`` and ``spark.readStream.format("snapshot_log")``.

This wires the module's commit protocol (:mod:`.snapshots`) into Spark's
own source API so the log composes with everything that speaks formats —
SQL ``CREATE TABLE ... USING``, Structured Streaming's offset/checkpoint
machinery, third-party tooling — without the caller importing this
package's functions:

- BATCH: one InputPartition per manifest data file (the natural 100 TB
  task granularity — Spark schedules |files| tasks, each a single
  pyarrow parquet scan yielding Arrow RecordBatches, vectorized end to
  end). Deletion vectors are applied per-file from the partition's own
  (tiny) deleted-row-index list; column mapping aliases physical file
  columns back to the logical schema; ``option("version", n)`` is time
  travel (``option("timestampAsOf", ts)`` / ``option("tag", name)``
  resolve through the commit stamps / the refs table property).
- STREAMING: the log becomes a real Structured Streaming SOURCE with
  exactly-once offset tracking — offsets are manifest versions (the same
  integers ``consume_appends`` checkpoints), ``partitions(start, end)``
  is the per-commit added-file list, and replayed ranges re-read
  identically because data files are immutable. Downstream this feeds
  watermarked windowed aggs / stateful ops like any Kafka topic would.
  Append-only contract: a DML commit in the range fails the stream
  loudly (use ``snapshots.consume_changes`` for CDC consumption) —
  Delta's streaming-source default.

SQL note: ``CREATE TABLE ... USING snapshot_log OPTIONS (path ...)``
resolves the schema but cannot be SELECTed in this Spark build — the
engine does not forward a SQL table's stored OPTIONS to the Python
reader phase (verified: reader-side ``self.options`` arrives empty while
the schema phase sees them). Use ``spark.read.format("snapshot_log")``
(options flow correctly there) and ``createOrReplaceTempView`` for SQL.

Scale note: the JVM parquet scan (:func:`..snapshots.read_snapshot`)
remains the batch fast path — whole-stage codegen, pushdown, AQE. This
source's batch reader trades that for API interop (Arrow keeps it
vectorized, but rows cross the Python boundary); its STREAMING reader is
the capability that doesn't otherwise exist. Use read_snapshot in hot
analytics paths, the format for composition and streams.

Reference: the reference has no streaming and no source API — its Dask
ETL re-reads whole zones per run (data_processing.py, flows.py); this is
beyond-reference extension surface.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from . import commitlog

_SNAP_DIR = "_snapshots"


def _localize(p: str) -> str:
    """Manifest file strings carry Hadoop's scheme spelling
    (``file:/x``); pyarrow and os want bare paths."""
    return re.sub(r"^file:/+", "/", p)


def _py_versions(table_dir: str) -> list[int]:
    d = os.path.join(_localize(table_dir), _SNAP_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _py_commit(table_dir: str, version: int) -> dict:
    """RAW commit record — self-contained or O(delta); metadata keys
    (schema, colmap, committed_at, op, cdc_files, …) are always verbatim
    (commitlog module doc), so metadata-only readers stop here."""
    path = os.path.join(
        _localize(table_dir), _SNAP_DIR, commitlog.commit_name(version)
    )
    with open(path, "rb") as fh:
        return json.loads(fh.read().decode())


def _py_manifest(table_dir: str, version: int) -> dict:
    """RESOLVED manifest (full files/stats/dv_files view) from the
    segmented log: checkpoint + < CKPT_EVERY delta replays — the same
    shared resolution as snapshots._read_manifest."""
    snap_dir = os.path.join(_localize(table_dir), _SNAP_DIR)
    has_ckpt, read_ckpt = commitlog.ckpt_prober(snap_dir)
    return commitlog.resolve(
        version, lambda v: _py_commit(table_dir, v), has_ckpt, read_ckpt
    )


def _arrow_type(t: str):
    """simpleString -> pyarrow type for the scalar types the log records.
    Nested types are refused loudly — use snapshots.read_snapshot (JVM
    path) for those tables."""
    import pyarrow as pa

    m = {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if t in m:
        return m[t]
    dm = re.fullmatch(r"decimal\((\d+),(\d+)\)", t)
    if dm:
        return pa.decimal128(int(dm.group(1)), int(dm.group(2)))
    raise NotImplementedError(
        f"snapshot_log source: unsupported column type {t!r} "
        "(nested types: read via snapshots.read_snapshot)"
    )


@dataclass
class _FilePartition(InputPartition):
    """One manifest data file = one Spark task. Picklable and tiny: the
    per-file deleted row indices ride along (DVs are small by contract —
    compaction materializes them away before they could grow).

    ``change_type``/``commit_version`` are set only by the CDC stream
    reader: a literal change_type means "stamp every row" (an appended
    data file = all inserts); ``change_type == ""`` means the file is a
    persisted CHANGE FILE already carrying its own change_type column."""

    file: str
    sig: list  # [[logical_name, simpleString], ...] — the read schema
    colmap: dict | None  # logical -> physical (None = unmapped)
    deleted: list = field(default_factory=list)  # sorted row indices
    change_type: str | None = None
    commit_version: int | None = None


def _read_file_partition(p: _FilePartition):
    """Executor-side: pyarrow scan -> drop DV'd rows -> physical->logical
    aliasing -> cast to the declared schema -> Arrow batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(_localize(p.file))
    if p.deleted:
        mask = [True] * table.num_rows
        for i in p.deleted:
            if i < len(mask):
                mask[i] = False
        table = table.filter(pa.array(mask))
    arrays, fields = [], []
    for logical, t in p.sig:
        phys = (p.colmap or {}).get(logical, logical)
        at = _arrow_type(t)
        if phys in table.column_names:
            arrays.append(table.column(phys).cast(at))
        else:
            # pre-evolution file: the column reads as null (the same
            # explicit-schema contract as the JVM path)
            arrays.append(pa.nulls(table.num_rows, type=at))
        fields.append(pa.field(logical, at))
    if p.change_type is not None:
        ct = (
            table.column("change_type").cast(pa.string())
            if p.change_type == ""
            else pa.array([p.change_type] * table.num_rows, type=pa.string())
        )
        arrays.append(ct)
        fields.append(pa.field("change_type", pa.string()))
        arrays.append(
            pa.array([p.commit_version] * table.num_rows, type=pa.int32())
        )
        fields.append(pa.field("_commit_version", pa.int32()))
    out = pa.table(arrays, schema=pa.schema(fields))
    yield from out.to_batches(max_chunksize=1 << 16)


def _dv_index(dv_files: list[str]) -> dict[str, list[int]]:
    """file -> sorted deleted row indices, from the manifest's DV files
    (driver-side, |deleted rows|-sized by contract)."""
    import pyarrow.parquet as pq

    out: dict[str, list[int]] = {}
    for f in dv_files:
        t = pq.read_table(_localize(f), columns=["file_path", "row_index"])
        for fp, ri in zip(
            t.column("file_path").to_pylist(), t.column("row_index").to_pylist()
        ):
            out.setdefault(_localize(fp), []).append(ri)
    return {k: sorted(v) for k, v in out.items()}


def _py_version_at(table_dir: str, ts: str) -> int:
    """Pure-python twin of snapshots.version_at_timestamp."""
    import datetime as _dt

    want = _dt.datetime.fromisoformat(ts)
    if want.tzinfo is None:
        want = want.replace(tzinfo=_dt.timezone.utc)
    best = None
    for v in _py_versions(table_dir):
        # committed_at is metadata — verbatim in every raw commit record
        stamp = _py_commit(table_dir, v).get("committed_at")
        at = (
            _dt.datetime.fromisoformat(stamp)
            if stamp
            else _dt.datetime.min.replace(tzinfo=_dt.timezone.utc)
        )
        if at <= want:
            best = v
    if best is None:
        raise ValueError(f"no snapshot at {table_dir} committed at or before {ts}")
    return best


class _SnapshotBatchReader(DataSourceReader):
    def __init__(self, table_dir: str, version: int | None):
        versions = _py_versions(table_dir)
        if not versions:
            raise FileNotFoundError(f"no snapshots at {table_dir}")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise FileNotFoundError(
                f"snapshot v{v} not found at {table_dir} (have {versions})"
            )
        self._m = _py_manifest(table_dir, v)

    def partitions(self):
        m = self._m
        sig = m.get("schema") or []
        colmap = m.get("colmap")
        dvs = _dv_index(m.get("dv_files", []))
        return [
            _FilePartition(f, sig, colmap, dvs.get(_localize(f), []))
            for f in m["files"]
        ]

    def read(self, partition):
        yield from _read_file_partition(partition)


class _SnapshotStreamReader(DataSourceStreamReader):
    """Offsets are manifest versions — the atomic-rename commit points —
    so a micro-batch is exactly the files some range of commits appended,
    and any offset range replays byte-identically (files are immutable,
    manifests only expire via vacuum).

    ``cdc=True`` is Delta's ``readChangeFeed`` as a stream: micro-batches
    carry the per-commit change rows (table columns + ``change_type`` +
    ``_commit_version``) — appends from their added files stamped
    'insert', DML commits from their persisted change files,
    data_change=false commits contributing nothing — so a downstream
    replica keeps streaming THROUGH merges/deletes/updates where the
    append-only mode must fail."""

    def __init__(self, table_dir: str, cdc: bool = False):
        self._dir = table_dir
        self._cdc = cdc

    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        versions = _py_versions(self._dir)
        return {"version": versions[-1] if versions else 0}

    def partitions(self, start: dict, end: dict):
        v0, v1 = start["version"], end["version"]
        versions = _py_versions(self._dir)
        parts: list[_FilePartition] = []
        # Delta fast path: an append's raw commit record names its added
        # files directly — O(batch) per micro-batch plan, no file-list
        # resolution. ``prev_files`` (the pre-r8 set-diff base) is only
        # materialized lazily when a FULL-format commit forces a diff.
        prev_files: set[str] | None = None
        for v in versions:
            if not (v0 < v <= v1):
                continue
            m = _py_commit(self._dir, v)
            sig = m.get("schema") or []
            colmap = m.get("colmap")
            if m.get("data_change") is False:
                if "files" in m:
                    prev_files = set(m["files"])
                continue
            if m["op"] == "append" or (
                m.get("op") == "publish_branch"
                and "files" not in m
                and not m["delta"].get("remove")
                and not m["delta"].get("truncate")
                and not m["delta"].get("dv_add")
                and not m["delta"].get("dv_remove")
            ):
                # an ADD-ONLY publish (WAP audit merged, no branch-side
                # deletes) is inserts to a downstream consumer — streams
                # reading a WAP table must survive the publish commit
                if "files" not in m:
                    added = list(m["delta"].get("add", []))
                else:
                    if prev_files is None:
                        prev_files = (
                            set(_py_manifest(self._dir, v - 1)["files"])
                            if v > 1
                            else set()
                        )
                    added = [f for f in m["files"] if f not in prev_files]
                    prev_files = set(m["files"])
                parts.extend(
                    _FilePartition(
                        f, sig, colmap,
                        change_type="insert" if self._cdc else None,
                        commit_version=v if self._cdc else None,
                    )
                    for f in added
                )
            elif self._cdc and m.get("cdc_files"):
                # persisted change files already carry change_type; they
                # are never DV'd and never carried between commits
                parts.extend(
                    _FilePartition(f, sig, colmap, change_type="", commit_version=v)
                    for f in m["cdc_files"]
                )
            elif self._cdc:
                raise ValueError(
                    f"snapshot_log stream (cdc): v{v} at {self._dir} is op="
                    f"{m['op']!r} with no change files (overwrite/restore "
                    "have no row-level feed); resync the consumer"
                )
            else:
                raise ValueError(
                    f"snapshot_log stream: v{v} at {self._dir} is op="
                    f"{m['op']!r} (a data change that is not an append); "
                    "this source is append-only — set option('mode','cdc') "
                    "or consume DML via snapshots.consume_changes"
                )
            if "files" in m:
                prev_files = set(m["files"])
            # delta records invalidate a lazily-held diff base only if a
            # full-format commit follows, which cannot happen (the log
            # only moves old->new format); keep prev_files as-is
        return parts

    def read(self, partition):
        yield from _read_file_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream's own checkpoint


class SnapshotLogDataSource(DataSource):
    """``spark.dataSource.register(SnapshotLogDataSource)`` then
    ``spark.read.format("snapshot_log").option("path", dir).load()`` /
    ``spark.readStream.format("snapshot_log")...``. Options: ``path``
    (required), ``version`` (batch time travel)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_log"

    def _dir(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot_log source requires option('path', ...)")
        return path

    def schema(self) -> str:
        table_dir = self._dir()
        versions = _py_versions(table_dir)
        if not versions:
            raise FileNotFoundError(f"no snapshots at {table_dir}")
        rv = self._resolve_version()
        v = versions[-1] if rv is None else rv
        # schema is metadata — verbatim in the raw commit record
        sig = _py_commit(table_dir, v).get("schema")
        if not sig:
            raise ValueError(f"no recorded schema at {table_dir}")
        ddl = ", ".join(f"`{n}` {t}" for n, t in sig)
        if str(self.options.get("mode", "")).lower() == "cdc":
            ddl += ", `change_type` string, `_commit_version` int"
        return ddl

    def _resolve_version(self) -> int | None:
        v = self.options.get("version")
        ts = self.options.get("timestampasof") or self.options.get("timestampAsOf")
        tag = self.options.get("tag")
        if sum(x is not None for x in (v, ts, tag)) > 1:
            raise ValueError(
                "snapshot_log: pass ONE of version / timestampAsOf / tag"
            )
        if tag is not None:
            # tags ride the refs table property, carried verbatim in every
            # raw commit record (refs.py) — resolvable without the JVM
            table_dir = self._dir()
            versions = _py_versions(table_dir)
            if not versions:
                raise FileNotFoundError(f"no snapshots at {table_dir}")
            tags = (
                (_py_commit(table_dir, versions[-1]).get("refs") or {}).get("tags")
                or {}
            )
            if tag not in tags:
                raise KeyError(
                    f"snapshot_log: no tag {tag!r} at {table_dir} "
                    f"(have {sorted(tags)})"
                )
            return int(tags[tag])
        if ts is not None:
            return _py_version_at(self._dir(), ts)
        return int(v) if v is not None else None

    def reader(self, schema) -> DataSourceReader:
        return _SnapshotBatchReader(self._dir(), self._resolve_version())

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _SnapshotStreamReader(
            self._dir(), cdc=str(self.options.get("mode", "")).lower() == "cdc"
        )

    def writer(self, schema, overwrite: bool):
        """``df.write.format("snapshot_log").mode("append"|"overwrite")``:
        tasks stage one parquet file each (Arrow-batched, physical names
        under column mapping), validating CHECK constraints and
        accumulating ``option("stats_cols", "a,b")`` skipping stats as
        they write; the driver's commit() replays the log's append retry
        loop (schema-drift gate, optimistic concurrency) in pure Python.
        Overwrite resets the mapping, exactly as ``commit_overwrite``."""
        import uuid as _uuid

        table_dir = self._dir()
        sig = [[f.name, f.dataType.simpleString()] for f in schema.fields]
        tag = f"ds-{_uuid.uuid4().hex[:12]}"
        mapping = None
        colmap = None
        constraints: dict = {}
        versions = _py_versions(table_dir)
        part_cols: list | None = None
        if versions:
            # constraints/colmap are metadata — raw commit record suffices
            m = _py_commit(table_dir, versions[-1])
            if m.get("partition_by"):
                # the write honors the table's layout: tasks split each
                # batch by partition value and stage hive-style, so every
                # staged file stays value-pure and partition-prunable.
                # Overwrites INHERIT it too (commit_overwrite's default) —
                # re-laying flat is a JVM-path operation
                # (commit_overwrite(partition_by=[])).
                part_cols = list(m["partition_by"])
                missing = [c for c in part_cols if c not in {n for n, _ in sig}]
                if missing:
                    raise KeyError(
                        f"snapshot_log writer: partition column(s) {missing} "
                        f"not in the write's schema {[n for n, _ in sig]}"
                    )
            constraints = m.get("constraints", {})
            base_colmap = m.get("colmap")
            if not overwrite and base_colmap is not None:
                from .snapshots import _assign_physical

                rec_colmap, rec_used = _assign_physical(
                    [n for n, _ in sig],
                    dict(base_colmap),
                    list(m.get("colmap_used", [])),
                )
                mapping = (dict(base_colmap), rec_colmap, rec_used)
                colmap = rec_colmap
        stats_opt = self.options.get("stats_cols")
        stat_cols = [c.strip() for c in stats_opt.split(",")] if stats_opt else None
        if part_cols:
            # partition columns always join the stats (value-pure files →
            # exact [v, v] bounds — the partition-pruning contract)
            stat_cols = sorted(set(stat_cols or []) | set(part_cols))
        return _SnapshotWriterDriver(
            table_dir,
            tag,
            colmap,
            constraints,
            stat_cols,
            overwrite,
            sig,
            mapping,
            str(self.options.get("schema_evolution", "")).lower() == "true",
            part_cols=part_cols,
        )


# ---------------------------------------------------------------------------
# Writer: df.write.format("snapshot_log") — the commit protocol as a sink
# ---------------------------------------------------------------------------
#
# Spark calls write() in each task and commit()/abort() in a DRIVER-SIDE
# PYTHON RUNNER that has no SparkSession — so the write path is built to
# need no JVM anywhere:
# - tasks validate CHECK constraints on their own Arrow batches (DuckDB
#   over Arrow — distributed validation, like commit_append's probe) and
#   compute their file's [min,max] skipping stats with pyarrow.compute;
# - commit() replays the append retry loop in pure Python: schema-drift
#   gate (reusing snapshots' pure helpers), column-mapping and
#   constraint-set guards (a CONCURRENT change of either between staging
#   and commit aborts loudly — no engine is available to re-validate),
#   and an atomic create via os.link (link fails if the destination
#   exists — the same no-overwrite arbitration Hadoop rename gives the
#   Spark-side _try_commit).

from dataclasses import dataclass as _dataclass  # noqa: E402
from dataclasses import field as _dc_field  # noqa: E402

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    WriterCommitMessage,
)


@_dataclass
class _FileCommit(WriterCommitMessage):
    # one entry per file this task wrote: (path, rows, stats|None) with
    # stats = {physical_col: [min, max]}. A flat write emits one entry; a
    # partitioned write emits one per partition value the task saw; an
    # empty task emits none.
    entries: list = _dc_field(default_factory=list)


# Layout-column prefix for partitioned writes — keep in sync with
# snapshots._PART_PREFIX (pinned by a test); defined locally so write()
# tasks never import the JVM-side module.
_PART_PREFIX = "__pp_"

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class _SnapshotArrowWriter(DataSourceArrowWriter):
    """Executor side: each task streams its Arrow batches into parquet
    under the table's staging dir (physical column names when the table
    has column mapping) — ONE file per task on a flat table, one file per
    partition value the task saw on a partitioned table (hive-style
    ``__pp_<col>=<value>`` dirs, matching snapshots._write_data's layout:
    the partition columns stay IN the files; the dirs exist for value
    purity and human layout). CHECK constraints validate batch-by-batch;
    per-file skipping stats accumulate as the batches stream. A failed
    task fails the job before any manifest exists — the staged dir is
    vacuum debris."""

    def __init__(
        self,
        table_dir: str,
        tag: str,
        colmap: dict | None,
        constraints: dict,
        stat_cols: list | None,
        part_cols: list | None = None,
    ):
        self._dir = table_dir
        self._tag = tag
        self._colmap = colmap
        self._constraints = constraints
        self._stat_cols = stat_cols  # LOGICAL names (pre-mapping)
        self._part_cols = part_cols  # LOGICAL names (pre-mapping)

    def write(self, iterator):
        import os
        import urllib.parse
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        con = None
        if self._constraints:
            import duckdb

            con = duckdb.connect()
        out_dir = os.path.join(_localize(self._dir), "data", self._tag)
        os.makedirs(out_dir, exist_ok=True)
        states: dict[tuple | None, dict] = {}

        def consume(key: tuple | None, batch):
            st = states.get(key)
            if st is None:
                d = out_dir
                if key is not None:
                    segs = [
                        f"{_PART_PREFIX}{(self._colmap or {}).get(c, c)}="
                        + urllib.parse.quote(v, safe="")
                        for c, v in zip(self._part_cols, key)
                    ]
                    d = os.path.join(out_dir, *segs)
                    os.makedirs(d, exist_ok=True)
                st = states[key] = {
                    "path": os.path.join(d, f"part-{_uuid.uuid4().hex}.parquet"),
                    "writer": None,
                    "rows": 0,
                    "agg": {},
                }
            agg = st["agg"]
            for c in self._stat_cols or []:
                if c in batch.schema.names:
                    col = batch.column(c)
                    if col.null_count == len(col):
                        agg.setdefault(c, [None, None])
                        continue
                    mn, mx = pc.min(col).as_py(), pc.max(col).as_py()
                    cur = agg.get(c)
                    if cur is None or cur[0] is None:
                        agg[c] = [mn, mx]
                    else:
                        agg[c] = [min(cur[0], mn), max(cur[1], mx)]
            if self._colmap:
                batch = batch.rename_columns(
                    [self._colmap.get(c, c) for c in batch.schema.names]
                )
            if st["writer"] is None:
                st["writer"] = pq.ParquetWriter(st["path"], batch.schema)
            st["writer"].write_batch(batch)
            st["rows"] += batch.num_rows

        for batch in iterator:
            if con is not None:
                tbl = pa.Table.from_batches([batch])
                con.register("__batch", tbl)
                for name, expr in self._constraints.items():
                    bad = con.execute(
                        f"SELECT * FROM __batch WHERE NOT ({expr}) LIMIT 1"
                    ).fetchall()
                    if bad:
                        raise ValueError(
                            f"snapshot_log writer: CHECK constraint {name!r} "
                            f"({expr}) violated, e.g. {bad[0]}"
                        )
            if not self._part_cols:
                consume(None, batch)
                continue
            # vectorized split by partition-value tuple: NUL-joined string
            # key per row, then one filter per distinct value in the batch
            key_arr = None
            for c in self._part_cols:
                s = pc.fill_null(
                    pc.cast(batch.column(c), pa.string()), _HIVE_NULL
                )
                key_arr = (
                    s
                    if key_arr is None
                    else pc.binary_join_element_wise(key_arr, s, "\x00")
                )
            for key in pc.unique(key_arr).to_pylist():
                consume(
                    tuple(key.split("\x00")),
                    batch.filter(pc.equal(key_arr, key)),
                )

        entries = []
        for st in states.values():
            if st["writer"] is None:
                continue
            st["writer"].close()
            stats = {
                (self._colmap or {}).get(c, c): [
                    commitlog.stat_val(mm[0], -1),
                    commitlog.stat_val(mm[1], +1),
                ]
                for c, mm in st["agg"].items()
            }
            if stats:
                # same contract as snapshots._file_stats: row counts ride
                # the stats entry under the reserved __rows key
                stats["__rows"] = st["rows"]
            entries.append((st["path"], st["rows"], stats or None))
        return _FileCommit(entries)


def _py_try_commit(
    table_dir: str, version: int, manifest: dict, prev: dict | None = None
) -> bool:
    """Pure-python twin of snapshots._try_commit, sharing the SAME
    commitlog primitives: the resolved ``manifest`` is encoded as an
    O(delta) commit record against ``prev`` and published with the atomic
    os.link/EEXIST arbitration (commitlog.publish_exclusive) — the exact
    primitive the JVM path uses on local filesystems, so mixed-engine
    races share one kernel-level arbiter. Winning CKPT_EVERY-th commits
    also publish a checkpoint manifest."""
    import datetime as _dt

    manifest.setdefault(
        "committed_at",
        _dt.datetime.now(_dt.timezone.utc).isoformat(timespec="seconds"),
    )
    if version > 1 and prev is None:
        prev = _py_manifest(table_dir, version - 1)
    record = commitlog.make_commit(prev if version > 1 else None, manifest)
    snap_dir = os.path.join(_localize(table_dir), _SNAP_DIR)
    won = commitlog.publish_exclusive(
        os.path.join(snap_dir, commitlog.commit_name(version)),
        json.dumps(record).encode(),
    )
    if won and version % commitlog.CKPT_EVERY == 0 and "files" in manifest:
        commitlog.write_ckpt_local(snap_dir, version, manifest)
    return won


class _SnapshotWriterDriver(_SnapshotArrowWriter):
    """commit()/abort() run in Spark's driver-side Python runner (no
    SparkSession) — everything here is plain file I/O on the manifests."""

    def __init__(
        self,
        table_dir,
        tag,
        colmap,
        constraints,
        stat_cols,
        overwrite,
        sig,
        mapping,
        evolution,
        part_cols=None,
    ):
        super().__init__(table_dir, tag, colmap, constraints, stat_cols, part_cols)
        self._overwrite = overwrite
        self._sig = sig
        self._mapping = mapping  # (base_colmap, record_colmap, record_used) | None
        self._evolution = evolution

    def commit(self, messages):
        from .snapshots import _MAX_COMMIT_RETRIES, _merge_sigs

        entries = [e for m in messages if m is not None for e in m.entries]
        files = [e[0] for e in entries]
        new_stats = {e[0]: e[2] for e in entries if e[2]}
        sig = self._sig
        if self._overwrite:
            versions = _py_versions(self._dir)
            version = (versions[-1] if versions else 0) + 1
            prev = _py_manifest(self._dir, versions[-1]) if versions else None
            if prev and prev.get("constraints", {}) != self._constraints:
                raise RuntimeError(
                    "snapshot_log writer: CHECK constraints changed between "
                    "staging and commit; re-run the write"
                )
            if prev and prev.get("identity"):
                raise RuntimeError(
                    f"snapshot_log writer: {self._dir} has identity column(s) "
                    f"{sorted(prev['identity'])}; the pure-Python writer does "
                    "not allocate identity values — write through commit_append/"
                    "commit_overwrite"
                )
            if prev and prev.get("row_tracking"):
                raise RuntimeError(
                    f"snapshot_log writer: {self._dir} has row tracking "
                    "enabled; the pure-Python writer does not allocate base "
                    "row ids — write through commit_append/commit_overwrite"
                )
            if prev and prev.get("unique_keys"):
                # same fail-loud contract: this writer has no engine to
                # probe the batch against the table (or itself), so
                # committing under an ENFORCED unique key would silently
                # break the declaration
                raise RuntimeError(
                    f"snapshot_log writer: {self._dir} declares unique key(s) "
                    f"{sorted(prev['unique_keys'])}; the pure-Python writer "
                    "cannot enforce them — write through commit_append/"
                    "commit_overwrite"
                )
            manifest = {
                "version": version,
                "op": "overwrite",
                "files": files,
                "schema": sig,
            }
            if self._part_cols:
                manifest["partition_by"] = list(self._part_cols)
            if self._constraints:
                manifest["constraints"] = self._constraints
            if new_stats:
                manifest["stats"] = new_stats
            # table-level properties survive an overwrite (Delta keeps
            # metadata across mode=overwrite); without the carry a
            # DataSource overwrite would silently un-declare them —
            # dropping 'refs' is the worst case: every tag vanishes and
            # the next vacuum expires the tagged versions' files
            for k in ("generated", "bloom", "table_stats", "refs",
                      "clustering", "txns"):
                if prev and prev.get(k):
                    manifest.setdefault(k, prev[k])
            if not _py_try_commit(self._dir, version, manifest, prev=prev):
                raise RuntimeError(
                    f"snapshot_log writer: version {version} was committed "
                    f"concurrently at {self._dir}; staged dir is vacuum debris"
                )
            return
        base_colmap = self._mapping[0] if self._mapping else None
        for _ in range(_MAX_COMMIT_RETRIES):
            versions = _py_versions(self._dir)
            version = (versions[-1] if versions else 0) + 1
            prev = _py_manifest(self._dir, versions[-1]) if versions else None
            prev_sig = prev.get("schema") if prev else None
            record_sig = sig
            if prev_sig is not None and prev_sig != sig:
                # same gate as commit_append; evolution must be opted into
                # at writer-create time (the files are already staged)
                if not self._allow_evolution():
                    raise ValueError(
                        f"snapshot_log writer: schema drift at {self._dir} — "
                        f"table has {prev_sig}, write has {sig}; set "
                        "option('schema_evolution', 'true')"
                    )
                record_sig = _merge_sigs(prev_sig, sig)
            prev_colmap = prev.get("colmap") if prev else None
            if prev_colmap != base_colmap:
                raise RuntimeError(
                    f"snapshot_log writer: column mapping at {self._dir} changed "
                    "between staging and commit; re-run the write"
                )
            prev_cons = prev.get("constraints", {}) if prev else {}
            if prev_cons != self._constraints:
                # constraints were validated task-side against the set read
                # at staging time; with no engine here, a concurrent change
                # must abort rather than commit unvalidated data
                raise RuntimeError(
                    f"snapshot_log writer: CHECK constraints at {self._dir} "
                    "changed between staging and commit; re-run the write"
                )
            prev_part = (prev.get("partition_by") if prev else None) or None
            if prev_part != (list(self._part_cols) if self._part_cols else None):
                # the files were staged under the layout read at writer
                # creation; a concurrently re-laid table invalidates them
                raise RuntimeError(
                    f"snapshot_log writer: partitioning at {self._dir} "
                    "changed between staging and commit; re-run the write"
                )
            if prev and prev.get("identity"):
                # fail-loud (same contract as the streaming sink): this
                # path has no identity allocator, and committing rows
                # around the watermark would mint future duplicates
                raise RuntimeError(
                    f"snapshot_log writer: {self._dir} has identity column(s) "
                    f"{sorted(prev['identity'])}; the pure-Python writer does "
                    "not allocate identity values — append through commit_append"
                )
            if prev and prev.get("row_tracking"):
                # same fail-loud contract: appending files without base
                # row ids would silently break every with_row_ids read
                raise RuntimeError(
                    f"snapshot_log writer: {self._dir} has row tracking "
                    "enabled; the pure-Python writer does not allocate base "
                    "row ids — append through commit_append"
                )
            if prev and prev.get("unique_keys"):
                # no engine here to probe the batch against the table —
                # committing under an ENFORCED unique key would silently
                # break the declaration (commit_append validates both the
                # batch and the stats-narrowed table range)
                raise RuntimeError(
                    f"snapshot_log writer: {self._dir} declares unique key(s) "
                    f"{sorted(prev['unique_keys'])}; the pure-Python writer "
                    "cannot enforce them — append through commit_append"
                )
            manifest = {
                "version": version,
                "op": "append",
                "files": (prev["files"] if prev else []) + files,
                "schema": record_sig,
            }
            if prev_part:
                manifest["partition_by"] = prev_part
            if self._mapping is not None:
                manifest["colmap"] = self._mapping[1]
                manifest["colmap_used"] = self._mapping[2]
            if prev_cons:
                manifest["constraints"] = prev_cons
            if prev and prev.get("dv_files"):
                manifest["dv_files"] = prev["dv_files"]
            # refs MUST travel or tags silently vanish (and the next
            # vacuum expires the tagged versions); txns carries the
            # idempotence stamps through this writer's commits
            for k in ("generated", "bloom", "table_stats", "refs",
                      "clustering", "txns"):
                if prev and prev.get(k):
                    manifest.setdefault(k, prev[k])
            prev_stats = prev.get("stats", {}) if prev else {}
            if prev_stats or new_stats:
                manifest["stats"] = {**prev_stats, **new_stats}
            if _py_try_commit(self._dir, version, manifest, prev=prev):
                return
        raise RuntimeError(
            f"snapshot_log writer: lost {_MAX_COMMIT_RETRIES} version races "
            f"at {self._dir}"
        )

    def _allow_evolution(self) -> bool:
        return self._evolution

    def abort(self, messages):
        import shutil

        staged = os.path.join(_localize(self._dir), "data", self._tag)
        shutil.rmtree(staged, ignore_errors=True)
