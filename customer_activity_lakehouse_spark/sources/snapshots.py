"""Snapshot log: time travel + optimistic concurrency over immutable parquet.

The one table-format capability ``tables.py`` could not emulate with plain
hive layouts is SNAPSHOTS — readers pinned to a version while writers
commit, and time travel to any retained version. This module implements the
core of the Delta/Iceberg commit protocol directly over parquet, with no
runtime jars (environment-blocked — README "Table formats"):

- Data files are IMMUTABLE: every commit writes a fresh ``data/v{n}-…``
  directory; nothing is ever modified in place.
- A commit is the ATOMIC RENAME of a manifest into ``_snapshots/v{n}.json``.
  Hadoop FS rename does not overwrite an existing destination, which gives
  OPTIMISTIC CONCURRENCY exactly as in Delta: two writers racing to the
  same version — one wins, the loser re-reads the log and retries at n+1
  (append commits) or aborts (overwrite commits, whose file list depends on
  what they read).
- Readers never list data dirs: they read the manifest's explicit file
  list, so half-written data from a crashed commit is invisible (debris
  removed by ``vacuum``).

Scale notes: a manifest holds one line per file — at 100 TB keep file
counts bounded with :func:`compact_snapshot` (OPTIMIZE as a
data_change=false replace commit) before this becomes the metadata
bottleneck (the point where real Delta/Iceberg's multi-level manifests
earn their complexity). All data I/O is ordinary distributed parquet;
only the tiny manifest JSON touches the driver.
"""

from __future__ import annotations

import atexit
import decimal
import json
import math
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from . import commitlog
from .tables import _hadoop_fs

_SNAP_DIR = "_snapshots"
# A retry costs one manifest read + one rename, so the budget is cheap
# insurance: under heavy JVM load (observed once in CI-like full-suite
# runs) a writer can lose many more consecutive races than writer-count
# alone suggests, because its list->write->rename window stretches while
# competitors stay fast.
_MAX_COMMIT_RETRIES = 64
# Identity-allocation conflicts rewrite the staged parquet (ids are baked
# into the data), so the budget is small — conflicts need two writers
# allocating from the SAME watermark in the same instant.
_MAX_IDENTITY_RETRIES = 5

# target bytes/file when a clustered rewrite (MERGE fold, REORG purge)
# re-lays data range-sorted on the cluster columns — the OPTIMIZE
# bin-packing target applied to in-place rewrites
_CLUSTER_FILE_BYTES = 128 * 1024 * 1024


class IdentityConflictError(RuntimeError):
    """A concurrent commit moved an identity column's high watermark (or
    declared identity) between this writer's allocation and its commit —
    the staged files carry ids minted from a stale base and must be
    re-staged. ``commit_append`` catches this and retries the whole
    stage+commit; other write paths surface it (fail-loud: they do not
    allocate identity values)."""

    def __init__(self, staged_path: str | None, msg: str):
        super().__init__(msg)
        self.staged_path = staged_path


def _list_versions(spark: SparkSession, table_dir: str) -> list[int]:
    fs, jdir = _hadoop_fs(spark, f"{table_dir}/{_SNAP_DIR}")
    if not fs.exists(jdir):
        return []
    out = []
    for status in fs.listStatus(jdir):
        name = status.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_commit(spark: SparkSession, table_dir: str, version: int) -> dict:
    """The RAW commit record at ``version`` — self-contained (pre-r8
    format, v1, checkpoint-backed) or an O(delta) action record. Valid on
    its own for every METADATA key (schema, constraints, colmap,
    committed_at, op, cdc_files, stream_batch_id, …): delta records carry
    those verbatim, so metadata-only consumers never pay file-list
    resolution. Only ``files`` / ``stats`` / ``dv_files`` need
    :func:`_read_manifest`."""
    rel = f"{_SNAP_DIR}/{commitlog.commit_name(version)}"
    if commitlog.is_local(table_dir):
        with open(os.path.join(commitlog.localize(table_dir), rel), "rb") as fh:
            return json.loads(fh.read().decode())
    fs, jpath = _hadoop_fs(spark, f"{table_dir}/{rel}")
    if not fs.exists(jpath):
        # normalize to the local branch's exception so chain-gap handling
        # (_iter_resolved) works identically on any Hadoop filesystem
        raise FileNotFoundError(f"no commit record v{version} at {table_dir}")
    stream = fs.open(jpath)
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return json.loads(data.decode())


def _ckpt_io(spark: SparkSession, table_dir: str, stat_keys=None):
    """(has_ckpt, read_ckpt) probes for resolution — local fast path (no
    JVM round-trips), Hadoop FS otherwise. ``stat_keys`` prunes parquet
    checkpoint decodes to the probed stat columns (read paths only — a
    pruned manifest must never seed a commit)."""
    if commitlog.is_local(table_dir):
        snap_local = os.path.join(commitlog.localize(table_dir), _SNAP_DIR)
        return commitlog.ckpt_prober(snap_local, stat_keys=stat_keys)

    def _candidate(v: int):
        for name in (commitlog.ckpt_name(v), commitlog.ckpt_name_legacy(v)):
            fs, jp = _hadoop_fs(spark, f"{table_dir}/{_SNAP_DIR}/{name}")
            if fs.exists(jp):
                return fs, jp, name
        return None

    def has_ckpt(v: int) -> bool:
        return _candidate(v) is not None

    def read_ckpt(v: int) -> dict:
        hit = _candidate(v)
        if hit is None:
            raise FileNotFoundError(f"no checkpoint v{v} at {table_dir}")
        fs, jp, name = hit
        stream = fs.open(jp)
        try:
            data = bytes(stream.readAllBytes())
        finally:
            stream.close()
        if name.endswith(".json"):
            return json.loads(data.decode())
        return commitlog.decode_ckpt(data, stat_keys=stat_keys)

    return has_ckpt, read_ckpt


def _read_manifest(
    spark: SparkSession, table_dir: str, version: int, stat_keys=None
) -> dict:
    """The RESOLVED manifest at ``version`` — the full files/stats/DV view
    every pre-r8 caller expects, now reconstructed from checkpoint +
    O(delta) commit records (commitlog module doc). Cost: one checkpoint
    read + < CKPT_EVERY delta parses, independent of commit count.

    ``stat_keys`` (physical stat-key names) prunes the parquet
    checkpoint's decode — and, locally, its disk I/O — to those stat
    columns: the skip_where/point_where fast path. READ paths only: a
    stats-pruned manifest seeded into make_commit would diff incomplete
    stats and drop the unread columns' entries from the log."""
    has_ckpt, read_ckpt = _ckpt_io(spark, table_dir, stat_keys=stat_keys)
    return commitlog.resolve(
        version, lambda v: _read_commit(spark, table_dir, v), has_ckpt, read_ckpt
    )


def _iter_resolved(spark: SparkSession, table_dir: str, versions: list[int]):
    """Yield ``(v, resolved_manifest)`` for each requested version in
    ascending order — ONE full resolution for the first, then O(delta)
    forward replay per subsequent commit. This is the history/CDF/vacuum
    walk: without it, per-version resolution would be quadratic in
    file count across a long retained range.

    The retained set is NOT always a contiguous version range: tag/branch
    pinning (refs.py) keeps isolated old versions, and vacuum expires the
    raw records between them — after materializing a rescue checkpoint at
    every kept version whose chain crosses the gap (see ``vacuum``). So
    when the forward replay hits an expired record, re-base at the NEXT
    wanted version via full resolution (which finds that rescue
    checkpoint) instead of dying on the gap. A wanted version that cannot
    resolve even then still fails loudly — that is real corruption, the
    state ``fsck_snapshot(chain=True)`` detects and repairs."""
    want = sorted(versions)
    if not want:
        return
    first = _read_manifest(spark, table_dir, want[0])
    state = (
        list(first.get("files") or []),
        dict(first.get("stats") or {}),
        list(first.get("dv_files") or []),
    )
    yield want[0], first
    want_set = set(want)
    idx, last = 1, want[-1]
    v = want[0] + 1
    while v <= last:
        try:
            raw = _read_commit(spark, table_dir, v)
        except FileNotFoundError:
            # vacuum-expired gap between two kept versions: skip to the
            # next wanted version and re-base from its (rescue)
            # checkpoint. O(1) extra resolutions per gap, not per record.
            while idx < len(want) and want[idx] < v:
                idx += 1
            if idx >= len(want):
                return
            nxt = want[idx]
            m = _read_manifest(spark, table_dir, nxt)
            state = (
                list(m.get("files") or []),
                dict(m.get("stats") or {}),
                list(m.get("dv_files") or []),
            )
            yield nxt, m
            idx += 1
            v = nxt + 1
            continue
        state = commitlog.apply_commit(state, raw)
        if v in want_set:
            yield v, commitlog.resolved_view(raw, state)
            idx += 1
        v += 1


# Hive-layout directory columns are DUPLICATES of the real partition
# columns: partitionBy strips its columns from the written files, and a
# snapshot read is an explicit file-list scan (no directory inference), so
# the real column must stay IN the files. The prefixed duplicate exists
# only to drive the writer's directory layout — which gives each data file
# exactly one partition value, the property that makes partition pruning
# exact through ordinary [min, max] stats.
_PART_PREFIX = "__pp_"


def _write_data(
    df: DataFrame, table_dir: str, tag: str, partition_by: list[str] | None = None
) -> str:
    """``partition_by`` (PHYSICAL column names) lays the batch out in
    hive-style ``__pp_<col>=<value>`` directories — the reference's layout
    contract (data_processing.py:218) carried onto snapshot tables — while
    keeping the real columns in the files (see _PART_PREFIX note)."""
    path = f"{table_dir}/data/{tag}"
    if partition_by:
        from pyspark.sql import functions as F

        staged = df
        for c in partition_by:
            staged = staged.withColumn(f"{_PART_PREFIX}{c}", F.col(c))
        staged.write.mode("error").partitionBy(
            *[f"{_PART_PREFIX}{c}" for c in partition_by]
        ).parquet(path)
    else:
        df.write.mode("error").parquet(path)
    return path


def _data_files(spark: SparkSession, data_path: str) -> list[str]:
    # recursive: partitioned batches nest files under __pp_<col>=<value>/
    fs, jdir = _hadoop_fs(spark, data_path)
    out = []
    it = fs.listFiles(jdir, True)
    while it.hasNext():
        p = it.next().getPath()
        if str(p.getName()).endswith(".parquet"):
            out.append(str(p.toString()))
    return sorted(out)


def _part_keys(m: dict | None) -> list[str]:
    """PHYSICAL partition-column names of a manifest (``partition_by``
    records logical names; stats and file layout speak physical)."""
    if not m or not m.get("partition_by"):
        return []
    colmap, _ = _mapping_of(m)
    return [_phys(colmap, c) for c in m["partition_by"]]


def _try_commit(
    spark: SparkSession,
    table_dir: str,
    version: int,
    manifest: dict,
    prev: dict | None = None,
) -> bool:
    """Claim version slot v{n}.json with ``manifest`` (the RESOLVED view —
    callers keep building full manifests; this chokepoint encodes them as
    O(delta) commit records against ``prev``, the resolved previous
    version, resolving it here when the caller didn't pass it). Losing a
    race returns False instead of clobbering the winner's commit.

    Arbitration (unified primitive, VERDICT r7 #3): local filesystems use
    commitlog.publish_exclusive — the SAME atomic os.link/EEXIST idiom as
    the Python DataSource's _py_try_commit, so JVM-path and DataSource
    writers racing one slot share one kernel-level arbiter with no
    check-then-act window (Hadoop's RawLocalFileSystem rename emulates
    no-clobber with an exists() check — a real μs race against a link
    commit). Non-local schemes keep Hadoop rename: on HDFS the
    refuse-existing-destination is the NameNode's own atomic rule.

    Every commit is stamped ``committed_at`` (UTC ISO) here — the single
    chokepoint — so history is auditable and vacuum can retain BY AGE
    (Delta's actual retention model). The stamp is informational wall
    clock, never an ordering authority: versions order commits.

    Every CKPT_EVERY-th winning commit also publishes a checkpoint
    manifest + pointer — the committer holds the resolved view already,
    so checkpointing costs one extra write and zero resolution."""
    import datetime as _dt

    manifest.setdefault(
        "committed_at",
        _dt.datetime.now(_dt.timezone.utc).isoformat(timespec="seconds"),
    )
    # row-tracking scratch keys (the rebase funnel's reallocation inputs)
    # never reach disk — strip at the chokepoint so no site can leak them
    if any(k.startswith("_rt_") for k in manifest):
        manifest = {k: v for k, v in manifest.items() if not k.startswith("_rt_")}
    if version > 1 and prev is None:
        prev = _read_manifest(spark, table_dir, version - 1)
    record = commitlog.make_commit(prev if version > 1 else None, manifest)
    data = json.dumps(record, indent=1).encode()
    name = commitlog.commit_name(version)
    if commitlog.is_local(table_dir):
        snap_local = os.path.join(commitlog.localize(table_dir), _SNAP_DIR)
        won = commitlog.publish_exclusive(os.path.join(snap_local, name), data)
        if won and version % commitlog.CKPT_EVERY == 0 and "files" in manifest:
            commitlog.write_ckpt_local(snap_local, version, manifest)
        return won
    fs, jdir = _hadoop_fs(spark, f"{table_dir}/{_SNAP_DIR}")
    fs.mkdirs(jdir)
    # The tmp name must be unique ACROSS PROCESSES, not just within one:
    # two drivers racing the same version must never collide at the
    # staged file — uuid4 closes the window the same way data-dir tags do.
    tmp = f"{table_dir}/{_SNAP_DIR}/.tmp-v{version:05d}-{uuid.uuid4().hex}"
    _, jtmp = _hadoop_fs(spark, tmp)
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    _, jfinal = _hadoop_fs(spark, f"{table_dir}/{_SNAP_DIR}/{name}")
    if not fs.rename(jtmp, jfinal):
        fs.delete(jtmp, False)
        return False
    if version % commitlog.CKPT_EVERY == 0 and "files" in manifest:
        ck = f"{table_dir}/{_SNAP_DIR}/{commitlog.ckpt_name(version)}"
        _, jck = _hadoop_fs(spark, ck)
        if not fs.exists(jck):
            out = fs.create(jck, False)
            try:
                out.write(bytearray(commitlog.encode_ckpt(manifest)))
            finally:
                out.close()
        _, jptr = _hadoop_fs(spark, f"{table_dir}/{_SNAP_DIR}/{commitlog.LAST_CKPT}")
        out = fs.create(jptr, True)
        try:
            out.write(bytearray(json.dumps({"version": version}).encode()))
        finally:
            out.close()
    return True


def _commit_rebase_appends(
    spark: SparkSession,
    table_dir: str,
    version: int,
    manifest: dict,
    op: str,
    debris: str = "rewrite dir",
    max_rebases: int = 8,
) -> int:
    """Commit with Delta's WriteSerializable conflict rule: losing the
    version slot to interleaved commits that are ALL pure appends (op ==
    'append', add-only delta, unchanged schema) does not conflict with a
    rewrite-class verb — the verb's result is serialized BEFORE those
    appends, so the commit REBASES: carry the appended files (and their
    stats) into its manifest verbatim and re-claim the next slot, without
    re-running any data work. Every table-level mutation (schema
    evolution, constraints, mapping, DV changes, overwrites, other
    rewrites) uses a distinct op or a non-add delta and ABORTS exactly as
    before — the caller re-reads and retries the whole verb.

    Why it matters at 100 TB: a streaming sink appending a micro-batch
    every few seconds would otherwise starve any long-running MERGE or
    OPTIMIZE into an abort/re-execute loop; under the rebase rule both
    proceed, and only true conflicts pay. ``rebased_over`` in the
    committed manifest records the appends the verb serialized ahead of
    (audit trail). Public model: Delta's ConflictChecker — blind AddFiles
    don't conflict with concurrent txns under WriteSerializable."""
    attempt_v = version
    for _ in range(max_rebases):
        if _try_commit(spark, table_dir, attempt_v, manifest):
            return attempt_v
        latest = _list_versions(spark, table_dir)[-1]
        adds: list[str] = []
        stats_add: dict = {}
        conflict = None
        latest_rt = None
        for v in range(attempt_v, latest + 1):
            r = _read_commit(spark, table_dir, v)
            latest_rt = r.get("row_tracking") or latest_rt
            d = r.get("delta")
            if (
                r.get("op") != "append"
                or d is None
                or d.get("truncate")
                or d.get("remove")
                or d.get("dv_add")
                or d.get("dv_remove")
                or d.get("stats_drop")
                or r.get("schema") != manifest.get("schema")
            ):
                conflict = f"v{v} op={r.get('op')!r}"
                break
            adds += d.get("add", [])
            stats_add.update(d.get("stats_add", {}))
        if conflict is not None:
            raise RuntimeError(
                f"{op}: version {attempt_v} was committed concurrently at "
                f"{table_dir} by a conflicting commit ({conflict}); re-read "
                f"the table and retry the verb ({debris} left as vacuum "
                "debris)"
            )
        manifest = {
            **manifest,
            "version": latest + 1,
            "files": manifest["files"] + adds,
            "rebased_over": manifest.get("rebased_over", [])
            + list(range(attempt_v, latest + 1)),
        }
        if stats_add or manifest.get("stats"):
            manifest["stats"] = {**(manifest.get("stats") or {}), **stats_add}
        # row tracking: the interleaved appends allocated from the SAME
        # watermark this verb read, so this verb's fresh bases may collide
        # with theirs — re-allocate its own new files above the rebased
        # watermark (metadata-only; ids are never baked into data files)
        if manifest.get("row_tracking") and latest_rt:
            alloc = manifest.get("_rt_alloc") or []
            nxt = max(int(latest_rt["next"]), int(manifest["row_tracking"]["next"]))
            if alloc:
                stats = dict(manifest.get("stats") or {})
                nxt = int(latest_rt["next"])
                for f, n in alloc:
                    stats[f] = {
                        **stats.get(f, {}),
                        "__rows": int(n),
                        "__base_row_id": nxt,
                    }
                    nxt += int(n)
                manifest["stats"] = stats
            manifest["row_tracking"] = {"next": nxt}
        attempt_v = latest + 1
    raise RuntimeError(
        f"{op}: {max_rebases} version slots were committed concurrently at "
        f"{table_dir} faster than append-rebase could claim one; re-read "
        f"the table and retry the verb ({debris} left as vacuum debris)"
    )


# Spark types whose parquet footer [min, max] IS Spark's own min()/max():
# the physical stats order the values exactly as Spark does (signed ints,
# unsigned-byte UTF-8 strings, days, false < true, signed unscaled
# decimals). Floating point (NaN, -0.0), INT96 timestamps (no stats),
# binary, nested and collated strings are answered by the aggregate pass.
_FOOTER_EXACT = frozenset(
    {"integer", "long", "short", "byte", "string", "date", "boolean"}
)


def _footer_bounds(md, field: dict, j: int, legacy_dates: bool):
    """Exact (min, max) of column ``j`` folded over the row groups' raw
    physical stats as Spark values — (None, None) when every value is
    null — or None when the footer cannot answer exactly."""
    import datetime as _dt

    typ = field["type"]
    if not isinstance(typ, str):
        return None
    if typ.startswith("decimal("):
        scale = int(typ[:-1].split(",")[1])
    elif typ not in _FOOTER_EXACT or (typ == "date" and legacy_dates):
        return None
    lo = hi = None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        st = rg.column(j).statistics
        if st is None or not st.has_null_count:
            return None
        if st.null_count == rg.num_rows:
            continue
        if not st.has_min_max:  # e.g. parquet-mr drops stats over 4 KB
            return None
        a, b = st.min_raw, st.max_raw
        if isinstance(a, bytes) and typ != "string":
            # FIXED_LEN_BYTE_ARRAY decimal: big-endian two's complement
            a, b = (int.from_bytes(x, "big", signed=True) for x in (a, b))
        lo = a if lo is None or a < lo else lo
        hi = b if hi is None or b > hi else hi
    if lo is None:
        return None, None
    if typ == "string":
        try:
            return lo.decode(), hi.decode()
        except UnicodeDecodeError:
            return None
    if typ == "date":
        epoch = _dt.date(1970, 1, 1)
        try:
            return epoch + _dt.timedelta(lo), epoch + _dt.timedelta(hi)
        except OverflowError:
            return None
    if typ.startswith("decimal("):
        return decimal.Decimal(f"{lo}E-{scale}"), decimal.Decimal(f"{hi}E-{scale}")
    return lo, hi


def _file_stats(
    spark: SparkSession, files: list[str], stats_cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for ``stats_cols``, what the manifest stores
    for data skipping, plus each file's exact ROW COUNT under the
    reserved ``__rows`` key (Delta's numRecords — what lets
    ``snapshot_detail`` report row totals with zero data I/O);
    ``_stats_cols_of`` and the pruners ignore ``__rows``. Nulls are
    excluded from min/max (a file of all-null values gets [None, None]
    and is never skipped); a file of 0 rows gets no entry.

    The writer already recorded all of it: row counts and per-row-group
    min/max/null counts sit in each new file's parquet footer, so the
    common commit reads footers only and runs no Spark job (Dremel's and
    Jigsaw's column-chunk metadata as the skipping index). What a footer
    cannot answer exactly — types outside ``_FOOTER_EXACT``, missing
    min/max on a column that is not all null, files pyarrow cannot open
    or Spark did not write — goes to ONE aggregate pass over exactly
    those files and columns, read with the files' own recorded Spark
    schema (no inference job)."""
    from pyspark.sql import functions as F

    vals: dict[str, dict] = {}  # file -> {col | "__rows": value}
    need: dict[str, list[str]] = {}  # file -> columns for the pass
    fields_of: dict[str, dict] = {}
    for f in files:
        md, fields = commitlog.read_footer(f) or (None, None)
        if md is not None and md.num_rows == 0:
            continue
        if fields is None:
            need[f] = list(stats_cols)
            continue
        fields_of[f] = fields
        legacy = b"org.apache.spark.legacyDateTime" in (md.metadata or {})
        pos = {md.schema.column(j).path: j for j in range(md.num_columns)}
        got = vals[f] = {"__rows": int(md.num_rows)}
        for c in stats_cols:
            b = (
                _footer_bounds(md, fields[c], pos[c], legacy)
                if c in fields and c in pos
                else None
            )
            if b is None:
                need.setdefault(f, []).append(c)
            else:
                got[c] = list(b)
    if need:
        pass_files = list(need)
        pass_cols = [c for c in stats_cols if any(c in cs for cs in need.values())]
        # one write's files share one schema: read them with it (no
        # schema-inference job); files without a readable footer infer
        pass_fields = [
            [fields_of[f].get(c) for c in pass_cols] if f in fields_of else None
            for f in pass_files
        ]
        first = pass_fields[0]
        if first is not None and None not in first and all(
            pf == first for pf in pass_fields
        ):
            from pyspark.sql.types import StructType

            schema = StructType.fromJson({"type": "struct", "fields": first})
            df = spark.read.schema(schema).parquet(*pass_files)
        else:
            df = spark.read.parquet(*pass_files)
        aggs = [F.count(F.lit(1)).alias("__nrows")]
        for c in pass_cols:
            aggs.append(F.min(c).alias(f"__min_{c}"))
            aggs.append(F.max(c).alias(f"__max_{c}"))
        rows = df.groupBy(F.input_file_name().alias("__file")).agg(*aggs).collect()
        by_path = {commitlog.normpath(r["__file"]): r.asDict() for r in rows}
        for f, cs in need.items():
            d = by_path.get(commitlog.normpath(f))
            if d is None:
                continue  # 0 rows: no entry
            got = vals.setdefault(f, {"__rows": int(d["__nrows"])})
            for c in cs:
                got[c] = [d[f"__min_{c}"], d[f"__max_{c}"]]
    out: dict[str, dict[str, list]] = {}
    for f in files:
        if f in vals:
            got = vals[f]
            out[f] = {
                c: [commitlog.stat_val(lo, -1), commitlog.stat_val(hi, +1)]
                for c in stats_cols
                for lo, hi in [got[c]]
            }
            out[f]["__rows"] = got["__rows"]
    return out


_normpath = commitlog.normpath


def _rt_of(m: dict | None) -> dict | None:
    """The table's row-tracking property ({"next": high watermark}) or
    None when the feature was never enabled."""
    return (m or {}).get("row_tracking") or None


def _file_row_counts(spark: SparkSession, files: list[str]) -> dict[str, int]:
    """Per-file PHYSICAL row counts — row-id allocation needs parquet row
    counts (ids are positional: base + ``_metadata.row_index``), so
    DV-hidden rows still count. Read from the parquet footers; only files
    pyarrow cannot open go to a count scan."""
    from pyspark.sql import functions as F

    counts: dict[str, int] = {}
    scan: list[str] = []
    for f in files:
        ft = commitlog.read_footer(f)
        if ft is None:
            scan.append(f)
        else:
            counts[f] = int(ft[0].num_rows)
    if scan:
        rows = (
            spark.read.parquet(*scan)
            .groupBy(F.input_file_name().alias("__file"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        by = {_normpath(r["__file"]): int(r["__n"]) for r in rows}
        counts.update({f: by.get(_normpath(f), 0) for f in scan})
    return {f: counts[f] for f in files}


def _alloc_row_ids(
    spark: SparkSession,
    prev_m: dict | None,
    manifest: dict,
    new_files: list[str],
    materialized: bool = False,
) -> None:
    """Row-tracking bookkeeping for a commit adding ``new_files`` — no-op
    unless the table carries the ``row_tracking`` property (Delta's row
    tracking: every row has a unique 64-bit id, stable while its file
    lives).  Per-file state rides INSIDE the existing per-file ``stats``
    entries — ``__base_row_id`` (ids derive as base + parquet row index)
    or ``__row_ids: "materialized"`` (the file carries a physical
    ``_row_id`` column) — because the commit log already delta-encodes
    and carries stats per file at every site; a new O(files) manifest key
    would reintroduce the per-commit cost the log segmentation removed.
    The allocation watermark ``row_tracking.next`` is a table property
    (carried by ``_carry_props``; bumped only here).

    ``materialized=True`` marks ``new_files`` as carrying their own
    ``_row_id`` column (OPTIMIZE/REORG rewrites, which must PRESERVE ids
    under ``data_change=false``); otherwise fresh bases are allocated in
    file order — rewritten rows of data-change DML get NEW ids, exactly
    Delta's non-preserving-operation semantics.  Fresh allocations are
    recorded under the scratch key ``_rt_alloc`` so the rebase funnel can
    re-allocate above an interloper's watermark; ``_try_commit`` strips
    scratch keys before anything reaches disk."""
    rt = _rt_of(prev_m)
    if not rt:
        return
    stats = dict(manifest.get("stats") or {})
    if materialized:
        for f in new_files:
            stats[f] = {**stats.get(f, {}), "__row_ids": "materialized"}
        manifest["stats"] = stats
        manifest.setdefault("row_tracking", dict(rt))
        return
    counts: dict[str, int] = {}
    missing = [
        f for f in new_files if (stats.get(f) or {}).get("__rows") is None
    ]
    if missing:
        counts.update(_file_row_counts(spark, missing))
    nxt = int(rt["next"])
    alloc: list[list] = []
    for f in new_files:
        n = counts.get(f, (stats.get(f) or {}).get("__rows"))
        n = int(n)
        stats[f] = {**stats.get(f, {}), "__rows": n, "__base_row_id": nxt}
        alloc.append([f, n])
        nxt += n
    manifest["stats"] = stats
    manifest["row_tracking"] = {"next": nxt}
    if alloc:
        manifest["_rt_alloc"] = alloc


def _rt_bases_for(m: dict, files: list[str], ctx: str) -> dict[str, int] | None:
    """{normalized path: base row id} for ``files`` on a row-tracked
    table (None when row tracking is off).  Files marked
    ``__row_ids: "materialized"`` are omitted — their ids come from the
    physical ``_row_id`` column; a file with NEITHER marker means a
    writer broke the invariant, and reading would silently fabricate
    null ids — fail loudly instead."""
    if not _rt_of(m):
        return None
    st = m.get("stats", {})
    bases: dict[str, int] = {}
    for f in files:
        e = st.get(f) or {}
        if e.get("__row_ids") == "materialized":
            continue
        b = e.get("__base_row_id")
        if b is None:
            raise RuntimeError(
                f"{ctx}: row-tracking invariant broken — {f} has neither a "
                "base row id nor materialized ids"
            )
        bases[_normpath(f)] = int(b)
    return bases


def _schema_sig(df: DataFrame) -> list[list[str]]:
    """JSON-stable (name, dataType.simpleString) pairs — the schema
    identity manifests record and appends validate against. Nullability is
    deliberately excluded: parquet readers union it anyway."""
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _merge_sigs(prev_sig: list, sig: list) -> list:
    """Union-by-name of two schema signatures — Delta mergeSchema
    semantics: the table keeps every previously-recorded column (an append
    that OMITS one must not drop it from latest-version reads), new columns
    append in the writer's order, and a same-name/different-type conflict
    raises (parquet cannot union those)."""
    prev_types = {n: t for n, t in prev_sig}
    conflicts = [
        (n, prev_types[n], t) for n, t in sig if n in prev_types and prev_types[n] != t
    ]
    if conflicts:
        raise ValueError(
            f"schema evolution type conflict(s): "
            f"{[(n, f'{a} -> {b}') for n, a, b in conflicts]}"
        )
    merged = [list(p) for p in prev_sig]
    merged.extend([n, t] for n, t in sig if n not in prev_types)
    return merged


# ---------------------------------------------------------------------------
# Column mapping (Delta name-mode): rename/drop columns WITHOUT rewriting data
# ---------------------------------------------------------------------------
#
# Once enabled (implicitly, by the first rename/drop), the manifest carries
#   colmap:      {logical name -> physical name}   (what readers alias)
#   colmap_used: [every physical name ever assigned]
# Physical names are IMMUTABLE — a rename changes only the logical side, so
# renaming a column on a 100 TB table is one manifest write, zero data I/O.
# Data files, skipping stats, and CDC change files are always keyed/written
# by PHYSICAL name; every read aliases back to the manifest's logical names.
# A re-added column whose name was ever used physically gets a fresh
# uuid-suffixed physical name — without this, explicit-schema reads would
# surface a DROPPED column's stale bytes as the new column's values (the
# exact hazard Delta's column-id indirection exists for).


def _mapping_of(m: dict | None) -> tuple[dict | None, list[str]]:
    """(colmap, colmap_used) of a manifest; (None, used) when mapping is
    not enabled (logical == physical everywhere)."""
    if not m:
        return None, []
    cm = m.get("colmap")
    return (dict(cm) if cm is not None else None), list(m.get("colmap_used", []))


def _phys(colmap: dict | None, col: str) -> str:
    return colmap.get(col, col) if colmap else col


def _to_physical(df: DataFrame, colmap: dict | None) -> DataFrame:
    """Project ``df``'s logical columns to their physical names before any
    file write. One aliasing projection (never chained withColumnRenamed —
    a swap-shaped mapping would transiently collide); non-mapped columns
    (``change_type``, probe metadata) pass through unchanged."""
    if not colmap or all(colmap.get(c, c) == c for c in df.columns):
        return df
    from pyspark.sql import functions as F

    return df.select(*[F.col(c).alias(colmap.get(c, c)) for c in df.columns])


def _carry_mapping(src_m: dict | None, manifest: dict) -> dict:
    """Column mapping is table-level state like CHECK constraints: any
    commit that rebuilds a manifest without carrying it would silently
    detach every reader from the physical file schema."""
    if src_m:
        if src_m.get("colmap") is not None:
            manifest.setdefault("colmap", src_m["colmap"])
        if src_m.get("colmap_used"):
            manifest.setdefault("colmap_used", src_m["colmap_used"])
    return manifest


def rename_snapshot_column(
    spark: SparkSession, table_dir: str, old: str, new: str
) -> int:
    """``ALTER TABLE RENAME COLUMN`` parity via name-mode column mapping:
    a metadata-only (``data_change=false``) commit — the physical files,
    their skipping stats, and any deletion vectors are untouched; only the
    logical schema and the mapping change. Time travel still shows the old
    name at old versions (each manifest carries its own mapping).

    Refused when a CHECK constraint references the column (Delta's rule —
    the stored SQL expr would silently stop binding). Version races abort.

    Beyond-reference extension: the reference renames columns by
    rewriting whole zones (data_processing.py:150's projections); on a
    100 TB table that is days of I/O for a name change."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    sig = m.get("schema")
    if sig is None:
        raise ValueError(f"rename_snapshot_column: no recorded schema at {table_dir}")
    names = [n for n, _ in sig]
    if old not in names:
        raise KeyError(f"no column {old!r} at {table_dir} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists at {table_dir}")
    _check_constraint_refs(m, old, "rename_snapshot_column")
    colmap, used = _mapping_of(m)
    if colmap is None:
        colmap, used = {n: n for n in names}, list(names)
    colmap[new] = colmap.pop(old)
    manifest = {
        "version": base_v + 1,
        "op": "rename_column",
        "data_change": False,
        "files": m["files"],
        "schema": [[new if n == old else n, t] for n, t in sig],
        "colmap": colmap,
        "colmap_used": used,
        "renamed": [old, new],
    }
    if old in (m.get("partition_by") or []):
        # partitioning follows the LOGICAL name; the physical name (and
        # with it the layout and the stats keys) is untouched
        manifest["partition_by"] = [
            new if c == old else c for c in m["partition_by"]
        ]
    if old in (m.get("identity") or {}):
        # the allocation rule follows the rename (identity specs are keyed
        # by logical name; a stale key would silently stop allocation)
        ident = dict(m["identity"])
        ident[new] = ident.pop(old)
        manifest["identity"] = ident
    uniq = m.get("unique_keys") or {}
    if any(old in cols for cols in uniq.values()):
        # enforcement follows the rename too — a stale column list would
        # fail every later append inside _validate_unique_batch's groupBy
        # (unresolved column), bricking the append path until drop_unique_key
        manifest["unique_keys"] = {
            k: [new if c == old else c for c in cols] for k, cols in uniq.items()
        }
    clus = m.get("clustering")
    if clus and old in clus.get("cols", []):
        # layout keys follow the rename (a stale key would fail the next
        # liquid compaction's repartitionByRange on an unresolved column)
        manifest["clustering"] = {
            **clus, "cols": [new if c == old else c for c in clus["cols"]]
        }
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"rename_snapshot_column: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def drop_snapshot_column(spark: SparkSession, table_dir: str, name: str) -> int:
    """``ALTER TABLE DROP COLUMN`` parity: metadata-only — the column
    vanishes from the logical schema and the mapping, its bytes stay in
    the files (invisible to every read, reclaimed physically by the next
    rewrite of each file), and its physical name is retired forever in
    ``colmap_used``. Refused while a CHECK constraint references it."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    sig = m.get("schema")
    if sig is None:
        raise ValueError(f"drop_snapshot_column: no recorded schema at {table_dir}")
    names = [n for n, _ in sig]
    if name not in names:
        raise KeyError(f"no column {name!r} at {table_dir} (have {names})")
    if len(names) == 1:
        raise ValueError(f"cannot drop the only column of {table_dir}")
    if name in (m.get("partition_by") or []):
        raise ValueError(
            f"drop_snapshot_column: {name!r} is a partition column of "
            f"{table_dir} (partitioned by {m['partition_by']}) — re-lay the "
            "table with commit_overwrite(partition_by=[...]) first"
        )
    if name in (m.get("identity") or {}):
        raise ValueError(
            f"drop_snapshot_column: {name!r} is an identity column of "
            f"{table_dir} — drop_identity_column first"
        )
    uk_owners = sorted(
        k for k, cols in (m.get("unique_keys") or {}).items() if name in cols
    )
    if uk_owners:
        raise ValueError(
            f"drop_snapshot_column: {name!r} belongs to declared unique "
            f"key(s) {uk_owners} of {table_dir} — drop_unique_key first "
            "(dropping it would brick every later append's uniqueness probe)"
        )
    if name in (m.get("clustering") or {}).get("cols", []):
        raise ValueError(
            f"drop_snapshot_column: {name!r} is a clustering column of "
            f"{table_dir} — drop_cluster_columns (CLUSTER BY NONE) first"
        )
    _check_constraint_refs(m, name, "drop_snapshot_column")
    colmap, used = _mapping_of(m)
    if colmap is None:
        colmap, used = {n: n for n in names}, list(names)
    phys = colmap.pop(name)
    stats = {
        f: {c: mm for c, mm in st.items() if c != phys}
        for f, st in m.get("stats", {}).items()
    }
    manifest = {
        "version": base_v + 1,
        "op": "drop_column",
        "data_change": False,
        "files": m["files"],
        "schema": [[n, t] for n, t in sig if n != name],
        "colmap": colmap,
        "colmap_used": used,
        "dropped": name,
    }
    if any(st for st in stats.values()):
        manifest["stats"] = stats
    if m.get("dv_files"):
        manifest["dv_files"] = m["dv_files"]
    _carry_props(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"drop_snapshot_column: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


_WIDENINGS = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def widen_snapshot_column(
    spark: SparkSession, table_dir: str, col: str, new_type: str
) -> int:
    """``ALTER TABLE ... ALTER COLUMN ... TYPE`` (Delta type widening):
    a metadata-only commit recording the wider type in the schema — zero
    data I/O, because every read already goes through the manifest's
    explicit DDL and Spark's parquet reader upcasts int8/16/32→int64 and
    float→double in the scan (verified on this build). Only lossless
    widenings are allowed (the integer chain and float→double); anything
    else raises. Future appends must already carry the widened type (the
    ordinary drift gate enforces it). Recorded [min,max] stats stay valid
    — JSON integers don't change representation when the column widens.
    Version races abort."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    sig = m.get("schema")
    if sig is None:
        raise ValueError(f"widen_snapshot_column: no recorded schema at {table_dir}")
    types = {n: t for n, t in sig}
    if col not in types:
        raise KeyError(f"no column {col!r} at {table_dir} (have {sorted(types)})")
    cur = types[col]
    if new_type == cur:
        return base_v  # idempotent no-op
    if new_type not in _WIDENINGS.get(cur, ()):  # loud on narrowing/sideways
        raise ValueError(
            f"widen_snapshot_column: {cur} -> {new_type} is not a lossless "
            f"widening (allowed from {cur}: {sorted(_WIDENINGS.get(cur, []))})"
        )
    manifest = {
        "version": base_v + 1,
        "op": "widen_column",
        "data_change": False,
        "files": m["files"],
        "schema": [[n, new_type if n == col else t] for n, t in sig],
        "widened": [col, cur, new_type],
    }
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"widen_snapshot_column: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def _check_constraint_refs(m: dict, col: str, ctx: str) -> None:
    """Refuse a rename/drop while any CHECK constraint's SQL references
    the column. Word-boundary containment is deliberately conservative
    (a false positive refuses a legal rename; a false negative would
    leave a constraint that silently stops binding — the unsafe side)."""
    import re as _re

    pat = _re.compile(rf"(?<![A-Za-z0-9_`]){_re.escape(col)}(?![A-Za-z0-9_])")
    offenders = [n for n, e in m.get("constraints", {}).items() if pat.search(e)]
    if offenders:
        raise ValueError(
            f"{ctx}: column {col!r} is referenced by CHECK constraint(s) "
            f"{offenders}; drop them first"
        )


def _assign_physical(
    logical_cols: list[str], colmap: dict, used: list[str]
) -> tuple[dict, list[str]]:
    """Extend an enabled mapping for schema evolution: each new logical
    column gets its own name physically unless that name was EVER used
    (live or retired), in which case a uuid-suffixed fresh name — stale
    bytes of a dropped column must never surface as the new column."""
    colmap, used = dict(colmap), list(used)
    for c in logical_cols:
        if c in colmap:
            continue
        p = c if c not in used else f"{c}_{uuid.uuid4().hex[:8]}"
        colmap[c] = p
        used.append(p)
    return colmap, used


def _latest_txn(spark: SparkSession, table_dir: str, app_id: str):
    """(commit_version, txn_version) of ``app_id``'s newest stamped write,
    or None. Fast path: the ``txns`` TABLE PROPERTY carries every app's
    latest cursor forward with each commit (Delta retains setTransaction
    actions in snapshot state the same way), so the probe is ONE raw read
    of the newest record — and, critically, the cursor SURVIVES vacuum
    expiring the stamped commit's record. Fallback for tables stamped
    before the property existed: newest-first raw-record walk (stamps are
    monotone per app, so the first hit is the latest) — that path loses
    stamps to vacuum, which is exactly why the property superseded it."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        return None
    head = _read_commit(spark, table_dir, versions[-1])
    hit = (head.get("txns") or {}).get(app_id)
    if hit is not None:
        return int(hit[0]), int(hit[1])
    for v in versions[::-1]:
        r = _read_commit(spark, table_dir, v)
        if r.get("txn_app_id") == app_id:
            return v, int(r["txn_version"])
    return None


def latest_txn_version(
    spark: SparkSession, table_dir: str, app_id: str
) -> int | None:
    """Delta ``txnVersion(appId)`` parity: the highest ``txn_version`` a
    committed write stamped for ``app_id`` (None if the app never wrote).
    A scheduler resuming a failed job reads this to decide where its
    idempotent write sequence left off."""
    hit = _latest_txn(spark, table_dir, app_id)
    return None if hit is None else hit[1]


def _commit_append_files(
    spark: SparkSession,
    table_dir: str,
    new_files: list[str],
    sig: list,
    new_stats: dict,
    allow_schema_evolution: bool = False,
    extra: dict | None = None,
    validated_constraints: dict | None = None,
    mapping: tuple | None = None,
    partition_by: list[str] | None = None,
    identity_base: dict | None = None,
    identity_update: dict | None = None,
    staged_path: str | None = None,
    unique_check: tuple | None = None,
    txn: tuple | None = None,
) -> int:
    """The append-commit retry loop shared by :func:`commit_append` and the
    streaming snapshot sink: chain ``new_files`` onto whatever manifest is
    latest AT COMMIT TIME, carrying forward its stats and re-validating
    schema drift against it EVERY attempt. The re-check matters (ADVICE
    r6): a concurrent writer may commit an evolved schema between this
    writer's entry validation and its winning rename — recording the stale
    signature then would silently drop the new column from latest-version
    reads. CHECK constraints get the same treatment: the latest manifest's
    set is enforced against the staged files (re-reading them only when
    the set differs from what the caller already validated, tracked via
    ``validated_constraints``). ``extra`` keys land verbatim in the
    manifest (the streaming sink stamps its batch id there, atomically
    with the file list).

    ``mapping`` = (base_colmap, record_colmap, record_used) when the
    caller staged its files against an enabled column mapping: the staged
    files carry PHYSICAL column names, which stay valid across concurrent
    renames (physical names are immutable) — but a concurrent MAPPING
    change (another writer's evolution assigning physical names, or a
    drop) invalidates the entry-time extension, so the retry loop raises
    rather than record a guessed merge."""
    validated = dict(validated_constraints or {})
    base_colmap = mapping[0] if mapping else None
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(spark, table_dir)
        version = (versions[-1] if versions else 0) + 1
        if txn is not None:
            # idempotent-writer probe INSIDE the retry loop: a concurrent
            # duplicate (same app retrying the same logical write) that
            # won the version race is found here on OUR retry — the
            # staged files become vacuum debris, never duplicate rows
            hit = _latest_txn(spark, table_dir, txn[0])
            if hit is not None and hit[1] >= int(txn[1]):
                return hit[0]
        if versions:
            prev_m = _read_manifest(spark, table_dir, versions[-1])
            prev_files = prev_m["files"]
            prev_stats = prev_m.get("stats", {})
            prev_sig = prev_m.get("schema")
            prev_dvs = prev_m.get("dv_files", [])
            prev_cons = prev_m.get("constraints", {})
            prev_colmap, _prev_used = _mapping_of(prev_m)
        else:
            prev_files, prev_stats, prev_sig = [], {}, None
            prev_dvs, prev_cons = [], {}
            prev_colmap = None
        if mapping is None and prev_colmap is not None:
            raise ValueError(
                f"commit_append: {table_dir} has column mapping enabled; this "
                "write path staged files with logical names — stage through "
                "commit_append (it translates to physical names) instead"
            )
        if mapping is not None and prev_colmap != base_colmap:
            raise RuntimeError(
                f"commit_append: column mapping at {table_dir} changed between "
                "staging and commit (concurrent rename/drop/evolution); re-read "
                "the table and retry the append"
            )
        record_sig = sig
        if prev_sig is not None and prev_sig != sig:
            if not allow_schema_evolution:
                raise ValueError(
                    f"commit_append: schema drift at {table_dir} — table has "
                    f"{prev_sig}, append has {sig}; pass "
                    "allow_schema_evolution=True to record the evolved schema"
                )
            record_sig = _merge_sigs(prev_sig, sig)
        unvalidated = {k: v for k, v in prev_cons.items() if validated.get(k) != v}
        if unvalidated and new_files:
            # a constraint landed after the caller's entry validation (or
            # the caller never validated — the streaming sink): enforce
            # the LATEST set against the staged files before chaining
            _validate_constraints(
                _read_with_dvs(
                    spark, new_files, sig, [],
                    colmap=mapping[1] if mapping else None,
                ),
                unvalidated,
                "commit_append",
            )
            validated.update(unvalidated)
        recorded_part = prev_m.get("partition_by") if versions else None
        if versions and partition_by and recorded_part != partition_by:
            raise ValueError(
                f"commit_append: {table_dir} is partitioned by {recorded_part}; "
                f"this append declared {partition_by} — evolve the recorded "
                "spec first (set_partition_spec), or commit_overwrite to re-lay"
            )
        # IDENTITY watermark arbitration: the staged files carry ids minted
        # from identity_base — commit only if that base is STILL the
        # table's watermark; otherwise two writers allocated the same
        # range and one must re-stage (IdentityConflictError → the
        # commit_append wrapper rewrites the batch with fresh ids). A
        # write path that never allocates (the streaming sink, raw
        # callers) fails loud on identity tables rather than silently
        # bypassing the watermark.
        prev_ident = prev_m.get("identity") if versions else None
        if identity_base is not None:
            for n, base_high in identity_base.items():
                cur = (prev_ident or {}).get(n)
                if cur is None or cur.get("high") != base_high:
                    raise IdentityConflictError(
                        staged_path,
                        f"identity watermark for {n!r} moved "
                        f"({base_high} -> {cur and cur.get('high')}) between "
                        f"allocation and commit at {table_dir}",
                    )
        elif prev_ident:
            raise IdentityConflictError(
                staged_path,
                f"{table_dir} has identity column(s) {sorted(prev_ident)} but "
                "this write path did not allocate them — append through "
                "commit_append",
            )
        # UNIQUE keys: commit_append validated the batch against the
        # manifest it READ; commits that landed since could carry
        # colliding keys — probe ONLY those interleaved files (bounded by
        # the interleaved batches, never the table).
        prev_uniq = prev_m.get("unique_keys") if versions else None
        if prev_uniq:
            if unique_check is None:
                raise RuntimeError(
                    f"commit_append: {table_dir} has unique key(s) "
                    f"{sorted(prev_uniq)} but this write path cannot enforce "
                    "them — append through commit_append"
                )
            uniq_entry, entry_files = unique_check
            if set(prev_uniq) - set(uniq_entry):
                raise RuntimeError(
                    f"commit_append: unique key declared concurrently at "
                    f"{table_dir}; re-read and retry the append"
                )
            added = [
                f for f in prev_files if f not in entry_files and f not in new_files
            ]
            if added and new_files:
                batch = _read_with_dvs(
                    spark, new_files, sig, [],
                    colmap=mapping[1] if mapping else None,
                )
                other = _read_with_dvs(
                    spark, added, prev_sig or sig, [], colmap=prev_colmap
                )
                for uk_name, uk_cols in prev_uniq.items():
                    hit = (
                        other.select(*uk_cols)
                        .join(batch.select(*uk_cols), list(uk_cols), "inner")
                        .limit(1)
                        .collect()
                    )
                    if hit:
                        raise ValueError(
                            f"commit_append: unique key {uk_name!r} "
                            f"{tuple(uk_cols)} collision with a concurrently "
                            f"appended row {tuple(hit[0])} at {table_dir}"
                        )
        manifest = {
            "version": version,
            "op": "append",
            "files": prev_files + new_files,
            "schema": record_sig,
        }
        if recorded_part or partition_by:
            manifest["partition_by"] = recorded_part or partition_by
        if mapping is not None:
            manifest["colmap"] = mapping[1]
            manifest["colmap_used"] = mapping[2]
        if prev_cons:
            manifest["constraints"] = prev_cons
        if versions and prev_m.get("table_stats"):
            manifest["table_stats"] = prev_m["table_stats"]
        if versions and prev_m.get("generated"):
            manifest["generated"] = prev_m["generated"]
        if versions and prev_m.get("bloom"):
            manifest["bloom"] = prev_m["bloom"]
        if identity_update is not None:
            manifest["identity"] = identity_update
        if prev_uniq:
            manifest["unique_keys"] = prev_uniq
        if prev_dvs:
            manifest["dv_files"] = prev_dvs
        if prev_stats or new_stats:
            manifest["stats"] = {**prev_stats, **new_stats}
        if extra:
            manifest.update(extra)
        if txn is not None:
            # the stamp rides the same atomic commit as the file list;
            # the per-app cursor ALSO lands in the 'txns' table property
            # (Delta retains setTransaction actions in snapshot state) so
            # vacuum expiring this raw record cannot lose it — a
            # scheduler retry after vacuum would otherwise re-apply the
            # batch, the exact duplicate the stamp exists to prevent
            manifest["txn_app_id"], manifest["txn_version"] = txn[0], int(txn[1])
            prev_txns = (prev_m.get("txns") if versions else None) or {}
            manifest["txns"] = {
                **prev_txns, txn[0]: [version, int(txn[1])]
            }
        # belt-and-braces: any table property the hand-built section above
        # didn't own still carries (setdefault — explicit sets win). The
        # hand-picked list silently dropped `clustering` when it joined
        # the property set — the exact bug class _carry_props removes.
        _carry_props(prev_m if versions else None, manifest)
        # row tracking: allocate bases for this batch from the manifest
        # read THIS attempt — losing the slot re-enters the loop and
        # re-allocates above the winner's watermark (metadata-only, so
        # retrying can never bake stale ids into data files)
        _alloc_row_ids(
            spark, prev_m if versions else None, manifest, new_files
        )
        if _try_commit(
            spark, table_dir, version, manifest,
            prev=prev_m if versions else None,
        ):
            return version
    raise RuntimeError(
        f"commit_append: lost {_MAX_COMMIT_RETRIES} version races at {table_dir}"
    )


def commit_append(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    allow_schema_evolution: bool = False,
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    extra: dict | None = None,
    txn: tuple | None = None,
) -> int:
    """Append ``df`` as a new snapshot: new files = previous snapshot's
    files + this batch's. Retries on version races (append order does not
    depend on what the writer read, so retrying is always safe).

    ``txn=(app_id, txn_version)`` makes the append IDEMPOTENT — Delta's
    ``txnAppId``/``txnVersion`` writer contract for batch jobs that may be
    retried by a scheduler: the stamp commits atomically with the file
    list, and a write whose version is ≤ the app's latest committed stamp
    is SKIPPED (returns the stamped commit's version). The probe runs
    before staging (cheap skip) AND inside the commit retry loop (a
    concurrent duplicate that wins the version race is caught on retry —
    its rival's staged files become vacuum debris, never duplicate rows).
    Distinct app_ids never dedupe each other. Read the cursor back with
    :func:`latest_txn_version`. The streaming sink's (stream_app_id,
    stream_batch_id) stamps are a separate exact-match contract.

    IDENTITY columns (``set_identity_column``): an append that OMITS a
    declared identity column gets values minted here — unique, ≥ start,
    multiples of step apart, strictly above the table's recorded high
    watermark; like Delta, values may have GAPS (allocation rides
    ``monotonically_increasing_id``, which strides by partition). A
    concurrent append that moves the watermark between allocation and
    commit raises :class:`IdentityConflictError` inside the commit loop;
    this wrapper deletes the stale staged files and re-stages with fresh
    ids (ids are baked into parquet, so a plain manifest retry would
    commit duplicates — the same reason Delta restarts the whole write on
    an identity metadata conflict).

    Schema contract: the manifest records the table schema; an append whose
    (name, type) signature differs fails BEFORE writing unless
    ``allow_schema_evolution=True`` (the evolved signature is then
    recorded, and readers see parquet's union-by-name view). Without the
    gate a drifted append silently poisons every later read — parquet
    multi-file reads take the schema of an arbitrary file.

    ``partition_by`` (first commit only — it becomes a fixed table
    property, validated on every later append) declares PARTITION COLUMNS:
    each batch is laid out hive-style so every data file holds exactly one
    value per partition column, and those columns always join the skipping
    stats — so any partition predicate prunes files through the existing
    [min, max] machinery with EXACT (min == max) bounds, before plain
    stats and before Spark lists a single file. The reference's own layout
    contract (flows.py:314 partitions by transaction_date) applied to the
    snapshot log."""
    if txn is not None:
        # pre-staging probe: an already-applied (app_id, txn_version)
        # skips the whole write — nothing staged, nothing to vacuum. The
        # race-proof re-probe lives inside the commit retry loop.
        hit = _latest_txn(spark, table_dir, txn[0])
        if hit is not None and hit[1] >= int(txn[1]):
            return hit[0]
    for _ in range(_MAX_IDENTITY_RETRIES):
        try:
            return _commit_append_once(
                spark, table_dir, df, allow_schema_evolution, stats_cols,
                partition_by, extra, txn,
            )
        except IdentityConflictError as e:
            if e.staged_path:
                # staged files carry stale baked-in ids — delete through the
                # Hadoop FS (like _write_data/vacuum), not a local-only
                # rmtree, so hdfs/s3 table_dirs don't leak unreferenced
                # debris on every conflict retry
                fs, jp = _hadoop_fs(spark, e.staged_path)
                if fs.exists(jp):
                    fs.delete(jp, True)
            continue
    raise RuntimeError(
        f"commit_append: lost {_MAX_IDENTITY_RETRIES} identity-allocation "
        f"races at {table_dir}"
    )


def _commit_append_once(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    allow_schema_evolution: bool,
    stats_cols: list[str] | None,
    partition_by: list[str] | None,
    extra: dict | None,
    txn: tuple | None = None,
) -> int:
    versions = _list_versions(spark, table_dir)
    sig = _schema_sig(df)
    entry_cons: dict = {}
    mapping = None
    ident: dict = {}
    identity_base: dict | None = None
    identity_new: dict | None = None
    uniq: dict = {}
    entry_files: set = set()
    if versions:
        from pyspark.sql import functions as F

        prev_m = _read_manifest(spark, table_dir, versions[-1])
        prev_sig = prev_m.get("schema")
        # IDENTITY columns: mint values for omitted ones BEFORE generated
        # columns compute (a generation expr may reference the id) and
        # before constraint validation sees the rows.
        ident = prev_m.get("identity", {})
        if ident:
            identity_base = {n: spec["high"] for n, spec in ident.items()}
            identity_new = dict(ident)
            for n, spec in ident.items():
                if n in df.columns:
                    if spec.get("mode", "always") == "always":
                        raise ValueError(
                            f"commit_append: column {n!r} is GENERATED ALWAYS "
                            f"AS IDENTITY at {table_dir}; omit it (declare "
                            "mode='default' to allow explicit values)"
                        )
                else:
                    nxt = spec["high"] + spec["step"]
                    df = df.withColumn(
                        n,
                        (
                            F.lit(nxt)
                            + F.lit(spec["step"]) * F.monotonically_increasing_id()
                        ).cast("long"),
                    )
            if prev_sig is not None and set(df.columns) == {x for x, _ in prev_sig}:
                df = df.select(*[x for x, _ in prev_sig])
            sig = _schema_sig(df)
        # GENERATED columns: compute any the writer omitted (Delta's
        # contract — provide it and the paired CHECK validates it, omit
        # it and the engine computes it), then restore the recorded
        # column order so the signature compares positionally.
        gen = prev_m.get("generated", {})
        absent = [(n, e) for n, e in gen.items() if n not in df.columns]
        if absent:
            for n, e in absent:
                df = df.withColumn(n, F.expr(e))
            if prev_sig is not None and set(df.columns) == {n for n, _ in prev_sig}:
                df = df.select(*[n for n, _ in prev_sig])
            sig = _schema_sig(df)
        base_colmap, base_used = _mapping_of(prev_m)
        if base_colmap is not None:
            # mapped table: stage this batch's files under PHYSICAL names
            # (new logical columns from an evolving append get fresh ones)
            rec_colmap, rec_used = _assign_physical(
                [n for n, _ in sig], base_colmap, base_used
            )
            mapping = (base_colmap, rec_colmap, rec_used)
        if prev_sig is not None and prev_sig != sig and not allow_schema_evolution:
            # fail BEFORE writing any data (the retry loop re-validates
            # against whatever manifest is latest at commit time — this
            # entry check just saves the doomed parquet write)
            raise ValueError(
                f"commit_append: schema drift at {table_dir} — table has "
                f"{prev_sig}, append has {sig}; pass allow_schema_evolution=True "
                "to record the evolved schema"
            )
        entry_cons = prev_m.get("constraints", {})
        # CHECK constraints fail the append BEFORE any data lands (the
        # retry loop re-validates against constraints added concurrently)
        _validate_constraints(df, entry_cons, "commit_append")
        # UNIQUE keys: the batch must be internally unique AND collision-
        # free against the table. The table probe narrows by the batch's
        # key range through manifest stats (skip_where) — an append
        # touching one day's keys probes that range's files, not 100 TB.
        uniq = prev_m.get("unique_keys", {})
        entry_files = set(prev_m["files"])
        if uniq:
            _validate_unique_batch(df, uniq, "commit_append")
            for uk_name, uk_cols in uniq.items():
                rng = df.agg(
                    F.min(uk_cols[0]).alias("lo"), F.max(uk_cols[0]).alias("hi")
                ).collect()[0]
                if rng["lo"] is None:
                    continue  # empty batch
                tbl = read_snapshot(
                    spark, table_dir, version=versions[-1],
                    skip_where=(uk_cols[0], rng["lo"], rng["hi"]),
                ).select(*uk_cols)
                hit = tbl.join(df.select(*uk_cols), list(uk_cols), "inner").limit(1).collect()
                if hit:
                    raise ValueError(
                        f"commit_append: unique key {uk_name!r} {tuple(uk_cols)} "
                        f"collision with existing row {tuple(hit[0])} at {table_dir}"
                    )
        recorded_part = prev_m.get("partition_by")
        if partition_by and recorded_part != partition_by:
            raise ValueError(
                f"commit_append: {table_dir} is partitioned by {recorded_part}; "
                f"this append declared {partition_by} — evolve the recorded "
                "spec first (set_partition_spec), or commit_overwrite to re-lay"
            )
        partition_by = recorded_part  # inherit the table's layout
    if partition_by:
        missing = [c for c in partition_by if c not in {n for n, _ in sig}]
        if missing:
            raise KeyError(
                f"commit_append: partition column(s) {missing} not in the "
                f"append's schema {[n for n, _ in sig]}"
            )
    attempt = (versions[-1] if versions else 0) + 1
    # the staged dir name must be WRITER-unique, not just attempt-unique:
    # two appenders racing the same attempt number (threads in one driver,
    # or a retried crashed commit) must never collide at the parquet write
    # — the manifest rename is the only arbitration point
    staged = _to_physical(df, mapping[1]) if mapping else df
    part_phys = [
        _phys(mapping[1] if mapping else None, c) for c in (partition_by or [])
    ]
    data_path = _write_data(
        staged, table_dir, f"v{attempt:05d}-{uuid.uuid4().hex[:12]}",
        partition_by=part_phys or None,
    )
    new_files = _data_files(spark, data_path)
    # skipping stats are keyed by PHYSICAL column name (stable across
    # renames). Partition columns ALWAYS join the stats set: each file is
    # value-pure (hive layout), so its [min, max] is exact and every
    # partition predicate prunes through the ordinary stats machinery.
    stat_keys = (
        [_phys(mapping[1], c) for c in stats_cols] if mapping and stats_cols
        else list(stats_cols or [])
    )
    # identity columns always join the stats: the new high watermark is
    # read off the staged files' footer max — no second scan, and the ids
    # the manifest accounts for are EXACTLY the ids parquet holds (a separate
    # agg over the pre-write frame could disagree: mono-id is re-evaluated
    # per action).
    ident_phys = {
        n: _phys(mapping[1] if mapping else None, n) for n in ident
    }
    stat_keys = sorted(set(stat_keys) | set(part_phys) | set(ident_phys.values()))
    new_stats = _file_stats(spark, new_files, stat_keys) if stat_keys else {}
    if identity_new is not None:
        for n, ph in ident_phys.items():
            observed = [
                s[ph][1]
                for s in new_stats.values()
                if s.get(ph) and s[ph][1] is not None
            ]
            hi = max([identity_base[n], *[int(v) for v in observed]])
            identity_new[n] = {**ident[n], "high": int(hi)}
    new_stats = _attach_blooms(
        spark, table_dir, prev_m if versions else None, new_files, new_stats
    )
    return _commit_append_files(
        spark,
        table_dir,
        new_files,
        sig,
        new_stats,
        allow_schema_evolution,
        extra=extra,
        validated_constraints=entry_cons,
        mapping=mapping,
        partition_by=partition_by,
        identity_base=identity_base,
        identity_update=identity_new,
        staged_path=data_path,
        unique_check=(uniq, entry_files),
        txn=txn,
    )


def commit_overwrite(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    extra: dict | None = None,
) -> int:
    """Replace the table contents as a new snapshot (old versions remain
    readable until vacuumed). On a version race this ABORTS instead of
    retrying — an overwrite validated against version n must not blindly
    clobber a concurrent n+1 (same rule as Delta's WriteSerializable).
    CHECK constraints carry through and are enforced on the replacement
    rows before any data lands.

    Column mapping RESETS here: the overwrite's files are a complete fresh
    physical layout written under the new frame's own (logical) names, so
    the new manifest carries no colmap — older versions keep their own
    mapping for time travel.

    PARTITIONING: inherited from the table by default; an explicit
    ``partition_by`` re-lays the whole table (the one operation allowed to
    change it — the overwrite rewrites every file anyway). Pass ``[]`` to
    drop partitioning."""
    versions = _list_versions(spark, table_dir)
    version = (versions[-1] if versions else 0) + 1
    prev_m = _read_manifest(spark, table_dir, versions[-1]) if versions else None
    cons = prev_m.get("constraints", {}) if prev_m else {}
    if partition_by is None:
        partition_by = prev_m.get("partition_by") if prev_m else None
    partition_by = partition_by or None  # [] normalizes to unpartitioned
    sig = _schema_sig(df)
    if partition_by:
        missing = [c for c in partition_by if c not in {n for n, _ in sig}]
        if missing:
            raise KeyError(
                f"commit_overwrite: partition column(s) {missing} not in "
                f"the frame's schema {[n for n, _ in sig]}"
            )
    _validate_constraints(df, cons, "commit_overwrite")
    # an overwrite REPLACES the table, so batch-internal uniqueness IS the
    # complete unique-key check
    _validate_unique_batch(
        df, prev_m.get("unique_keys", {}) if prev_m else {}, "commit_overwrite"
    )
    data_path = _write_data(
        df, table_dir, f"v{version:05d}-{uuid.uuid4().hex[:12]}",
        partition_by=partition_by,
    )
    files = _data_files(spark, data_path)
    manifest = {
        "version": version,
        "op": "overwrite",
        "files": files,
        "schema": sig,
    }
    if partition_by:
        manifest["partition_by"] = partition_by
    if cons:
        manifest["constraints"] = cons
    if prev_m and prev_m.get("bloom"):
        # bloom indexing is a table property — it survives the rewrite
        # (file_blooms skips spec columns absent from the new layout)
        manifest["bloom"] = prev_m["bloom"]
    # generated rules, unique keys, clustering, identity specs, named
    # refs, and txn idempotence cursors survive an overwrite (Delta keeps
    # table metadata across mode=overwrite; tags point at VERSIONS, which
    # outlive the rewrite; a stamp dropped here would let a scheduler
    # retry re-apply its batch)
    for k in ("generated", "unique_keys", "clustering", "refs", "txns"):
        if prev_m and prev_m.get(k):
            manifest[k] = prev_m[k]
    ident = prev_m.get("identity", {}) if prev_m else {}
    for n, spec in ident.items():
        if n not in {s[0] for s in sig}:
            raise ValueError(
                f"commit_overwrite: {table_dir} declares identity column "
                f"{n!r}; an overwrite must carry it explicitly (or "
                "drop_identity_column first) — this path does not mint ids"
            )
        if spec.get("mode", "always") == "always":
            raise ValueError(
                f"commit_overwrite: column {n!r} is GENERATED ALWAYS AS "
                f"IDENTITY at {table_dir}; overwrites cannot supply it "
                "(declare mode='default' to allow explicit values)"
            )
    stat_keys = sorted(set(stats_cols or []) | set(partition_by or []) | set(ident))
    new_stats = _file_stats(spark, files, stat_keys) if stat_keys else {}
    new_stats = _attach_blooms(spark, table_dir, prev_m, files, new_stats)
    if ident:
        # watermark only moves up: old versions' ids stay reserved so a
        # post-overwrite append can never re-mint a historical id
        new_ident = {}
        for n, spec in ident.items():
            observed = [
                int(s[n][1]) for s in new_stats.values()
                if s.get(n) and s[n][1] is not None
            ]
            new_ident[n] = {**spec, "high": max([spec["high"], *observed])}
        manifest["identity"] = new_ident
    if new_stats:
        manifest["stats"] = new_stats
    if extra:
        manifest.update(extra)
    # row tracking: an overwrite replaces every row — all ids are fresh
    # (Delta's non-preserving semantics); the watermark stays monotonic
    _alloc_row_ids(spark, prev_m, manifest, files)
    if not _try_commit(spark, table_dir, version, manifest):
        raise RuntimeError(
            f"commit_overwrite: version {version} was committed concurrently at "
            f"{table_dir}; re-read the table and retry the overwrite"
        )
    return version


def commit_replace_where(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    where: str,
    prune_where: tuple | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Delta's ``replaceWhere``: atomically replace exactly the rows
    matching ``where`` with ``df`` — the idempotent-backfill verb
    (recompute one day/partition and swap it in) between full
    ``commit_overwrite`` (rewrites everything) and ``merge_snapshot``
    (needs keys). The reference's daily job is precisely this shape: each
    run re-lands one ``transaction_date`` slice of the curated fact table
    (reference flows.py:314, data_processing.py:217) — here it becomes one
    atomic, time-travelable commit instead of a directory swap.

    Contract (same as Delta):
    - every row of ``df`` MUST satisfy ``where`` (fail-loud probe before
      any data lands) — otherwise the commit would smuggle rows outside
      the declared replacement scope and a retry would not be idempotent;
    - rows matching ``where`` are removed, ``df``'s rows are inserted, in
      ONE commit (op='replace_where', a data change with CDC preimages +
      postimages persisted per-commit);
    - file targeting is delete's two-stage shape: ``prune_where=(col, lo,
      hi)`` drops provably-clean files from the manifest stats alone, then
      an empirical per-file probe (predicate pushed to parquet) keeps only
      files truly holding matching rows — untouched files carry into the
      new manifest VERBATIM, stats included. At 100 TB a daily backfill
      rewrites that day's files, never the other ~365.
    - overwrite-class concurrency: the rewrite depends on what was read,
      so a version race ABORTS (rewrite dir becomes vacuum debris).
    """
    from pyspark.sql import functions as F

    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    sig = m.get("schema")
    new_sig = _schema_sig(df)
    if sig is not None and sig != new_sig:
        raise ValueError(
            f"commit_replace_where: schema drift at {table_dir} — table has "
            f"{sig}, replacement has {new_sig} (replace_where does not evolve "
            "schemas)"
        )
    # the replaceWhere contract: every incoming row inside the scope
    outside = df.filter(f"NOT ({where})").limit(1).collect()
    if outside:
        raise ValueError(
            f"commit_replace_where: replacement row falls outside the "
            f"predicate {where!r}: {outside[0].asDict()}"
        )
    _validate_constraints(df, m.get("constraints", {}), "commit_replace_where")
    files = m["files"]
    stats = m.get("stats", {})
    dv_files = m.get("dv_files", [])
    colmap, _ = _mapping_of(m)
    candidates = files
    if prune_where is not None:
        pc, plo, phi = prune_where
        candidates = _prune_by_stats(files, stats, (_phys(colmap, pc), plo, phi))
    # empirical probe: only files truly holding in-scope rows rewrite
    touched: list[str] = []
    removed = None
    if candidates:
        matched_meta = _read_with_dvs(
            spark, candidates, sig, dv_files, keep_meta=True, colmap=colmap
        ).filter(where)
        probe = matched_meta.groupBy("__p").agg(F.count(F.lit(1)).alias("n")).collect()

        hit = {_normpath(r["__p"]) for r in probe}
        touched = [f for f in candidates if _normpath(f) in hit]
    touched_set = set(touched)
    untouched = [f for f in files if f not in touched_set]
    rewrite_files: list[str] = []
    if touched:
        survivors = _read_with_dvs(
            spark, touched, sig, dv_files, colmap=colmap
        ).filter(f"NOT ({where})")
        rewrite_path = _write_data(
            _to_physical(survivors, colmap),
            table_dir,
            f"v{base_v + 1:05d}-replace-{uuid.uuid4().hex[:12]}",
            partition_by=_part_keys(m) or None,
        )
        rewrite_files = _data_files(spark, rewrite_path)
        removed = _read_with_dvs(spark, touched, sig, dv_files, colmap=colmap).filter(
            where
        )
    data_path = _write_data(
        _to_physical(df, colmap),
        table_dir,
        f"v{base_v + 1:05d}-replace-new-{uuid.uuid4().hex[:12]}",
        partition_by=_part_keys(m) or None,
    )
    new_files = _data_files(spark, data_path)
    # CDC: preimages of the replaced scope + postimages of the replacement
    changes = df.withColumn("change_type", F.lit("insert"))
    if removed is not None:
        changes = removed.withColumn("change_type", F.lit("delete")).unionByName(
            changes
        )
    cdc_path = _write_data(
        _to_physical(changes, colmap),
        table_dir,
        f"v{base_v + 1:05d}-replace-cdc-{uuid.uuid4().hex[:12]}",
    )
    all_new = rewrite_files + new_files
    cols = (
        [_phys(colmap, c) for c in stats_cols]
        if stats_cols is not None
        else _stats_cols_of(m)
    )
    cols = sorted(set(cols) | set(_part_keys(m)))
    new_stats = _file_stats(spark, all_new, cols) if cols and all_new else {}
    new_stats = _attach_blooms(spark, table_dir, m, all_new, new_stats)
    kept_stats = {f: s for f, s in stats.items() if f in set(untouched)}
    manifest = {
        "version": base_v + 1,
        "op": "replace_where",
        "files": untouched + all_new,
        "schema": sig if sig is not None else new_sig,
        "replaced_where": where,
        "files_rewritten": len(touched),
        "cdc_files": _data_files(spark, cdc_path),
    }
    if dv_files:
        # rewritten files materialized their DVs; untouched keep theirs
        manifest["dv_files"] = dv_files
    if kept_stats or new_stats:
        manifest["stats"] = {**kept_stats, **new_stats}
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    # row tracking: replaced-scope rows get fresh ids (non-preserving
    # rewrite); untouched files keep theirs via kept_stats
    _alloc_row_ids(spark, m, manifest, all_new)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"commit_replace_where: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry (rewrite dir left "
            "as vacuum debris)"
        )
    return base_v + 1


_TABLE_PROPS = (
    "constraints", "table_stats", "generated", "partition_by", "bloom", "identity",
    "unique_keys", "row_tracking", "clustering", "refs", "txns",
)


def _carry_props(
    prev_m: dict | None, manifest: dict, exclude: tuple = ()
) -> dict:
    """Table PROPERTIES travel with every commit: unlike files/stats
    (which each commit recomputes for its own file list), properties like
    CHECK constraints — and ANALYZE's table_stats, which record their own
    version so staleness is visible — are table-level state that would
    silently vanish if any commit built its manifest without them.

    ``exclude`` names properties the CALLER owns this commit (a drop
    commit must not setdefault the just-dropped value back in when the
    drop empties it) — everything else still carries: hand-picked carry
    lists at those sites silently dropped ``partition_by`` when it joined
    the property set, exactly the bug class this parameter removes."""
    for key in _TABLE_PROPS:
        if key in exclude:
            continue
        if prev_m and prev_m.get(key):
            manifest.setdefault(key, prev_m[key])
    return manifest


def _validate_constraints(df: DataFrame, constraints: dict[str, str], ctx: str) -> None:
    """Every CHECK constraint must hold on every row of ``df`` — one
    pushdown-friendly probe per constraint (constraint counts are small;
    violations fail LOUDLY with the first offending row)."""
    from pyspark.sql import functions as F

    for name, expr in (constraints or {}).items():
        bad = df.filter(~F.expr(expr)).limit(1).collect()
        if bad:
            raise ValueError(
                f"{ctx}: CHECK constraint {name!r} ({expr}) violated, e.g. "
                f"{bad[0].asDict()}"
            )


def _validate_unique_batch(df: DataFrame, uniq: dict, ctx: str) -> None:
    """No two rows of ``df`` may share a declared unique key — one
    partial-agg probe per key (groupBy the key columns, any count > 1
    fails loudly with the offending key)."""
    from pyspark.sql import functions as F

    for name, cols in (uniq or {}).items():
        dup = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            d = dup[0].asDict()
            raise ValueError(
                f"{ctx}: unique key {name!r} {tuple(cols)} violated within "
                f"the batch, e.g. {tuple(d[c] for c in cols)} x{d['__n']}"
            )


def set_unique_key(
    spark: SparkSession, table_dir: str, cols: list[str], name: str = "uk"
) -> int:
    """Declare an ENFORCED unique key: from this commit on, appends
    validate both batch-internal uniqueness and batch-vs-table collisions
    BEFORE any data lands — dedup-on-ingest without a MERGE, the
    idempotent-by-key ingest contract. Goes beyond Delta, whose PRIMARY
    KEY/UNIQUE constraints are informational (not enforced); the cost is
    one key-range-narrowed probe of the table per append (the probe rides
    ``skip_where`` manifest pruning, so an append touching one day's keys
    scans that key range's files, not the table). The EXISTING data must
    already be unique (validated here). Scope (documented, like
    identity): enforcement covers the append path; MERGE preserves
    uniqueness by construction ONLY when its merge keys are a subset of
    each declared unique key's columns (the result is unique on the merge
    keys, hence on any column set containing them) — merge_snapshot
    refuses any other key set on a unique-key table; replaceWhere/overwrite
    validate only batch-internal uniqueness (an overwrite replaces the
    table, so that IS the full check); the streaming append sink and the
    pure-Python DataSource writer fail loudly on unique-key tables."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    sig_names = [n for n, _ in (m.get("schema") or [])]
    missing = [c for c in cols if c not in sig_names]
    if missing:
        raise KeyError(
            f"set_unique_key: column(s) {missing} not in {table_dir}'s "
            f"schema {sig_names}"
        )
    _validate_unique_batch(
        read_snapshot(spark, table_dir, version=base_v),
        {name: list(cols)},
        "set_unique_key",
    )
    manifest = {
        "version": base_v + 1,
        "op": "set_unique_key",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
        "unique_keys": {**m.get("unique_keys", {}), name: list(cols)},
    }
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest, exclude=("unique_keys",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"set_unique_key: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def drop_unique_key(spark: SparkSession, table_dir: str, name: str = "uk") -> int:
    """Un-declare a unique key (data untouched; only enforcement stops)."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    uniq = dict(m.get("unique_keys", {}))
    if name not in uniq:
        raise KeyError(f"no unique key {name!r} at {table_dir} (have {sorted(uniq)})")
    del uniq[name]
    manifest = {
        "version": base_v + 1,
        "op": "drop_unique_key",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
    }
    if uniq:
        manifest["unique_keys"] = uniq
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest, exclude=("unique_keys",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"drop_unique_key: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def enable_row_tracking(spark: SparkSession, table_dir: str) -> int:
    """Delta ROW TRACKING parity: give every row a unique, stable 64-bit
    ``_row_id``.  Ids are POSITIONAL — each data file gets a base row id
    and a row's id is base + its parquet ``_metadata.row_index`` (stable
    because data files are immutable) — so enabling costs ONE metadata
    commit assigning bases to the existing files (row counts come from
    the recorded ``__rows`` stats when present, else one count pass); no
    data is rewritten.  Read ids back with
    ``read_snapshot(..., with_row_ids=True)``.

    Stability contract (exactly Delta's):
    - ids survive every metadata commit, appends, and merge-on-read
      (``mode='dv'``) DML — the files don't change;
    - OPTIMIZE / REORG rewrites PRESERVE ids by materializing a physical
      ``_row_id`` column into the compacted files (required: they are
      ``data_change=false``, so row identity must be indistinguishable
      across them);
    - data-change rewrites (DELETE/UPDATE/MERGE rewrite mode,
      replaceWhere, overwrite) assign FRESH ids to the rows they rewrite
      — Delta's non-preserving-operation semantics (a rewrite is
      delete + re-insert); untouched files keep their ids.

    The ``row-tracking`` writer feature is stamped so engines that cannot
    maintain the allocation refuse to write (the pure-Python DataSource
    writer does — commit through the JVM path).

    Requires a recorded schema (every DML-created table has one).
    Idempotent: enabling an enabled table returns the current version."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    if _rt_of(m):
        return base_v
    if not m.get("schema"):
        raise ValueError(
            f"enable_row_tracking: {table_dir} has no recorded schema — "
            "row-id reads project by explicit schema; commit through "
            "commit_append first"
        )
    _names = [n for n, _ in m["schema"]]
    _, _used = _mapping_of(m)
    if "_row_id" in _names or (_used and "_row_id" in _used):
        raise ValueError(
            f"enable_row_tracking: {table_dir} already has a `_row_id` "
            "column — row tracking reserves that name for the "
            "engine-maintained id (reads would project a duplicate, "
            "ambiguous column); rename_snapshot_column it first"
        )
    files = m["files"]
    stats = {f: dict(s) for f, s in (m.get("stats") or {}).items()}
    missing = [f for f in files if (stats.get(f) or {}).get("__rows") is None]
    counts = _file_row_counts(spark, missing) if missing else {}
    nxt = 0
    for f in files:
        n = int(counts.get(f, (stats.get(f) or {}).get("__rows", 0)))
        stats[f] = {**stats.get(f, {}), "__rows": n, "__base_row_id": nxt}
        nxt += n
    manifest = {
        "version": base_v + 1,
        "op": "set_row_tracking",
        "data_change": False,
        "files": files,
        "schema": m.get("schema"),
        "row_tracking": {"next": nxt},
    }
    if stats:
        manifest["stats"] = stats
    if m.get("dv_files"):
        manifest["dv_files"] = m["dv_files"]
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"enable_row_tracking: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def set_check_constraint(
    spark: SparkSession, table_dir: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT ... CHECK parity: record a SQL boolean
    ``expr`` every future write-class commit must satisfy (appends,
    overwrites, merges, updates — violations fail BEFORE any data lands).
    Exactly Delta's contract: the EXISTING table must already satisfy the
    constraint (validated here, one pushdown scan), and the constraint
    rides the manifest so every writer sees it. The commit is
    data_change=false (no row changed) — invisible to incremental
    consumers. Version races abort."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    _validate_constraints(
        read_snapshot(spark, table_dir, version=base_v),
        {name: expr},
        "set_check_constraint",
    )
    # build the manifest EXPLICITLY from table-level state — copying the
    # previous manifest would leak its per-commit keys (cdc_files would
    # make the change feed re-deliver the prior commit's rows here)
    manifest = {
        "version": base_v + 1,
        "op": "set_constraint",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
        "constraints": {**m.get("constraints", {}), name: expr},
    }
    if m.get("stats"):
        manifest["stats"] = m["stats"]
    if m.get("dv_files"):
        manifest["dv_files"] = m["dv_files"]
    _carry_props(m, manifest)  # carries table_stats; constraints set above win
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"set_check_constraint: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def drop_check_constraint(spark: SparkSession, table_dir: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT parity (data_change=false commit)."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    cons = dict(m.get("constraints", {}))
    if name not in cons:
        raise KeyError(f"no CHECK constraint {name!r} at {table_dir} (have {sorted(cons)})")
    del cons[name]
    manifest = {
        "version": base_v + 1,
        "op": "drop_constraint",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
    }
    if cons:
        manifest["constraints"] = cons
    if m.get("stats"):
        manifest["stats"] = m["stats"]
    if m.get("dv_files"):
        manifest["dv_files"] = m["dv_files"]
    # constraints excluded: carrying them would setdefault the
    # just-dropped set back in when this drop empties it
    _carry_props(m, manifest, exclude=("constraints",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"drop_check_constraint: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def set_bloom_filter(
    spark: SparkSession,
    table_dir: str,
    cols: list[str],
    m_bits: int = 2**20,
    k: int = 5,
    backfill: bool = False,
) -> int:
    """Declare per-file BLOOM FILTER indexing on ``cols`` (Delta's
    ``CREATE BLOOMFILTER INDEX`` parity): every later write-class commit
    indexes its new files in one scan over all bloom columns, and
    ``read_snapshot(point_where=...)`` prunes on the result
    (see sources/bloom.py for the full design). The spec records PHYSICAL
    names so it survives renames. Like Delta, existing files are NOT
    indexed retroactively by default — they are always read until a
    rewrite (OPTIMIZE) covers them — but ``backfill=True`` indexes the
    current file list right here, in this commit (one column-pruned
    scan), which Delta cannot do. Metadata-only commit; races abort."""
    from . import bloom as _bl

    if m_bits <= 0 or m_bits % 8 or k <= 0:
        raise ValueError("set_bloom_filter: m_bits must be a positive "
                         f"multiple of 8 and k positive (got {m_bits}, {k})")
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    colmap, _ = _mapping_of(m)
    known = {n for n, _ in m.get("schema") or []}
    missing = [c for c in cols if c not in known]
    if missing:
        raise KeyError(
            f"set_bloom_filter: column(s) {missing} not in the table schema "
            f"{sorted(known)}"
        )
    spec = {"cols": sorted(_phys(colmap, c) for c in cols), "m": m_bits, "k": k}
    manifest = {
        "version": base_v + 1,
        "op": "set_bloom",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
        "bloom": spec,
    }
    stats = dict(m.get("stats") or {})
    if backfill and m["files"]:
        blooms = _bl.file_blooms(spark, m["files"], spec["cols"], m_bits, k)
        if blooms:
            rel = _write_bloom_sidecar(spark, table_dir, blooms, spec)
            for f, _cols in blooms.items():
                stats[f] = {**stats.get(f, {}), _bl.STATS_KEY: rel}
    if stats:
        manifest["stats"] = stats
    if m.get("dv_files"):
        manifest["dv_files"] = m["dv_files"]
    _carry_props(m, manifest, exclude=("bloom",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"set_bloom_filter: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def fsck_snapshot(
    spark: SparkSession, table_dir: str, repair: bool = False, chain: bool = True
) -> dict:
    """Delta ``FSCK REPAIR TABLE`` parity: find manifest references to
    PHYSICALLY MISSING files (out-of-band deletion, partial restores,
    storage loss) — the failure that otherwise surfaces as a mid-scan
    FileNotFound on some executor hours into a job. Reports
    ``{"missing_files", "missing_dv_files", "missing_bloom_sidecars",
    "repaired"}``; with ``repair=True`` commits one metadata-class fix:

    - missing DATA files drop from the file list (their rows are gone —
      acknowledged data loss, exactly Delta's FSCK semantics);
    - missing BLOOM sidecars drop their stats pointers (pruning-only
      state; the files just lose coverage until a backfill);
    - missing DELETION VECTORS are NEVER repaired-by-drop — removing a
      DV would RESURRECT deleted rows (a correctness inversion, not a
      cleanup); they are reported and repair REFUSES until the operator
      restores the sidecar or rewrites the file (delete mode='rewrite'
      of its range). Fail-loud beats silent un-deletion.

    ``chain=True`` (default) additionally verifies the VERSION-CHAIN
    invariant: every RETAINED version (its commit record still exists)
    must resolve to a manifest — a storage-lost record or a torn
    checkpoint leaves retained versions whose history/CDF/vacuum walks
    raise FileNotFound long after the damage. Unresolvable versions are
    reported as ``unresolvable_versions``; ``repair=True`` EXPIRES them
    (drops their record + checkpoint — acknowledged history loss, the
    same semantics as dropping missing data files), reported as
    ``chain_expired``. Repair REFUSES when the unresolvable version is
    the HEAD (the table needs a restore, there is nothing to repair
    from) or is PINNED by a tag/branch (expiring it would silently break
    the pin — drop the ref explicitly first). Metadata-only cost: one
    checkpoint-bounded resolution per retained version."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    fs, _ = _hadoop_fs(spark, table_dir)
    unresolvable: list[int] = []
    if chain:
        for v in versions[:-1]:  # head already resolved above (fail-loud)
            try:
                _read_manifest(spark, table_dir, v)
            except (FileNotFoundError, ValueError, KeyError):
                unresolvable.append(v)

    def _exists(p: str) -> bool:
        _, jp = _hadoop_fs(spark, p)
        return bool(fs.exists(jp))

    missing = [f for f in m["files"] if not _exists(f)]
    missing_dv = [f for f in m.get("dv_files", []) if not _exists(f)]
    stats = {f: dict(s) for f, s in (m.get("stats") or {}).items()}
    bloom_rels = {
        s["__bloom"] for s in stats.values() if s.get("__bloom")
    }
    missing_bloom = sorted(
        rel for rel in bloom_rels if not _exists(f"{table_dir}/{rel}")
    )
    out = {
        "missing_files": sorted(missing),
        "missing_dv_files": sorted(missing_dv),
        "missing_bloom_sidecars": missing_bloom,
        "unresolvable_versions": sorted(unresolvable),
        "chain_expired": None,
        "repaired": None,
    }
    if repair and unresolvable:
        from . import refs as _refs

        pinned = set(_refs.tags_of(m).values())
        for info in _refs.list_branches(spark, table_dir).values():
            # same range rule as vacuum: a live branch needs every parent
            # RECORD in [base, head] for publish's fast-forward check —
            # expiring one (even an unresolvable one, whose raw record
            # still reads fine) would break the publish
            pinned.update(v for v in versions if v >= info["base_version"])
        stuck = sorted(set(unresolvable) & pinned)
        if stuck:
            raise RuntimeError(
                f"fsck_snapshot: retained version(s) {stuck} at {table_dir} "
                "no longer resolve AND are pinned by a tag or branch — their "
                "manifests are unrecoverable (storage-lost record or torn "
                "checkpoint); drop the pinning ref(s) explicitly, then re-run "
                "repair to expire them"
            )
        for v in unresolvable:
            _, jm = _hadoop_fs(
                spark, f"{table_dir}/{_SNAP_DIR}/{commitlog.commit_name(v)}"
            )
            if fs.exists(jm):
                fs.delete(jm, False)
            for name in (commitlog.ckpt_name(v), commitlog.ckpt_name_legacy(v)):
                _, jck = _hadoop_fs(spark, f"{table_dir}/{_SNAP_DIR}/{name}")
                if fs.exists(jck):
                    fs.delete(jck, False)
        out["chain_expired"] = sorted(unresolvable)
    if repair and missing_dv:
        raise RuntimeError(
            f"fsck_snapshot: {len(missing_dv)} deletion vector(s) missing at "
            f"{table_dir} — dropping a DV would RESURRECT its deleted rows; "
            "restore the sidecar or rewrite the affected files "
            "(delete_snapshot mode='rewrite' over their key range) first"
        )
    if not repair or not (missing or missing_bloom):
        return out
    gone = set(missing)
    kept = [f for f in m["files"] if f not in gone]
    new_stats = {}
    for f, s in stats.items():
        if f in gone:
            continue
        if s.get("__bloom") in missing_bloom:
            s = {k: v for k, v in s.items() if k != "__bloom"}
        if s:
            new_stats[f] = s
    manifest = {
        "version": base_v + 1,
        "op": "fsck",
        "data_change": bool(missing),  # dropped rows ARE a data change
        "files": kept,
        "schema": m.get("schema"),
        "fsck_dropped": len(missing),
        "fsck_unbloomed": len(missing_bloom),
    }
    if new_stats:
        manifest["stats"] = new_stats
    if m.get("dv_files"):
        manifest["dv_files"] = m["dv_files"]
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"fsck_snapshot: version {base_v + 1} was committed concurrently "
            f"at {table_dir}; re-read and retry"
        )
    out["repaired"] = base_v + 1
    return out


def set_partition_spec(
    spark: SparkSession, table_dir: str, cols: list[str]
) -> int:
    """Iceberg PARTITION EVOLUTION (Delta cannot do this): change the
    table's partition spec with ONE metadata commit — zero data rewrite.
    Files written before the change keep their old layout; files written
    after lay out hive-style by the new spec. Reads stay correct because
    partition pruning runs through per-file [min, max] STATS, never
    directory inference: new-spec files prune EXACTLY (value-pure, so
    min == max), old-spec files are kept conservatively until a rewrite
    (OPTIMIZE / DML) re-lays them under the current spec — exactly
    Iceberg's spec-evolution semantics. Pass ``[]`` to unpartition.

    At 100 TB this is the difference between "repartition the table"
    being a metadata statement and being days of I/O (the reference
    re-lays whole zones to change layout, data_processing.py:218)."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    known = {n for n, _ in m.get("schema") or []}
    missing = [c for c in cols if c not in known]
    if missing:
        raise KeyError(
            f"set_partition_spec: column(s) {missing} not in the table "
            f"schema {sorted(known)}"
        )
    manifest = {
        "version": base_v + 1,
        "op": "set_partitioning",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
    }
    if cols:
        manifest["partition_by"] = list(cols)
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest, exclude=("partition_by",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"set_partition_spec: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def set_cluster_columns(
    spark: SparkSession, table_dir: str, cols: list[str], zorder: bool = False
) -> int:
    """Delta LIQUID CLUSTERING parity (``ALTER TABLE ... CLUSTER BY``):
    record ``cols`` as the table's persistent clustering keys. From this
    commit on, every plain ``compact_snapshot`` / ``maintain_snapshot``
    run lays its rewrites out range-sorted (or Z-ordered, with
    ``zorder=True`` and ≥2 cols) on these columns INCREMENTALLY — only
    the sub-target files it was going to rewrite anyway, so nightly
    maintenance clusters the new data without ever re-laying the whole
    table (Delta liquid's core contract vs static ZORDER). A full
    re-layout stays available explicitly (``compact_snapshot(...,
    cluster_by=...)`` or SQL ``OPTIMIZE ... FULL``).

    Advisory layout state, not a protocol feature: readers need nothing,
    and a writer that ignores it only writes less-prunable files —
    correctness never depends on it. Metadata-only commit; races abort."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    known = {n for n, _ in m.get("schema") or []}
    missing = [c for c in cols if c not in known]
    if missing:
        raise KeyError(
            f"set_cluster_columns: column(s) {missing} not in the table "
            f"schema {sorted(known)}"
        )
    if zorder and len(cols) < 2:
        raise ValueError("set_cluster_columns: zorder needs >= 2 columns")
    manifest = {
        "version": base_v + 1,
        "op": "set_clustering",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
        "clustering": {"cols": list(cols), "zorder": bool(zorder)},
    }
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest, exclude=("clustering",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"set_cluster_columns: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def drop_cluster_columns(spark: SparkSession, table_dir: str) -> int:
    """``ALTER TABLE ... CLUSTER BY NONE``: stop clustering future
    rewrites (existing layout untouched)."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    if not m.get("clustering"):
        raise KeyError(f"no clustering columns declared at {table_dir}")
    manifest = {
        "version": base_v + 1,
        "op": "drop_clustering",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
    }
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest, exclude=("clustering",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"drop_cluster_columns: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def backfill_bloom_filters(spark: SparkSession, table_dir: str) -> int | None:
    """Index every bloom-UNCOVERED file in one metadata-class commit — no
    data rewrite (blooms are sidecars outside the data files, bloom.py).
    Coverage gaps come from files written before ``set_bloom_filter`` (no
    backfill requested then) or by writers that cannot pack bitmaps (the
    pure-Python DataSource) — previously permanently unindexed until some
    DML happened to rewrite them (r8 verdict What's-missing #4). One
    column-pruned scan of exactly the uncovered files; returns the
    committed version, or None when the table has no bloom spec or is
    already fully covered. Version races abort (rerun next tick)."""
    from . import bloom as _bl

    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    spec = m.get("bloom")
    if not spec or not m["files"]:
        return None
    stats = dict(m.get("stats") or {})
    uncovered = [
        f for f in m["files"] if not (stats.get(f) or {}).get(_bl.STATS_KEY)
    ]
    if not uncovered:
        return None
    blooms = _bl.file_blooms(spark, uncovered, spec["cols"], spec["m"], spec["k"])
    rel = _write_bloom_sidecar(spark, table_dir, blooms, spec)
    for f in blooms:
        stats[f] = {**stats.get(f, {}), _bl.STATS_KEY: rel}
    manifest = {
        "version": base_v + 1,
        "op": "bloom_backfill",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
        "stats": stats,
        "bloom_backfilled": len(blooms),
    }
    if m.get("dv_files"):
        manifest["dv_files"] = m["dv_files"]
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"backfill_bloom_filters: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def drop_bloom_filter(spark: SparkSession, table_dir: str) -> int:
    """Un-declare bloom indexing: removes the spec AND every file's
    sidecar pointer (the commit log's stats diff records the drops;
    orphaned sidecar bytes go with the next vacuum)."""
    from . import bloom as _bl

    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    if not m.get("bloom"):
        raise KeyError(f"no bloom filter spec at {table_dir}")
    manifest = {
        "version": base_v + 1,
        "op": "drop_bloom",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
    }
    stats = {
        f: {c: v for c, v in st.items() if c != _bl.STATS_KEY}
        for f, st in (m.get("stats") or {}).items()
    }
    stats = {f: st for f, st in stats.items() if st}
    if stats:
        manifest["stats"] = stats
    if m.get("dv_files"):
        manifest["dv_files"] = m["dv_files"]
    _carry_props(m, manifest, exclude=("bloom",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"drop_bloom_filter: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def _write_bloom_sidecar(
    spark: SparkSession, table_dir: str, blooms: dict, spec: dict
) -> str:
    """Publish one sidecar JSON for a commit's newly-indexed files and
    return its table-relative path (what stats entries point at). The
    name is writer-unique — sidecars never race."""
    from . import bloom as _bl

    rel = f"{_bl.SIDECAR_DIR}/bloom-{uuid.uuid4().hex}.json"
    fs, jp = _hadoop_fs(spark, f"{table_dir}/{rel}")
    out = fs.create(jp, False)
    try:
        out.write(bytearray(_bl.sidecar_payload(blooms, spec["m"], spec["k"])))
    finally:
        out.close()
    return rel


def _attach_blooms(
    spark: SparkSession,
    table_dir: str,
    prev_m: dict | None,
    new_files: list[str],
    new_stats: dict,
) -> dict:
    """When the table declares a bloom spec, index ``new_files`` (one
    job over all bloom columns, ``bloom.file_blooms``) and hang the sidecar
    pointer on each covered file's stats entry under the reserved
    ``__bloom`` key — so coverage rides the segmented log's existing
    stats replay. Called by every JVM write path that lands data files;
    files from engines that can't run this pass (the pure-Python
    DataSource writer) simply stay uncovered and are always read."""
    spec = (prev_m or {}).get("bloom")
    if not spec or not new_files:
        return new_stats
    from . import bloom as _bl

    blooms = _bl.file_blooms(spark, new_files, spec["cols"], spec["m"], spec["k"])
    if not blooms:
        return new_stats
    rel = _write_bloom_sidecar(spark, table_dir, blooms, spec)
    new_stats = dict(new_stats)
    for f in blooms:
        new_stats[f] = {**new_stats.get(f, {}), _bl.STATS_KEY: rel}
    return new_stats


def _prune_by_bloom(
    spark: SparkSession,
    table_dir: str,
    manifest: dict,
    files: list[str],
    point_where: dict,
    colmap: dict | None,
) -> list[str]:
    """Drop files whose bloom bitmaps prove they lack EVERY probed value
    (per column: a file survives if it might contain ANY of the values —
    IN-list semantics, matching ``partition_where``). Uncovered files,
    unindexed columns, unreadable sidecars and None probes all
    conservatively survive: bloom pruning is an optimization, never a
    filter."""
    from . import bloom as _bl

    spec = manifest.get("bloom")
    if not spec:
        return files
    types = {n: t for n, t in manifest.get("schema") or []}
    stats = manifest.get("stats", {})

    def read_bytes(rel: str):
        # unreadable/missing sidecar = no evidence = read the file (a
        # clone carries stats whose refs point at the SOURCE table's
        # _bloom dir — the miss here degrades it to a plain read)
        if commitlog.is_local(table_dir):
            try:
                p = os.path.join(commitlog.localize(table_dir), rel)
                with open(p, "rb") as fh:
                    return fh.read()
            except OSError:
                return None
        try:
            fs, jp = _hadoop_fs(spark, f"{table_dir}/{rel}")
            if not fs.exists(jp):
                return None
            stream = fs.open(jp)
            try:
                return bytes(stream.readAllBytes())
            finally:
                stream.close()
        except Exception:
            return None

    cache = _bl.SidecarCache(read_bytes, key_prefix=table_dir)
    for col, vals in point_where.items():
        pc = _phys(colmap, col)
        if pc not in spec["cols"]:
            continue
        if not isinstance(vals, (list, tuple, set)):
            vals = [vals]
        vals = [v for v in vals if v is not None]
        if not vals:
            continue
        probes = _bl.probe_positions(
            spark, list(vals), types.get(col), spec["m"], spec["k"]
        )
        kept = []
        for f in files:
            rel = stats.get(f, {}).get(_bl.STATS_KEY)
            bm = cache.bitmap(rel, f, pc) if rel else None
            if bm is None or any(_bl.might_contain(bm, ps) for ps in probes):
                kept.append(f)
        files = kept
    return files


def _read_with_dvs(
    spark: SparkSession,
    files: list[str],
    sig: list | None,
    dv_files: list[str],
    keep_meta: bool = False,
    colmap: dict | None = None,
    row_bases: dict[str, int] | None = None,
):
    """Read ``files`` (with the manifest's explicit schema when recorded)
    APPLYING DELETION VECTORS: rows whose (file_path, row_index) appear in
    the table's DV files are anti-joined away — Delta's merge-on-read
    DELETE, built on parquet's ``_metadata.row_index`` (stable because
    data files are immutable). The DV frame rides a broadcast: DVs stay
    tiny relative to data (they hold positions of deleted rows only) and
    compaction materializes them away before they could grow large.

    ``keep_meta=True`` keeps ``__p``/``__i`` (file path, row index)
    visible for callers that need per-file attribution (the DML probes) —
    captured AT THE SCAN, so they stay correct even after joins where
    ``input_file_name()`` would be unreliable.

    With ``colmap`` (column mapping enabled) the files are read by their
    PHYSICAL schema and aliased back to logical names in the scan's first
    projection — everything downstream (DV anti-join, DML probes, user
    predicates) sees logical names only.

    ``row_bases`` (row tracking) = {normalized file path: base row id}:
    the output gains a ``_row_id`` column — the file's materialized
    ``_row_id`` parquet column where present (the explicit-schema read
    yields nulls for files without it — a schema-superset read, no
    mergeSchema footer scan), else base + ``_metadata.row_index``.  Ids
    attach BEFORE the DV anti-join: they are positional in the ORIGINAL
    immutable file, so hidden rows just leave gaps.  The base map rides a
    broadcast (it is |files|-sized — manifest-scale, like the DV frame)."""
    from pyspark.sql import functions as F

    if row_bases is not None and not sig:
        raise ValueError("row-id reads need the manifest's recorded schema")
    if sig:
        ddl = ", ".join(f"`{_phys(colmap, n)}` {t}" for n, t in sig)
        if row_bases is not None:
            ddl += ", `_row_id` long"
        base = spark.read.schema(ddl).parquet(*files)
    else:
        base = spark.read.parquet(*files)
    logical = (
        [F.col(_phys(colmap, n)).alias(n) for n, _ in sig] if colmap and sig else None
    )
    if logical is not None and row_bases is not None:
        logical = logical + [F.col("_row_id")]
    if not dv_files and not keep_meta and row_bases is None:
        return base.select(*logical) if logical is not None else base
    cols = [c for c, _ in sig] if colmap and sig else base.columns
    if colmap and sig and row_bases is not None:
        cols = cols + ["_row_id"]
    with_meta = base.select(
        *(logical if logical is not None else cols),
        F.col("_metadata.file_path").alias("__p"),
        F.col("_metadata.row_index").alias("__i"),
    )
    if row_bases is not None:
        bframe = spark.createDataFrame(
            [(p, int(b)) for p, b in row_bases.items()],
            "__pn string, __base long",
        )
        with_meta = (
            with_meta.withColumn(
                "__pn", F.regexp_replace("__p", r"^[a-zA-Z0-9+.-]+:/+", "/")
            )
            .join(F.broadcast(bframe), "__pn", "left")
            .withColumn(
                "_row_id",
                F.coalesce(F.col("_row_id"), F.col("__base") + F.col("__i")),
            )
            .drop("__pn", "__base")
        )
    if dv_files:
        dv = spark.read.parquet(*dv_files).select(
            F.col("file_path").alias("__p"), F.col("row_index").alias("__i")
        )
        with_meta = with_meta.join(F.broadcast(dv), ["__p", "__i"], "left_anti")
    return with_meta if keep_meta else with_meta.select(*cols)


def _prune_by_stats(files: list[str], stats: dict, skip_where: tuple) -> list[str]:
    """The manifest-level file prune shared by read (``read_snapshot``) and
    write-side DML (``delete_snapshot``): keep only files whose recorded
    [min, max] for ``col`` can intersect [lo, hi] (None = open bound).
    Files without stats always survive — pruning is an optimization,
    never a filter."""
    col, lo, hi = skip_where

    def coerce(bound, stat_sample, side):
        # Align the caller's bound with the recorded stat's JSON type.
        # Any coercion must only ever widen the keep-set, so numeric
        # coercions nudge OUTWARD (lo down, hi up) and anything
        # incomparable reads.
        if bound is None or isinstance(bound, type(stat_sample)):
            return bound
        if isinstance(stat_sample, str) and not isinstance(bound, str):
            # dates/timestamps were recorded as ISO strings, which
            # compare in value order against str(bound)'s same form
            return str(bound)
        if isinstance(stat_sample, (int, float)) and isinstance(
            bound, decimal.Decimal
        ):
            f = float(bound)
            return math.nextafter(f, -math.inf if side < 0 else math.inf)
        return bound

    def keep(f: str) -> bool:
        st = stats.get(f, {}).get(col)
        if not st or st[0] is None:
            return True  # no stats / all-null file: must read
        mn, mx = st
        try:
            clo = coerce(lo, mn, -1)
            chi = coerce(hi, mx, +1)
            if clo is not None and mx < clo:
                return False
            if chi is not None and mn > chi:
                return False
        except TypeError:
            # stat/bound types incomparable (e.g. legacy string stats
            # vs a numeric bound): never prune on evidence we can't
            # read — skipping degrades to a plain full read
            return True
        return True

    return [f for f in files if keep(f)]


def version_at_timestamp(spark: SparkSession, table_dir: str, ts: str) -> int:
    """``TIMESTAMP AS OF`` resolution: the latest version whose
    ``committed_at`` stamp is <= ``ts`` (ISO-8601; naive strings are read
    as UTC). Raises if the table's history starts after ``ts`` — exactly
    Delta's behavior for a too-early timestamp. Unstamped legacy
    manifests (pre-r7) are treated as infinitely old, so they resolve for
    any timestamp."""
    import datetime as _dt

    want = _dt.datetime.fromisoformat(ts)
    if want.tzinfo is None:
        want = want.replace(tzinfo=_dt.timezone.utc)
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    best = None
    for v in versions:
        # committed_at is metadata — verbatim in every raw commit record
        stamp = _read_commit(spark, table_dir, v).get("committed_at")
        at = (
            _dt.datetime.fromisoformat(stamp)
            if stamp
            else _dt.datetime.min.replace(tzinfo=_dt.timezone.utc)
        )
        if at <= want:
            best = v
    if best is None:
        raise ValueError(
            f"no snapshot at {table_dir} committed at or before {ts} "
            f"(history starts later)"
        )
    return best


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    skip_where: tuple | None = None,
    as_of: str | None = None,
    partition_where: dict | None = None,
    point_where: dict | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Read the table at ``version`` (default: latest). Reads exactly the
    manifest's file list — uncommitted/orphaned data is invisible.

    ``with_row_ids=True`` (requires :func:`enable_row_tracking`) adds the
    ``_row_id`` column — each row's stable unique id (base + parquet row
    index, or the file's materialized ``_row_id`` column after an
    OPTIMIZE/REORG rewrite); composes with every pruning/time-travel
    option here.

    ``as_of`` is ``TIMESTAMP AS OF`` time travel (mutually exclusive
    with ``version``): the table as of that wall-clock instant, resolved
    through each manifest's ``committed_at`` stamp.

    ``skip_where=(col, lo, hi)`` is manifest-level DATA SKIPPING (the
    Delta file-stats prune): files whose recorded [min, max] for ``col``
    cannot intersect [lo, hi] (None = open bound) are dropped from the
    read BEFORE Spark ever lists them. Files without recorded stats are
    always read (skipping is an optimization, never a filter) — the
    caller still applies the actual predicate; skipping only shrinks I/O.

    ``partition_where={col: value_or_list, ...}`` is PARTITION PRUNING:
    on a partitioned table every data file holds exactly one value per
    partition column and records it as an exact [v, v] stat, so equality /
    IN-list predicates here keep precisely the named partitions' files —
    Delta's partitionValues prune, before plain stats. (It degrades to a
    conservative stats prune on non-partition columns or on files
    rewritten by a pre-partitioning engine — never a filter.) The caller
    still applies the real predicate for row-level exactness.

    ``point_where={col: value_or_list, ...}`` is BLOOM pruning (Delta's
    bloom filter index; requires :func:`set_bloom_filter`): equality /
    IN-list probes on indexed HIGH-CARDINALITY columns drop every covered
    file whose bitmap proves the value absent — the point-lookup
    complement to [min, max] stats, which such columns defeat. Uncovered
    files always survive; the caller still applies the real predicate
    (bloom false positives pass the prune and are filtered row-level)."""
    if as_of is not None and version is not None:
        raise ValueError("read_snapshot: pass version OR as_of, not both")
    if as_of is not None:
        version = version_at_timestamp(spark, table_dir, as_of)
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot v{v} not found at {table_dir} (have {versions})")
    # Pruning fast path: a pruning read needs only the PROBED stat columns
    # (plus the engine scalars its options touch), so the parquet
    # checkpoint decode — the O(files × stat-columns) term of a cold read
    # — shrinks to O(files × probed columns). The probe columns' physical
    # names come from the version's own RAW commit record (metadata is
    # carried verbatim — one O(columns) read, no file-state resolution).
    prune_keys = None
    if skip_where is not None or partition_where or point_where:
        raw_cm, _ = _mapping_of(_read_commit(spark, table_dir, v))
        prune_keys = set()
        if partition_where:
            prune_keys |= {_phys(raw_cm, c) for c in partition_where}
        if skip_where is not None:
            prune_keys.add(_phys(raw_cm, skip_where[0]))
        if point_where:
            prune_keys |= {_phys(raw_cm, c) for c in point_where}
            prune_keys.add("__bloom")
        if with_row_ids:
            # "__row_ids" must survive the prune: OPTIMIZE/REORG rewrites
            # mark files '__row_ids: materialized' and _rt_bases_for treats
            # a missing marker as a broken row-tracking invariant.
            prune_keys |= {"__rows", "__base_row_id", "__row_ids"}
    manifest = _read_manifest(spark, table_dir, v, stat_keys=prune_keys)
    colmap, _ = _mapping_of(manifest)
    if not manifest["files"]:
        return spark.createDataFrame([], schema="__empty string").limit(0)
    files = manifest["files"]
    if partition_where:
        stats = manifest.get("stats", {})
        for col, vals in partition_where.items():
            pc = _phys(colmap, col)
            if not isinstance(vals, (list, tuple, set)):
                vals = [vals]
            # union of exact [v, v] probes through the one shared pruner:
            # a file survives iff SOME requested value can intersect it
            files = [
                f
                for f in files
                if any(_prune_by_stats([f], stats, (pc, v, v)) for v in vals)
            ]
    if skip_where is not None:
        # stats are keyed by PHYSICAL name; callers skip on logical
        col, lo, hi = skip_where
        files = _prune_by_stats(
            files, manifest.get("stats", {}), (_phys(colmap, col), lo, hi)
        )
    if point_where and files:
        files = _prune_by_bloom(
            spark, table_dir, manifest, files, point_where, colmap
        )
    if skip_where is not None or partition_where or point_where:
        if not files:
            empty = spark.createDataFrame([], schema="__empty string").limit(0)
            sig = manifest.get("schema")
            if sig:
                ddl = ", ".join(f"`{n}` {t}" for n, t in sig)
                return spark.createDataFrame([], schema=ddl)
            return empty
    row_bases = None
    if with_row_ids:
        if not _rt_of(manifest):
            raise ValueError(
                f"read_snapshot: row tracking is not enabled at {table_dir} "
                f"(v{v}) — call enable_row_tracking first"
            )
        row_bases = _rt_bases_for(manifest, files, f"read_snapshot {table_dir} v{v}")
    # The manifest's recorded schema is authoritative: an explicit-schema
    # read gives files written before an evolution their missing columns
    # as null WITHOUT mergeSchema's every-footer scan (the scale-right
    # alternative), and guarantees readers at any version see that
    # version's schema exactly. Deletion vectors, when present, are
    # applied at read (merge-on-read).
    return _read_with_dvs(
        spark, files, manifest.get("schema"), manifest.get("dv_files", []),
        colmap=colmap, row_bases=row_bases,
    )


def consume_appends(
    spark: SparkSession, table_dir: str, cursor_dir: str
) -> tuple[DataFrame | None, int]:
    """Checkpointed incremental consumption — the snapshot log as a batch
    stream source: returns (delta since the cursor, latest version),
    reading ONLY the files appended in between (the snapshot_changes fast
    path), or (None, version) when nothing new committed. Does NOT move
    the cursor: call :func:`advance_cursor` with the returned version
    AFTER the sink succeeds — a consumer that dies in between re-reads the
    same delta (at-least-once; pair with an idempotent sink like
    merge_upsert / merge_additive for exactly-once effect).

    This is incremental ETL without Structured Streaming: a cron-shaped
    job calls it per tick and gets Delta's ``readChangeFeed`` append
    contract from plain manifests. An overwrite inside the unconsumed
    range raises (via snapshot_changes needing key_cols) — the caller must
    resync, just as CDF consumers must on non-append history."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    latest = versions[-1]
    last_seen = cursor_position(spark, cursor_dir)
    if latest <= last_seen:
        return None, last_seen
    if last_seen == 0:
        delta = read_snapshot(spark, table_dir, version=latest)
    else:
        delta = snapshot_changes(spark, table_dir, last_seen, latest).drop("change_type")
    return delta, latest


def cursor_position(spark: SparkSession, cursor_dir: str) -> int:
    """The last table version a consumer acknowledged (0 = nothing yet)."""
    cursor_versions = _list_versions(spark, cursor_dir)
    if not cursor_versions:
        return 0
    # consumed_version is metadata — verbatim in the raw commit record
    return _read_commit(spark, cursor_dir, cursor_versions[-1])["consumed_version"]


def advance_cursor(spark: SparkSession, cursor_dir: str, version: int) -> None:
    """Acknowledge consumption THROUGH ``version``. The cursor is itself a
    tiny snapshot log (one atomic manifest rename per advance), so two
    consumers racing the same cursor cannot both win a version slot."""
    cursor_versions = _list_versions(spark, cursor_dir)
    cursor_v = (cursor_versions[-1] if cursor_versions else 0) + 1
    manifest = {
        "version": cursor_v,
        "op": "cursor",
        "files": [],
        "consumed_version": version,
    }
    if not _try_commit(spark, cursor_dir, cursor_v, manifest):
        raise RuntimeError(f"concurrent consumer advanced the cursor at {cursor_dir}")


def clone_snapshot(
    spark: SparkSession, src_dir: str, dst_dir: str, version: int | None = None
) -> int:
    """SHALLOW (zero-copy) clone — the Delta ``CREATE TABLE ... SHALLOW
    CLONE`` emulation: commit a v1 manifest at ``dst_dir`` referencing the
    SOURCE's data files at ``version`` (default latest). No data moves —
    clone cost is one manifest write regardless of table size, the
    dev/test-against-prod-data primitive. Writes at the clone commit new
    files under the CLONE's own dir (copy-on-write divergence); the
    clone's ``vacuum`` walks only its own data dir, so it can never delete
    source files.

    Caveat (same as Delta's): the SOURCE's vacuum does not know about
    clones — expiring the cloned version at the source deletes files the
    clone still references. Pin the source's retention while clones live.

    Refuses a non-empty destination (clones start at v1)."""
    if _list_versions(spark, dst_dir):
        raise FileExistsError(f"clone destination already has snapshots: {dst_dir}")
    versions = _list_versions(spark, src_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots to clone at {src_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot v{v} not found at {src_dir} (have {versions})")
    src = _read_manifest(spark, src_dir, v)
    manifest = {
        "version": 1,
        "op": "clone",
        "files": src["files"],
        "schema": src.get("schema"),
        "cloned_from": {"table": src_dir, "version": v},
    }
    if src.get("stats"):
        # carry the source's per-file skipping stats — a clone that drops
        # them silently disables skip_where at the clone (ADVICE r6)
        manifest["stats"] = {f: s for f, s in src["stats"].items() if f in set(src["files"])}
    if src.get("dv_files"):
        # DVs are part of the cloned version's read path (dropping them
        # would resurrect deleted rows at the clone)
        manifest["dv_files"] = src["dv_files"]
    # the clone inherits CHECK constraints — but NOT named refs: tags are
    # version pointers into the SOURCE's history, and the clone's history
    # restarts at v1 (a carried tag would resolve to the wrong manifest)
    _carry_props(src, manifest, exclude=("refs", "txns"))
    if src.get("txns"):
        # txn cursors carry (a WAP branch is the parent's continuation —
        # an idempotent writer must keep skipping batches the parent
        # already applied) but their recorded commit versions are in the
        # SOURCE's version space; the clone's history restarts at v1, so
        # re-base every cursor to the clone commit
        manifest["txns"] = {
            app: [1, int(cur[1])] for app, cur in src["txns"].items()
        }
    _carry_mapping(src, manifest)  # … and the column mapping (it references
    # the source's physical files, so it must read them the source's way)
    if not _try_commit(spark, dst_dir, 1, manifest):
        raise RuntimeError(f"clone destination committed concurrently: {dst_dir}")
    return 1


def restore_snapshot(spark: SparkSession, table_dir: str, version: int) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION`` parity: roll the table back
    by committing a NEW snapshot whose file list is the old version's —
    history is preserved (the bad versions stay time-travelable until
    vacuumed), readers flip atomically with the manifest rename, and a
    concurrent commit aborts the restore rather than being clobbered
    (an overwrite-class operation under the WriteSerializable rule)."""
    versions = _list_versions(spark, table_dir)
    if version not in versions:
        raise FileNotFoundError(
            f"snapshot v{version} not found at {table_dir} (have {versions})"
        )
    target = _read_manifest(spark, table_dir, version)
    new_v = versions[-1] + 1
    manifest = {
        "version": new_v,
        "op": "overwrite",
        "files": target["files"],
        "schema": target.get("schema"),
        "restored_from": version,
    }
    if target.get("stats"):
        # the restored version's stats travel with its file list — a
        # restore that drops them disables skip_where (ADVICE r6)
        manifest["stats"] = {
            f: s for f, s in target["stats"].items() if f in set(target["files"])
        }
    if target.get("dv_files"):
        # restoring to a DV-bearing version restores its deletions too
        manifest["dv_files"] = target["dv_files"]
    _carry_props(target, manifest, exclude=("refs", "txns"))
    # restore returns to that version's constraints (consistent with
    # restoring its schema) — but NOT its refs or txn cursors: tags are
    # TABLE-level pointers into history (all still-valid versions), so
    # the CURRENT head's set is the truth — carrying the target's would
    # silently drop every tag set after it, and the next vacuum would
    # expire those tagged versions' files; txn stamps are monotonic
    # idempotence cursors (same rule as the row-id watermark below) —
    # rolling them back would let a scheduler retry re-apply its batch.
    latest_m = _read_manifest(spark, table_dir, versions[-1])
    for k in ("refs", "txns"):
        if latest_m.get(k):
            manifest[k] = latest_m[k]
    _carry_mapping(target, manifest)  # and its column mapping
    rt_t, rt_l = _rt_of(target), _rt_of(latest_m)
    if rt_t or rt_l:
        # the row-id watermark is MONOTONIC across a restore (Delta's
        # rule): ids minted by the rolled-back versions stay reserved, so
        # a post-restore append can never re-mint an id that a
        # still-time-travelable version already gave to a different row
        nxt = max(int((rt_t or {}).get("next", 0)), int((rt_l or {}).get("next", 0)))
        manifest["row_tracking"] = {"next": nxt}
        if not rt_t:
            # restoring to a PRE-ENABLE version: those files never got
            # bases — mint fresh ones above the watermark so with_row_ids
            # reads keep working (the feature, once on, stays on)
            _alloc_row_ids(
                spark, {"row_tracking": {"next": nxt}}, manifest, target["files"]
            )
    if not _try_commit(spark, table_dir, new_v, manifest):
        raise RuntimeError(
            f"restore_snapshot: version {new_v} was committed concurrently at "
            f"{table_dir}; re-read and retry"
        )
    return new_v


def vacuum(
    spark: SparkSession,
    table_dir: str,
    keep_last: int = 1,
    older_than_hours: float | None = None,
    dry_run: bool = False,
) -> int | list[str]:
    """Delete data files referenced ONLY by expired snapshots (and the
    expired manifests, and any orphaned data dirs from crashed commits).
    Returns the number of files deleted. Time travel remains available for
    the ``keep_last`` newest versions.

    ``older_than_hours`` is Delta's RETAIN n HOURS: versions whose
    ``committed_at`` stamp is within the window are retained IN ADDITION
    to ``keep_last`` (retention only ever widens — the latest version is
    always safe). Unstamped legacy manifests count as expired by age.

    ``dry_run=True`` (Delta's VACUUM ... DRY RUN) returns the sorted list
    of data-file/sidecar paths the same call would delete, touching
    NOTHING — the operator's blast-radius check before an aggressive
    retention change."""
    import datetime as _dt

    versions = _list_versions(spark, table_dir)
    if not versions:
        return 0
    keep = set(versions[-max(1, keep_last):])
    if older_than_hours is not None:
        cutoff = _dt.datetime.now(_dt.timezone.utc) - _dt.timedelta(
            hours=older_than_hours
        )
        for v in versions:
            # committed_at is verbatim in every raw commit record
            ts = _read_commit(spark, table_dir, v).get("committed_at")
            if ts is not None and _dt.datetime.fromisoformat(ts) >= cutoff:
                keep.add(v)
    # Named refs pin versions (Iceberg's tag/branch retention): a TAGGED
    # version never expires while the tag lives, and a live BRANCH pins
    # its base version at the parent — the branch's inherited files must
    # stay readable for audit and publish. Lazy import (refs.py imports
    # this module).
    from . import refs as _refs

    for tv in _refs.tags_of(
        _read_manifest(spark, table_dir, versions[-1])
    ).values():
        if tv in versions:
            keep.add(tv)
    for info in _refs.list_branches(spark, table_dir).values():
        # a live branch pins its base AND every parent version after it
        # (Iceberg keeps branch-reachable snapshots): publish_branch must
        # read each interleaved record to prove the fast-forward is valid
        # (refs-only / pure-append), so expiring any of (base, head]
        # during a long audit would leave the branch permanently
        # unpublishable. Bounded by commits since the OLDEST live branch
        # forked — the WAP audit window, not table history.
        base = info["base_version"]
        keep.update(v for v in versions if v >= base)
    # Liveness comparison is SCHEME-NORMALIZED: the JVM writer records
    # file:/x paths, the pure-Python DataSource writer records bare /x —
    # comparing them verbatim deleted LIVE DataSource-written files as
    # orphans (caught by test_maintain_backfills_datasource_written_files).

    live: set[str] = set()
    resolved_keep: dict[int, dict] = {}
    for v, m in _iter_resolved(spark, table_dir, sorted(keep)):
        resolved_keep[v] = m
        live.update(_normpath(f) for f in m["files"])
        # change files (CDF) of retained versions stay readable through
        # snapshot_change_feed; expiring a version expires its feed too,
        # exactly Delta's CDF-vs-VACUUM retention coupling. Deletion
        # vectors are part of a version's read path — same lifetime.
        live.update(_normpath(f) for f in m.get("cdc_files", []))
        live.update(_normpath(f) for f in m.get("dv_files", []))
        # bloom sidecars referenced by any retained version stay live —
        # same lifetime rule as CDF/DV files
        for st in (m.get("stats") or {}).values():
            if st.get("__bloom"):
                live.add(st["__bloom"].rsplit("/", 1)[-1])
    fs_b, jbloom = _hadoop_fs(spark, f"{table_dir}/_bloom")
    if dry_run:
        would: list[str] = []
        fs_dr, jdata_dr = _hadoop_fs(spark, f"{table_dir}/data")
        if fs_dr.exists(jdata_dr):
            for d in fs_dr.listStatus(jdata_dr):
                it = fs_dr.listFiles(d.getPath(), True)
                while it.hasNext():
                    f = it.next()
                    if str(f.getPath().getName()).endswith(".parquet"):
                        p = _normpath(str(f.getPath().toString()))
                        if p not in live:
                            would.append(p)
        if fs_b.exists(jbloom):
            for s in fs_b.listStatus(jbloom):
                if str(s.getPath().getName()) not in live:
                    would.append(_normpath(str(s.getPath().toString())))
        return sorted(would)
    if fs_b.exists(jbloom):
        for s in fs_b.listStatus(jbloom):
            if str(s.getPath().getName()) not in live:
                fs_b.delete(s.getPath(), False)
    fs, jdata = _hadoop_fs(spark, f"{table_dir}/data")
    deleted = 0
    if fs.exists(jdata):
        for d in fs.listStatus(jdata):
            # recursive: partitioned batches nest under __pp_<col>=<val>/
            parquet = []
            it = fs.listFiles(d.getPath(), True)
            while it.hasNext():
                f = it.next()
                if str(f.getPath().getName()).endswith(".parquet"):
                    parquet.append((f, _normpath(str(f.getPath().toString()))))
            if not any(p in live for _, p in parquet):
                # whole batch dir is dead (incl. orphans from crashed
                # commits, whose _SUCCESS markers are junk too)
                fs.delete(d.getPath(), True)
                deleted += len(parquet)
                continue
            for f, p in parquet:
                if p not in live:
                    fs.delete(f.getPath(), False)
                    deleted += 1
    # Expiring commit records must not strand retained DELTA records
    # without a base. The kept set is NOT always a contiguous tail —
    # tag/branch pinning (refs.py) keeps isolated old versions — so walk
    # the kept versions ascending and materialize a checkpoint at every
    # one whose chain down to the PREVIOUS kept version crosses an
    # expired record (a kept version contiguous with its kept
    # predecessor resolves from it by induction; v1 is self-contained).
    min_keep = min(keep)
    expired = [v for v in versions if v not in keep]
    expired_set = set(expired)
    has_ckpt, _rd = _ckpt_io(spark, table_dir)

    def _write_ckpt_at(v: int, m: dict) -> None:
        if commitlog.is_local(table_dir):
            commitlog.write_ckpt_local(
                os.path.join(commitlog.localize(table_dir), _SNAP_DIR), v, m
            )
            return
        _, jck = _hadoop_fs(
            spark, f"{table_dir}/{_SNAP_DIR}/{commitlog.ckpt_name(v)}"
        )
        out = fs.create(jck, False)
        try:
            out.write(bytearray(commitlog.encode_ckpt(m)))
        finally:
            out.close()

    if expired:
        lower = 0
        for v in sorted(keep):
            chain_broken = any(e in expired_set for e in range(lower + 1, v))
            if chain_broken and not has_ckpt(v) and v in resolved_keep:
                _write_ckpt_at(v, resolved_keep[v])
            lower = v
    for v in expired:
        _, jm = _hadoop_fs(
            spark, f"{table_dir}/{_SNAP_DIR}/{commitlog.commit_name(v)}"
        )
        fs.delete(jm, False)
        # the expired version's checkpoint (if any, either format)
        # expires with it
        for name in (commitlog.ckpt_name(v), commitlog.ckpt_name_legacy(v)):
            _, jck = _hadoop_fs(spark, f"{table_dir}/{_SNAP_DIR}/{name}")
            if v != min_keep and fs.exists(jck):
                fs.delete(jck, False)
    return deleted


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """CDC between two snapshot versions: the rows a downstream consumer
    must apply to move from ``v_from`` to ``v_to`` (default: latest).
    Output = the table's columns plus ``change_type`` in
    {'insert', 'update', 'delete'} (update/delete rows carry the NEW and
    OLD values respectively).

    Fast path — the one that matters at 100 TB: when every commit in
    (v_from, v_to] is an APPEND, the change set is exactly the data files
    added after v_from (manifest file-list difference). Those files are
    read directly — no join, no scan of the base table, cost proportional
    to the delta alone. This is the incremental-consumption contract
    Delta's CDF/Iceberg's incremental reads provide, recovered from plain
    manifests.

    General path (any overwrite in the range): requires ``key_cols``; the
    two snapshots meet in ONE co-partitioned full-outer hash join on the
    key, and rows classify as insert (no old), delete (no new), or update
    (both present, non-key columns differ under null-safe struct
    comparison). Keys must be unique per snapshot — the same contract as
    tables.merge_upsert.

    Beyond-reference extension (the reference's Dask ETL re-reads whole
    zones; ReadMe.md:99 defers incremental processing to future work)."""
    from pyspark.sql import functions as F

    versions = _list_versions(spark, table_dir)
    v_to = versions[-1] if v_to is None else v_to
    for v in (v_from, v_to):
        if v not in versions:
            raise FileNotFoundError(f"snapshot v{v} not found at {table_dir} (have {versions})")
    if v_to < v_from:
        raise ValueError(f"v_to={v_to} precedes v_from={v_from}")
    in_range = sorted(v for v in versions if v_from < v <= v_to)
    resolved = dict(_iter_resolved(spark, table_dir, [v_from] + in_range))
    manifests = {v: resolved[v] for v in in_range}
    # Fast-path eligible commits: appends, plus any commit marked
    # data_change=false (compaction) — those rewrite the file LAYOUT
    # without changing row content, so incremental consumers must see them
    # as zero-delta rather than being forced onto the keyed diff (the same
    # contract as Delta's dataChange=false OPTIMIZE commits). Added files
    # are accumulated per-commit from appends only; a compacted-away file
    # still exists on disk until vacuumed, so reading it stays valid (the
    # same vacuum-vs-CDF retention caveat as Delta).
    # (add-only publish_branch commits — WAP merges with no branch-side
    # deletes — qualify too: their copied files are plain inserts, the
    # same classification snapshot_change_feed and the stream source use)
    prev_set = set(resolved[v_from]["files"])
    prev_dv = set(resolved[v_from].get("dv_files") or [])
    eligible, insert_like = True, {}
    for v in in_range:
        m = manifests[v]
        if m.get("data_change") is False:
            insert_like[v] = False
        elif m["op"] == "append" or (
            m.get("op") == "publish_branch"
            and not (prev_set - set(m["files"]))
            and set(m.get("dv_files") or []) == prev_dv
        ):
            insert_like[v] = True
        else:
            eligible = False
            break
        prev_set = set(m["files"])
        prev_dv = set(m.get("dv_files") or [])
    if eligible:
        prev_set = set(resolved[v_from]["files"])
        new_files: list[str] = []
        for v in in_range:
            m = manifests[v]
            cur = m["files"]
            if insert_like[v]:
                new_files.extend(f for f in cur if f not in prev_set)
            prev_set = set(cur)
        if not new_files:
            base = read_snapshot(spark, table_dir, v_to)
            return base.withColumn("change_type", F.lit("insert")).limit(0)
        # read through v_to's recorded schema + column mapping: files are
        # stored under physical names; consumers see v_to's logical view
        m_to = resolved[v_to] if v_to in resolved else resolved[v_from]
        return _read_with_dvs(
            spark, new_files, m_to.get("schema"), [], colmap=_mapping_of(m_to)[0]
        ).withColumn("change_type", F.lit("insert"))
    if not key_cols:
        raise ValueError(
            f"snapshot_changes {table_dir} v{v_from}->v{v_to} crosses an overwrite "
            "commit; row-level diff needs key_cols"
        )
    old = read_snapshot(spark, table_dir, v_from)
    new = read_snapshot(spark, table_dir, v_to)
    val_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *[F.col(c).alias(f"k_{c}") for c in key_cols],
        F.struct(*val_cols).alias("old_vals"),
    )
    n = new.select(
        *[F.col(c).alias(f"k_{c}") for c in key_cols],
        F.struct(*val_cols).alias("new_vals"),
    )
    cond = [o[f"k_{c}"].eqNullSafe(n[f"k_{c}"]) for c in key_cols]
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(o["old_vals"].isNull(), F.lit("insert"))
        .when(n["new_vals"].isNull(), F.lit("delete"))
        .when(~o["old_vals"].eqNullSafe(n["new_vals"]), F.lit("update"))
    )
    picked = F.coalesce(n["new_vals"], o["old_vals"])
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(n[f"k_{c}"], o[f"k_{c}"]).alias(c)
                for c in key_cols
            ],
            *[picked[c].alias(c) for c in val_cols],
            "change_type",
        )
    )


def _stats_cols_of(manifest: dict) -> list[str]:
    """The columns this table has been recording skipping stats for —
    inferred from the manifest so maintenance commits (compact/merge) keep
    skip_where working without the caller re-declaring them. The reserved
    ``__rows`` row-count and ``__bloom`` sidecar-pointer entries are not
    columns."""
    return sorted(
        {
            c
            for st in manifest.get("stats", {}).values()
            for c in st
            if not c.startswith("__")
        }
    )


def _est_plan_bytes(df: DataFrame) -> int:
    """Catalyst's free sizeInBytes estimate for a frame, 0 when the plan
    exposes no stats. Accurate for file-backed/local frames; computed
    frames (joins/aggregates) can be off by orders of magnitude in both
    directions, so callers must treat it as a HINT and bound whatever
    they derive from it (the merge path caps its estimate-derived output
    file count — ADVICE r12/r13)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # plan exposes no stats — size unknown
        return 0


def _file_sizes(spark: SparkSession, files: list[str]) -> dict[str, int]:
    """Per-file byte sizes from FileSystem metadata — |files| driver-side
    status calls, the same manifest-level cost class as reading the log
    itself (never a data scan)."""
    out: dict[str, int] = {}
    for f in files:
        fs, jp = _hadoop_fs(spark, f)
        out[f] = int(fs.getFileStatus(jp).getLen())
    return out


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_file_mb: int = 128,
    stats_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    scope_where: tuple | None = None,
) -> int | None:
    """OPTIMIZE for the snapshot log — bin-pack small files into
    ~``target_file_mb`` rewrites and commit the new layout as a
    REPLACE-class snapshot. This is the job the module header names as the
    100 TB metadata bottleneck: every streaming micro-batch append
    (streams.write_stream_snapshot_append) adds files forever; compaction
    is what keeps the manifest (and task scheduling) bounded.

    Semantics:
    - Files already >= the target are kept verbatim, WITH their recorded
      skipping stats. Only smaller files are rewritten.
    - The rewrite is one distributed ``coalesce`` (no shuffle — compaction
      needs concatenation, not redistribution) into
      ceil(total_small_bytes / target) files; stats for the new files are
      recomputed over the columns the table already tracks (or
      ``stats_cols`` if given) so ``skip_where`` keeps pruning.
    - The commit is marked ``data_change: false`` — ``snapshot_changes`` /
      ``consume_appends`` treat it as zero-delta (Delta's
      dataChange=false contract), so compaction never forces incremental
      consumers onto the keyed diff path.
    - CONFLICT RULE: like overwrite, a compaction validated against
      version n must not clobber a concurrent n+1 — the file list depends
      on what was read, so a lost version race ABORTS (the orphaned
      rewrite dir is vacuum debris) instead of retrying. Time travel to
      pre-compact versions keeps reading the old files until ``vacuum``
      expires them.

    Returns the committed version, or None when there was nothing to do
    (fewer than two sub-target files, or the rewrite wouldn't reduce the
    file count).

    ``cluster_by`` is OPTIMIZE's clustering mode (Delta's ``ZORDER BY``
    for the leading dimension): EVERY file is rewritten — clustering is a
    layout change, not a small-file sweep — range-repartitioned then
    sorted on the given columns, so the new files carry DISJOINT key
    ranges and ``skip_where`` on the cluster key prunes to ~one file per
    probe instead of every file that ever appended a row in the range.
    Costs one range shuffle (plain compaction is a shuffle-free coalesce);
    the cluster columns are added to the recorded stats automatically.
    Multi-column lists linearize (major-to-minor sort) by default —
    pruning is tight on the LEADING column only; pass ``zorder=True`` for
    the true multi-dimensional layout: rows cluster by the bit-interleaved
    Morton key of the cluster columns (reusing ``sources.layout``'s pure
    column-arithmetic bucketize/interleave — no UDFs, one extra min/max
    scan + the same range shuffle), so every file covers a small HYPERCUBE
    and ``skip_where`` prunes on ANY of the cluster columns, exactly
    Delta's ``OPTIMIZE ZORDER BY`` on the log.

    ``scope_where=(col, lo, hi)`` is ``OPTIMIZE ... WHERE``: only files
    whose recorded stats can intersect the interval are candidates (the
    same conservative test as ``skip_where``); everything outside the
    scope carries verbatim, stats included. At 100 TB this is how a
    streaming table compacts TODAY's micro-batch files nightly without
    relisting the other ~365 days; with ``cluster_by`` it scopes the
    clustering rewrite the same way.

    Beyond-reference extension: the reference rewrites whole zones nightly
    (data_processing.py:217), so it never accumulates small files — a
    streaming/incremental lakehouse does, hence OPTIMIZE.
    """
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    colmap, _ = _mapping_of(m)
    files = m["files"]
    target_bytes = target_file_mb * 1024 * 1024
    scoped = files
    if scope_where is not None:
        sc, slo, shi = scope_where
        scoped = _prune_by_stats(
            files, m.get("stats", {}), (_phys(colmap, sc), slo, shi)
        )
    sizes = _file_sizes(spark, files)
    # LIQUID CLUSTERING (set_cluster_columns): with no explicit
    # cluster_by, a declared clustering property turns the ORDINARY
    # small-file sweep into an incremental clustering pass — the files
    # being rewritten anyway come out range-/Z-laid on the clustering
    # keys, so maintenance clusters new data without full re-layouts.
    liquid = False
    if cluster_by is None and m.get("clustering"):
        cluster_by = list(m["clustering"]["cols"])
        zorder = bool(m["clustering"].get("zorder"))
        liquid = True
    if cluster_by and not liquid:
        small = list(scoped)  # explicit clustering rewrites the whole scope
    else:
        small = [f for f in scoped if sizes[f] < target_bytes]
    if len(small) < 2:
        return None
    total_small = sum(sizes[f] for f in small)
    n_out = max(1, -(-total_small // target_bytes))  # ceil
    # liquid reclusters even when the file count wouldn't drop — the
    # value is the layout, not the count (explicit cluster_by likewise)
    if not cluster_by and n_out >= len(small):
        return None
    big = [f for f in files if f not in set(small)]
    sig = m.get("schema")
    dv_files = m.get("dv_files", [])
    # rewriting through the DVs MATERIALIZES them for the rewritten files
    # (their deleted rows are gone for good); kept files still need theirs.
    # Row tracking: OPTIMIZE is data_change=false, so it must PRESERVE row
    # ids — the read attaches each row's id (base + index, or an earlier
    # rewrite's materialized column) and the rewrite writes it as a
    # physical `_row_id` column the explicit-schema readers never see.
    rt_bases = _rt_bases_for(m, small, "compact_snapshot")
    df = _read_with_dvs(
        spark, small, sig, dv_files, colmap=colmap, row_bases=rt_bases
    )
    if cluster_by and zorder and len(cluster_by) >= 2:
        from pyspark.sql import functions as F

        from .layout import _bucketize, zorder_key

        aggs = []
        for c in cluster_by:
            aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
        bounds = df.agg(*aggs)
        buckets_keyed = df.crossJoin(F.broadcast(bounds))
        zbuckets = [
            _bucketize(F.col(c), F.col(f"__min_{c}"), F.col(f"__max_{c}"), 8)
            for c in cluster_by
        ]
        keyed = buckets_keyed.withColumn("__zkey", zorder_key(zbuckets, 8)).drop(
            *[f"__min_{c}" for c in cluster_by],
            *[f"__max_{c}" for c in cluster_by],
        )
        rewritten = (
            keyed.repartitionByRange(n_out, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
    elif cluster_by:
        rewritten = df.repartitionByRange(n_out, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        rewritten = df.coalesce(n_out)
    data_path = _write_data(
        _to_physical(rewritten, colmap),
        table_dir,
        f"v{base_v + 1:05d}-compact-{uuid.uuid4().hex[:12]}",
        partition_by=_part_keys(m) or None,
    )
    new_files = _data_files(spark, data_path)
    cols = (
        [_phys(colmap, c) for c in stats_cols]
        if stats_cols is not None
        else _stats_cols_of(m)
    )
    cols = sorted(set(cols) | set(_part_keys(m)))
    if cluster_by:
        cols = sorted(set(cols) | {_phys(colmap, c) for c in cluster_by})
    new_stats = _file_stats(spark, new_files, cols) if cols else {}
    new_stats = _attach_blooms(spark, table_dir, m, new_files, new_stats)
    kept_stats = {f: s for f, s in m.get("stats", {}).items() if f in set(big)}
    manifest = {
        "version": base_v + 1,
        "op": "replace",
        "data_change": False,
        "files": big + new_files,
        "schema": sig,
        "compacted_from": base_v,
        "files_rewritten": len(small),
    }
    if cluster_by:
        manifest["clustered_by"] = list(cluster_by)
        if zorder and len(cluster_by) >= 2:
            manifest["zorder"] = True
    if dv_files and big:
        manifest["dv_files"] = dv_files  # kept files still need theirs
    # (no kept files -> every DV materialized -> the list drops entirely)
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    if kept_stats or new_stats:
        manifest["stats"] = {**kept_stats, **new_stats}
    _alloc_row_ids(spark, m, manifest, new_files, materialized=True)
    return _commit_rebase_appends(
        spark, table_dir, base_v + 1, manifest, op="compact_snapshot"
    )


def drop_inert_dv_pointers(spark: SparkSession, table_dir: str) -> int | None:
    """Metadata-only housekeeping (r12): drop the manifest's ``dv_files``
    pointer list when NO live data file is referenced by any DV entry.

    MERGE/OPTIMIZE materialize the deletion vectors of every file they
    rewrite but carry the pointer list verbatim (entries for removed
    files are inert by design) — after enough rewrites the whole list is
    inert, yet every read still pays the anti-join against DV rows that
    match nothing. The drop is pure metadata (no data I/O; data_change=
    false); the DV parquet files become vacuum debris once the pre-drop
    versions expire. Returns the committed version, or None when there is
    nothing to drop (no DVs, or some DV still masks a live file — those
    need a real ``reorg_snapshot`` PURGE, which rewrites data)."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    dv_files = m.get("dv_files", [])
    if not dv_files:
        return None

    dv_paths = {
        _normpath(r["file_path"])
        for r in spark.read.parquet(*dv_files)
        .select("file_path")
        .distinct()
        .collect()
    }
    if dv_paths & {_normpath(f) for f in m["files"]}:
        return None  # some DV still masks a live file: purge territory
    manifest = {
        "version": base_v + 1,
        "op": "reorg",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
        "files_rewritten": 0,
    }
    if m.get("stats"):
        manifest["stats"] = m["stats"]
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    return _commit_rebase_appends(
        spark, table_dir, base_v + 1, manifest, op="drop_inert_dv_pointers"
    )


def reorg_snapshot(spark: SparkSession, table_dir: str) -> int | None:
    """Delta's ``REORG TABLE ... APPLY (PURGE)``: physically rewrite
    exactly the files still carrying SOFT-DELETED data, so vacuum can
    reclaim it. Two kinds qualify:

    - files holding ORPHANED PHYSICAL COLUMNS — ``drop_snapshot_column``
      is metadata-only (column mapping stops projecting the physical
      column), so dropped-column bytes stay on disk (and in scan I/O
      footers) until a rewrite; GDPR column erasure needs the purge;
    - files with DELETION-VECTOR entries — ``mode='dv'`` DML hides rows
      at read time; the bytes (and the per-read anti-join) persist until
      the DVs are materialized.

    Everything else carries into the new manifest VERBATIM, stats
    included. The commit is ``data_change=false`` (no row changed —
    incremental consumers see zero delta, same as OPTIMIZE) and
    overwrite-class for races. Returns the committed version, or None
    when no file needs purging.

    Detection cost: one parquet-footer read per manifest file (the same
    driver-side metadata class as ``_file_sizes``; partition columns are
    directory-encoded, so footers are compared against the non-partition
    physical schema) plus one scan of the (tiny by contract) DV files.
    """
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    files = m["files"]
    sig = m.get("schema")
    dv_files = m.get("dv_files", [])
    colmap, _ = _mapping_of(m)
    part_keys = set(_part_keys(m))
    cur_phys = {
        _phys(colmap, n) for n, _ in (sig or []) if n not in part_keys
    }
    if _rt_of(m):
        # `_row_id` is the row-tracking materialization column, not an
        # orphaned physical column — purging it would destroy row ids
        cur_phys.add("_row_id")

    needs: list[str] = []
    if sig is not None:
        import pyarrow.parquet as _pq

        for f in files:
            footer_cols = set(_pq.read_schema(_normpath(f)).names)
            if footer_cols - cur_phys:
                needs.append(f)
    dv_paths: set[str] = set()
    if dv_files:
        dv_paths = {
            _normpath(r["file_path"])
            for r in spark.read.parquet(*dv_files).select("file_path").distinct().collect()
        }
        needs.extend(
            f for f in files if _normpath(f) in dv_paths and f not in set(needs)
        )
    if not needs:
        # nothing to rewrite — but a fully-inert pointer list (every DV
        # entry targets an already-rewritten file) still taxes reads;
        # drop it in a metadata-only commit.
        return drop_inert_dv_pointers(spark, table_dir)
    keep = [f for f in files if f not in set(needs)]
    # the logical read drops orphaned physical columns and applies DVs;
    # writing it back under physical names is precisely the purge.
    # data_change=false => row ids must survive: same materialization as
    # compaction
    rt_bases = _rt_bases_for(m, needs, "reorg_snapshot")
    rewritten = _read_with_dvs(
        spark, needs, sig, dv_files, colmap=colmap, row_bases=rt_bases
    )
    # declared LIQUID CLUSTERING survives the purge: same doctrine as the
    # MERGE write path — a rewrite that's happening anyway comes out
    # range-laid on the cluster columns instead of hash-scattered, count
    # preserved but split past ~128 MB/file
    clus_cols = [
        c
        for c in (m.get("clustering") or {}).get("cols", [])
        if c in rewritten.columns
    ]
    if clus_cols:
        needs_bytes = sum(_file_sizes(spark, needs).values())
        n_out = max(1, len(needs), -(-needs_bytes // _CLUSTER_FILE_BYTES))
        rewritten = rewritten.repartitionByRange(
            n_out, *clus_cols
        ).sortWithinPartitions(*clus_cols)
    data_path = _write_data(
        _to_physical(rewritten, colmap),
        table_dir,
        f"v{base_v + 1:05d}-reorg-{uuid.uuid4().hex[:12]}",
        partition_by=_part_keys(m) or None,
    )
    new_files = _data_files(spark, data_path)
    cols = _stats_cols_of(m)
    cols = sorted(set(cols) | set(_part_keys(m)))
    if clus_cols:
        cols = sorted(set(cols) | {_phys(colmap, c) for c in clus_cols})
    new_stats = _file_stats(spark, new_files, cols) if cols and new_files else {}
    new_stats = _attach_blooms(spark, table_dir, m, new_files, new_stats)
    kept_stats = {f: s for f, s in m.get("stats", {}).items() if f in set(keep)}
    manifest = {
        "version": base_v + 1,
        "op": "reorg",
        "data_change": False,
        "files": keep + new_files,
        "schema": sig,
        "files_rewritten": len(needs),
    }
    if dv_files and dv_paths & {_normpath(f) for f in keep}:
        manifest["dv_files"] = dv_files  # kept files still need theirs
    # (no kept file referenced -> every live DV materialized -> the
    # pointer list drops, so reads stop paying the inert anti-join)
    if kept_stats or new_stats:
        manifest["stats"] = {**kept_stats, **new_stats}
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    _alloc_row_ids(spark, m, manifest, new_files, materialized=True)
    return _commit_rebase_appends(
        spark, table_dir, base_v + 1, manifest, op="reorg_snapshot"
    )


def _refine_touched(
    spark: SparkSession,
    updates: DataFrame,
    key0: str,
    candidates: list[str],
    stats: dict,
    stat_key: str | None = None,
) -> list[str]:
    """Exact per-file containment refinement for merge pruning: among
    interval-passing candidate files, keep only those whose recorded
    [min, max] actually CONTAINS at least one update key — one range join
    of the batch's distinct keys against the (broadcast, |candidates|-row)
    stat table. This is what stops a single outlier insert key from
    widening the batch interval over every file in the table.

    Correctness rule: dropping a candidate here asserts NO update key can
    live in that file, so the comparison must be provably exact — integral
    keys against integer stats, or string keys against string stats.
    Anything else (floats, decimals, date/timestamp columns whose stats
    are re-rendered strings) returns the candidates unchanged: interval
    pruning already errs toward rewriting, never toward losing an update.
    """
    from pyspark.sql import functions as F

    sk = stat_key or key0  # stats are keyed by PHYSICAL name under mapping
    sts = [stats.get(f, {}).get(sk) for f in candidates]
    if not candidates or any(not st or st[0] is None for st in sts):
        return candidates
    dtype = dict(updates.dtypes)[key0]
    vals = [b for st in sts for b in st]
    integral = dtype in ("tinyint", "smallint", "int", "bigint") and all(
        isinstance(b, int) and not isinstance(b, bool) for b in vals
    )
    stringy = dtype == "string" and all(isinstance(b, str) for b in vals)
    if not (integral or stringy):
        return candidates
    t = "bigint" if integral else "string"
    ranges = spark.createDataFrame(
        [(f, st[0], st[1]) for f, st in zip(candidates, sts)],
        f"__f string, __mn {t}, __mx {t}",
    )
    hits = (
        updates.select(F.col(key0).cast(t).alias("__k"))
        .dropDuplicates(["__k"])
        .join(
            F.broadcast(ranges),
            (F.col("__k") >= F.col("__mn")) & (F.col("__k") <= F.col("__mx")),
        )
        .select("__f")
        .distinct()
        .collect()
    )
    hit = {r["__f"] for r in hits}  # Row.__f attr access is reserved
    return [f for f in candidates if f in hit]


def merge_snapshot(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    stats_cols: list[str] | None = None,
    extra: dict | None = None,
    when_matched_update: str | None = None,
    when_matched_delete: str | None = None,
    when_not_matched_insert: str | None = None,
    not_matched_by_source_delete: str | None = None,
    nmbs_prune_where: tuple | None = None,
    drop_source_cols: list[str] | None = None,
) -> int:
    """MERGE INTO as a snapshot commit — the Delta flagship verb (WHEN
    MATCHED UPDATE whole-row, WHEN NOT MATCHED INSERT) expressed natively
    on the log, where ``tables.merge_upsert`` could only stage-and-swap
    hive directories:

    - FILE PRUNING VIA THE LOG'S OWN STATS: only manifest files whose
      recorded [min, max] for ``keys[0]`` can intersect the update batch's
      key range are candidates, and candidates are further refined to the
      files a batch key actually falls inside (one broadcast range join —
      :func:`_refine_touched` — so one outlier insert key cannot widen the
      interval over the whole table); every other file is carried into the
      new manifest VERBATIM, stats included. At 100 TB a merge touching
      one day's keys rewrites that day's files, never the other ~365 — the
      exact job data skipping exists for, reused on the write path.
    - Matched keys take the update's row (updates win; in-batch ties
      resolve by ``order_col`` descending when given), unmatched update
      keys insert. Keys must be unique per snapshot — the same contract as
      tables.merge_upsert.
    - CONFLICT DETECTION: the rewrite depends on what was read, so this is
      an overwrite-class commit — a concurrent commit to the same version
      ABORTS the merge (RuntimeError; rewrite dir becomes vacuum debris).
      Retrying re-reads the log, so racing merges serialize: each
      committed version reflects exactly one merge applied to its
      predecessor.
    - CDC: the commit is op='merge' (a data change), so
      ``snapshot_changes`` across it uses the keyed diff and reports
      exactly the merge's net row delta. The merge ALSO persists its
      per-commit change rows (update postimages + inserts) as CHANGE FILES
      recorded in the manifest (``cdc_files``) — Delta's Change Data Feed
      contract — so :func:`snapshot_change_feed` reads the merge's effect
      at O(|changes|) cost, never a two-snapshot diff. The split is free:
      the merge already knows which update keys matched a touched file.

    CONDITIONAL CLAUSES (Delta's full MERGE surface, all optional — the
    default is the unconditional whole-row upsert above):

    - ``when_matched_delete``: SQL condition over the matched pair
      (source columns as ``s.<col>``, target as ``t.<col>``). Matched
      target rows whose pair satisfies it are DELETED — the CDC-tombstone
      apply pattern (``WHEN MATCHED AND s.op = 'D' THEN DELETE``).
    - ``when_matched_update``: same ``s.``/``t.`` condition; matched pairs
      failing it keep the TARGET row unchanged (e.g. the staleness guard
      ``s.ts > t.ts`` — an out-of-order update never regresses a row).
      Delete wins over update when both conditions hold (Delta's clause
      order with DELETE listed first).
    - ``when_not_matched_insert``: condition over the SOURCE row (plain
      column names); unmatched source rows failing it are dropped (e.g.
      ``op != 'D'`` so a tombstone for an absent key is a no-op).
    - ``not_matched_by_source_delete``: condition over the TARGET row
      (plain names); target rows with NO source key match that satisfy it
      are deleted — one-way sync (``WHEN NOT MATCHED BY SOURCE THEN
      DELETE``). This clause reaches BEYOND the key-overlap file set, so
      it probes the remaining files empirically (predicate pushed down;
      zero-match files still carry verbatim); pass ``nmbs_prune_where=
      (col, lo, hi)`` to prove files clean from manifest stats alone —
      without it the probe scans every file, exactly Delta's cost.
    - ``drop_source_cols``: source-only metadata columns (CDC ``op``
      flags, sequence numbers) consumed by conditions/``order_col`` but
      dropped before any row lands — the source may be WIDER than the
      table without schema evolution.

    Deleted rows land in the change feed as ``change_type='delete'``
    preimages, atomically with the merge's updates + inserts.

    Bootstraps an empty table as a plain first append of the (deduped)
    updates. Returns the committed version.

    Tables with declared LIQUID CLUSTERING (``set_cluster_columns``) get
    their merge output laid out range-sorted on the cluster columns with
    those columns' stats recorded — MERGE maintenance preserves the
    prunable layout instead of hash-scattering it (see the write-path
    comment below).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not keys:
        raise ValueError("merge_snapshot requires at least one key column")
    # ``extra`` keys land verbatim in the manifest — the streaming merge
    # sink stamps its batch id there, atomically with the merge itself
    # updates-side dedup: one winning row per key BEFORE any table I/O
    if order_col is not None:
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc_nulls_last())
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        updates = updates.dropDuplicates(keys)
    clauses = {
        "when_matched_update": when_matched_update,
        "when_matched_delete": when_matched_delete,
        "when_not_matched_insert": when_not_matched_insert,
        "not_matched_by_source_delete": not_matched_by_source_delete,
    }
    clause_mode = any(v is not None for v in clauses.values()) or bool(
        drop_source_cols
    )
    # ``payload`` is what actually lands: the source minus its
    # condition-only metadata columns (CDC op flags, sequence numbers)
    payload_cols = [c for c in updates.columns if c not in (drop_source_cols or [])]
    payload = updates.select(*payload_cols)
    versions = _list_versions(spark, table_dir)
    if not versions:
        boot = payload
        if when_not_matched_insert is not None:
            # empty table: every source row is NOT MATCHED
            boot = updates.filter(when_not_matched_insert).select(*payload_cols)
        # ``extra`` must ride the bootstrap too: streaming sinks stamp
        # their batch id through it, and a dropped stamp would make the
        # FIRST micro-batch silently replayable (double-fold on recovery)
        return commit_append(
            spark, table_dir, boot, stats_cols=stats_cols, extra=extra
        )
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    sig = m.get("schema")
    up_sig = _schema_sig(payload)
    if sig is not None and sig != up_sig:
        raise ValueError(
            f"merge_snapshot: schema drift at {table_dir} — table has {sig}, "
            f"updates have {up_sig} (merge does not evolve schemas; append "
            "with allow_schema_evolution=True first, or name source-only "
            "metadata columns in drop_source_cols)"
        )
    if not clause_mode:
        # survivors are already in-table; only incoming rows need checking
        _validate_constraints(updates, m.get("constraints", {}), "merge_snapshot")
    # ENFORCED unique keys: a keyed upsert leaves the table unique on its
    # merge keys (updates are deduped by them; pruning proves inserts are
    # new key values table-wide), and unique-on-keys implies unique on any
    # unique key whose columns CONTAIN the merge keys. Any other key set
    # could insert duplicate unique-key values through a feature
    # advertised as ENFORCED — refuse loudly instead.
    for uk_name, uk_cols in (m.get("unique_keys") or {}).items():
        if not set(keys) <= set(uk_cols):
            raise ValueError(
                f"merge_snapshot: unique key {uk_name!r} {tuple(uk_cols)} at "
                f"{table_dir} is not preserved by a merge on keys {keys} — "
                "uniqueness survives by construction only when the merge "
                "keys are a subset of every declared unique key's columns; "
                "merge by the unique key, or drop_unique_key first"
            )
    files = m["files"]
    stats = m.get("stats", {})
    colmap, _ = _mapping_of(m)
    key0 = keys[0]
    pkey0 = _phys(colmap, key0)  # stats are keyed by physical name
    # prune with the batch's key range — one 1-row driver agg over the
    # (batch-sized) updates frame, then the same interval test skip_where
    # applies at read time, reused here to bound the WRITE
    bounds = updates.agg(
        F.min(key0).alias("lo"), F.max(key0).alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]

    def overlaps(f: str) -> bool:
        st = stats.get(f, {}).get(pkey0)
        if not st or st[0] is None:
            return True  # no stats: cannot prove the file clean — rewrite
        mn, mx = st
        try:
            if lo is not None and mx < lo:
                return False
            if hi is not None and mn > hi:
                return False
        except TypeError:
            return True
        return True

    touched = [f for f in files if overlaps(f)] if lo is not None else []
    touched = _refine_touched(spark, updates, key0, touched, stats, stat_key=pkey0)
    dv_files = m.get("dv_files", [])
    if not_matched_by_source_delete is not None:
        # NOT MATCHED BY SOURCE reaches beyond the key-overlap set: any
        # file may hold target rows with no source key. Stats-prune what
        # the caller can prove clean, then probe the rest empirically
        # (predicate pushed down) — zero-match files still carry verbatim.
        rest = [f for f in files if f not in set(touched)]
        if nmbs_prune_where is not None:
            nc, nlo, nhi = nmbs_prune_where
            rest = _prune_by_stats(rest, stats, (_phys(colmap, nc), nlo, nhi))
        if rest:
            probe_meta = (
                _read_with_dvs(
                    spark, rest, sig, dv_files, keep_meta=True, colmap=colmap
                )
                .filter(not_matched_by_source_delete)
                .join(
                    F.broadcast(updates.select(*keys).dropDuplicates(keys)),
                    keys,
                    "left_anti",
                )
            )
            probe = (
                probe_meta.groupBy("__p").agg(F.count(F.lit(1)).alias("n")).collect()
            )

            hit = {_normpath(r["__p"]) for r in probe}
            touched = touched + [f for f in rest if _normpath(f) in hit]
    untouched = [f for f in files if f not in set(touched)]
    if clause_mode:
        src_keys = updates.select(*keys).dropDuplicates(keys)
        if touched:
            existing = _read_with_dvs(spark, touched, sig, dv_files, colmap=colmap)
        else:
            # pruning proved no target row can match or NMBS-delete;
            # an empty frame in the table's logical schema keeps one code
            # path (payload sig == table sig was checked above)
            existing = payload.limit(0)
        key_eq = None
        for k in keys:
            t = F.col(f"t.{k}") == F.col(f"s.{k}")
            key_eq = t if key_eq is None else (key_eq & t)
        pairs = existing.alias("t").join(updates.alias("s"), key_eq, "inner")
        tkeys = [F.col(f"t.{k}").alias(k) for k in keys]
        if when_matched_delete is not None:
            kdel = pairs.filter(F.expr(when_matched_delete)).select(*tkeys)
        else:
            kdel = pairs.select(*tkeys).limit(0)
        upd_pred = F.lit(True)
        if when_matched_delete is not None:
            upd_pred = upd_pred & ~F.coalesce(
                F.expr(when_matched_delete), F.lit(False)
            )
        if when_matched_update is not None:
            upd_pred = upd_pred & F.expr(when_matched_update)
        kupd = pairs.filter(upd_pred).select(*tkeys)
        # matched target rows neither deleted nor replaced carry unchanged
        survivors = existing.join(
            kdel.unionByName(kupd).dropDuplicates(keys), keys, "left_anti"
        )
        if not_matched_by_source_delete is not None:
            survivors = (
                survivors.join(
                    src_keys.withColumn("__sk", F.lit(1)), keys, "left"
                )
                .filter(
                    ~(
                        F.col("__sk").isNull()
                        & F.coalesce(
                            F.expr(not_matched_by_source_delete), F.lit(False)
                        )
                    )
                )
                .drop("__sk")
            )
        upd_rows = updates.join(kupd, keys, "left_semi").select(*payload_cols)
        ins_rows = updates.join(
            existing.select(*keys).dropDuplicates(keys), keys, "left_anti"
        )
        if when_not_matched_insert is not None:
            ins_rows = ins_rows.filter(when_not_matched_insert)
        ins_rows = ins_rows.select(*payload_cols)
        landing = upd_rows.unionByName(ins_rows)
        _validate_constraints(landing, m.get("constraints", {}), "merge_snapshot")
        merged = survivors.unionByName(upd_rows.select(*survivors.columns)).unionByName(
            ins_rows.select(*survivors.columns)
        )
        # change feed, Delta CDF vocabulary: update_preimage (the matched
        # target row) AND update_postimage per updated key, inserts,
        # delete preimages — all derived from frames already computed
        # above. Preimages are what make ADDITIVE downstream consumers
        # (incremental.maintain_sum_aggregate) possible: a postimage-only
        # feed cannot subtract the old contribution.
        del_pre = existing.join(kdel.dropDuplicates(keys), keys, "left_semi")
        if not_matched_by_source_delete is not None:
            nmbs_pre = existing.join(src_keys, keys, "left_anti").filter(
                not_matched_by_source_delete
            )
            del_pre = del_pre.unionByName(nmbs_pre)
        upd_pre = existing.join(kupd.dropDuplicates(keys), keys, "left_semi")
        changes = (
            upd_rows.withColumn("change_type", F.lit("update_postimage"))
            .unionByName(
                upd_pre.select(*payload_cols).withColumn(
                    "change_type", F.lit("update_preimage")
                )
            )
            .unionByName(ins_rows.withColumn("change_type", F.lit("insert")))
            .unionByName(
                del_pre.select(*payload_cols).withColumn(
                    "change_type", F.lit("delete")
                )
            )
        )
    elif touched:
        existing = _read_with_dvs(spark, touched, sig, dv_files, colmap=colmap)
        survivors = existing.join(
            updates.select(*keys).dropDuplicates(keys), keys, "left_anti"
        )
        merged = survivors.unionByName(updates.select(*existing.columns))
        # change feed: an update key that matched a touched file is an
        # UPDATE (postimage = the update row, preimage = the matched
        # target row — Delta CDF vocabulary); the rest are INSERTs. Keys
        # outside every touched file are provably absent from the table
        # (that's what the pruning asserts), so the split needs no second
        # table scan.
        matched = existing.select(*keys).dropDuplicates(keys).withColumn(
            "__m", F.lit(1)
        )
        changes = updates.join(matched, keys, "left").select(
            *existing.columns,
            F.when(F.col("__m").isNull(), F.lit("insert"))
            .otherwise(F.lit("update_postimage"))
            .alias("change_type"),
        )
        upd_pre = existing.join(
            updates.select(*keys).dropDuplicates(keys), keys, "left_semi"
        )
        changes = changes.unionByName(
            upd_pre.withColumn("change_type", F.lit("update_preimage"))
        )
    else:
        merged = updates
        changes = updates.withColumn("change_type", F.lit("insert"))
    # LIQUID CLUSTERING on the MERGE write path: the merged frame comes
    # out of key-join shuffles, so without intervention the rewritten +
    # inserted files carry near-full cluster-key ranges and every later
    # ``skip_where`` probe on the cluster key reads ALL of them (the r11
    # finding: ONE text-index maintenance fold degraded a per-term serve
    # from ~1 posting file to every file). When the table declares
    # clustering (set_cluster_columns), the merge output is laid out
    # range-sorted on the cluster columns — a shuffle was being paid
    # anyway, this picks RANGE over round-robin — into ~one file per
    # rewritten file, and the cluster columns join the recorded stats so
    # the new files prune again. Z-order tables linearize here
    # (major-to-minor); OPTIMIZE restores the full Morton layout.
    clus_cols = [
        c
        for c in (m.get("clustering") or {}).get("cols", [])
        if c in merged.columns
    ]
    if clus_cols:
        # output file count: preserve the rewritten-file count (a fold
        # must not collapse a range-laid table into one file), but split
        # once the rewrite volume outgrows ~128 MB/file — repeated folds
        # GROW a clustered table in place, and a count-preserving rewrite
        # would otherwise inflate per-file size forever. Insert volume
        # can't be sized exactly without an action, but the optimizer's
        # sizeInBytes estimate is free and accurate for the common
        # file-backed/local frames (ADVICE r12: without it, a pure-insert
        # merge landed ANY batch in one file); opaque plans degrade to
        # Long.MaxValue, so anything implausible for one fold is treated
        # as unknown — the next fold's rewrite sees the real bytes.
        touched_bytes = sum(_file_sizes(spark, touched).values()) if touched else 0
        est_insert = 0
        if not touched:
            # pure-insert only: forcing the optimizer on the updates plan
            # costs real driver time (it re-optimizes a plan the write
            # then re-plans anyway), so rewriting merges keep the
            # rewrite-derived count and the next fold sees insert bytes
            est_insert = _est_plan_bytes(updates)
            if est_insert > (1 << 40):  # >1 TiB/fold: degenerate estimate
                est_insert = 0
        n_out = max(
            1,
            len(touched),
            -(-(touched_bytes + est_insert) // _CLUSTER_FILE_BYTES),
        )
        if not touched and est_insert:
            # ADVICE r13: Catalyst sizeInBytes for COMPUTED insert frames
            # (joins/aggregates fall back to row-products or padded
            # widths) can overestimate by orders of magnitude, and the
            # 1 TiB gate alone would still let a wrong-by-1000x estimate
            # split a small insert into thousands of near-empty
            # range-sorted files — the opposite failure mode of the r12
            # single-file bug. One fold cannot usefully emit more files
            # than the cluster has write lanes: cap the estimate-derived
            # count at 4x defaultParallelism (layout-only — the next
            # fold's rewrite sees the real bytes and resizes).
            n_out = min(n_out, 4 * spark.sparkContext.defaultParallelism)
        merged = merged.repartitionByRange(
            n_out, *clus_cols
        ).sortWithinPartitions(*clus_cols)
    data_path = _write_data(
        _to_physical(merged, colmap),
        table_dir,
        f"v{base_v + 1:05d}-merge-{uuid.uuid4().hex[:12]}",
        partition_by=_part_keys(m) or None,
    )
    cdc_path = _write_data(
        _to_physical(changes, colmap),
        table_dir,
        f"v{base_v + 1:05d}-merge-cdc-{uuid.uuid4().hex[:12]}",
    )
    new_files = _data_files(spark, data_path)
    cdc_files = _data_files(spark, cdc_path)
    cols = (
        [_phys(colmap, c) for c in stats_cols]
        if stats_cols is not None
        else _stats_cols_of(m)
    )
    cols = sorted(set(cols) | set(_part_keys(m)))
    if clus_cols:
        cols = sorted(set(cols) | {_phys(colmap, c) for c in clus_cols})
    new_stats = _file_stats(spark, new_files, cols) if cols else {}
    new_stats = _attach_blooms(spark, table_dir, m, new_files, new_stats)
    kept_stats = {f: s for f, s in stats.items() if f in set(untouched)}
    manifest = {
        "version": base_v + 1,
        "op": "merge",
        "files": untouched + new_files,
        "schema": sig if sig is not None else up_sig,
        "merged_over": base_v,
        "files_rewritten": len(touched),
        "cdc_files": cdc_files,
    }
    if clause_mode:
        manifest["merge_clauses"] = {k: v for k, v in clauses.items() if v}
    if dv_files:
        # rewritten files materialized their DVs; untouched files still
        # need theirs (entries for removed files are inert)
        manifest["dv_files"] = dv_files
    if kept_stats or new_stats:
        manifest["stats"] = {**kept_stats, **new_stats}
    if extra:
        manifest.update(extra)
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    # row tracking: rewritten/inserted rows get fresh ids (non-preserving
    # rewrite — Delta semantics); untouched files keep theirs
    _alloc_row_ids(spark, m, manifest, new_files)
    return _commit_rebase_appends(
        spark, table_dir, base_v + 1, manifest, op="merge_snapshot"
    )


def delete_snapshot(
    spark: SparkSession,
    table_dir: str,
    where: str,
    prune_where: tuple | None = None,
    stats_cols: list[str] | None = None,
    mode: str = "rewrite",
    point_where: dict | None = None,
) -> int:
    """DELETE FROM ... WHERE as a snapshot commit — with MERGE and
    OPTIMIZE this completes the log's DML triad (UPDATE is a merge whose
    updates are the rewritten rows).

    File targeting is two-stage, exactly Delta's shape:
    1. MANIFEST PRUNE (no I/O): ``prune_where=(col, lo, hi)`` — the same
       interval test as ``read_snapshot``'s skip_where, shared via
       :func:`_prune_by_stats` — drops files whose recorded stats prove
       them clean. The caller asserts the predicate can only match inside
       [lo, hi] (e.g. ``where="ts < '2023-01-01'"`` with
       ``prune_where=("ts", None, "2023-01-01")``); at 100 TB a retention
       delete on a date-ranged table never even LISTS the other ~365 days.
       ``point_where={col: value_or_list}`` is the BLOOM complement for
       equality predicates on indexed high-cardinality keys (the GDPR
       single-subject erasure shape: ``where="uk = 'x'"`` +
       ``point_where={"uk": "x"}`` probes only the ~1 file whose bitmap
       might hold the key); same caller contract, uncovered files
       conservatively survive into stage 2.
    2. EMPIRICAL PROBE (one distributed pass over the survivors): a
       per-file matching-row count with the predicate pushed down to the
       parquet reader — files with zero matches are carried into the new
       manifest VERBATIM, stats included; only files truly holding
       matching rows are rewritten without them. The probe is exact for
       ARBITRARY predicates, which interval reasoning alone cannot be.

    ``where`` is a SQL boolean expression over the table's columns (the
    rows it selects are REMOVED). A no-match delete commits nothing and
    returns the current version (idempotent). Overwrite-class conflict
    rule: a version race aborts (rewrite dir becomes vacuum debris). The
    commit is op='delete' (a data change) so ``snapshot_changes`` across
    it uses the keyed diff and reports the deletions. Returns the
    committed version.

    ``mode='dv'`` is the MERGE-ON-READ delete (Delta's deletion vectors):
    instead of rewriting candidate files, the matching rows' (file path,
    row index) pairs — captured from parquet's ``_metadata.row_index``,
    stable because data files are immutable — are written as a tiny DV
    file and recorded in the manifest; ``read_snapshot`` anti-joins them
    away. Deleting 3 rows from a 128 MB file costs a 3-row write instead
    of a 128 MB rewrite — the scale path for frequent small deletes
    (GDPR erasure, late-event retractions). DVs accumulate across dv
    deletes and are MATERIALIZED (applied and dropped for the rewritten
    files) by the next compaction/rewrite touching those files.
    """
    from pyspark.sql import functions as F

    if mode not in ("rewrite", "dv"):
        raise ValueError(f"delete_snapshot: unknown mode {mode!r}")
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    files = m["files"]
    stats = m.get("stats", {})
    sig = m.get("schema")
    dv_files = m.get("dv_files", [])
    colmap, _ = _mapping_of(m)

    candidates = files
    if prune_where is not None:
        pc, plo, phi = prune_where
        candidates = _prune_by_stats(files, stats, (_phys(colmap, pc), plo, phi))
    if point_where:
        candidates = _prune_by_bloom(
            spark, table_dir, m, candidates, point_where, colmap
        )
    if not candidates:
        return base_v  # stats prove nothing can match
    # probe THROUGH the DVs (an already-deleted row must not re-match);
    # file attribution comes from scan-time metadata, join-safe
    matched_meta = _read_with_dvs(
        spark, candidates, sig, dv_files, keep_meta=True, colmap=colmap
    ).filter(where)
    data_cols = [c for c in matched_meta.columns if c not in ("__p", "__i")]

    if mode == "dv":
        new_dv = matched_meta.select(
            F.col("__p").alias("file_path"), F.col("__i").alias("row_index")
        )
        if new_dv.limit(1).count() == 0:
            return base_v
        dv_path = _write_data(
            new_dv, table_dir, f"v{base_v + 1:05d}-dv-{uuid.uuid4().hex[:12]}"
        )
        cdc_path = _write_data(
            _to_physical(
                matched_meta.select(*data_cols).withColumn(
                    "change_type", F.lit("delete")
                ),
                colmap,
            ),
            table_dir,
            f"v{base_v + 1:05d}-delete-cdc-{uuid.uuid4().hex[:12]}",
        )
        manifest = {
            "version": base_v + 1,
            "op": "delete",
            "mode": "dv",
            "files": files,
            "schema": sig,
            "deleted_where": where,
            "files_rewritten": 0,
            "dv_files": dv_files + _data_files(spark, dv_path),
            "cdc_files": _data_files(spark, cdc_path),
        }
        if stats:
            # per-file [min,max] stay VALID bounds with rows deleted —
            # skipping is conservative, never a filter
            manifest["stats"] = stats
        _carry_props(m, manifest)
        _carry_mapping(m, manifest)
        return _commit_rebase_appends(
            spark, table_dir, base_v + 1, manifest,
            op="delete_snapshot", debris="DV dir",
        )

    probe = matched_meta.groupBy("__p").agg(F.count(F.lit(1)).alias("n")).collect()

    hit = {_normpath(r["__p"]) for r in probe}
    touched = [f for f in candidates if _normpath(f) in hit]
    touched_set = set(touched)
    untouched = [f for f in files if f not in touched_set]  # original order
    if not touched:
        return base_v  # nothing matches: no new commit needed (idempotent)
    survivors = _read_with_dvs(
        spark, touched, sig, dv_files, colmap=colmap
    ).filter(f"NOT ({where})")
    data_path = _write_data(
        _to_physical(survivors, colmap),
        table_dir,
        f"v{base_v + 1:05d}-delete-{uuid.uuid4().hex[:12]}",
        partition_by=_part_keys(m) or None,
    )
    # change feed: the removed rows themselves, persisted per-commit so
    # snapshot_change_feed never re-derives them from a snapshot diff
    removed = _read_with_dvs(
        spark, touched, sig, dv_files, colmap=colmap
    ).filter(where).withColumn("change_type", F.lit("delete"))
    cdc_path = _write_data(
        _to_physical(removed, colmap),
        table_dir,
        f"v{base_v + 1:05d}-delete-cdc-{uuid.uuid4().hex[:12]}",
    )
    new_files = _data_files(spark, data_path)
    cols = (
        [_phys(colmap, c) for c in stats_cols]
        if stats_cols is not None
        else _stats_cols_of(m)
    )
    cols = sorted(set(cols) | set(_part_keys(m)))
    new_stats = _file_stats(spark, new_files, cols) if cols and new_files else {}
    new_stats = _attach_blooms(spark, table_dir, m, new_files, new_stats)
    kept_stats = {f: s for f, s in stats.items() if f in set(untouched)}
    manifest = {
        "version": base_v + 1,
        "op": "delete",
        "files": untouched + new_files,
        "schema": sig,
        "deleted_where": where,
        "files_rewritten": len(touched),
        "cdc_files": _data_files(spark, cdc_path),
    }
    if dv_files:
        # rewritten files materialized their DVs (survivors read through
        # them); untouched files still need theirs — carry the list (the
        # entries for removed files are inert)
        manifest["dv_files"] = dv_files
    if kept_stats or new_stats:
        manifest["stats"] = {**kept_stats, **new_stats}
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    # row tracking: survivor rows live in rewritten files -> fresh ids
    # (non-preserving rewrite); use mode='dv' to preserve ids on delete
    _alloc_row_ids(spark, m, manifest, new_files)
    return _commit_rebase_appends(
        spark, table_dir, base_v + 1, manifest, op="delete_snapshot"
    )


def update_snapshot(
    spark: SparkSession,
    table_dir: str,
    where: str,
    set_exprs: dict[str, str],
    prune_where: tuple | None = None,
    stats_cols: list[str] | None = None,
    mode: str = "rewrite",
    point_where: dict | None = None,
) -> int:
    """UPDATE ... SET as a snapshot commit — the last verb of the DML
    quartet, spelled directly instead of via merge so callers don't have
    to pre-compute postimage rows.

    File targeting is :func:`delete_snapshot`'s two-stage shape (manifest
    interval prune via ``prune_where`` and/or bloom prune via
    ``point_where`` — see delete's docstring — then the exact per-file
    matching probe); touched files are rewritten with every ``set_exprs`` column
    replaced WHERE the predicate holds — all SET expressions evaluate
    against the ORIGINAL row (standard UPDATE semantics: swap-style
    ``{"a": "b", "b": "a"}`` is well-defined) and are cast back to the
    column's recorded type so the table schema never drifts. Untouched
    files carry verbatim, stats included; rewritten files get refreshed
    stats. Update postimages persist as change files (``cdc_files``) for
    :func:`snapshot_change_feed`. No-match updates are version-preserving
    no-ops; version races abort (overwrite-class).

    ``mode='dv'`` is the merge-on-read UPDATE (Delta's DV-based update):
    the matched PREIMAGE rows are deletion-vectored away and their
    postimages APPEND as a new small file — updating 3 rows in a 128 MB
    file costs a 3-row DV plus a 3-row append instead of a 128 MB
    rewrite. Original files (and their stats) carry verbatim; the next
    rewrite/compaction touching them materializes the DVs."""
    from pyspark.sql import functions as F

    if mode not in ("rewrite", "dv"):
        raise ValueError(f"update_snapshot: unknown mode {mode!r}")
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    files = m["files"]
    stats = m.get("stats", {})
    sig = m.get("schema")
    dv_files = m.get("dv_files", [])
    colmap, _ = _mapping_of(m)

    candidates = files
    if prune_where is not None:
        pc, plo, phi = prune_where
        candidates = _prune_by_stats(files, stats, (_phys(colmap, pc), plo, phi))
    if point_where:
        candidates = _prune_by_bloom(
            spark, table_dir, m, candidates, point_where, colmap
        )
    if not candidates:
        return base_v
    if mode == "dv":
        return _update_snapshot_dv(
            spark, table_dir, base_v, m, candidates, where, set_exprs, stats_cols
        )
    probe = (
        _read_with_dvs(spark, candidates, sig, dv_files, keep_meta=True, colmap=colmap)
        .filter(where)
        .groupBy("__p")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    hit = {_normpath(r["__p"]) for r in probe}
    touched = [f for f in candidates if _normpath(f) in hit]
    if not touched:
        return base_v
    untouched = [f for f in files if f not in set(touched)]
    existing = _read_with_dvs(spark, touched, sig, dv_files, colmap=colmap)
    types = dict(existing.dtypes)
    missing = [c for c in set_exprs if c not in types]
    if missing:
        raise ValueError(f"update_snapshot: SET column(s) {missing} not in table")
    cond = F.expr(where)

    def updated_cols(df: DataFrame, only_matching: bool) -> DataFrame:
        # one select: every SET expression sees the ORIGINAL columns
        out = [
            (
                F.expr(set_exprs[c]).cast(types[c])
                if only_matching
                else F.when(cond, F.expr(set_exprs[c]).cast(types[c])).otherwise(
                    F.col(c)
                )
            ).alias(c)
            if c in set_exprs
            else F.col(c)
            for c in df.columns
        ]
        return df.select(*out)

    rewritten = updated_cols(existing, only_matching=False)
    # only the transformed rows can break a CHECK constraint
    _validate_constraints(
        updated_cols(existing.filter(cond), only_matching=True),
        m.get("constraints", {}),
        "update_snapshot",
    )
    data_path = _write_data(
        _to_physical(rewritten, colmap),
        table_dir,
        f"v{base_v + 1:05d}-update-{uuid.uuid4().hex[:12]}",
        partition_by=_part_keys(m) or None,
    )
    # Delta CDF vocabulary: preimage (the matched row as it was) +
    # postimage (after SET) — additive consumers need both
    changes = (
        updated_cols(existing.filter(cond), only_matching=True)
        .withColumn("change_type", F.lit("update_postimage"))
        .unionByName(
            existing.filter(cond).withColumn(
                "change_type", F.lit("update_preimage")
            )
        )
    )
    cdc_path = _write_data(
        _to_physical(changes, colmap),
        table_dir,
        f"v{base_v + 1:05d}-update-cdc-{uuid.uuid4().hex[:12]}",
    )
    new_files = _data_files(spark, data_path)
    cols = (
        [_phys(colmap, c) for c in stats_cols]
        if stats_cols is not None
        else _stats_cols_of(m)
    )
    cols = sorted(set(cols) | set(_part_keys(m)))
    new_stats = _file_stats(spark, new_files, cols) if cols and new_files else {}
    new_stats = _attach_blooms(spark, table_dir, m, new_files, new_stats)
    kept_stats = {f: s for f, s in stats.items() if f in set(untouched)}
    manifest = {
        "version": base_v + 1,
        "op": "update",
        "files": untouched + new_files,
        "schema": sig,
        "updated_where": where,
        "files_rewritten": len(touched),
        "cdc_files": _data_files(spark, cdc_path),
    }
    if dv_files:
        manifest["dv_files"] = dv_files  # untouched files still need theirs
    if kept_stats or new_stats:
        manifest["stats"] = {**kept_stats, **new_stats}
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    # row tracking: fresh ids for the rewritten files (update = delete +
    # re-insert under Delta's non-preserving semantics)
    _alloc_row_ids(spark, m, manifest, new_files)
    return _commit_rebase_appends(
        spark, table_dir, base_v + 1, manifest, op="update_snapshot"
    )


def snapshot_change_feed(
    spark: SparkSession, table_dir: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Delta's readChangeFeed over the snapshot log: the PER-COMMIT change
    rows for every version in (v_from, v_to] — table columns plus
    ``change_type`` and ``_commit_version`` — at cost O(|changes|), never
    a two-snapshot diff. ``change_type`` uses Delta CDF's full vocabulary:
    ``insert``, ``delete``, and updates as PAIRED ``update_preimage`` /
    ``update_postimage`` rows — preimages are what let additive consumers
    (``incremental.maintain_sum_aggregate``) subtract a row's old
    contribution; replica-building consumers (``tables.apply_changes``)
    drop them and upsert on postimages, exactly Delta's APPLY CHANGES:

    - append commits read exactly their added files ('insert');
    - merge/delete/update commits read the CHANGE FILES they persisted at
      commit time (``cdc_files``: postimages/inserts/removed rows);
    - data_change=false commits (compaction) contribute nothing;
    - overwrite/restore/clone commits have no row-level feed — they raise,
      and the caller falls back to :func:`snapshot_changes` with
      ``key_cols`` (the net keyed diff), exactly Delta's CDF behavior on
      non-CDC history.

    Unlike ``snapshot_changes`` (the NET delta between two versions), the
    feed preserves per-commit granularity and ordering: a key updated in
    two commits appears twice, stamped with each version. Replaying the
    feed in ``_commit_version`` order (e.g. ``tables.apply_changes`` with
    ``order_col="_commit_version"``) reconstructs the table — the
    downstream-replica contract. Feed availability is coupled to vacuum
    retention: expiring a version expires its change files."""
    import functools

    from pyspark.sql import functions as F

    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v_to = versions[-1] if v_to is None else v_to
    for v in (v_from, v_to):
        if v not in versions:
            raise FileNotFoundError(
                f"snapshot v{v} not found at {table_dir} (have {versions})"
            )
    if v_to < v_from:
        raise ValueError(f"v_to={v_to} precedes v_from={v_from}")
    in_range = [v for v in versions if v_from < v <= v_to]
    feed_resolved = dict(_iter_resolved(spark, table_dir, [v_from] + in_range))
    prev_files = set(feed_resolved[v_from]["files"])
    prev_dvs = set(feed_resolved[v_from].get("dv_files") or [])
    pieces: list[DataFrame] = []
    last_sig = None
    for v in in_range:
        m = feed_resolved[v]
        last_sig = m.get("schema") or last_sig
        if m.get("data_change") is False:
            prev_files = set(m["files"])
            prev_dvs = set(m.get("dv_files") or [])
            continue
        sig = m.get("schema")
        colmap_v, _ = _mapping_of(m)
        ddl = (
            ", ".join(f"`{_phys(colmap_v, n)}` {t}" for n, t in sig) if sig else None
        )
        relogical = (
            [F.col(_phys(colmap_v, n)).alias(n) for n, _ in sig]
            if colmap_v and sig
            else None
        )
        if m["op"] == "append" or (
            m.get("op") == "publish_branch"
            and not (prev_files - set(m["files"]))
            and set(m.get("dv_files") or []) == prev_dvs
        ):
            # publish_branch is feed-visible when it is ADD-ONLY (no file
            # removed, no new deletion vector): the published audit's rows
            # are plain inserts downstream — the WAP flow's index REFRESH
            # / MV maintenance / replica apply all keep working across a
            # publish. A publish carrying branch-side deletes (DV change)
            # still falls through to the keyed-diff fallback below.
            added = [f for f in m["files"] if f not in prev_files]
            if added:
                base = (
                    spark.read.schema(ddl).parquet(*added)
                    if ddl
                    else spark.read.parquet(*added)
                )
                if relogical is not None:
                    base = base.select(*relogical)
                pieces.append(
                    base.withColumn("change_type", F.lit("insert")).withColumn(
                        "_commit_version", F.lit(v).cast("int")
                    )
                )
        elif m.get("cdc_files"):
            # change files are written under physical names too (plus the
            # unmapped change_type marker) — alias back to THIS version's
            # logical names so the feed unions cleanly across renames
            cdc_ddl = f"{ddl}, `change_type` string" if ddl else None
            base = (
                spark.read.schema(cdc_ddl).parquet(*m["cdc_files"])
                if cdc_ddl
                else spark.read.parquet(*m["cdc_files"])
            )
            if relogical is not None:
                base = base.select(*relogical, F.col("change_type"))
            pieces.append(base.withColumn("_commit_version", F.lit(v).cast("int")))
        else:
            raise ValueError(
                f"snapshot_change_feed: v{v} at {table_dir} is op={m['op']!r} with "
                "no change files; use snapshot_changes(key_cols=...) across it"
            )
        prev_files = set(m["files"])
        prev_dvs = set(m.get("dv_files") or [])
    if not pieces:
        if last_sig is None:
            last_sig = _read_commit(spark, table_dir, v_to).get("schema") or []
        ddl = ", ".join(f"`{n}` {t}" for n, t in last_sig)
        ddl = (ddl + ", " if ddl else "") + "`change_type` string, `_commit_version` int"
        return spark.createDataFrame([], schema=ddl)
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), pieces
    )


def consume_changes(
    spark: SparkSession, table_dir: str, cursor_dir: str
) -> tuple[DataFrame | None, int]:
    """Checkpointed incremental CHANGE consumption — :func:`consume_appends`
    upgraded from append-only history to the full DML surface: the delta
    is the per-commit change feed (insert/update/delete rows stamped with
    ``_commit_version``), so a downstream replica keeps streaming through
    merges, deletes, and updates instead of resyncing. First consumption
    delivers the current snapshot as 'insert' rows (Delta CDF's
    startingVersion=0 contract).

    Same cursor discipline as consume_appends: nothing moves until
    :func:`advance_cursor` — a consumer that dies between sink and ack
    re-reads the same feed (at-least-once); pair with an idempotent keyed
    sink (``tables.apply_changes`` with ``order_col='_commit_version',
    order_col_is_metadata=True`` — one batch can span several commits
    touching the same key, and the version stamp ranks the winner without
    entering the replica's schema) for exactly-once effect. Raises (via
    snapshot_change_feed) when the
    unconsumed range crosses an overwrite/restore — the no-row-level-feed
    history where a replica genuinely must resync."""
    from pyspark.sql import functions as F

    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    latest = versions[-1]
    last_seen = cursor_position(spark, cursor_dir)
    if latest <= last_seen:
        return None, last_seen
    if last_seen == 0:
        delta = (
            read_snapshot(spark, table_dir, version=latest)
            .withColumn("change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(latest).cast("int"))
        )
    else:
        delta = snapshot_change_feed(spark, table_dir, last_seen, latest)
    return delta, latest


def _update_snapshot_dv(
    spark: SparkSession,
    table_dir: str,
    base_v: int,
    m: dict,
    candidates: list[str],
    where: str,
    set_exprs: dict[str, str],
    stats_cols: list[str] | None,
) -> int:
    """The merge-on-read UPDATE commit (see :func:`update_snapshot`
    ``mode='dv'``): DV the matched preimages, append their postimages."""
    from pyspark.sql import functions as F

    sig = m.get("schema")
    dv_files = m.get("dv_files", [])
    stats = m.get("stats", {})
    colmap, _ = _mapping_of(m)
    matched = _read_with_dvs(
        spark, candidates, sig, dv_files, keep_meta=True, colmap=colmap
    ).filter(where)
    data_cols = [c for c in matched.columns if c not in ("__p", "__i")]
    types = dict(
        (n, t) for n, t in (sig or _schema_sig(matched.select(*data_cols)))
    )
    missing = [c for c in set_exprs if c not in types]
    if missing:
        raise ValueError(f"update_snapshot: SET column(s) {missing} not in table")
    if matched.limit(1).count() == 0:
        return base_v
    postimages = matched.select(
        *[
            (F.expr(set_exprs[c]).cast(types[c]) if c in set_exprs else F.col(c)).alias(c)
            for c in data_cols
        ]
    )
    _validate_constraints(postimages, m.get("constraints", {}), "update_snapshot")
    new_dv = matched.select(
        F.col("__p").alias("file_path"), F.col("__i").alias("row_index")
    )
    dv_path = _write_data(
        new_dv, table_dir, f"v{base_v + 1:05d}-dv-{uuid.uuid4().hex[:12]}"
    )
    post_path = _write_data(
        _to_physical(postimages, colmap),
        table_dir,
        f"v{base_v + 1:05d}-update-{uuid.uuid4().hex[:12]}",
        partition_by=_part_keys(m) or None,
    )
    cdc_path = _write_data(
        _to_physical(
            postimages.withColumn("change_type", F.lit("update_postimage"))
            .unionByName(
                matched.select(*data_cols).withColumn(
                    "change_type", F.lit("update_preimage")
                )
            ),
            colmap,
        ),
        table_dir,
        f"v{base_v + 1:05d}-update-cdc-{uuid.uuid4().hex[:12]}",
    )
    post_files = _data_files(spark, post_path)
    cols = (
        [_phys(colmap, c) for c in stats_cols]
        if stats_cols is not None
        else _stats_cols_of(m)
    )
    cols = sorted(set(cols) | set(_part_keys(m)))
    post_stats = _file_stats(spark, post_files, cols) if cols and post_files else {}
    post_stats = _attach_blooms(spark, table_dir, m, post_files, post_stats)
    manifest = {
        "version": base_v + 1,
        "op": "update",
        "mode": "dv",
        "files": m["files"] + post_files,
        "schema": sig,
        "updated_where": where,
        "files_rewritten": 0,
        "dv_files": dv_files + _data_files(spark, dv_path),
        "cdc_files": _data_files(spark, cdc_path),
    }
    if stats or post_stats:
        manifest["stats"] = {**stats, **post_stats}
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    # row tracking: postimage files are physically new rows -> fresh ids;
    # DV-hidden originals keep their (now shadowed) positions
    _alloc_row_ids(spark, m, manifest, post_files)
    return _commit_rebase_appends(
        spark, table_dir, base_v + 1, manifest,
        op="update_snapshot", debris="DV/postimage dirs",
    )


# ---------------------------------------------------------------------------
# Metadata tables — DESCRIBE HISTORY / DESCRIBE DETAIL / files listing
# ---------------------------------------------------------------------------

def snapshot_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """``DESCRIBE HISTORY`` parity: one row per retained version, as a
    DataFrame so the commit log is itself queryable (filter to DML
    commits, join versions against an audit table, chart file-count
    growth between OPTIMIZE runs — the operational questions Delta
    answers from its history table).

    Columns: ``version``, ``op``, ``data_change``, ``n_files`` (total in
    the snapshot), ``n_files_added`` / ``n_files_removed`` (file-set diff
    vs the previous retained version), ``n_dv_files``, ``n_cdc_files``,
    ``n_constraints``, ``stream_batch_id`` (streaming-sink commits only,
    else null), ``detail`` (JSON of the op-specific manifest keys:
    ``compacted_from``, ``clustered_by``, ``deleted_where`` …).

    Scale: the history is built from the manifests alone — |versions|
    driver-side JSON reads, zero data I/O, same cost class as reading the
    log. Vacuumed versions no longer appear (their manifests are gone),
    exactly as Delta history is bounded by retention.

    Beyond-reference extension: the reference keeps no commit log at all —
    its zones are overwritten in place (data_processing.py:217), so
    "what changed when" is unanswerable there.
    """
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    _core = {
        "version", "op", "data_change", "files", "schema", "constraints",
        "dv_files", "stats", "cdc_files", "stream_batch_id", "committed_at",
    }
    rows = []
    prev_files: set[str] = set()
    first = True
    for v, m in _iter_resolved(spark, table_dir, versions):
        cur = set(m["files"])
        rows.append(
            (
                v,
                m.get("op", "unknown"),
                bool(m.get("data_change", True)),
                len(cur),
                # the first RETAINED version's diff base is unknowable
                # once vacuum dropped its predecessors: report its full
                # file list as "added" (it is, relative to nothing)
                len(cur if first else cur - prev_files),
                0 if first else len(prev_files - cur),
                len(m.get("dv_files", [])),
                len(m.get("cdc_files", [])),
                len(m.get("constraints", {})),
                m.get("stream_batch_id"),
                m.get("committed_at"),
                json.dumps(
                    {k: v2 for k, v2 in m.items() if k not in _core},
                    sort_keys=True, default=str,
                ),
            )
        )
        prev_files, first = cur, False
    return spark.createDataFrame(
        rows,
        schema=(
            "version int, op string, data_change boolean, n_files int, "
            "n_files_added int, n_files_removed int, n_dv_files int, "
            "n_cdc_files int, n_constraints int, stream_batch_id long, "
            "committed_at string, detail string"
        ),
    )


def snapshot_detail(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """``DESCRIBE DETAIL`` parity: a one-row DataFrame describing the
    table at ``version`` (default latest) — version, file count, total
    bytes, schema DDL, CHECK constraints (JSON), deletion-vector count,
    and which columns carry skipping stats. The byte total is FileSystem
    metadata (|files| driver-side status calls), never a data scan."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot v{v} not found at {table_dir} (have {versions})")
    m = _read_manifest(spark, table_dir, v)
    sizes = _file_sizes(spark, m["files"])
    sig = m.get("schema") or []
    colmap, _ = _mapping_of(m)
    to_logical = {p_: l for l, p_ in (colmap or {}).items()}
    stats = m.get("stats", {})
    counts = [stats.get(f, {}).get("__rows") for f in m["files"]]
    n_rows = (
        sum(counts)
        if m["files"] and all(c is not None for c in counts)
        # unknown (some file predates row-count stats) — never guess; note
        # DV'd rows are NOT subtracted here: counts describe the files
        else None
    )
    row = (
        v,
        versions[-1],
        len(m["files"]),
        sum(sizes.values()),
        n_rows,
        ", ".join(f"{n} {t}" for n, t in sig),
        json.dumps(m.get("constraints", {}), sort_keys=True),
        json.dumps(m.get("table_stats")) if m.get("table_stats") else None,
        len(m.get("dv_files", [])),
        # stats are keyed by physical name; report logically (stats of
        # DROPPED columns have no logical name and are omitted)
        sorted(
            to_logical.get(c, c)
            for c in _stats_cols_of(m)
            if not colmap or c in to_logical
        ),
        list(m.get("partition_by") or []),
        sorted(
            to_logical.get(c, c)
            for c in (m.get("bloom") or {}).get("cols", [])
            if not colmap or c in to_logical
        ),
        list((m.get("clustering") or {}).get("cols", [])),
    )
    return spark.createDataFrame(
        [row],
        schema=(
            "version int, latest_version int, n_files int, size_bytes long, "
            "n_rows long, "
            "schema_ddl string, constraints string, table_stats string, "
            "n_dv_files int, "
            "stats_columns array<string>, partition_columns array<string>, "
            "bloom_columns array<string>, cluster_columns array<string>"
        ),
    )


def snapshot_file_listing(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The Iceberg ``files`` metadata table: one row per data file in the
    snapshot at ``version`` (default latest) — path, byte size, and the
    recorded per-column [min, max] skipping stats (stringified, as a
    ``map<string, array<string>>``; a null entry means an all-null file)
    plus the file's bloom sidecar pointer (null = not bloom-covered).
    This is the table an operator inspects to decide WHEN to run
    :func:`compact_snapshot` (file-size histogram) and to audit what
    ``skip_where`` can prune — all from manifest + FS metadata, zero data
    I/O."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot v{v} not found at {table_dir} (have {versions})")
    m = _read_manifest(spark, table_dir, v)
    sizes = _file_sizes(spark, m["files"])
    stats = m.get("stats", {})
    colmap, _ = _mapping_of(m)
    to_logical = {p_: l for l, p_ in (colmap or {}).items()}
    rows = []
    for f in m["files"]:
        st = stats.get(f, {})
        rows.append(
            (
                f,
                sizes[f],
                st.get("__rows"),
                {
                    to_logical.get(c, c): (
                        None if mm[0] is None else [str(mm[0]), str(mm[1])]
                    )
                    for c, mm in st.items()
                    # __rows / __bloom are reserved entries, not columns
                    if not c.startswith("__") and (not colmap or c in to_logical)
                },
                st.get("__bloom"),
            )
        )
    return spark.createDataFrame(
        rows,
        schema=(
            "file string, size_bytes long, n_rows long, "
            "col_stats map<string, array<string>>, bloom_sidecar string"
        ),
    )


def _rename_ckpt_stats(spark: SparkSession, df: DataFrame, ckpt_path: str):
    """Rename a checkpoint scan's ``sNNNN`` stat columns to ``stat:<key>``
    using the footer's decode map (one tiny pyarrow footer read)."""
    import pyarrow.parquet as pq

    md = pq.read_schema(ckpt_path).metadata or {}
    statmap = json.loads(md.get(commitlog._CKPT_STATMAP, b"{}").decode())
    for cname, spec in statmap.items():
        df = df.withColumnRenamed(cname, f"stat:{spec['key']}")
    return df


def _unlink_quiet(path: str) -> None:
    """atexit target for lazily-read scratch parquet (missing-file safe)."""
    try:
        os.unlink(path)
    except OSError:
        pass


def snapshot_files_scan(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The snapshot's FILE-LEVEL state as a DISTRIBUTED Spark scan — the
    100 TB twin of :func:`snapshot_file_listing` (which materializes one
    driver row per file): ``spark.read.parquet`` directly over the
    table's own parquet checkpoint, plus one O(batch) patch frame
    covering the < CKPT_EVERY trailing delta commits. Nothing per-file
    ever lands on the driver: a 10^6-file planner groups/filters/joins
    this frame with ordinary executors-side operators.

    Columns: ``path``, ``kind`` ('data'/'dv'), ``has_stats``, and one
    ``stat:<key>`` column per recorded stat key — ``struct<lo, hi>`` for
    per-column [min, max] skipping stats, ``struct<v>`` for engine
    scalars (``__rows``, ``__base_row_id``, ``__bloom``). Selecting a
    subset of stat columns PRUNES the checkpoint scan (parquet column
    pruning applied to the table's own metadata) — the complement of
    read_snapshot's driver-side pruned decode.

    Local table paths only (the checkpoint must be Spark-readable in
    place). Tables whose resolution base is not a parquet checkpoint
    (younger than CKPT_EVERY commits, legacy-JSON checkpoints, truncate
    bases) fall back to encoding the resolved view once into a scratch
    checkpoint — same scan contract, one extra driver resolution."""
    import tempfile

    from pyspark.sql import functions as F

    if not commitlog.is_local(table_dir):
        raise ValueError(
            "snapshot_files_scan: local table paths only (the checkpoint "
            "file is read in place by spark.read.parquet)"
        )
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(
            f"snapshot v{v} not found at {table_dir} (have {versions})"
        )
    snap_local = os.path.join(commitlog.localize(table_dir), _SNAP_DIR)
    chain: list[dict] = []
    base_path = None
    vv = v
    while vv >= 1:
        cand = os.path.join(snap_local, commitlog.ckpt_name(vv))
        if os.path.exists(cand):
            base_path = cand
            break
        try:
            raw = _read_commit(spark, table_dir, vv)
        except FileNotFoundError:
            # Vacuumed chain below a legacy-JSON checkpoint (pre-parquet
            # upgrade): the walk can't resolve raw commits past the hole,
            # but _read_manifest can (it resolves through legacy
            # checkpoints) — take the scratch-encode fallback.
            break
        if "files" in raw or raw.get("delta", {}).get("truncate"):
            break
        chain.append(raw)
        vv -= 1
    if base_path is None:
        # no parquet checkpoint under v: encode the resolved view once
        m = _read_manifest(spark, table_dir, v)
        fd, base_path = tempfile.mkstemp(suffix=".ckpt.parquet")
        os.close(fd)
        # the returned DataFrame reads this lazily, so the path must
        # outlive the call — retire it at interpreter exit like the
        # module's other scratch artifacts
        atexit.register(_unlink_quiet, base_path)
        with open(base_path, "wb") as fh:
            fh.write(commitlog.encode_ckpt(m))
        chain = []
    df = _rename_ckpt_stats(
        spark, spark.read.parquet(base_path), base_path
    )
    if not chain:
        return df
    # Fold the trailing deltas into ONE patch: final membership + final
    # stats per touched path (delta stats_add entries are complete
    # replacement dicts, so later entries win outright).
    mem: dict[str, tuple[str, bool]] = {}
    stat_over: dict[str, tuple[bool, dict]] = {}
    for rec in reversed(chain):  # oldest → newest
        d = rec["delta"]
        for f in d.get("remove", []):
            mem[f] = ("data", False)
            stat_over.pop(f, None)
        for f in d.get("add", []):
            mem[f] = ("data", True)
            stat_over[f] = (False, {})
        for f, s in d.get("stats_add", {}).items():
            stat_over[f] = (True, s)
        for f in d.get("stats_drop", []):
            stat_over[f] = (False, {})
        for f in d.get("dv_remove", []):
            mem[f] = ("dv", False)
        for f in d.get("dv_add", []):
            mem[f] = ("dv", True)
    overridden = sorted(set(mem) | set(stat_over))
    df = df.filter(~F.col("path").isin(overridden))
    live_files = sorted(
        [f for f, (k, alive) in mem.items() if alive and k == "data"]
        + [f for f in stat_over if f not in mem]  # restat of a base file
    )
    live_dvs = sorted(f for f, (k, alive) in mem.items() if alive and k == "dv")
    if not live_files and not live_dvs:
        return df
    patch = {
        "files": live_files,
        "stats": {
            f: s
            for f, (has, s) in stat_over.items()
            if has and (f in set(live_files))
        },
        "dv_files": live_dvs,
    }
    fd, patch_path = tempfile.mkstemp(suffix=".ckpt-patch.parquet")
    os.close(fd)
    atexit.register(_unlink_quiet, patch_path)
    with open(patch_path, "wb") as fh:
        fh.write(commitlog.encode_ckpt(patch))
    patch_df = _rename_ckpt_stats(
        spark, spark.read.parquet(patch_path), patch_path
    )
    return df.unionByName(patch_df, allowMissingColumns=True)


def analyze_snapshot(
    spark: SparkSession, table_dir: str, cols: list[str] | None = None
) -> int:
    """``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` parity (and
    Iceberg's NDV-in-puffin role): one distributed pass over the current
    snapshot computing per-column approximate NDV (HLL-based
    ``approx_count_distinct``, the fixed-size partial-agg sketch — the
    only sane distinct counter at 100 TB) and exact null counts, recorded
    as TABLE-level state in a ``data_change=false`` commit
    (``table_stats``). These are the cardinalities a planner (or a human
    choosing a join strategy / bucketing key) reads from
    ``snapshot_detail`` without scanning data. Stats describe the version
    they were computed at (``table_stats.version``) — consumers can see
    how stale they are. Version races abort."""
    from pyspark.sql import functions as F

    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    sig = m.get("schema") or []
    names = [n for n, _ in sig]
    use = cols if cols is not None else names
    missing = [c for c in use if c not in names]
    if missing:
        raise KeyError(f"analyze_snapshot: no column(s) {missing} (have {names})")
    df = read_snapshot(spark, table_dir, version=base_v)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in use:
        aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"))
    r = df.agg(*aggs).collect()[0].asDict()
    table_stats = {
        "version": base_v,
        "row_count": int(r["__n"]),
        "columns": {
            c: {"ndv": int(r[f"__ndv_{c}"]), "nulls": int(r[f"__nulls_{c}"])}
            for c in use
        },
    }
    manifest = {
        "version": base_v + 1,
        "op": "analyze",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
        "table_stats": table_stats,
    }
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest)
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"analyze_snapshot: version {base_v + 1} was committed concurrently "
            f"at {table_dir}; re-read and retry"
        )
    return base_v + 1


def maintain_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_file_mb: int = 128,
    max_small_files: int = 8,
    keep_versions: int = 10,
) -> dict:
    """The nightly maintenance loop as one idempotent call — the policy
    glue an operator would otherwise cron by hand around a streaming
    table (every micro-batch append grows the manifest forever —
    the module-header bottleneck):

    1. OPTIMIZE when more than ``max_small_files`` files sit under the
       target size (decided from FS metadata, no data read);
    2. INERT DV-POINTER DROP (r12): compaction/merges materialize the
       DVs of the files they rewrite; once no live file is referenced
       the carried pointer list is pure read-tax —
       :func:`drop_inert_dv_pointers` removes it in a metadata-only
       commit. (Physical PURGE of still-live DVs remains an explicit
       ``reorg_snapshot`` decision — it rewrites data.)
    3. BLOOM BACKFILL: on bloom-spec'd tables, index any uncovered files
       (pre-spec or DataSource-written) in one metadata-class commit —
       blooms are sidecars, so coverage needs no data rewrite;
    4. VACUUM down to ``keep_versions`` retained versions.

    Returns ``{"compacted": version|None, "dv_pointers_dropped":
    version|None, "bloom_backfilled": version|None, "vacuumed":
    n_files}``. Order matters: compacting first makes the superseded
    small files eligible for this same call's vacuum once their versions
    expire (and the compaction's own rewrites arrive bloom-covered,
    shrinking the backfill), and may render the DV list fully inert for
    step 2. Conflict behavior is inherited (a racing writer aborts the
    compaction; rerun next tick — maintenance must never win over
    data)."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    m = _read_manifest(spark, table_dir, versions[-1])
    sizes = _file_sizes(spark, m["files"])
    small = [f for f in m["files"] if sizes[f] < target_file_mb * 1024 * 1024]
    compacted = None
    if len(small) > max_small_files:
        compacted = compact_snapshot(spark, table_dir, target_file_mb)
    dv_dropped = drop_inert_dv_pointers(spark, table_dir)
    backfilled = backfill_bloom_filters(spark, table_dir)
    deleted = vacuum(spark, table_dir, keep_last=keep_versions)
    return {
        "compacted": compacted,
        "dv_pointers_dropped": dv_dropped,
        "bloom_backfilled": backfilled,
        "vacuumed": deleted,
    }


def set_generated_column(
    spark: SparkSession, table_dir: str, name: str, expr: str
) -> int:
    """Delta GENERATED ALWAYS AS parity for an existing column: record
    ``expr`` as ``name``'s generating expression. From this commit on,
    (a) appends that OMIT the column get it COMPUTED from ``expr``
    (commit_append), and (b) every write path VALIDATES provided values
    via an automatically-paired CHECK constraint
    ``name IS NOT DISTINCT FROM (expr)`` — the null-safe spelling runs
    identically under Spark (library verbs) and DuckDB (the format
    writer's task-side validation), so no write class can desynchronize
    the column from its expression. The existing data must already
    satisfy the expression (validated here, one pushdown scan). The
    commit is data_change=false; version races abort.

    Declare-at-create flow: commit v1 with the column precomputed, then
    declare it generated. The rename/drop guards already refuse mutating
    a column a (paired) constraint references."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    sig = m.get("schema") or []
    names = [n for n, _ in sig]
    if name not in names:
        raise KeyError(
            f"set_generated_column: no column {name!r} at {table_dir} (have "
            f"{names}); commit the table with the column precomputed first"
        )
    check = f"{name} IS NOT DISTINCT FROM ({expr})"
    _validate_constraints(
        read_snapshot(spark, table_dir, version=base_v),
        {f"__gen_{name}": check},
        "set_generated_column",
    )
    manifest = {
        "version": base_v + 1,
        "op": "set_generated",
        "data_change": False,
        "files": m["files"],
        "schema": sig,
        "generated": {**m.get("generated", {}), name: expr},
        "constraints": {**m.get("constraints", {}), f"__gen_{name}": check},
    }
    for k in ("stats", "dv_files", "table_stats"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"set_generated_column: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def set_identity_column(
    spark: SparkSession,
    table_dir: str,
    name: str,
    start: int = 1,
    step: int = 1,
    mode: str = "always",
) -> int:
    """Delta ``GENERATED ALWAYS AS IDENTITY`` parity for an existing
    BIGINT column: from this commit on, appends that omit ``name`` get
    engine-minted values — unique, ≥ ``start``, spaced by multiples of
    ``step``, monotonically above the recorded high watermark (gaps
    allowed, exactly Delta's contract). ``mode='always'`` refuses
    writer-provided values; ``mode='default'`` accepts them and folds
    their max into the watermark (Delta's GENERATED BY DEFAULT — explicit
    values are NOT checked for uniqueness, also Delta's contract). The
    watermark initializes above any values already in the table (one
    column-pruned scan here, never again: appends read the new high off
    their own file stats).

    Scope (documented, fail-loud elsewhere): allocation lives in
    ``commit_append`` — the streaming snapshot sink and the Python
    DataSource writer raise on identity tables rather than mint
    unaccounted ids; DML rewrite verbs carry existing ids untouched
    (``_TABLE_PROPS``) but a MERGE's INSERT clause must supply explicit
    values (mode='default'), as in Delta before identity-merge support.

    Reference basis: the reference pipeline has no surrogate-key story at
    all (ids arrive in the CSVs, data_processing.py); this is part of the
    beyond-reference table layer."""
    if step < 1:
        raise ValueError(f"set_identity_column: step must be >= 1, got {step}")
    if mode not in ("always", "default"):
        raise ValueError(
            f"set_identity_column: mode must be 'always' or 'default', got {mode!r}"
        )
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    sig = m.get("schema") or []
    types = {n: t for n, t in sig}
    if name not in types:
        raise KeyError(
            f"set_identity_column: no column {name!r} at {table_dir} (have "
            f"{sorted(types)}); commit the table with the column first"
        )
    if types[name] != "bigint":
        raise TypeError(
            f"set_identity_column: {name!r} is {types[name]}; identity "
            "columns must be bigint"
        )
    from pyspark.sql import functions as F

    row = (
        read_snapshot(spark, table_dir, version=base_v)
        .agg(F.max(name).alias("mx"))
        .collect()[0]
    )
    existing_max = row["mx"]
    high = start - step
    if existing_max is not None:
        high = max(high, int(existing_max))
    manifest = {
        "version": base_v + 1,
        "op": "set_identity",
        "data_change": False,
        "files": m["files"],
        "schema": sig,
        "identity": {
            **m.get("identity", {}),
            name: {"start": start, "step": step, "mode": mode, "high": high},
        },
    }
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest, exclude=("identity",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"set_identity_column: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def drop_identity_column(spark: SparkSession, table_dir: str, name: str) -> int:
    """Un-declare an identity column (the column and its minted values
    stay; only the allocation rule and watermark go)."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    ident = dict(m.get("identity", {}))
    if name not in ident:
        raise KeyError(
            f"no identity column {name!r} at {table_dir} (have {sorted(ident)})"
        )
    del ident[name]
    manifest = {
        "version": base_v + 1,
        "op": "drop_identity",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
    }
    if ident:
        manifest["identity"] = ident
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    _carry_props(m, manifest, exclude=("identity",))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"drop_identity_column: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1


def drop_generated_column_expr(spark: SparkSession, table_dir: str, name: str) -> int:
    """Un-declare a generated column (the column and its data stay; only
    the generation rule and its paired CHECK go)."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    base_v = versions[-1]
    m = _read_manifest(spark, table_dir, base_v)
    gen = dict(m.get("generated", {}))
    if name not in gen:
        raise KeyError(f"no generated column {name!r} at {table_dir} (have {sorted(gen)})")
    del gen[name]
    cons = {k: v for k, v in m.get("constraints", {}).items() if k != f"__gen_{name}"}
    manifest = {
        "version": base_v + 1,
        "op": "drop_generated",
        "data_change": False,
        "files": m["files"],
        "schema": m.get("schema"),
    }
    if gen:
        manifest["generated"] = gen
    if cons:
        manifest["constraints"] = cons
    for k in ("stats", "dv_files"):
        if m.get(k):
            manifest[k] = m[k]
    # generated/constraints excluded: this drop owns both (the paired
    # __gen CHECK goes with the rule); everything else carries
    _carry_props(m, manifest, exclude=("generated", "constraints"))
    _carry_mapping(m, manifest)
    if not _try_commit(spark, table_dir, base_v + 1, manifest):
        raise RuntimeError(
            f"drop_generated_column_expr: version {base_v + 1} was committed "
            f"concurrently at {table_dir}; re-read and retry"
        )
    return base_v + 1
