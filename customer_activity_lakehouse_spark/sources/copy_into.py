"""COPY INTO — idempotent batch file ingest onto the snapshot log,
Delta's ``COPY INTO`` contract: each SOURCE file loads exactly once, no
matter how many times (or from how many concurrent loaders) the command
runs. The loaded-file ledger lives in the table's own commit log — each
copy commit records its ``copy_sources`` — so there is no side-state to
desync (the same no-side-cursor doctrine as the MV consumed-version
stamp and the streaming batch-id stamp).

Exactly-once under RACES (two loaders, same source, same instant): both
may pass the entry check and append the same files. Arbitration is by
COMMIT ORDER — versions are linear, so exactly one of the two commits is
later, and only the later one can see the earlier in its interleave
window. The later loader COMPENSATES: one ``copy_rollback`` commit drops
exactly the files its own copy commit added (recorded as superseding
that version, so the ledger walker ignores the rolled-back
``copy_sources``), then the loader retries — the retry sees the
winner's files as loaded and loads only the remainder. The earlier
committer never rolls back (it cannot see a later commit at its
post-check), so a racing pair can never both yield.

Scale shape: the ledger walk is O(#commits) METADATA reads (raw commit
records — no file-list resolution, the `_read_commit` contract); the
data read touches only NEW source files; the append inherits every
commit_append guarantee (stats, constraints, identity, unique keys,
rebase-over-appends).

Reference basis: the reference re-reads its whole CSV landing zone every
run and overwrites (data_processing.py:135, flows.py); COPY INTO is what
makes incremental landing-zone ingest exactly-once.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import snapshots as S
from .tables import _hadoop_fs

_MAX_COPY_RETRIES = 5


def loaded_sources(spark: SparkSession, table_dir: str) -> set[str]:
    """Every source file the table's ledger records as loaded — copy
    commits' ``copy_sources``, minus any superseded by a rollback."""
    versions = S._list_versions(spark, table_dir)
    loads: dict[int, list[str]] = {}
    rolled: set[int] = set()
    for v in versions:
        r = S._read_commit(spark, table_dir, v)
        if r.get("copy_sources"):
            loads[v] = r["copy_sources"]
        if r.get("copy_rollback_of"):
            rolled.add(int(r["copy_rollback_of"]))
    out: set[str] = set()
    for v, srcs in loads.items():
        if v not in rolled:
            out.update(srcs)
    return out


def _list_source_files(spark: SparkSession, source: str, suffix: str) -> list[str]:
    fs, jdir = _hadoop_fs(spark, source)
    if not fs.exists(jdir):
        raise FileNotFoundError(f"copy_into: source {source} does not exist")
    out = []
    it = fs.listFiles(jdir, True)
    while it.hasNext():
        p = it.next().getPath()
        name = str(p.getName())
        if name.endswith(suffix) and not name.startswith(("_", ".")):
            out.append(str(p.toString()))
    return sorted(out)


def _rollback_copy(spark: SparkSession, table_dir: str, version: int) -> int:
    """Compensating commit: drop exactly the data files ``version`` added
    and mark its ``copy_sources`` superseded. Append-class (does not
    depend on reads beyond the added-file set, which is immutable), so it
    retries version races."""
    m_v = S._read_manifest(spark, table_dir, version)
    prev_files: set = set()
    if version > 1:
        prev_files = set(S._read_manifest(spark, table_dir, version - 1)["files"])
    added = set(m_v["files"]) - prev_files
    for _ in range(S._MAX_COMMIT_RETRIES):
        versions = S._list_versions(spark, table_dir)
        latest = versions[-1]
        prev_m = S._read_manifest(spark, table_dir, latest)
        # Rollback drops the duplicate load BY FILE NAME — valid only while
        # those files still exist verbatim. A rewrite-class commit
        # (OPTIMIZE / DML) in the window may have folded them into new
        # files; dropping nothing would silently keep the duplicate rows.
        folded = added - set(prev_m["files"])
        if folded:
            raise RuntimeError(
                f"copy_into: cannot roll back version {version} at "
                f"{table_dir} — {len(folded)} of its files were rewritten "
                "by a later commit (OPTIMIZE/DML) before the compensating "
                "rollback, so the duplicate rows now live in rewritten "
                "files. Remove them by provenance (e.g. DELETE on the "
                "batch's key range) and re-run copy_into."
            )
        manifest = {
            "version": latest + 1,
            "op": "copy_rollback",
            "copy_rollback_of": version,
            "files": [f for f in prev_m["files"] if f not in added],
            "schema": prev_m.get("schema"),
            "stats": {
                f: st for f, st in (prev_m.get("stats") or {}).items()
                if f not in added
            },
        }
        S._carry_table(prev_m, manifest)
        if S._try_commit(spark, table_dir, latest + 1, manifest, prev=prev_m):
            return latest + 1
    raise RuntimeError(
        f"copy_into: rollback of version {version} lost "
        f"{S._MAX_COMMIT_RETRIES} version races at {table_dir}"
    )


def copy_into(
    spark: SparkSession,
    table_dir: str,
    source: str,
    fmt: str = "parquet",
    schema=None,
    options: dict | None = None,
    suffix: str | None = None,
    stats_cols: list[str] | None = None,
) -> dict:
    """Load every not-yet-loaded file under ``source`` into the table.
    Returns {"loaded_files": n, "version": v or None}. ``suffix``
    defaults to ".<fmt>"; pass ``schema`` for schemaful formats (CSV,
    JSON) — never rely on inference for a recurring loader."""
    suffix = suffix or f".{fmt}"
    for _ in range(_MAX_COPY_RETRIES):
        files = _list_source_files(spark, source, suffix)
        entry_versions = S._list_versions(spark, table_dir)
        entry_v = entry_versions[-1] if entry_versions else 0
        new = sorted(set(files) - loaded_sources(spark, table_dir))
        if not new:
            return {"loaded_files": 0, "version": None}
        reader = spark.read.format(fmt)
        if schema is not None:
            reader = reader.schema(schema)
        for k, val in (options or {}).items():
            reader = reader.option(k, val)
        df = reader.load(new)
        v = S.commit_append(
            spark, table_dir, df, stats_cols=stats_cols,
            extra={"copy_sources": new},
        )
        # Post-check the interleave window (entry, v): if a competing copy
        # commit in there already loaded any of our files, WE are the
        # duplicate (we committed later) — compensate and retry.
        clash = False
        for w in range(entry_v + 1, v):
            r = S._read_commit(spark, table_dir, w)
            if r.get("copy_sources") and set(r["copy_sources"]) & set(new):
                clash = True
                break
        if not clash:
            return {"loaded_files": len(new), "version": v}
        _rollback_copy(spark, table_dir, v)
    raise RuntimeError(
        f"copy_into: lost {_MAX_COPY_RETRIES} ingest races at {table_dir}"
    )
