"""Named refs for snapshot-log tables — TAGS (immutable version pointers)
and BRANCHES (isolated writable forks with atomic publish).

Iceberg's refs / write-audit-publish (WAP) pattern re-expressed on the
linear commit log:

- A **tag** names a version (``set_tag``): time travel by name instead of
  a number, and — like Iceberg's tag retention — VACUUM never expires a
  tagged version, so an audit bookmark keeps its files alive regardless
  of ``keep_last``.  Tags ride the manifest's ``refs`` table property
  (data_change=false commits, invisible to incremental consumers) and are
  protocol-gated by the ``refs`` writer feature so an engine that would
  silently drop them refuses to commit instead.
- A **branch** (``create_branch``) is a zero-copy shallow clone under
  ``{table}/_branches/{name}``: every existing verb (append, DELETE,
  MERGE, OPTIMIZE, constraints …) works on it unchanged because it IS a
  table, writes land in the branch's own data dir (copy-on-write), and
  the parent's readers never see them.  ``publish_branch`` fast-forwards
  the parent to the branch head in ONE atomic commit — the
  write-audit-publish flow: back-fill on the branch against production
  files without copying them, audit (tag the parent, run checks), then
  publish.  Publish cost is O(branch-written data): inherited files are
  referenced in place, only the branch's own files are copied into the
  parent's data dir (crash-safe — an interrupted publish leaves orphaned
  copies that VACUUM already classifies as debris, never a half-visible
  commit).

The reference delegates querying to external engines and has no ref
concept (ReadMe.md:85-94); this is part of the 100 TB operational story:
at scale, "try the risky rewrite on prod data, then flip atomically" is
the difference between a safe backfill and a day-long restore.

Scale notes: tag commits are O(manifest) metadata writes; create_branch
is one manifest write regardless of table size (shallow clone); publish
moves no inherited bytes and copies only what the branch wrote.  The
fast-forward check walks raw commit records (O(interleaved commits), each
one small) — never file lists.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import commitlog
from .snapshots import (
    _carry_table,
    _claim,
    _commit_meta,
    _commit_rebase_appends,
    _data_files,
    _latest,
    _list_versions,
    _mapping_of,
    _read_commit,
    _read_manifest,
    _read_with_dvs,
    _validate_constraints,
    _write_data,
    read_snapshot,
)
from .tables import _hadoop_fs, _path_exists

_BRANCH_DIR = "_branches"
_MARKER = "_branch.json"
_NAME_RE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_.-]*$")

# Ops a publish may fast-forward over unconditionally: refs-only metadata
# commits (tagging the parent during audit is the NORMAL WAP flow).  Pure
# appends rebase under the WriteSerializable rule (see publish_branch);
# anything else refuses rather than silently dropping it.
_FF_SAFE_OPS = frozenset({"set_tag", "drop_tag"})


def _check_name(name: str, ctx: str) -> None:
    if not _NAME_RE.fullmatch(name or ""):
        raise ValueError(
            f"{ctx}: ref name {name!r} must match {_NAME_RE.pattern}"
        )


def tags_of(manifest: dict | None) -> dict[str, int]:
    """The tag map recorded on a manifest (empty when none)."""
    return dict(((manifest or {}).get("refs") or {}).get("tags") or {})


def _refs_commit(
    spark: SparkSession, table_dir: str, op: str, tags: dict[str, int]
) -> int:
    """One data_change=false commit that replaces the tag map."""
    head_v, m = _latest(spark, table_dir)
    refs = dict(m.get("refs") or {})
    if tags:
        refs["tags"] = tags
    else:
        refs.pop("tags", None)
    return _commit_meta(
        spark, table_dir, head_v, m, op, {"refs": refs or None}, exclude=("refs",)
    )


def set_tag(
    spark: SparkSession, table_dir: str, name: str, version: int | None = None
) -> int:
    """Tag ``version`` (default: latest) as ``name``.  Returns the commit
    version that recorded the tag.  Refuses to move an existing tag —
    tags are immutable (drop first to re-point), matching Iceberg's
    create-vs-replace distinction."""
    _check_name(name, "set_tag")
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(
            f"set_tag: snapshot v{v} not found at {table_dir} (have {versions})"
        )
    tags = tags_of(_read_manifest(spark, table_dir, versions[-1]))
    if name in tags and tags[name] != v:
        raise FileExistsError(
            f"set_tag: tag {name!r} already points at v{tags[name]} "
            f"(tags are immutable — drop_tag first)"
        )
    tags[name] = v
    return _refs_commit(spark, table_dir, "set_tag", tags)


def drop_tag(spark: SparkSession, table_dir: str, name: str) -> int:
    """Remove tag ``name`` (its version becomes vacuum-expirable again)."""
    head_v, m = _latest(spark, table_dir)
    tags = tags_of(m)
    if name not in tags:
        raise KeyError(f"drop_tag: no tag {name!r} at {table_dir} (have {sorted(tags)})")
    del tags[name]
    return _refs_commit(spark, table_dir, "drop_tag", tags)


def tag_version(spark: SparkSession, table_dir: str, name: str) -> int:
    """Resolve tag ``name`` to its version (for ``read_snapshot(version=…)``
    and the SQL layer's ``TAG AS OF``)."""
    _, m = _latest(spark, table_dir)
    tags = tags_of(m)
    if name not in tags:
        raise KeyError(
            f"tag_version: no tag {name!r} at {table_dir} (have {sorted(tags)})"
        )
    return tags[name]


def read_tag(spark: SparkSession, table_dir: str, name: str, **kwargs):
    """``read_snapshot`` at the tagged version (kwargs pass through)."""
    return read_snapshot(
        spark, table_dir, version=tag_version(spark, table_dir, name), **kwargs
    )


# ---------------------------------------------------------------- branches


def branch_dir(table_dir: str, name: str) -> str:
    return f"{table_dir}/{_BRANCH_DIR}/{name}"


def _marker_path(table_dir: str, name: str) -> str:
    return f"{branch_dir(table_dir, name)}/{_MARKER}"


def _write_marker(spark: SparkSession, path: str, payload: dict) -> None:
    data = json.dumps(payload, sort_keys=True).encode()
    if commitlog.is_local(path):
        lp = commitlog.localize(path)
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        with open(lp, "wb") as fh:
            fh.write(data)
        return
    fs, jp = _hadoop_fs(spark, path)
    stream = fs.create(jp, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()


def _read_marker(spark: SparkSession, path: str) -> dict:
    if commitlog.is_local(path):
        with open(commitlog.localize(path), "rb") as fh:
            return json.loads(fh.read().decode())
    fs, jp = _hadoop_fs(spark, path)
    stream = fs.open(jp)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


def create_branch(
    spark: SparkSession, table_dir: str, name: str, version: int | None = None
) -> str:
    """Fork ``table_dir`` at ``version`` (default latest) into a writable
    branch.  One manifest write (shallow clone — zero data copied); the
    branch base is recorded in a filesystem marker (NOT a commit record,
    so the branch's own vacuum can never expire it) and pins the base
    version against the PARENT's vacuum while the branch lives."""
    _check_name(name, "create_branch")
    bdir = branch_dir(table_dir, name)
    if _path_exists(spark, _marker_path(table_dir, name)):
        raise FileExistsError(f"branch {name!r} already exists at {bdir}")
    if _list_versions(spark, bdir):
        # versions WITHOUT a marker = debris from a crash between
        # clone_snapshot and _write_marker (the marker is written last so
        # a live marker always points at a complete clone). Only
        # create_branch writes under _branches/<name>, so the dir is
        # reclaimable — without this, the name was permanently stuck:
        # create raised here, drop_branch raised no-such-branch, and
        # list_branches hid it (ADVICE r10).
        _rm_tree(spark, bdir)
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = versions[-1] if version is None else version
    # clone_snapshot re-validates v; compute it here so the marker records
    # the RESOLVED base even when version=None
    from .snapshots import clone_snapshot

    clone_snapshot(spark, table_dir, bdir, version=v)
    _write_marker(
        spark,
        _marker_path(table_dir, name),
        {
            "table": table_dir,
            "name": name,
            "base_version": v,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
        },
    )
    return bdir


def list_branches(spark: SparkSession, table_dir: str) -> dict[str, dict]:
    """{name: {"base_version": int, "head_version": int}} for every live
    branch (one fs listing; empty dict when the table has none)."""
    root = f"{table_dir}/{_BRANCH_DIR}"
    fs, jp = _hadoop_fs(spark, root)
    if not fs.exists(jp):
        return {}
    out: dict[str, dict] = {}
    for st in fs.listStatus(jp):
        if not st.isDirectory():
            continue
        name = str(st.getPath().getName())
        try:
            marker = _read_marker(spark, _marker_path(table_dir, name))
        except (OSError, ValueError):
            continue  # half-created or foreign dir — not a branch
        bvs = _list_versions(spark, branch_dir(table_dir, name))
        out[name] = {
            "base_version": int(marker["base_version"]),
            "head_version": bvs[-1] if bvs else 0,
        }
    return out


def _rm_tree(spark: SparkSession, path: str) -> None:
    if commitlog.is_local(path):
        shutil.rmtree(commitlog.localize(path), ignore_errors=True)
        return
    fs, jp = _hadoop_fs(spark, path)
    if fs.exists(jp):
        fs.delete(jp, True)


def drop_branch(
    spark: SparkSession, table_dir: str, name: str, force: bool = False
) -> None:
    """Delete branch ``name``.  Refuses while the branch holds UNPUBLISHED
    commits (any version past the clone's v1) unless ``force=True`` — the
    same protect-the-work rule as dropping a dirty worktree."""
    bdir = branch_dir(table_dir, name)
    if not _path_exists(spark, _marker_path(table_dir, name)):
        if _list_versions(spark, bdir):
            # marker-less branch dir = half-created debris (crash between
            # clone and marker write) — by definition droppable; leaving
            # it raised no-such-branch while create_branch saw versions
            _rm_tree(spark, bdir)
            return
        raise FileNotFoundError(f"no branch {name!r} at {table_dir}")
    bvs = _list_versions(spark, bdir)
    if not force and bvs and bvs[-1] > 1:
        raise RuntimeError(
            f"drop_branch: branch {name!r} has {bvs[-1] - 1} unpublished "
            f"commit(s) — publish_branch first or pass force=True"
        )
    _rm_tree(spark, bdir)


def _copy_file(spark: SparkSession, src: str, dst: str) -> None:
    if commitlog.is_local(src) and commitlog.is_local(dst):
        s, d = commitlog.localize(src), commitlog.localize(dst)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        shutil.copyfile(s, d)
        return
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    sp = jvm.org.apache.hadoop.fs.Path(src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    sfs, dfs = sp.getFileSystem(conf), dp.getFileSystem(conf)
    dfs.mkdirs(dp.getParent())
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp, False, True, conf):
        raise IOError(f"publish_branch: copy failed {src} -> {dst}")


def publish_branch(
    spark: SparkSession, table_dir: str, name: str, drop: bool = True
) -> int:
    """Fast-forward the parent to the branch head — ONE atomic commit.

    Preconditions: every parent commit since the branch point must be
    refs-only metadata (tagging during audit) or a PURE APPEND — appends
    commute with the branch under WriteSerializable and REBASE into the
    published manifest verbatim (their files join the branch's, row-id
    watermarks merge, and any constraint the branch added during the
    audit is validated against just those rows). Identity-column and
    unique-key tables refuse the append rebase (identity values are baked
    in files from the same watermark; unique keys were never probed
    across the two write sets). Any other interleaved commit (DML,
    overwrite, schema/property change) refuses with the op named —
    re-branch from the current head and replay.

    Mechanics (all O(branch-written data), never O(table)):

    - files the branch INHERITED from the parent are referenced in place
      (zero copies — they already live in the parent's data dir);
    - files the branch WROTE are copied into ``{parent}/data/publish-…``
      (a crash mid-copy leaves orphans that VACUUM already treats as
      debris from a failed commit — the parent never half-sees a publish);
    - branch deletion vectors are REWRITTEN through the copy's path remap
      (DV rows key on the scanned file path — see _read_with_dvs) so
      branch-side deletes stay deleted at the parent; DVs over inherited
      files pass through verbatim;
    - per-file stats follow their file (bloom sidecar refs are stripped
      from copied files — the parent's ``maintain_snapshot`` backfills);
    - the parent's OWN ``refs`` survive (audit tags), the branch's other
      table properties (schema, constraints, clustering …) win, and the
      row-id watermark takes the monotonic max (Delta's restore rule).

    ``drop=True`` (default) consumes the branch after the commit lands.
    Returns the parent's new version."""
    bdir = branch_dir(table_dir, name)
    if not _path_exists(spark, _marker_path(table_dir, name)):
        raise FileNotFoundError(f"no branch {name!r} at {table_dir}")
    base_v = int(_read_marker(spark, _marker_path(table_dir, name))["base_version"])
    bvs = _list_versions(spark, bdir)
    bm = _read_manifest(spark, bdir, bvs[-1])
    versions = _list_versions(spark, table_dir)
    head_v = versions[-1]
    # Interleaved parent commits: refs-only ops fast-forward freely; PURE
    # APPENDS (add-only delta, unchanged schema — the _commit_rebase_appends
    # rule) rebase under WriteSerializable: their files join the published
    # manifest verbatim. Anything else conflicts.
    appended: list[str] = []
    appended_stats: dict = {}
    interleaved_rt: dict | None = None
    for v in range(base_v + 1, head_v + 1):
        try:
            r = _read_commit(spark, table_dir, v)
        except FileNotFoundError:
            # vacuum pins (base, head] of the parent for live branches,
            # so this only happens on pre-pinning tables or out-of-band
            # record loss — name the exit instead of an opaque
            # FileNotFoundError (ADVICE r10)
            raise RuntimeError(
                f"publish_branch: parent commit record v{v} expired "
                f"mid-audit at {table_dir} — the interleaved history "
                "needed to validate the fast-forward is gone; re-branch "
                "from the current head and replay"
            ) from None
        if r.get("op") in _FF_SAFE_OPS:
            continue
        d = r.get("delta")
        if (
            r.get("op") == "append"
            and d is not None
            and not d.get("truncate")
            and not d.get("remove")
            and not d.get("dv_add")
            and not d.get("dv_remove")
            and not d.get("stats_drop")
            and r.get("schema") == bm.get("schema")
        ):
            appended += d.get("add", [])
            appended_stats.update(d.get("stats_add", {}))
            interleaved_rt = r.get("row_tracking") or interleaved_rt
            continue
        raise RuntimeError(
            f"publish_branch: parent advanced past the branch point "
            f"(v{v} op={r.get('op')!r} is neither refs-only nor a pure "
            f"append) — cannot fast-forward; re-branch from the current "
            f"head and replay"
        )
    if appended and bm.get("identity"):
        # identity values are BAKED into parquet on both sides, minted
        # from the same pre-branch watermark — collisions are physical
        # and irreparable here; the user must re-branch and re-stage
        raise RuntimeError(
            f"publish_branch: parent appended concurrently and {table_dir} "
            "declares identity columns (values are baked in files and may "
            "collide) — re-branch from the current head and replay"
        )
    if appended and bm.get("unique_keys"):
        raise RuntimeError(
            f"publish_branch: parent appended concurrently and {table_dir} "
            "declares ENFORCED unique keys — the branch batch was never "
            "probed against those rows; re-branch from the current head "
            "and replay"
        )
    head_m = _read_manifest(spark, table_dir, head_v)

    norm = commitlog.normpath
    bnorm = norm(bdir).rstrip("/") + "/"

    def _owned(f: str) -> bool:
        return norm(f).startswith(bnorm)

    pub = f"publish-{name}-{uuid.uuid4().hex[:12]}"
    remap: dict[str, str] = {}
    for f in bm["files"]:
        if not _owned(f):
            continue
        sub = norm(f)[len(bnorm):]
        if sub.startswith("data/"):
            sub = sub[len("data/"):]
        dst = f"{table_dir}/data/{pub}/{sub}"
        _copy_file(spark, f, dst)
        remap[f] = dst

    # --- deletion vectors: rewrite branch-owned DV content through the
    # remap (their file_path column holds SCAN-form paths, so the new
    # values must be the exact strings a future scan of the copies yields)
    dv_src = bm.get("dv_files") or []
    dv_final = [f for f in dv_src if not _owned(f)]
    dv_owned = [f for f in dv_src if _owned(f)]
    if dv_owned:
        dv = spark.read.parquet(*dv_owned)
        if remap:
            scan_forms = {
                norm(r[0]): r[0]
                for r in spark.read.parquet(*remap.values())
                .select(F.col("_metadata.file_path"))
                .distinct()
                .collect()
            }
            pairs = [(norm(old), scan_forms[norm(new)]) for old, new in remap.items()]
            mf = spark.createDataFrame(pairs, "__old string, __new string")
            dv = (
                dv.withColumn(
                    "__old",
                    F.regexp_replace("file_path", commitlog._SCHEME.pattern, "/"),
                )
                .join(F.broadcast(mf), "__old", "left")
                .select(
                    F.coalesce("__new", "file_path").alias("file_path"),
                    "row_index",
                )
            )
        dv_path = _write_data(
            dv, table_dir, f"v{head_v + 1:05d}-dv-{uuid.uuid4().hex[:12]}"
        )
        dv_final = dv_final + _data_files(spark, dv_path)

    new_stats: dict[str, dict] = {}
    inherited = {f for f in bm["files"] if not _owned(f)}
    for f, st in (bm.get("stats") or {}).items():
        if f in remap:
            # bloom sidecar refs point at the BRANCH's _bloom dir — a
            # dangling ref would make maintenance think the copy is
            # covered; strip it and let backfill re-index
            new_stats[remap[f]] = {k: v for k, v in st.items() if k != "__bloom"}
        elif f in inherited:
            new_stats[f] = st

    if appended:
        # the interleaved rows were never validated against constraints
        # the BRANCH added during the audit — enforce them here (bounded
        # by the interleave, never the table)
        base_m = _read_manifest(spark, table_dir, base_v)
        new_cons = {
            k: v
            for k, v in (bm.get("constraints") or {}).items()
            if (base_m.get("constraints") or {}).get(k) != v
        }
        if new_cons:
            colmap, _ = _mapping_of(bm)
            _validate_constraints(
                _read_with_dvs(spark, appended, bm.get("schema"), [], colmap=colmap),
                new_cons,
                "publish_branch",
            )
        new_stats.update({f: s for f, s in appended_stats.items() if f in set(appended)})

    manifest: dict = {
        "version": head_v + 1,
        "op": "publish_branch",
        "files": [remap.get(f, f) for f in bm["files"]] + appended,
        "schema": bm.get("schema"),
        "published_from": {
            "branch": name,
            "branch_version": bvs[-1],
            "base_version": base_v,
        },
    }
    if appended:
        manifest["rebased_over"] = list(range(base_v + 1, head_v + 1))
    if new_stats:
        manifest["stats"] = new_stats
    if dv_final:
        manifest["dv_files"] = dv_final
    _carry_table(
        bm, manifest, exclude=("stats", "dv_files", "refs", "row_tracking", "txns")
    )
    if head_m.get("refs"):
        # the PARENT's refs are authoritative — tags created during the
        # audit window survive the publish
        manifest["refs"] = head_m["refs"]
    if bm.get("txns") or head_m.get("txns"):
        # txn idempotence cursors merge per-app MAX: the audit may have
        # stamped writes on the branch while interleaved parent appends
        # stamped others — dropping either side would let a scheduler
        # retry re-apply a committed batch. A cursor the BRANCH advanced
        # records a branch-space commit version, meaningless at the
        # parent — rewrite it to the publish commit, the version its rows
        # become visible here.
        merged = dict(head_m.get("txns") or {})
        for app, cur in (bm.get("txns") or {}).items():
            if app not in merged or int(cur[1]) > int(merged[app][1]):
                merged[app] = [head_v + 1, int(cur[1])]
        manifest["txns"] = merged
    rt_b = bm.get("row_tracking") or {}
    rt_m = head_m.get("row_tracking") or {}
    rt_i = interleaved_rt or {}
    rt_alloc: list[list] = []
    if rt_b or rt_m:
        nxt = max(
            int(rt_b.get("next", 0)),
            int(rt_m.get("next", 0)),
            int(rt_i.get("next", 0)),
        )
        # Branch-new files minted metadata bases from the PRE-BRANCH
        # watermark; interleaved (or racing) parent appends minted from
        # the same one. With a pre-head interleave the copies' bases are
        # re-allocated above the merged watermark HERE (metadata-only;
        # the branch is consumed, so its old ids die with it — Delta's
        # non-preserving-operation rule); either way the copies join
        # ``_rt_alloc`` so the rebase funnel re-allocates them again if a
        # RACING append claims our slot. Files the branch MATERIALIZED
        # (_row_id baked by OPTIMIZE/REORG) can't re-base: refuse on an
        # interleave (racing appends are excluded via can_rebase below).
        stats = dict(manifest.get("stats") or {})
        for old, newf in sorted(remap.items()):
            st = stats.get(newf) or {}
            if st.get("__row_ids") == "materialized":
                if appended:
                    raise RuntimeError(
                        "publish_branch: parent appended concurrently and "
                        f"the branch materialized row ids in {newf} — "
                        "re-branch from the current head and replay"
                    )
                continue
            if "__base_row_id" in st:
                n = int(st["__rows"])
                if appended:
                    stats[newf] = {**st, "__base_row_id": nxt}
                    nxt += n
                rt_alloc.append([newf, n])
        if appended:
            manifest["stats"] = stats
        manifest["row_tracking"] = {"next": nxt}
        if rt_alloc:
            manifest["_rt_alloc"] = rt_alloc

    # Racing commits between our head read and the commit: rebase over
    # pure appends via the shared funnel when that is provably safe
    # (no identity/unique-key/fresh-constraint semantics to re-check and
    # every copied file's row ids re-allocable); otherwise abort on any
    # race, exactly the overwrite-class rule.
    can_rebase = (
        not bm.get("identity")
        and not bm.get("unique_keys")
        and (bm.get("constraints") or {})
        == ((_read_manifest(spark, table_dir, base_v).get("constraints")) or {})
        and not any(
            (bm.get("stats") or {}).get(old, {}).get("__row_ids") == "materialized"
            for old in remap
        )
    )
    if can_rebase:
        new_v = _commit_rebase_appends(
            spark, table_dir, head_v + 1, manifest,
            "publish_branch", debris="published copies",
        )
    else:
        new_v = _claim(spark, table_dir, manifest, "publish_branch")
    if drop:
        _rm_tree(spark, bdir)
    return new_v
