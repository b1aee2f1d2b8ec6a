"""Print every commit record a fixed run of the snapshot verbs writes.

Usage: python tools/manifest_trace.py [--keep DIR] > trace.txt

Runs each public snapshot verb (plus tags, branches and the COPY INTO
rollback) in a fixed order on small tables at local[1], then prints each
table's ``v*.json`` commit records and parquet checkpoints as normalized,
key-sorted JSON, one record per line:

- ``committed_at`` is dropped (wall clock);
- every data, CDC, DV and bloom-sidecar path becomes ``<pN>``, N being
  the path's index of first appearance in the trace, and the scratch
  root becomes ``<root>``.

Two checkouts that write the same manifests print the same trace, so
``diff`` of two runs is the "manifests unchanged" check for a refactor of
the commit path. Verb return values that are versions are printed too.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from customer_activity_lakehouse_spark.session import get_spark  # noqa: E402
from customer_activity_lakehouse_spark.sources import commitlog  # noqa: E402
from customer_activity_lakehouse_spark.sources import copy_into as CI  # noqa: E402
from customer_activity_lakehouse_spark.sources import refs as R  # noqa: E402
from customer_activity_lakehouse_spark.sources import snapshots as S  # noqa: E402


class _Norm:
    """Path renaming by first appearance, shared across the whole trace."""

    def __init__(self, root: str):
        self.root = commitlog.normpath(root)
        self.ids: dict[str, str] = {}

    def _is_path(self, s: str) -> bool:
        return commitlog.normpath(s).startswith(self.root + "/") or s.startswith(
            "_bloom/"
        )

    def _name(self, s: str) -> str:
        key = commitlog.normpath(s)
        if key not in self.ids:
            self.ids[key] = f"<p{len(self.ids)}>"
        return self.ids[key]

    def _scan(self, x) -> None:
        # pass 1: register paths in list order, dict values by sorted key
        if isinstance(x, list):
            for y in x:
                self._scan(y)
        elif isinstance(x, dict):
            for k in sorted(x):
                self._scan(x[k])
        elif isinstance(x, str) and self._is_path(x):
            self._name(x)

    def _map(self, x):
        if isinstance(x, list):
            return [self._map(y) for y in x]
        if isinstance(x, dict):
            out = {}
            for k, v in x.items():
                if k == "committed_at":
                    continue
                out[self._name(k) if self._is_path(k) else k] = self._map(v)
            return out
        if isinstance(x, str):
            if self._is_path(x):
                return self._name(x)
            return x.replace(self.root, "<root>")
        return x

    def dump(self, rec: dict) -> str:
        self._scan(rec)
        return json.dumps(self._map(rec), sort_keys=True, default=str)


def _print_table(norm: _Norm, name: str, table_dir: str) -> None:
    snap = Path(table_dir) / S._SNAP_DIR
    print(f"## table {name}")
    for p in sorted(snap.iterdir()):
        if re.fullmatch(r"v\d+\.json", p.name):
            rec = json.loads(p.read_text())
            print(f"{p.name} {norm.dump(rec)}")
        elif p.name.endswith(".parquet") or p.name.endswith(".checkpoint.json"):
            rec = commitlog.read_ckpt_path(str(p))
            print(f"{p.name} {norm.dump(rec)}")
        elif p.name == commitlog.LAST_CKPT:
            print(f"{p.name} {p.read_text().strip()}")


def _batch(spark, lo: int, hi: int):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .select(
            "id",
            F.format_string("k%04d", F.col("id")).alias("k"),
            (F.col("id") % 3).cast("int").alias("grp"),
            (F.col("id") % 50).cast("int").alias("a"),
            (F.col("id") * 2).alias("g"),
        )
        .coalesce(1)
    )


def run(spark, root: str) -> dict[str, str]:
    """The fixed verb sequence; returns {name: table_dir} to print."""
    from pyspark.sql import functions as F

    t = f"{root}/t"

    def step(label: str, value):
        print(f"# {label} -> {json.dumps(value, sort_keys=True, default=str)}")
        return value

    step("commit_append", S.commit_append(spark, t, _batch(spark, 0, 20), stats_cols=["id"]))
    step("set_generated_column", S.set_generated_column(spark, t, "g", "id * 2"))
    step("set_bloom_filter", S.set_bloom_filter(spark, t, ["k"], m_bits=2**13, k=4))
    step("commit_append", S.commit_append(spark, t, _batch(spark, 20, 40)))
    step("set_check_constraint", S.set_check_constraint(spark, t, "pos", "id >= 0"))
    step("set_unique_key", S.set_unique_key(spark, t, ["id"]))
    step("enable_row_tracking", S.enable_row_tracking(spark, t))
    step("set_partition_spec", S.set_partition_spec(spark, t, ["grp"]))
    step("commit_append", S.commit_append(spark, t, _batch(spark, 40, 60)))
    step("set_cluster_columns", S.set_cluster_columns(spark, t, ["id"]))
    step("analyze_snapshot", S.analyze_snapshot(spark, t, ["id", "a"]))
    step("set_tag", R.set_tag(spark, t, "audit"))
    step("set_identity_column", S.set_identity_column(spark, t, "id", mode="default"))
    step(
        "commit_append txn",
        S.commit_append(spark, t, _batch(spark, 60, 70), txn=("job", 1)),
    )
    step("latest_txn_version", S.latest_txn_version(spark, t, "job"))
    step("drop_identity_column", S.drop_identity_column(spark, t, "id"))
    step("drop_generated_column_expr", S.drop_generated_column_expr(spark, t, "g"))
    step("drop_snapshot_column", S.drop_snapshot_column(spark, t, "g"))
    step("rename_snapshot_column", S.rename_snapshot_column(spark, t, "k", "key"))
    widened = step(
        "widen_snapshot_column", S.widen_snapshot_column(spark, t, "a", "bigint")
    )
    upd = (
        spark.range(65, 75)
        .select(
            "id",
            F.format_string("u%04d", F.col("id")).alias("key"),
            (F.col("id") % 3).cast("int").alias("grp"),
            (F.col("id") % 50).alias("a"),
        )
        .coalesce(1)
    )
    step("merge_snapshot", S.merge_snapshot(spark, t, upd, keys=["id"]))
    step("delete_snapshot", S.delete_snapshot(spark, t, "id < 5"))
    step("delete_snapshot dv", S.delete_snapshot(spark, t, "id = 30", mode="dv"))
    step("update_snapshot", S.update_snapshot(spark, t, "id = 10", {"a": "a + 100"}))
    step(
        "update_snapshot dv",
        S.update_snapshot(spark, t, "id = 41", {"a": "a + 100"}, mode="dv"),
    )
    repl = (
        spark.range(200, 205)
        .select(
            "id",
            F.format_string("r%04d", F.col("id")).alias("key"),
            F.lit(1).alias("grp"),
            F.lit(7).cast("bigint").alias("a"),
        )
        .coalesce(1)
    )
    step(
        "commit_replace_where",
        S.commit_replace_where(spark, t, repl, "grp = 1 AND id >= 100"),
    )
    step("compact_snapshot", S.compact_snapshot(spark, t, target_file_mb=1))
    step("delete_snapshot dv", S.delete_snapshot(spark, t, "id = 20", mode="dv"))
    # rewriting the DV'd file leaves the carried pointer list inert
    step("delete_snapshot", S.delete_snapshot(spark, t, "id = 23"))
    step("drop_inert_dv_pointers", S.drop_inert_dv_pointers(spark, t))
    step("reorg_snapshot", S.reorg_snapshot(spark, t))
    step("drop_tag", R.drop_tag(spark, t, "audit"))
    step("drop_cluster_columns", S.drop_cluster_columns(spark, t))
    step("drop_unique_key", S.drop_unique_key(spark, t))
    step("drop_check_constraint", S.drop_check_constraint(spark, t, "pos"))
    step("set_partition_spec", S.set_partition_spec(spark, t, []))
    step("drop_bloom_filter", S.drop_bloom_filter(spark, t))
    step("set_bloom_filter", S.set_bloom_filter(spark, t, ["key"], m_bits=2**13, k=4))
    step("backfill_bloom_filters", S.backfill_bloom_filters(spark, t))
    step("drop_bloom_filter", S.drop_bloom_filter(spark, t))
    step("set_bloom_filter backfill", S.set_bloom_filter(spark, t, ["key"], m_bits=2**13, k=4, backfill=True))
    step("read_snapshot point_where", S.read_snapshot(spark, t, point_where={"key": "k0050"}).count())
    step("version_at_timestamp", S.version_at_timestamp(spark, t, "2999-01-01T00:00:00"))
    step("snapshot_changes", S.snapshot_changes(spark, t, widened, key_cols=["id"]).count())
    step("snapshot_change_feed", S.snapshot_change_feed(spark, t, widened).count())
    step("snapshot_history", S.snapshot_history(spark, t).count())
    step("snapshot_detail", S.snapshot_detail(spark, t).count())
    step("snapshot_file_listing", S.snapshot_file_listing(spark, t).count())
    step("snapshot_files_scan", S.snapshot_files_scan(spark, t).count())

    c = f"{root}/cursor"
    delta, latest = S.consume_appends(spark, t, c)
    step("consume_appends", latest)
    S.advance_cursor(spark, c, latest)
    step("cursor_position", S.cursor_position(spark, c))
    step("consume_changes", S.consume_changes(spark, t, c)[1])

    b = R.create_branch(spark, t, "wap")
    step("branch commit_append", S.commit_append(spark, b, _batch(spark, 300, 305).drop("g").withColumnRenamed("k", "key").withColumn("a", F.col("a").cast("bigint"))))
    step("publish_branch", R.publish_branch(spark, t, "wap"))

    cl = f"{root}/clone"
    step("clone_snapshot", S.clone_snapshot(spark, t, cl))
    step("restore_snapshot", S.restore_snapshot(spark, t, 3))
    step(
        "commit_overwrite",
        S.commit_overwrite(spark, t, _batch(spark, 0, 30), stats_cols=["id"]),
    )
    step("commit_append", S.commit_append(spark, t, _batch(spark, 30, 40)))
    step("maintain_snapshot", S.maintain_snapshot(spark, t, target_file_mb=1, max_small_files=0, keep_versions=100))
    step("vacuum", S.vacuum(spark, t, keep_last=100))

    u = f"{root}/fsck"
    S.commit_append(spark, u, _batch(spark, 0, 10), stats_cols=["id"])
    v2 = S.commit_append(spark, u, _batch(spark, 10, 20), stats_cols=["id"])
    gone = sorted(set(S._read_manifest(spark, u, v2)["files"]) - set(S._read_manifest(spark, u, 1)["files"]))
    os.unlink(commitlog.localize(gone[0]))
    step("fsck_snapshot", S.fsck_snapshot(spark, u, repair=True)["repaired"])

    ci = f"{root}/copy"
    src = f"{root}/landing"
    _batch(spark, 0, 8).write.parquet(f"{src}/b1")
    step("copy_into", CI.copy_into(spark, ci, src)["version"])
    step("copy rollback", CI._rollback_copy(spark, ci, 1))
    return {"t": t, "cursor": c, "clone": cl, "fsck": u, "copy": ci}


def main() -> None:
    args = sys.argv[1:]
    keep = args[args.index("--keep") + 1] if "--keep" in args else None
    root = keep or tempfile.mkdtemp(prefix="manifest-trace-")
    os.makedirs(root, exist_ok=True)
    spark = get_spark("manifest-trace", master="local[1]", shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tables = run(spark, root)
        norm = _Norm(root)
        for name, d in tables.items():
            _print_table(norm, name, d)
    finally:
        spark.stop()
        if keep is None:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
