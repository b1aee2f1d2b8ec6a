"""Snapshot-log tests: time travel, overwrite isolation, optimistic
concurrency, crash-debris invisibility, and vacuum."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from customer_activity_lakehouse_spark.sources.snapshots import (
    commit_append,
    commit_overwrite,
    read_snapshot,
    vacuum,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_time_travel_and_latest(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = commit_append(spark, t, _df(spark, 0, 10))
    v2 = commit_append(spark, t, _df(spark, 10, 25))
    assert (v1, v2) == (1, 2)
    assert read_snapshot(spark, t).count() == 25  # latest
    assert read_snapshot(spark, t, version=1).count() == 10  # time travel
    assert sorted(r.id for r in read_snapshot(spark, t, 1).collect()) == list(range(10))


def test_overwrite_keeps_history_until_vacuum(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 10))
    v2 = commit_overwrite(spark, t, _df(spark, 100, 103))
    assert v2 == 2
    assert read_snapshot(spark, t).count() == 3
    assert read_snapshot(spark, t, 1).count() == 10  # history intact
    deleted = vacuum(spark, t, keep_last=1)
    assert deleted > 0
    assert read_snapshot(spark, t).count() == 3  # latest untouched
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, t, 1)  # expired


def test_append_retries_around_concurrent_commit(spark, tmp_path):
    """Simulate losing the version race: a competing manifest for the next
    version lands before our commit — append must retry at n+1."""
    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 5))
    # competitor claims v2 directly
    snap = Path(t) / "_snapshots"
    (snap / "v00002.json").write_text(json.dumps({"version": 2, "op": "append", "files": []}))
    v = commit_append(spark, t, _df(spark, 5, 8))
    assert v == 3
    assert read_snapshot(spark, t).count() == 3 + 0  # v3 = v2's files ([]) + batch
    # v1 is still complete
    assert read_snapshot(spark, t, 1).count() == 5


def test_overwrite_aborts_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """The race window: a competitor commits v2 AFTER the overwrite reads
    the log (simulated with a stale _list_versions) but before its rename —
    rename refuses the existing destination and the overwrite aborts."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 5))
    snap = Path(t) / "_snapshots"
    (snap / "v00002.json").write_text(json.dumps({"version": 2, "op": "append", "files": []}))
    monkeypatch.setattr(S, "_list_versions", lambda sp, td: [1])  # stale read
    with pytest.raises(RuntimeError, match="committed concurrently"):
        S.commit_overwrite(spark, t, _df(spark, 0, 1))
    monkeypatch.undo()
    assert read_snapshot(spark, t, 1).count() == 5  # v1 untouched by the abort


def test_uncommitted_data_is_invisible_and_vacuumed(spark, tmp_path):
    """A crashed commit leaves a data dir with no manifest: readers never
    see it (they read manifest file lists), vacuum removes it."""
    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 5))
    # orphan debris: data written, manifest never committed
    _df(spark, 90, 99).write.parquet(f"{t}/data/v99999-orphan")
    assert read_snapshot(spark, t).count() == 5
    vacuum(spark, t, keep_last=1)
    assert not Path(f"{t}/data/v99999-orphan").exists()
    assert read_snapshot(spark, t).count() == 5


def test_snapshot_changes_append_fast_path_reads_only_delta(spark, tmp_path):
    """Append-only CDC must read exactly the files added after v_from —
    no join, no base-table scan (the incremental-consumption contract)."""
    import io
    import contextlib

    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        snapshot_changes,
    )

    t = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    delta = spark.createDataFrame([(3, "c"), (4, "d")], "id long, v string")
    v1 = commit_append(spark, t, base)
    v2 = commit_append(spark, t, delta)
    ch = snapshot_changes(spark, t, v_from=v1, v_to=v2)
    rows = {(r.id, r.v, r.change_type) for r in ch.collect()}
    assert rows == {(3, "c", "insert"), (4, "d", "insert")}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ch.explain("simple")
    assert "Join" not in buf.getvalue()  # delta files only, never a diff join
    # empty range -> empty frame, correct schema
    assert snapshot_changes(spark, t, v_from=v2, v_to=v2).count() == 0


def test_snapshot_changes_overwrite_diff_classifies(spark, tmp_path):
    """Crossing an overwrite falls back to the keyed full-outer diff:
    insert/update/delete classification with new values (old for
    deletes), unchanged rows suppressed."""
    import pytest as _pytest

    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        commit_overwrite,
        snapshot_changes,
    )

    t = str(tmp_path / "t")
    v1 = commit_append(
        spark,
        t,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string"),
    )
    v2 = commit_overwrite(
        spark,
        t,
        # 1 unchanged, 2 updated, 3 deleted, 4 inserted
        spark.createDataFrame([(1, "a"), (2, "B"), (4, "d")], "id long, v string"),
    )
    with _pytest.raises(ValueError, match="key_cols"):
        snapshot_changes(spark, t, v_from=v1, v_to=v2)
    ch = snapshot_changes(spark, t, v_from=v1, v_to=v2, key_cols=["id"])
    rows = {(r.id, r.v, r.change_type) for r in ch.collect()}
    assert rows == {(2, "B", "update"), (3, "c", "delete"), (4, "d", "insert")}


def test_cdc_driven_incremental_view_maintenance(spark, tmp_path):
    """End-to-end IVM over the snapshot log: a rollup maintained purely
    from snapshot_changes deltas (the append fast path — no base rescans)
    must equal a full recompute over the latest snapshot. Chains the two
    CDC/incremental primitives (snapshots.snapshot_changes →
    tables.merge_additive) the way a production refresh job would."""
    from pyspark.sql import functions as F

    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        read_snapshot,
        snapshot_changes,
    )
    from customer_activity_lakehouse_spark.sources.tables import (
        TableSpec,
        merge_additive,
        read_table,
    )

    base = str(tmp_path / "facts")
    b0 = spark.createDataFrame(
        [("2024-01-01", "click", 2.0), ("2024-01-01", "view", 1.0)],
        "dt string, typ string, v double",
    )
    b1 = spark.createDataFrame(
        [("2024-01-01", "click", 5.0), ("2024-01-02", "buy", 7.0)],
        "dt string, typ string, v double",
    )
    b2 = spark.createDataFrame(
        [("2024-01-02", "buy", 1.0), ("2024-01-02", "view", 4.0)],
        "dt string, typ string, v double",
    )
    v0 = commit_append(spark, base, b0)
    v1 = commit_append(spark, base, b1)
    v2 = commit_append(spark, base, b2)

    def rollup(df):
        return df.groupBy("dt", "typ").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
        )

    spec = TableSpec(str(tmp_path / "mv"), ("dt",))
    # initialize from v0, then refresh ONLY from CDC deltas
    merge_additive(spark, spec, rollup(read_snapshot(spark, base, version=v0)), keys=["dt", "typ"])
    for v_from, v_to in [(v0, v1), (v1, v2)]:
        delta = snapshot_changes(spark, base, v_from, v_to)
        assert delta.filter("change_type != 'insert'").count() == 0  # append fast path
        merge_additive(spark, spec, rollup(delta.drop("change_type")), keys=["dt", "typ"])

    got = {(r.dt, r.typ, r.n, r.total) for r in read_table(spark, spec).collect()}
    want = {
        (r.dt, r.typ, r.n, r.total)
        for r in rollup(read_snapshot(spark, base)).collect()
    }
    assert got == want


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """Shallow clone: one manifest write, content-identical read, then
    copy-on-write divergence — appends at the clone land under the clone's
    dir and never touch the source; the clone's vacuum cannot delete
    source files; cloning into a non-empty destination refuses. The
    source-vacuum caveat (expiring the cloned version at the source breaks
    the clone) is pinned as documented behavior."""
    import pytest

    from customer_activity_lakehouse_spark.sources.snapshots import (
        clone_snapshot,
        commit_append,
        commit_overwrite,
        read_snapshot,
        vacuum,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df1 = spark.range(100).selectExpr("id", "id * 2 as v")
    commit_append(spark, src, df1)
    v = clone_snapshot(spark, src, dst)
    assert v == 1
    assert sorted(read_snapshot(spark, dst).collect()) == sorted(df1.collect())
    # zero-copy: the clone's own data dir does not exist yet
    import os

    assert not os.path.exists(f"{dst}/data")

    # divergence: append at the clone, source unchanged
    commit_append(spark, dst, spark.range(100, 150).selectExpr("id", "id * 2 as v"))
    assert read_snapshot(spark, dst).count() == 150
    assert read_snapshot(spark, src).count() == 100
    # clone vacuum never touches source files
    vacuum(spark, dst, keep_last=1)
    assert read_snapshot(spark, src).count() == 100

    with pytest.raises(FileExistsError):
        clone_snapshot(spark, src, dst)

    # the documented caveat: source vacuum does not know about clones
    commit_overwrite(spark, src, spark.range(5).selectExpr("id", "id as v"))
    vacuum(spark, src, keep_last=1)  # expires the cloned version's files
    with pytest.raises(Exception):
        read_snapshot(spark, dst).collect()


def test_consume_appends_at_least_once_cursor(spark, tmp_path):
    """Incremental consumption contract: each consume returns exactly the
    unseen appended rows; an unacknowledged delta is re-delivered
    (at-least-once); after advance_cursor the next consume is empty; an
    overwrite inside the unconsumed range fails instead of silently
    misreporting."""
    import pytest

    from customer_activity_lakehouse_spark.sources.snapshots import (
        advance_cursor,
        commit_append,
        commit_overwrite,
        consume_appends,
        cursor_position,
    )

    base = str(tmp_path / "t")
    cur = str(tmp_path / "cursor")
    commit_append(spark, base, spark.range(10).selectExpr("id"))
    d1, v1 = consume_appends(spark, base, cur)
    assert d1.count() == 10 and cursor_position(spark, cur) == 0
    # crash before ack: same delta re-delivered
    d1b, v1b = consume_appends(spark, base, cur)
    assert v1b == v1 and d1b.count() == 10
    advance_cursor(spark, cur, v1)
    assert cursor_position(spark, cur) == v1
    none_delta, v_same = consume_appends(spark, base, cur)
    assert none_delta is None and v_same == v1

    commit_append(spark, base, spark.range(10, 15).selectExpr("id"))
    commit_append(spark, base, spark.range(15, 18).selectExpr("id"))
    d2, v2 = consume_appends(spark, base, cur)
    assert sorted(r.id for r in d2.collect()) == list(range(10, 18))
    advance_cursor(spark, cur, v2)

    commit_overwrite(spark, base, spark.range(3).selectExpr("id"))
    with pytest.raises(Exception):
        consume_appends(spark, base, cur)


def test_restore_snapshot_rolls_back_preserving_history(spark, tmp_path):
    """RESTORE parity: rolling back commits a NEW version with the old
    file list — reads flip to the restored content, the bad version stays
    time-travelable, and vacuum after restore keeps the restored files
    (the latest manifest references them)."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        commit_overwrite,
        read_snapshot,
        restore_snapshot,
        vacuum,
    )

    base = str(tmp_path / "t")
    v1 = commit_append(spark, base, spark.range(10).selectExpr("id"))
    v2 = commit_overwrite(spark, base, spark.range(3).selectExpr("id"))  # the bad deploy
    assert read_snapshot(spark, base).count() == 3
    v3 = restore_snapshot(spark, base, v1)
    assert v3 == v2 + 1
    assert read_snapshot(spark, base).count() == 10
    assert read_snapshot(spark, base, version=v2).count() == 3  # history intact
    vacuum(spark, base, keep_last=1)
    assert read_snapshot(spark, base).count() == 10  # restored files survive


def test_append_schema_drift_gated(spark, tmp_path):
    """Schema contract on the log: a drifted append fails BEFORE writing
    (nothing new committed, table still reads), and with
    allow_schema_evolution=True the evolved signature is recorded and the
    table reads the union-by-name view."""
    import pytest

    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        read_snapshot,
    )

    base = str(tmp_path / "t")
    commit_append(spark, base, spark.createDataFrame([(1, "a")], "k long, v string"))
    drifted = spark.createDataFrame([(2, "b", 1.5)], "k long, v string, s double")
    with pytest.raises(ValueError, match="schema drift"):
        commit_append(spark, base, drifted)
    assert read_snapshot(spark, base).count() == 1  # nothing poisoned

    commit_append(spark, base, drifted, allow_schema_evolution=True)
    got = read_snapshot(spark, base)
    assert set(got.columns) == {"k", "v", "s"}
    rows = {r.k: (r.v, r.s) for r in got.collect()}
    assert rows == {1: ("a", None), 2: ("b", 1.5)}


def test_concurrent_appends_all_land_exactly_once(spark, tmp_path):
    """Optimistic-concurrency stress: 6 threads racing commit_append on one
    table — every batch lands exactly once, versions are contiguous from 1,
    and the final read is the union of all batches (no lost updates, no
    duplicates) despite version races forcing retries."""
    import threading

    from customer_activity_lakehouse_spark.sources.snapshots import (
        _list_versions,
        commit_append,
        read_snapshot,
    )

    base = str(tmp_path / "race")
    n_writers = 6
    errs = []

    def writer(i: int) -> None:
        try:
            commit_append(
                spark, base, spark.range(i * 100, i * 100 + 10).selectExpr("id")
            )
        except Exception as e:  # surfaced after join
            errs.append((i, e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    versions = _list_versions(spark, base)
    assert versions == list(range(1, n_writers + 1)), versions
    got = sorted(r.id for r in read_snapshot(spark, base).collect())
    want = sorted(x for i in range(n_writers) for x in range(i * 100, i * 100 + 10))
    assert got == want


def test_manifest_stats_data_skipping(spark, tmp_path):
    """Delta-style data skipping from manifest stats: commits record
    per-file [min,max]; a skip_where read drops files whose range cannot
    intersect BEFORE Spark lists them (verified via inputFiles), returns
    exactly the matching rows after the real predicate, never skips
    stat-less files, and an impossible range reads empty with the
    table's schema."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        read_snapshot,
    )

    base = str(tmp_path / "t")
    for lo in (0, 1000, 2000):
        commit_append(
            spark,
            base,
            spark.range(lo, lo + 100).selectExpr("id", "id * 2 as v").coalesce(1),
            stats_cols=["id"],
        )
    full = read_snapshot(spark, base)
    assert len(full.inputFiles()) == 3

    pruned = read_snapshot(spark, base, skip_where=("id", 1010, 1020))
    assert len(pruned.inputFiles()) == 1, pruned.inputFiles()
    got = sorted(r.id for r in pruned.filter("id between 1010 and 1020").collect())
    assert got == list(range(1010, 1021))

    # open bounds prune one side only
    assert len(read_snapshot(spark, base, skip_where=("id", 2000, None)).inputFiles()) == 1
    assert len(read_snapshot(spark, base, skip_where=("id", None, 999)).inputFiles()) == 1

    # impossible range: empty frame, schema preserved
    empty = read_snapshot(spark, base, skip_where=("id", 5000, 6000))
    assert empty.count() == 0 and set(empty.columns) == {"id", "v"}

    # a column with no recorded stats never skips
    assert len(read_snapshot(spark, base, skip_where=("v", 0, 1)).inputFiles()) == 3


# ---------------------------------------------------------------------------
# round 7: OPTIMIZE (compact_snapshot), snapshot-native MERGE, stats fixes
# ---------------------------------------------------------------------------


def _commit_sized(spark, t, lo, hi, incompressible=False):
    """One single-file append with id-stats. ``incompressible`` makes the
    file genuinely large (xxhash64 payload defeats parquet encodings), so a
    size threshold between tiny and large files is stable."""
    from pyspark.sql import functions as F

    from customer_activity_lakehouse_spark.sources.snapshots import commit_append

    df = spark.range(lo, hi).select(
        "id",
        (F.xxhash64("id") if incompressible else (F.col("id") * 2)).alias("v"),
    )
    return commit_append(spark, t, df.coalesce(1), stats_cols=["id"])


def test_compact_snapshot_bin_packs_preserving_history_and_skipping(spark, tmp_path):
    """OPTIMIZE: small files bin-pack into a replace-class commit; files at
    or above the target are kept VERBATIM with their stats; time travel to
    the pre-compact version still reads the old layout; skip_where prunes
    on both the kept and the rewritten side; vacuum expires the old small
    files only after the retained window passes; an immediate re-compact
    is a no-op."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _list_versions,
        _read_manifest,
        compact_snapshot,
        read_snapshot,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 100)  # tiny
    _commit_sized(spark, t, 100, 200)  # tiny
    _commit_sized(spark, t, 1_000_000, 1_500_000, incompressible=True)  # ~4-8 MB
    pre_v = _list_versions(spark, t)[-1]
    pre_files = _read_manifest(spark, t, pre_v)["files"]
    assert len(pre_files) == 3

    v = compact_snapshot(spark, t, target_file_mb=1)
    assert v == pre_v + 1
    m = _read_manifest(spark, t, v)
    assert m["op"] == "replace" and m["data_change"] is False
    assert m["files_rewritten"] == 2 and len(m["files"]) == 2
    big = [f for f in pre_files if f in set(m["files"])]
    assert len(big) == 1  # the large file was kept verbatim

    # content identical before/after; the old layout stays time-travelable
    assert read_snapshot(spark, t).count() == 100 + 100 + 500_000
    assert read_snapshot(spark, t, version=pre_v).count() == 100 + 100 + 500_000
    assert len(read_snapshot(spark, t, version=pre_v).inputFiles()) == 3

    # skipping still works on BOTH sides of the rewrite
    assert len(read_snapshot(spark, t, skip_where=("id", 0, 50)).inputFiles()) == 1
    assert (
        len(read_snapshot(spark, t, skip_where=("id", 1_000_000, 1_000_010)).inputFiles())
        == 1
    )
    got = sorted(
        r.id
        for r in read_snapshot(spark, t, skip_where=("id", 0, 150))
        .filter("id <= 150")
        .collect()
    )
    assert got == list(range(151))

    # nothing left to compact (one small file + one big file)
    assert compact_snapshot(spark, t, target_file_mb=1) is None

    # vacuum keeping the pre-compact version preserves the old small files
    vacuum(spark, t, keep_last=2)
    assert read_snapshot(spark, t, version=pre_v).count() == 500_200
    # expiring it removes them; the compacted layout still reads
    vacuum(spark, t, keep_last=1)
    assert read_snapshot(spark, t).count() == 500_200
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, t, version=pre_v)


def test_compact_snapshot_aborts_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """A commit landing between compaction's read and its rename must abort
    the compaction (its file list depends on what it read), leaving the
    table untouched."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    # v1 already holds two small files so the stale-read compaction has
    # work to do; v2 is the concurrent commit it must not clobber
    S.commit_append(
        spark, t, spark.range(0, 100).selectExpr("id", "id*2 as v").repartition(2)
    )
    _commit_sized(spark, t, 100, 200)
    real = S._list_versions
    monkeypatch.setattr(S, "_list_versions", lambda sp, td: [1])  # stale read
    with pytest.raises(RuntimeError, match="committed concurrently"):
        S.compact_snapshot(spark, t, target_file_mb=1)
    monkeypatch.undo()
    assert real(spark, t) == [1, 2]
    assert S.read_snapshot(spark, t).count() == 200  # unharmed


def test_compact_is_zero_delta_for_incremental_consumers(spark, tmp_path):
    """data_change=false contract: a consumer mid-stream sees compaction as
    an empty delta (never the rewritten rows re-delivered as inserts), and
    appends AFTER compaction flow through normally."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        advance_cursor,
        commit_append,
        compact_snapshot,
        consume_appends,
    )

    t = str(tmp_path / "t")
    cur = str(tmp_path / "cursor")
    commit_append(spark, t, spark.range(0, 10).selectExpr("id").coalesce(1))
    commit_append(spark, t, spark.range(10, 20).selectExpr("id").coalesce(1))
    d, v = consume_appends(spark, t, cur)
    assert d.count() == 20
    advance_cursor(spark, cur, v)

    cv = compact_snapshot(spark, t, target_file_mb=1)
    assert cv is not None
    d2, v2 = consume_appends(spark, t, cur)
    assert v2 == cv and d2.count() == 0  # compaction is invisible
    advance_cursor(spark, cur, v2)

    commit_append(spark, t, spark.range(20, 25).selectExpr("id").coalesce(1))
    d3, v3 = consume_appends(spark, t, cur)
    assert sorted(r.id for r in d3.collect()) == list(range(20, 25))


def test_merge_snapshot_rewrites_only_overlapping_files(spark, tmp_path):
    """MERGE prunes with the log's own stats: files whose key range cannot
    intersect the batch are carried into the new manifest verbatim (stats
    included); matched keys update whole-row, unmatched insert."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        merge_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 100)  # file A: ids 0-99
    _commit_sized(spark, t, 1000, 1100)  # file B: ids 1000-1099
    m_before = _read_manifest(spark, t, 2)
    file_b = [f for f in m_before["files"] if m_before["stats"][f]["id"][0] == 1000]
    assert len(file_b) == 1

    updates = spark.createDataFrame(
        [(10, -1), (50, -2), (75_000, -3)], "id long, v long"  # 2 updates + 1 insert
    )
    v = merge_snapshot(spark, t, updates, keys=["id"])
    m = _read_manifest(spark, t, v)
    assert m["op"] == "merge" and m["files_rewritten"] == 1
    assert file_b[0] in m["files"]  # B untouched, carried verbatim
    assert m["stats"][file_b[0]]["id"] == [1000, 1099]  # with its stats

    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert got[10] == -1 and got[50] == -2 and got[75_000] == -3
    assert got[11] == 22 and got[1000] == 2000  # untouched rows intact
    assert len(got) == 201
    # pre-merge version still time-travels to the old values
    old = {r.id: r.v for r in read_snapshot(spark, t, version=2).collect()}
    assert old[10] == 20 and 75_000 not in old

    # an insert-only merge outside every file's range rewrites NOTHING
    v2 = merge_snapshot(
        spark, t, spark.createDataFrame([(90_000, -9)], "id long, v long"), keys=["id"]
    )
    m2 = _read_manifest(spark, t, v2)
    assert m2["files_rewritten"] == 0
    assert set(m["files"]) < set(m2["files"])
    assert read_snapshot(spark, t).count() == 202


def test_merge_snapshot_order_col_and_schema_gate(spark, tmp_path):
    """In-batch ties resolve by order_col descending; schema drift refuses
    before any write."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        merge_snapshot,
        read_snapshot,
    )

    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 10)
    dup = spark.createDataFrame([(3, 111), (3, 222)], "id long, v long").withColumn(
        "seq", F.when(F.col("v") == 222, 7).otherwise(1)
    )
    with pytest.raises(ValueError, match="schema drift"):
        merge_snapshot(spark, t, dup, keys=["id"])  # extra 'seq' column
    merge_snapshot(spark, t, dup.select("id", "v"), keys=["id"], order_col="v")
    assert read_snapshot(spark, t).filter("id = 3").collect()[0].v == 222


def test_merge_snapshot_racing_merges_serialize(spark, tmp_path):
    """The racing-merges twin of the 6-writer append stress: concurrent
    merges either commit or abort with a version-race error; with
    retry-on-abort every merge lands exactly once and the final table is
    the serial application of all of them."""
    import threading

    from customer_activity_lakehouse_spark.sources.snapshots import (
        _list_versions,
        merge_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "race")
    _commit_sized(spark, t, 0, 40)
    n_writers = 4
    errs = []

    def writer(i: int) -> None:
        upd = spark.createDataFrame([(i, -(i + 1)), (100 + i, -(i + 1))], "id long, v long")
        for _ in range(12):  # retry aborted (conflicting) merges
            try:
                merge_snapshot(spark, t, upd, keys=["id"])
                return
            except RuntimeError:
                continue
        errs.append(i)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, f"writers never landed: {errs}"
    versions = _list_versions(spark, t)
    assert versions == list(range(1, n_writers + 2)), versions
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert len(got) == 40 + n_writers
    for i in range(n_writers):
        assert got[i] == -(i + 1) and got[100 + i] == -(i + 1)


def test_merge_snapshot_cdc_reports_net_delta(spark, tmp_path):
    """snapshot_changes across a merge commit (keyed diff path) reports
    exactly the merge's net effect: updates + inserts, unchanged rows
    suppressed."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        merge_snapshot,
        snapshot_changes,
    )

    t = str(tmp_path / "tbl")
    v1 = _commit_sized(spark, t, 0, 10)
    updates = spark.createDataFrame([(3, -3), (500, -5)], "id long, v long")
    v2 = merge_snapshot(spark, t, updates, keys=["id"])
    ch = snapshot_changes(spark, t, v1, v2, key_cols=["id"])
    rows = {(r.id, r.v, r.change_type) for r in ch.collect()}
    assert rows == {(3, -3, "update"), (500, -5, "insert")}


def test_merge_snapshot_bootstraps_empty_table(spark, tmp_path):
    from customer_activity_lakehouse_spark.sources.snapshots import (
        merge_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    v = merge_snapshot(
        spark,
        t,
        spark.createDataFrame([(1, 10), (1, 20), (2, 30)], "id long, v long"),
        keys=["id"],
        order_col="v",
        stats_cols=["id"],
    )
    assert v == 1
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert got == {1: 20, 2: 30}


def test_decimal_stats_skip_safely(spark, tmp_path):
    """ADVICE r6: decimal min/max must not be stringified ('9.5' > '10.5'
    lexicographically would turn skipping into a WRONG filter). They are
    recorded as outward-widened floats; numeric, decimal, and string-era
    bounds all prune correctly or degrade to a full read — never drop a
    matching file."""
    import decimal as _dec
    import json as _json
    from pathlib import Path as _Path

    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    for lo, hi in [("1.5", "9.5"), ("10.5", "20.5")]:
        df = spark.createDataFrame(
            [(_dec.Decimal(lo),), (_dec.Decimal(hi),)], "d decimal(10,2)"
        )
        commit_append(spark, t, df.coalesce(1), stats_cols=["d"])

    # stats landed numeric, not strings (resolved view across the log)
    from customer_activity_lakehouse_spark.sources.snapshots import _read_manifest

    stats = _read_manifest(spark, t, 2)["stats"]
    for st in stats.values():
        assert all(isinstance(b, float) for b in st["d"]), st

    # the ADVICE failure case: a [10, 15] probe must keep the 10.5 file
    pr = read_snapshot(spark, t, skip_where=("d", _dec.Decimal("10.0"), _dec.Decimal("15.0")))
    assert len(pr.inputFiles()) == 1
    assert [float(r.d) for r in pr.filter("d <= 15").collect()] == [10.5]
    # float bounds behave identically
    assert len(read_snapshot(spark, t, skip_where=("d", 10.0, 15.0)).inputFiles()) == 1
    # incomparable legacy stats (strings) degrade to reading, never
    # pruning — stringify every stat bound in the RAW commit records
    # (full manifests carry "stats", delta records "delta.stats_add")
    for mpath in sorted((_Path(t) / "_snapshots").glob("v*.json")):
        m = _json.loads(mpath.read_text())
        for st in {**m.get("stats", {}), **m.get("delta", {}).get("stats_add", {})}.values():
            if "d" in st:
                st["d"] = [str(st["d"][0]), str(st["d"][1])]
        mpath.write_text(_json.dumps(m))
        crc = mpath.parent / f".{mpath.name}.crc"  # stale Hadoop checksum
        if crc.exists():
            crc.unlink()
    assert len(read_snapshot(spark, t, skip_where=("d", 10.0, 15.0)).inputFiles()) == 2


def test_append_retry_revalidates_schema_against_latest(spark, tmp_path):
    """ADVICE r6: the commit retry loop must re-check schema drift against
    whatever manifest is latest AT COMMIT TIME — a concurrent writer may
    have evolved the schema after this writer's entry validation. Without
    evolution the stale append fails; with it, the recorded signature is
    the UNION (the concurrently-added column survives)."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _commit_append_files,
        _read_manifest,
        commit_append,
        read_snapshot,
    )

    t = str(tmp_path / "t")
    commit_append(spark, t, spark.createDataFrame([(1, "a")], "k long, v string"))
    # competitor evolves the schema first
    commit_append(
        spark,
        t,
        spark.createDataFrame([(2, "b", 1.5)], "k long, v string, s double"),
        allow_schema_evolution=True,
    )
    stale_sig = [["k", "bigint"], ["v", "string"]]
    with pytest.raises(ValueError, match="schema drift"):
        _commit_append_files(spark, t, [], stale_sig, {})
    v = _commit_append_files(spark, t, [], stale_sig, {}, allow_schema_evolution=True)
    sig = _read_manifest(spark, t, v)["schema"]
    assert sig == [["k", "bigint"], ["v", "string"], ["s", "double"]]
    assert set(read_snapshot(spark, t).columns) == {"k", "v", "s"}


def test_clone_and_restore_carry_skipping_stats(spark, tmp_path):
    """ADVICE r6: clone/restore manifests must propagate per-file stats —
    dropping them silently disables skip_where at the clone / after the
    restore."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        clone_snapshot,
        commit_overwrite,
        read_snapshot,
        restore_snapshot,
    )

    src = str(tmp_path / "src")
    for lo in (0, 1000):
        _commit_sized(spark, src, lo, lo + 100)
    dst = str(tmp_path / "dst")
    clone_snapshot(spark, src, dst)
    assert len(read_snapshot(spark, dst, skip_where=("id", 0, 50)).inputFiles()) == 1

    commit_overwrite(spark, src, spark.range(3).selectExpr("id", "id as v"))
    v = restore_snapshot(spark, src, 2)
    assert len(read_snapshot(spark, src, version=v, skip_where=("id", 0, 50)).inputFiles()) == 1


def test_delete_snapshot_prunes_probes_and_rewrites(spark, tmp_path):
    """DELETE as a commit: manifest-level prune_where carries provably-
    clean files verbatim; the empirical probe leaves zero-match candidates
    untouched; only files truly holding matching rows are rewritten
    without them. History, skipping stats, idempotent no-match, and CDC
    all pinned."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        delete_snapshot,
        read_snapshot,
        snapshot_changes,
    )

    t = str(tmp_path / "tbl")
    for lo in (0, 1000, 2000):
        _commit_sized(spark, t, lo, lo + 100)
    m0 = _read_manifest(spark, t, 3)

    v = delete_snapshot(
        spark, t, "id BETWEEN 1010 AND 1019", prune_where=("id", 1010, 1019)
    )
    assert v == 4
    m = _read_manifest(spark, t, v)
    assert m["op"] == "delete" and m["files_rewritten"] == 1
    kept = set(m0["files"]) & set(m["files"])
    assert len(kept) == 2  # the 0-99 and 2000-2099 files carried verbatim
    for f in kept:
        assert m["stats"][f] == m0["stats"][f]
    got = sorted(r.id for r in read_snapshot(spark, t).collect())
    assert len(got) == 290 and not any(1010 <= i <= 1019 for i in got)
    assert read_snapshot(spark, t, version=3).count() == 300  # time travel
    # skipping still prunes on both kept and rewritten sides
    assert len(read_snapshot(spark, t, skip_where=("id", 0, 5)).inputFiles()) == 1
    assert len(read_snapshot(spark, t, skip_where=("id", 1050, 1060)).inputFiles()) == 1

    # CDC across the delete (keyed diff) reports exactly the deletions
    ch = snapshot_changes(spark, t, 3, v, key_cols=["id"])
    rows = {(r.id, r.change_type) for r in ch.collect()}
    assert rows == {(i, "delete") for i in range(1010, 1020)}

    # no-match deletes are idempotent no-ops (no new version):
    # (a) pruned entirely by stats — no probe I/O either
    assert delete_snapshot(spark, t, "id = 5000", prune_where=("id", 5000, 5000)) == v
    # (b) probe finds no rows
    assert delete_snapshot(spark, t, "id = 5000") == v


def test_delete_snapshot_aborts_on_concurrent_commit(spark, tmp_path, monkeypatch):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 100)
    _commit_sized(spark, t, 100, 200)
    monkeypatch.setattr(S, "_list_versions", lambda sp, td: [1])  # stale read
    with pytest.raises(RuntimeError, match="committed concurrently"):
        S.delete_snapshot(spark, t, "id < 10")
    monkeypatch.undo()
    assert S.read_snapshot(spark, t).count() == 200  # unharmed


def test_compact_snapshot_clustered_tightens_skipping(spark, tmp_path):
    """OPTIMIZE cluster_by: interleaved appends each span the whole key
    range, so every probe reads every file; the clustered rewrite range-
    partitions the table into files with DISJOINT key ranges, after which
    a narrow skip_where reads ~one file. Still data_change=false."""
    from pyspark.sql import functions as F

    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        commit_append,
        compact_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "tbl")
    n, stride = 300_000, 4
    for k in range(stride):
        df = (
            spark.range(n)
            .filter(F.col("id") % stride == k)  # ids interleave across files
            .select("id", F.xxhash64("id").alias("v"))
        )
        commit_append(spark, t, df.coalesce(1), stats_cols=["id"])
    probe = ("id", 10, 20)
    assert len(read_snapshot(spark, t, skip_where=probe).inputFiles()) == stride

    v = compact_snapshot(spark, t, target_file_mb=1, cluster_by=["id"])
    m = _read_manifest(spark, t, v)
    assert m["data_change"] is False and m["clustered_by"] == ["id"]
    assert m["files_rewritten"] == stride and len(m["files"]) > 1
    # disjoint per-file ranges on the cluster key
    ranges = sorted(m["stats"][f]["id"] for f in m["files"])
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    # a narrow probe now reads exactly one file; content unchanged
    assert len(read_snapshot(spark, t, skip_where=probe).inputFiles()) == 1
    assert read_snapshot(spark, t).count() == n


def test_snapshot_change_feed_per_commit_granularity(spark, tmp_path):
    """Delta CDF parity: the feed reads per-commit change rows (appends
    from their added files; merge/delete/update from persisted change
    files) stamped with _commit_version — a key changed twice appears
    twice, compaction contributes nothing, and commits without row-level
    feeds (overwrite) raise toward the keyed-diff fallback."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        commit_overwrite,
        compact_snapshot,
        delete_snapshot,
        merge_snapshot,
        snapshot_change_feed,
        update_snapshot,
    )

    t = str(tmp_path / "tbl")
    v1 = commit_append(
        spark,
        t,
        spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(1),
        stats_cols=["id"],
    )
    v2 = merge_snapshot(
        spark, t,
        spark.createDataFrame([(3, -3), (100, -100)], "id long, v long"),
        keys=["id"],
    )
    v3 = delete_snapshot(spark, t, "id = 5")
    v4 = compact_snapshot(spark, t, target_file_mb=1)
    v5 = update_snapshot(spark, t, "id = 100", {"v": "v - 900"})
    v6 = merge_snapshot(
        spark, t, spark.createDataFrame([(3, 333)], "id long, v long"), keys=["id"]
    )
    assert v4 is not None and v6 == 6

    feed = snapshot_change_feed(spark, t, v_from=v1)
    rows = {(r.id, r.v, r.change_type, r._commit_version) for r in feed.collect()}
    # Delta CDF vocabulary: every update carries its preimage AND postimage
    assert rows == {
        (3, 6, "update_preimage", v2),
        (3, -3, "update_postimage", v2),
        (100, -100, "insert", v2),
        (5, 10, "delete", v3),
        (100, -100, "update_preimage", v5),
        (100, -1000, "update_postimage", v5),
        (3, -3, "update_preimage", v6),
        (3, 333, "update_postimage", v6),
    }
    # per-commit granularity: id 3 appears (pre, post) per change,
    # version-stamped
    assert sorted(r[3] for r in rows if r[0] == 3) == [v2, v2, v6, v6]
    # sub-ranges slice exactly
    assert {r._commit_version for r in snapshot_change_feed(spark, t, v2, v5).collect()} == {v3, v5}

    commit_overwrite(spark, t, spark.range(3).selectExpr("id", "id AS v"))
    with pytest.raises(ValueError, match="no change files"):
        snapshot_change_feed(spark, t, v_from=v1)


def test_change_feed_replay_reconstructs_table(spark, tmp_path):
    """The downstream-replica contract: applying the feed commit-by-commit
    (tables.apply_changes) to a replica seeded from the starting snapshot
    reproduces the source's latest state exactly."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        delete_snapshot,
        merge_snapshot,
        read_snapshot,
        snapshot_change_feed,
        update_snapshot,
    )
    from customer_activity_lakehouse_spark.sources.tables import (
        TableSpec,
        apply_changes,
        read_table,
        write_full,
    )

    t = str(tmp_path / "src")
    v1 = commit_append(
        spark, t, spark.range(20).selectExpr("id", "id * 2 AS v").coalesce(1)
    )
    merge_snapshot(
        spark, t,
        spark.createDataFrame([(1, -1), (200, -200)], "id long, v long"),
        keys=["id"],
    )
    delete_snapshot(spark, t, "id IN (4, 5)")
    update_snapshot(spark, t, "id = 200", {"v": "v * 10"})
    latest = sorted(
        r._commit_version
        for r in snapshot_change_feed(spark, t, v1).select("_commit_version").distinct().collect()
    )

    spec = TableSpec(str(tmp_path / "replica"))
    write_full(read_snapshot(spark, t, version=v1), spec)
    for v in latest:
        batch = (
            snapshot_change_feed(spark, t, v - 1, v).drop("_commit_version")
        )
        apply_changes(spark, spec, batch, keys=["id"])
    got = sorted((r.id, r.v) for r in read_table(spark, spec).collect())
    want = sorted((r.id, r.v) for r in read_snapshot(spark, t).collect())
    assert got == want


def test_update_snapshot_set_semantics_and_pruning(spark, tmp_path):
    """UPDATE: SET expressions see the ORIGINAL row (swap is well-defined),
    types are preserved, untouched files carry verbatim with stats, time
    travel sees pre-update values, and no-match updates don't commit."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        read_snapshot,
        update_snapshot,
    )

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 100)
    _commit_sized(spark, t, 1000, 1100)
    v = update_snapshot(
        spark, t, "id < 10", {"id": "v", "v": "id"},  # swap
        prune_where=("id", None, 9),
    )
    assert v == 3
    m = _read_manifest(spark, t, v)
    assert m["op"] == "update" and m["files_rewritten"] == 1
    pairs = sorted((r.id, r.v) for r in read_snapshot(spark, t).collect())
    got = dict(pairs)
    assert got[2] == 1 and got[4] == 2  # ids 0..9 swapped to (2id, id)
    # the swapped (18, 9) coexists with the untouched original (18, 36)
    assert sorted(v for i, v in pairs if i == 18) == [9, 36]
    assert got[50] == 100 and got[1000] == 2000  # untouched rows intact
    assert dict(read_snapshot(spark, t).dtypes) == {"id": "bigint", "v": "bigint"}
    old = {r.id: r.v for r in read_snapshot(spark, t, version=2).collect()}
    assert old[4] == 8  # time travel: pre-update
    # stats intact on the untouched side
    assert len(read_snapshot(spark, t, skip_where=("id", 1050, 1060)).inputFiles()) == 1
    # no-match: version-preserving no-op (both pruned and probed)
    assert update_snapshot(spark, t, "id = 99999", {"v": "0"}) == v
    import pytest as _pytest

    with _pytest.raises(ValueError, match="SET column"):
        update_snapshot(spark, t, "id = 50", {"nope": "1"})


def test_vacuum_expires_change_files_with_their_versions(spark, tmp_path):
    """CDF-vs-VACUUM retention coupling: change files live exactly as long
    as their version's manifest; retained DML commits keep a readable
    feed after vacuum."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        delete_snapshot,
        merge_snapshot,
        read_snapshot,
        snapshot_change_feed,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.range(10).selectExpr("id", "id AS v").coalesce(1))
    merge_snapshot(
        spark, t, spark.createDataFrame([(1, -1)], "id long, v long"), keys=["id"]
    )
    v3 = delete_snapshot(spark, t, "id = 2")
    deleted = vacuum(spark, t, keep_last=2)  # expires v1, keeps v2 (merge) + v3
    assert deleted > 0
    # the retained delete commit's feed still reads
    rows = {(r.id, r.change_type) for r in snapshot_change_feed(spark, t, v3 - 1, v3).collect()}
    assert rows == {(2, "delete")}
    assert read_snapshot(spark, t).count() == 9


def test_consume_changes_streams_through_dml(spark, tmp_path):
    """Replica pipeline over DML history: consume_changes + apply_changes
    keeps a downstream table exact through append, merge, delete, and
    update commits — where consume_appends must resync; unacknowledged
    feeds redeliver (at-least-once)."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        advance_cursor,
        commit_append,
        consume_changes,
        delete_snapshot,
        merge_snapshot,
        read_snapshot,
        update_snapshot,
    )
    from customer_activity_lakehouse_spark.sources.tables import (
        TableSpec,
        apply_changes,
        read_table,
    )

    src = str(tmp_path / "src")
    cur = str(tmp_path / "cursor")
    spec = TableSpec(str(tmp_path / "replica"))

    def sync():
        delta, v = consume_changes(spark, src, cur)
        if delta is not None:
            # one batch may span several commits touching the SAME key —
            # _commit_version ranks the winner; as a metadata order column
            # it never lands in the replica's schema
            apply_changes(
                spark, spec, delta, keys=["id"],
                order_col="_commit_version", order_col_is_metadata=True,
            )
            advance_cursor(spark, cur, v)
        return v

    commit_append(spark, src, spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(1))
    sync()
    merge_snapshot(
        spark, src, spark.createDataFrame([(1, -1), (50, -50)], "id long, v long"), keys=["id"]
    )
    delete_snapshot(spark, src, "id = 3")
    # same key changed by TWO commits inside one unconsumed batch: the
    # later commit must win in the replica (ordering is load-bearing)
    merge_snapshot(
        spark, src, spark.createDataFrame([(7, 700)], "id long, v long"), keys=["id"]
    )
    update_snapshot(spark, src, "id = 7", {"v": "v + 1"})
    # unacked feed redelivers: consume twice without advancing
    d1, v1 = consume_changes(spark, src, cur)
    d2, v2 = consume_changes(spark, src, cur)
    assert v1 == v2 and sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))
    sync()
    update_snapshot(spark, src, "id = 50", {"v": "v * 100"})
    commit_append(spark, src, spark.createDataFrame([(99, 99)], "id long, v long"))
    sync()

    got = sorted((r.id, r.v) for r in read_table(spark, spec).collect())
    want = sorted((r.id, r.v) for r in read_snapshot(spark, src).collect())
    assert got == want
    assert dict(got)[7] == 701  # the later of the two same-key commits won
    assert set(read_table(spark, spec).columns) == {"id", "v"}  # no stamps leaked
    # fully caught up: next consume is empty
    assert consume_changes(spark, src, cur)[0] is None


def test_compact_snapshot_zorder_prunes_on_every_dimension(spark, tmp_path):
    """OPTIMIZE ZORDER on the log: after a Morton-clustered rewrite a
    narrow skip_where prunes on EITHER cluster column, where the linear
    (major-to-minor) clustered rewrite prunes only on its leading column
    — the hypercube-vs-slab contrast sources/layout.py pins for hive
    layouts, reproduced through the manifest's own stats."""
    from pyspark.sql import functions as F

    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        commit_append,
        compact_snapshot,
        read_snapshot,
    )

    def build(tdir, **compact_kw):
        n, stride = 1_600_000, 4
        for k in range(stride):
            df = (
                spark.range(n)
                .filter(F.col("id") % stride == k)
                .select(
                    (F.col("id") % 1000).alias("x"),
                    (F.col("id") / 1000).cast("long").alias("y"),
                    F.xxhash64("id").alias("payload"),
                )
            )
            commit_append(spark, tdir, df.coalesce(1), stats_cols=["x", "y"])
        v = compact_snapshot(spark, tdir, target_file_mb=1, **compact_kw)
        return _read_manifest(spark, tdir, v)

    z = str(tmp_path / "zorder")
    mz = build(z, cluster_by=["x", "y"], zorder=True)
    assert mz.get("zorder") is True
    lin = str(tmp_path / "linear")
    ml = build(lin, cluster_by=["x", "y"])

    n_files_z, n_files_l = len(mz["files"]), len(ml["files"])
    assert n_files_z > 4 and n_files_l > 4

    def probed(tdir, col, lo, hi):
        return len(read_snapshot(spark, tdir, skip_where=(col, lo, hi)).inputFiles())

    # leading column: both layouts prune
    assert probed(z, "x", 10, 30) < n_files_z
    assert probed(lin, "x", 10, 30) < n_files_l
    # NON-leading column: only the Morton layout prunes — the linear sort
    # leaves every file spanning (almost) the full y range
    y_z = probed(z, "y", 10, 20)
    y_l = probed(lin, "y", 10, 20)
    assert y_z < n_files_z / 2, (y_z, n_files_z)
    assert y_l >= n_files_l - 1, (y_l, n_files_l)
    # content identical
    assert read_snapshot(spark, z).count() == 1_600_000


@pytest.mark.slow
def test_concurrent_appends_across_processes(spark, tmp_path):
    """Cross-PROCESS optimistic concurrency: a second driver JVM races
    commit_append against this session on the same table. This is the
    scenario the uuid4 tmp-manifest fix exists for — id(manifest) is only
    process-unique, so two processes racing one version could clobber each
    other's staged manifest and silently lose an append. Every batch from
    both processes must land exactly once with contiguous versions."""
    import subprocess
    import sys
    import textwrap

    from customer_activity_lakehouse_spark.sources.snapshots import (
        _list_versions,
        commit_append,
        read_snapshot,
    )

    t = str(tmp_path / "xproc")
    n_each = 4
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession
        from customer_activity_lakehouse_spark.sources.snapshots import commit_append

        spark = (
            SparkSession.builder.master("local[2]").appName("xproc-writer")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2").getOrCreate()
        )
        for i in range({n_each}):
            commit_append(
                spark,
                {t!r},
                spark.range(1000 + i * 10, 1000 + i * 10 + 10).selectExpr("id"),
            )
        print("XPROC_OK")
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", script],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        for i in range(n_each):
            commit_append(
                spark, t, spark.range(i * 10, i * 10 + 10).selectExpr("id")
            )
        out, err = proc.communicate(timeout=240)
        assert proc.returncode == 0 and "XPROC_OK" in out, (out, err[-2000:])
    finally:
        if proc.poll() is None:
            proc.kill()
    versions = _list_versions(spark, t)
    assert versions == list(range(1, 2 * n_each + 1)), versions
    got = sorted(r.id for r in read_snapshot(spark, t).collect())
    want = sorted(
        [x for i in range(n_each) for x in range(i * 10, i * 10 + 10)]
        + [x for i in range(n_each) for x in range(1000 + i * 10, 1000 + i * 10 + 10)]
    )
    assert got == want


def test_deletion_vector_delete_merge_on_read(spark, tmp_path):
    """DV (merge-on-read) DELETE: no data file is rewritten — the manifest
    keeps the exact same file list and records a tiny positions file that
    read_snapshot anti-joins away. Accumulation, time travel, skipping,
    CDC, clone/restore carriage, probe-through-DV semantics, compaction
    materialization, and vacuum lifetime all pinned."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        clone_snapshot,
        compact_snapshot,
        delete_snapshot,
        merge_snapshot,
        read_snapshot,
        snapshot_change_feed,
        update_snapshot,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 100)
    _commit_sized(spark, t, 1000, 1100)

    v3 = delete_snapshot(spark, t, "id IN (5, 7)", prune_where=("id", 5, 7), mode="dv")
    m3 = _read_manifest(spark, t, v3)
    m2 = _read_manifest(spark, t, 2)
    assert m3["mode"] == "dv" and m3["files_rewritten"] == 0
    assert m3["files"] == m2["files"]  # merge-on-read: nothing rewritten
    assert m3["dv_files"]
    got = sorted(r.id for r in read_snapshot(spark, t).collect())
    assert len(got) == 198 and 5 not in got and 7 not in got
    assert read_snapshot(spark, t, version=2).count() == 200  # time travel
    # stats carried verbatim: skipping still prunes (the DV file itself
    # also appears in inputFiles — count data files only)
    pruned_data = [
        f
        for f in read_snapshot(spark, t, skip_where=("id", 1050, 1060)).inputFiles()
        if "-dv-" not in f
    ]
    assert len(pruned_data) == 1

    # DVs accumulate across dv deletes
    v4 = delete_snapshot(spark, t, "id = 1005", mode="dv")
    m4 = _read_manifest(spark, t, v4)
    assert len(m4["dv_files"]) > len(m3["dv_files"])
    assert read_snapshot(spark, t).count() == 197

    # deleting an already-DV-deleted row is a no-op (probe reads through DVs)
    assert delete_snapshot(spark, t, "id = 5", mode="dv") == v4
    # ...and so is updating it
    assert update_snapshot(spark, t, "id = 5", {"v": "0"}) == v4

    # the change feed shows the DV deletes per commit
    feed = snapshot_change_feed(spark, t, 2, v4)
    rows = {(r.id, r.change_type, r._commit_version) for r in feed.collect()}
    assert rows == {(5, "delete", v3), (7, "delete", v3), (1005, "delete", v4)}

    # a merge on a DV-deleted key classifies as INSERT (the key is gone)
    v5 = merge_snapshot(
        spark, t, spark.createDataFrame([(5, -5)], "id long, v long"), keys=["id"]
    )
    assert {(r.id, r.change_type) for r in snapshot_change_feed(spark, t, v4, v5).collect()} == {
        (5, "insert")
    }
    assert read_snapshot(spark, t).filter("id = 5").collect()[0].v == -5

    # clone carries the DVs (dropping them would resurrect deleted rows)
    dst = str(tmp_path / "clone")
    clone_snapshot(spark, t, dst)
    assert read_snapshot(spark, dst).count() == 198  # 197 + re-inserted 5

    # compaction rewrites through the DVs (materializes them); with no
    # kept big files the DV list drops entirely
    v6 = compact_snapshot(spark, t, target_file_mb=64)
    m6 = _read_manifest(spark, t, v6)
    assert "dv_files" not in m6
    got = sorted(r.id for r in read_snapshot(spark, t).collect())
    assert len(got) == 198 and 7 not in got and 1005 not in got

    # DV files live exactly as long as a retained manifest references them
    deleted = vacuum(spark, t, keep_last=1)
    assert deleted > 0
    assert read_snapshot(spark, t).count() == 198


def test_deletion_vector_update_appends_postimages(spark, tmp_path):
    """DV (merge-on-read) UPDATE: preimages deletion-vectored, postimages
    appended as a small file — no original file rewritten. Reads show the
    new values; time travel shows the old; the feed carries the update
    postimages; compaction materializes everything."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        compact_snapshot,
        read_snapshot,
        snapshot_change_feed,
        update_snapshot,
    )

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 100)
    _commit_sized(spark, t, 1000, 1100)
    m2 = _read_manifest(spark, t, 2)

    v3 = update_snapshot(
        spark, t, "id IN (4, 1004)", {"v": "v * -1"}, mode="dv"
    )
    m3 = _read_manifest(spark, t, v3)
    assert m3["mode"] == "dv" and m3["files_rewritten"] == 0
    assert set(m2["files"]) < set(m3["files"])  # originals intact + postimage file
    assert m3["dv_files"]
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert len(got) == 200 and got[4] == -8 and got[1004] == -2008
    assert got[5] == 10  # neighbors untouched
    old = {r.id: r.v for r in read_snapshot(spark, t, version=2).collect()}
    assert old[4] == 8  # time travel: preimages

    feed = snapshot_change_feed(spark, t, 2, v3)
    assert {(r.id, r.v, r.change_type) for r in feed.collect()} == {
        (4, 8, "update_preimage"),
        (4, -8, "update_postimage"),
        (1004, 2008, "update_preimage"),
        (1004, -2008, "update_postimage"),
    }
    # a second DV update of the SAME key hits the postimage row, not the
    # DV'd preimage (reads go through the vectors)
    v4 = update_snapshot(spark, t, "id = 4", {"v": "v - 1"}, mode="dv")
    assert {r.v for r in read_snapshot(spark, t).filter("id = 4").collect()} == {-9}

    v5 = compact_snapshot(spark, t, target_file_mb=64)
    m5 = _read_manifest(spark, t, v5)
    assert "dv_files" not in m5
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert len(got) == 200 and got[4] == -9 and got[1004] == -2008


def test_check_constraints_enforced_across_all_dml(spark, tmp_path):
    """ALTER TABLE ADD CONSTRAINT parity: a CHECK recorded in the manifest
    fails violating appends/overwrites/merges/updates BEFORE any data
    lands; the existing table must satisfy it at set time; the property
    rides every commit class (merge, delete, compact, clone); drop lifts
    enforcement."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        clone_snapshot,
        commit_append,
        commit_overwrite,
        compact_snapshot,
        delete_snapshot,
        drop_check_constraint,
        merge_snapshot,
        read_snapshot,
        set_check_constraint,
        update_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.range(1, 50).selectExpr("id", "id * 2 AS v").coalesce(1))

    # a constraint the current data violates refuses to be set
    with pytest.raises(ValueError, match="CHECK constraint"):
        set_check_constraint(spark, t, "v_big", "v > 50")
    v = set_check_constraint(spark, t, "v_pos", "v > 0")
    assert _read_manifest(spark, t, v)["data_change"] is False

    with pytest.raises(ValueError, match="v_pos"):
        commit_append(spark, t, spark.createDataFrame([(99, -1)], "id long, v long"))
    with pytest.raises(ValueError, match="v_pos"):
        merge_snapshot(
            spark, t, spark.createDataFrame([(5, -5)], "id long, v long"), keys=["id"]
        )
    with pytest.raises(ValueError, match="v_pos"):
        update_snapshot(spark, t, "id = 5", {"v": "-v"})
    with pytest.raises(ValueError, match="v_pos"):
        update_snapshot(spark, t, "id = 5", {"v": "-v"}, mode="dv")
    with pytest.raises(ValueError, match="v_pos"):
        commit_overwrite(spark, t, spark.createDataFrame([(1, 0)], "id long, v long"))
    assert read_snapshot(spark, t).count() == 49  # nothing landed

    # valid writes pass, and EVERY commit class carries the property
    commit_append(spark, t, spark.createDataFrame([(100, 1)], "id long, v long"))
    merge_snapshot(
        spark, t, spark.createDataFrame([(5, 555)], "id long, v long"), keys=["id"]
    )
    delete_snapshot(spark, t, "id = 7")
    compact_snapshot(spark, t, target_file_mb=64)
    versions = sorted(
        int(p.stem[1:]) for p in (Path(t) / "_snapshots").glob("v*.json")
    )
    m = _read_manifest(spark, t, versions[-1])
    assert m["constraints"] == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="v_pos"):
        commit_append(spark, t, spark.createDataFrame([(99, -1)], "id long, v long"))

    # clones inherit the constraint
    dst = str(tmp_path / "clone")
    clone_snapshot(spark, t, dst)
    with pytest.raises(ValueError, match="v_pos"):
        commit_append(spark, dst, spark.createDataFrame([(99, -1)], "id long, v long"))

    # drop lifts enforcement
    drop_check_constraint(spark, t, "v_pos")
    commit_append(spark, t, spark.createDataFrame([(99, -1)], "id long, v long"))
    assert read_snapshot(spark, t).filter("v < 0").count() == 1
    with pytest.raises(KeyError):
        drop_check_constraint(spark, t, "nope")


def test_append_after_dv_delete_keeps_vectors(spark, tmp_path):
    """Regression: a plain append after a DV delete must CARRY the
    manifest's deletion vectors — a commit that rebuilt the manifest
    without them would resurrect the deleted rows."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        delete_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 100)
    delete_snapshot(spark, t, "id IN (3, 4)", mode="dv")
    commit_append(spark, t, spark.range(200, 210).selectExpr("id", "id * 2 AS v"))
    got = sorted(r.id for r in read_snapshot(spark, t).collect())
    assert len(got) == 108 and 3 not in got and 4 not in got


def test_snapshot_history_detail_and_files_metadata(spark, tmp_path):
    """DESCRIBE HISTORY / DETAIL / files-listing metadata tables: per-
    version op + file-diff accounting, one-row detail, and per-file stats
    rows — all built from manifests + FS metadata, no data scan."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        compact_snapshot,
        delete_snapshot,
        snapshot_detail,
        snapshot_file_listing,
        snapshot_history,
    )

    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 10).coalesce(1), stats_cols=["id"])
    commit_append(spark, t, _df(spark, 10, 20).coalesce(1), stats_cols=["id"])
    delete_snapshot(spark, t, "id >= 18")
    compact_snapshot(spark, t, target_file_mb=64)

    hist = snapshot_history(spark, t).orderBy("version").collect()
    assert [r.op for r in hist] == ["append", "append", "delete", "replace"]
    assert [r.data_change for r in hist] == [True, True, True, False]
    # first retained version reports its whole file list as added
    assert hist[0].n_files_added == hist[0].n_files == 1
    assert hist[1].n_files == 2 and hist[1].n_files_added == 1
    assert hist[2].n_cdc_files >= 1
    # compaction removed the small files and added the packed rewrite
    assert hist[3].n_files_removed >= 1 and hist[3].n_files_added >= 1
    assert '"compacted_from": 3' in hist[3].detail

    det = snapshot_detail(spark, t).collect()[0]
    assert det.version == det.latest_version == 4
    assert det.n_files == hist[3].n_files
    assert det.size_bytes > 0
    assert "id bigint" in det.schema_ddl
    assert det.stats_columns == ["id"]

    # time-travel detail pins the pre-compact state
    det2 = snapshot_detail(spark, t, version=2).collect()[0]
    assert (det2.version, det2.latest_version, det2.n_files) == (2, 4, 2)

    files = snapshot_file_listing(spark, t).collect()
    assert len(files) == det.n_files
    assert all(f.size_bytes > 0 for f in files)
    stats = {c: v for f in files for c, v in f.col_stats.items()}
    assert "id" in stats  # compaction refreshed skipping stats
    # min/max stringified, orderable back to ints
    lo, hi = int(stats["id"][0]), int(stats["id"][1])
    assert 0 <= lo <= hi <= 17  # 18,19 deleted before compaction

    # history is bounded by retention, exactly as Delta
    vacuum(spark, t, keep_last=1)
    assert snapshot_history(spark, t).count() == 1


def test_rename_column_metadata_only(spark, tmp_path):
    """Rename is one manifest write: no data I/O, values intact under the
    new name, time travel keeps the old name, skipping stats keep pruning
    (keyed by immutable physical names)."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        rename_snapshot_column,
        snapshot_file_listing,
    )

    t = str(tmp_path / "tbl")
    # range-partitioned, so the two files hold disjoint id ranges at any
    # core count (a round-robin split can give both files the range 0..9,
    # which leaves min/max skipping nothing to prune)
    commit_append(spark, t, _df(spark, 0, 10).repartitionByRange(2, "id"), stats_cols=["id"])
    before_files = sorted(read_snapshot(spark, t).inputFiles())
    assert len(before_files) == 2
    v = rename_snapshot_column(spark, t, "v", "doubled")
    assert v == 2
    cur = read_snapshot(spark, t)
    assert cur.columns == ["id", "doubled"]
    assert cur.agg({"doubled": "sum"}).collect()[0][0] == sum(2 * i for i in range(10))
    # zero data movement: identical physical files
    assert sorted(cur.inputFiles()) == before_files
    # time travel: v1 still reads the OLD logical name
    assert read_snapshot(spark, t, version=1).columns == ["id", "v"]
    # skipping on the logical name still prunes (stats keyed physically)
    pruned = read_snapshot(spark, t, skip_where=("id", 0, 1))
    assert len(pruned.inputFiles()) == 1
    # rename the STATS column itself and skip on the new name
    rename_snapshot_column(spark, t, "id", "ident")
    pruned2 = read_snapshot(spark, t, skip_where=("ident", 0, 1))
    assert len(pruned2.inputFiles()) == 1
    assert pruned2.filter("ident <= 1").count() == 2
    # metadata tables report logical names
    fl = snapshot_file_listing(spark, t).collect()
    assert all("ident" in f.col_stats for f in fl if f.col_stats)


def test_rename_then_append_and_dml(spark, tmp_path):
    """Writes after a rename stage under physical names: appends, MERGE,
    DELETE, UPDATE, OPTIMIZE all speak logical names while files stay
    physically consistent; the change feed re-logicalizes per version."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        compact_snapshot,
        delete_snapshot,
        merge_snapshot,
        rename_snapshot_column,
        snapshot_change_feed,
        update_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 10).coalesce(1), stats_cols=["id"])
    rename_snapshot_column(spark, t, "v", "val")
    # append AFTER the rename — logical frame, physically translated
    commit_append(
        spark, t, spark.range(10, 15).selectExpr("id", "id * 2 AS val").coalesce(1),
        stats_cols=["id"],
    )
    assert read_snapshot(spark, t).count() == 15
    # merge on the renamed table (update 2, insert 1)
    ups = spark.createDataFrame([(0, 100), (14, 100), (99, 100)], "id long, val long")
    merge_snapshot(spark, t, ups, keys=["id"])
    got = {r.id: r.val for r in read_snapshot(spark, t).collect()}
    assert got[0] == 100 and got[14] == 100 and got[99] == 100 and len(got) == 16
    # delete + update via the renamed column name in predicates
    delete_snapshot(spark, t, "val = 100 AND id = 99")
    update_snapshot(spark, t, "id = 1", {"val": "val + 7"})
    got = {r.id: r.val for r in read_snapshot(spark, t).collect()}
    assert 99 not in got and got[1] == 2 + 7
    # OPTIMIZE rewrites through the mapping; logical view unchanged
    compact_snapshot(spark, t, target_file_mb=64)
    after = read_snapshot(spark, t)
    assert after.columns == ["id", "val"]
    assert {r.id: r.val for r in after.collect()} == got
    # feed across rename + DML: logical columns throughout
    feed = snapshot_change_feed(spark, t, 1)
    assert set(feed.columns) == {"id", "val", "change_type", "_commit_version"}
    assert feed.filter("change_type = 'delete'").count() == 1


def test_drop_column_and_readd_never_resurrects(spark, tmp_path):
    """DROP is metadata-only; re-adding a same-named column gets a FRESH
    physical name, so the dropped column's stale bytes never surface."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        drop_snapshot_column,
        rename_snapshot_column,
    )

    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 5).coalesce(1))
    # enable mapping via a rename, then drop the renamed column
    rename_snapshot_column(spark, t, "v", "val")
    drop_snapshot_column(spark, t, "val")
    assert read_snapshot(spark, t).columns == ["id"]
    # time travel still sees it
    assert read_snapshot(spark, t, version=2).columns == ["id", "val"]
    # re-add a column with the ORIGINAL physical name ("v"): old files
    # hold v = id * 2 bytes — they must read as NULL, not as stale values
    evolved = spark.range(5, 8).selectExpr("id", "id * 1000 AS v")
    commit_append(spark, t, evolved, allow_schema_evolution=True)
    rows = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert rows[5] == 5000 and rows[0] is None  # NOT 0*2 from stale bytes
    assert len(rows) == 8


def test_rename_refused_while_constraint_references(spark, tmp_path):
    from customer_activity_lakehouse_spark.sources.snapshots import (
        drop_check_constraint,
        rename_snapshot_column,
        set_check_constraint,
    )

    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 5))
    set_check_constraint(spark, t, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="v_nonneg"):
        rename_snapshot_column(spark, t, "v", "val")
    drop_check_constraint(spark, t, "v_nonneg")
    rename_snapshot_column(spark, t, "v", "val")
    assert read_snapshot(spark, t).columns == ["id", "val"]


def test_clone_restore_and_streaming_carry_mapping(spark, tmp_path):
    from customer_activity_lakehouse_spark.sources.snapshots import (
        clone_snapshot,
        rename_snapshot_column,
        restore_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 6).coalesce(1))
    rename_snapshot_column(spark, t, "v", "val")
    commit_append(spark, t, spark.range(6, 9).selectExpr("id", "id*2 AS val"))
    # clone reads the source's physical files through the carried mapping
    c = str(tmp_path / "clone")
    clone_snapshot(spark, t, c)
    assert read_snapshot(spark, c).columns == ["id", "val"]
    assert read_snapshot(spark, c).count() == 9
    # restore to the post-rename version keeps its mapping
    restore_snapshot(spark, t, 2)
    assert read_snapshot(spark, t).columns == ["id", "val"]
    assert read_snapshot(spark, t).count() == 6


def test_compact_snapshot_scoped_where(spark, tmp_path):
    """OPTIMIZE ... WHERE: only files overlapping the interval compact;
    out-of-scope files (and their stats) carry verbatim."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        compact_snapshot,
    )

    t = str(tmp_path / "tbl")
    for lo in (0, 100, 200, 300):  # four files with disjoint id ranges
        commit_append(
            spark, t, _df(spark, lo, lo + 50).coalesce(1), stats_cols=["id"]
        )
    m_before = _read_manifest(spark, t, 4)
    assert len(m_before["files"]) == 4
    out_of_scope = [
        f for f in m_before["files"]
        if m_before["stats"][f]["id"][0] >= 200
    ]
    v = compact_snapshot(spark, t, target_file_mb=64, scope_where=("id", 0, 150))
    m_after = _read_manifest(spark, t, v)
    # the two in-scope files packed into one; the two out-of-scope carried
    assert len(m_after["files"]) == 3
    assert set(out_of_scope) <= set(m_after["files"])
    for f in out_of_scope:
        assert m_after["stats"][f] == m_before["stats"][f]
    assert read_snapshot(spark, t).count() == 200
    # skipping still prunes: only the [300, 350) file survives this probe
    assert read_snapshot(spark, t, skip_where=("id", 310, 320)).count() == 50


def test_analyze_and_maintain_snapshot(spark, tmp_path):
    """ANALYZE records table-level NDV/null stats as data_change=false
    state that rides every later commit (staleness visible via its
    version); maintain_snapshot compacts + vacuums by policy."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        analyze_snapshot,
        maintain_snapshot,
        snapshot_detail,
        snapshot_history,
    )

    t = str(tmp_path / "tbl")
    for lo in range(0, 100, 10):  # ten small files
        commit_append(spark, t, _df(spark, lo, lo + 10).coalesce(1), stats_cols=["id"])
    v = analyze_snapshot(spark, t)
    assert v == 11
    det = snapshot_detail(spark, t).collect()[0]
    ts = json.loads(det.table_stats)
    assert ts["row_count"] == 100 and ts["version"] == 10
    assert ts["columns"]["id"]["nulls"] == 0
    assert 90 <= ts["columns"]["id"]["ndv"] <= 110  # approx NDV of 100
    # per-file row counts recorded by the stats pass -> exact n_rows
    assert det.n_rows == 100
    # analyze is zero-delta for incremental consumers
    hist = {r.version: r for r in snapshot_history(spark, t).collect()}
    assert hist[11].op == "analyze" and hist[11].data_change is False
    # table_stats ride later commits
    commit_append(spark, t, _df(spark, 100, 110).coalesce(1), stats_cols=["id"])
    det2 = snapshot_detail(spark, t).collect()[0]
    assert json.loads(det2.table_stats)["version"] == 10  # visibly stale
    # maintenance: compact the 11 small files, trim history
    out = maintain_snapshot(spark, t, target_file_mb=64, max_small_files=4,
                            keep_versions=1)
    # keep_versions=1 retains only the compaction commit, so the
    # superseded small files become vacuum-eligible in the same call
    assert out["compacted"] is not None and out["vacuumed"] > 0
    assert read_snapshot(spark, t).count() == 110
    assert snapshot_history(spark, t).count() == 1


def test_commit_timestamps_and_age_based_vacuum(spark, tmp_path):
    """Every commit is stamped committed_at (UTC ISO, the _try_commit
    chokepoint); vacuum's older_than_hours retains by age IN ADDITION to
    keep_last — retention only ever widens."""
    from customer_activity_lakehouse_spark.sources.snapshots import snapshot_history

    t = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        commit_append(spark, t, _df(spark, lo, lo + 10).coalesce(1))
    hist = snapshot_history(spark, t).collect()
    assert all(r.committed_at and r.committed_at.endswith("+00:00") for r in hist)
    # everything committed seconds ago -> a 1h window retains ALL versions
    assert vacuum(spark, t, keep_last=1, older_than_hours=1.0) == 0
    assert read_snapshot(spark, t, version=1).count() == 10
    # zero-hour window degrades to keep_last alone: expired manifests go
    # (no data files — appends chain, so v3 references every file)
    assert vacuum(spark, t, keep_last=1, older_than_hours=0.0) == 0
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, t, version=1)
    assert read_snapshot(spark, t).count() == 30


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: resolved through committed_at stamps, in both the
    library API and the data source option."""
    import datetime as dt

    from customer_activity_lakehouse_spark.sources.snapshots import (
        version_at_timestamp,
    )

    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 10))
    commit_append(spark, t, _df(spark, 10, 20))
    now = dt.datetime.now(dt.timezone.utc).isoformat()
    assert version_at_timestamp(spark, t, now) == 2
    assert read_snapshot(spark, t, as_of=now).count() == 20
    # before history began -> loud error (Delta's too-early contract)
    with pytest.raises(ValueError, match="committed at or before"):
        version_at_timestamp(spark, t, "2000-01-01T00:00:00+00:00")
    with pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, t, version=1, as_of=now)
    # data source option
    from customer_activity_lakehouse_spark.sources.datasource import (
        SnapshotLogDataSource,
    )

    spark.dataSource.register(SnapshotLogDataSource)
    df = (
        spark.read.format("snapshot_log")
        .option("path", t)
        .option("timestampAsOf", now)
        .load()
    )
    assert df.count() == 20


def test_widen_column_type_metadata_only(spark, tmp_path):
    """Type widening: int->bigint via one manifest write; old int32 files
    upcast in the scan, new appends land wide, narrowing refused."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        widen_snapshot_column,
    )

    t = str(tmp_path / "tbl")
    commit_append(
        spark, t,
        spark.range(0, 5).selectExpr("cast(id AS int) AS id", "cast(id AS float) AS x"),
        stats_cols=["id"],
    )
    before_files = sorted(read_snapshot(spark, t).inputFiles())
    widen_snapshot_column(spark, t, "id", "bigint")
    widen_snapshot_column(spark, t, "x", "double")
    cur = read_snapshot(spark, t)
    assert dict(cur.dtypes) == {"id": "bigint", "x": "double"}
    assert sorted(cur.inputFiles()) == before_files  # zero data movement
    assert cur.agg({"id": "sum"}).collect()[0][0] == 10
    # appends now land wide; drift gate enforces the widened sig
    commit_append(
        spark, t, spark.range(5, 8).selectExpr("id", "cast(id AS double) AS x")
    )
    assert read_snapshot(spark, t).count() == 8
    # skipping on the widened column still prunes with old int stats
    assert read_snapshot(spark, t, skip_where=("id", 0, 2)).count() >= 3
    # narrowing and sideways moves are refused
    with pytest.raises(ValueError, match="not a lossless"):
        widen_snapshot_column(spark, t, "id", "int")
    with pytest.raises(ValueError, match="not a lossless"):
        widen_snapshot_column(spark, t, "x", "bigint")
    # time travel shows the narrow type
    assert dict(read_snapshot(spark, t, version=1).dtypes)["id"] == "int"


def test_generated_columns_compute_and_enforce(spark, tmp_path):
    """GENERATED ALWAYS AS: appends omitting the column get it computed;
    provided values are validated null-safely on every write path
    (library verbs AND the format writer's DuckDB task-side check)."""
    from customer_activity_lakehouse_spark.sources.datasource import (
        SnapshotLogDataSource,
    )
    from customer_activity_lakehouse_spark.sources.snapshots import (
        drop_generated_column_expr,
        merge_snapshot,
        set_generated_column,
    )

    spark.dataSource.register(SnapshotLogDataSource)
    t = str(tmp_path / "tbl")
    commit_append(
        spark, t, spark.range(0, 5).selectExpr("id", "id * 2 AS twice")
    )
    set_generated_column(spark, t, "twice", "id * 2")
    # omitted -> computed (and column order restored to the recorded sig)
    commit_append(spark, t, spark.range(5, 8).selectExpr("id"))
    got = {r.id: r.twice for r in read_snapshot(spark, t).collect()}
    assert got[6] == 12 and len(got) == 8
    # provided-but-wrong -> refused on every path
    bad = spark.range(8, 9).selectExpr("id", "id * 3 AS twice")
    with pytest.raises(ValueError, match="__gen_twice"):
        commit_append(spark, t, bad)
    with pytest.raises(ValueError, match="__gen_twice"):
        merge_snapshot(spark, t, bad, keys=["id"])
    with pytest.raises(Exception, match="__gen_twice"):
        bad.write.format("snapshot_log").option("path", t).mode("append").save()
    # provided-and-right -> fine (merge postimage path)
    merge_snapshot(
        spark, t, spark.range(8, 9).selectExpr("id", "id * 2 AS twice"), keys=["id"]
    )
    assert read_snapshot(spark, t).count() == 9
    # declared rule blocks renaming the column out from under it
    from customer_activity_lakehouse_spark.sources.snapshots import (
        rename_snapshot_column,
    )

    with pytest.raises(ValueError, match="__gen_twice"):
        rename_snapshot_column(spark, t, "twice", "double_id")
    # un-declare: the rule and its CHECK go; the data stays
    drop_generated_column_expr(spark, t, "twice")
    commit_append(spark, t, spark.range(9, 10).selectExpr("id", "id * 7 AS twice"))
    assert read_snapshot(spark, t).count() == 10


def test_replace_where_atomic_partition_backfill(spark, tmp_path):
    """Delta's replaceWhere: one commit deletes the predicate's rows and
    inserts the replacement; untouched files carry verbatim with stats;
    out-of-scope replacement rows are refused before any data lands."""
    from pyspark.sql import functions as F

    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        commit_replace_where,
        read_snapshot,
        snapshot_change_feed,
    )

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 100)  # file A: ids 0-99
    _commit_sized(spark, t, 1000, 1100)  # file B: ids 1000-1099
    m_before = _read_manifest(spark, t, 2)
    file_b = [f for f in m_before["files"] if m_before["stats"][f]["id"][0] == 1000]

    # recompute the 0-99 slice: half the rows, new values
    repl = spark.range(0, 50).select("id", (F.col("id") * 10).alias("v"))
    v = commit_replace_where(
        spark, t, repl, "id < 100", prune_where=("id", None, 99)
    )
    m = _read_manifest(spark, t, v)
    assert m["op"] == "replace_where" and m["files_rewritten"] == 1
    assert file_b[0] in m["files"]  # B untouched, carried verbatim
    assert m["stats"][file_b[0]]["id"] == [1000, 1099]

    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert len(got) == 150  # 50 replaced + 100 untouched
    assert got[10] == 100 and 75 not in got and got[1000] == 2000
    # history intact: pre-replace version still reads the old slice
    assert read_snapshot(spark, t, 2).count() == 200

    # CDC: 100 delete preimages + 50 insert postimages, one commit
    feed = snapshot_change_feed(spark, t, v - 1, v)
    counts = {r["change_type"]: r["n"] for r in feed.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"delete": 100, "insert": 50}

    # the replaceWhere contract: replacement rows must satisfy the scope
    with pytest.raises(ValueError, match="outside the predicate"):
        commit_replace_where(
            spark, t, spark.createDataFrame([(5000, 1)], "id long, v long"),
            "id < 100",
        )
    # idempotent backfill: a no-match scope with empty frame just inserts
    v2 = commit_replace_where(
        spark, t, spark.createDataFrame([], "id long, v long"), "id >= 5000"
    )
    assert read_snapshot(spark, t, v2).count() == 150


def test_merge_clauses_cdc_tombstone_apply(spark, tmp_path):
    """The classic apply-changes pattern: WHEN MATCHED AND s.op='D' THEN
    DELETE, conditional insert excluding tombstones, source wider than the
    table via drop_source_cols."""
    from pyspark.sql import functions as F

    from customer_activity_lakehouse_spark.sources.snapshots import (
        merge_snapshot,
        read_snapshot,
        snapshot_change_feed,
    )

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 10)  # ids 0-9, v = 2*id
    cdc = spark.createDataFrame(
        [
            (3, -3, "U", 1),   # update id 3
            (5, 0, "D", 1),    # delete id 5
            (20, 40, "I", 1),  # insert id 20
            (21, 0, "D", 1),   # tombstone for absent key: no-op
        ],
        "id long, v long, op string, seq long",
    )
    v = merge_snapshot(
        spark, t, cdc, keys=["id"], order_col="seq",
        when_matched_delete="s.op = 'D'",
        when_not_matched_insert="op != 'D'",
        drop_source_cols=["op", "seq"],
    )
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert 5 not in got and 21 not in got
    assert got[3] == -3 and got[20] == 40 and got[0] == 0 and len(got) == 10
    feed = snapshot_change_feed(spark, t, v - 1, v)
    counts = {r["change_type"]: r["n"] for r in feed.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {
        "delete": 1,
        "insert": 1,
        "update_preimage": 1,
        "update_postimage": 1,
    }
    # the dropped metadata columns never land in the table or the feed
    assert set(feed.columns) >= {"id", "v", "change_type"}
    assert "op" not in feed.columns and "op" not in read_snapshot(spark, t).columns


def test_merge_clauses_staleness_and_one_way_sync(spark, tmp_path):
    from pyspark.sql import functions as F

    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        commit_append,
        merge_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit_append(
        spark, t,
        spark.createDataFrame(
            [(1, 100, 5), (2, 200, 5), (3, 300, 5)], "id long, v long, ts long"
        ).coalesce(1),
        stats_cols=["id"],
    )
    commit_append(
        spark, t,
        spark.createDataFrame(
            [(1000, 1, 5), (1001, 2, 5)], "id long, v long, ts long"
        ).coalesce(1),
        stats_cols=["id"],
    )
    # source: fresh update for 1, STALE update for 2, nothing for 3
    src = spark.createDataFrame(
        [(1, -1, 9), (2, -2, 3)], "id long, v long, ts long"
    )
    v = merge_snapshot(
        spark, t, src, keys=["id"],
        when_matched_update="s.ts > t.ts",
        not_matched_by_source_delete="id < 100",
        nmbs_prune_where=("id", None, 99),
    )
    got = {r.id: (r.v, r.ts) for r in read_snapshot(spark, t).collect()}
    assert got[1] == (-1, 9)      # fresh update applied
    assert got[2] == (200, 5)     # stale update refused — row unchanged
    assert 3 not in got           # not matched by source, in scope: deleted
    assert got[1000] == (1, 5) and got[1001] == (2, 5)  # out of scope survive
    m = _read_manifest(spark, t, v)
    # the 1000s file is outside nmbs_prune_where AND the batch key range:
    # it must carry verbatim, not rewrite
    assert m["files_rewritten"] == 1


def test_reorg_purges_dropped_columns_and_dvs(spark, tmp_path):
    """REORG APPLY (PURGE): only files carrying orphaned physical columns
    or DV-hidden rows rewrite; clean files carry verbatim; the commit is
    data_change=false so incremental consumers see zero delta."""
    import pyarrow.parquet as pq

    from customer_activity_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        delete_snapshot,
        drop_snapshot_column,
        rename_snapshot_column,
        reorg_snapshot,
        snapshot_changes,
    )

    t = str(tmp_path / "tbl")
    commit_append(
        spark, t,
        spark.range(0, 5).selectExpr("id", "id * 2 AS v", "id * 3 AS w").coalesce(1),
        stats_cols=["id"],
    )
    rename_snapshot_column(spark, t, "w", "weight")  # enables mapping
    drop_snapshot_column(spark, t, "weight")         # orphans physical 'w'
    # a post-drop append: its file never had 'w' — must NOT rewrite
    commit_append(
        spark, t, spark.range(5, 8).selectExpr("id", "id * 2 AS v").coalesce(1),
        stats_cols=["id"],
    )
    m_before = _read_manifest(spark, t, 4)
    clean = [f for f in m_before["files"] if "v00004" in f]
    assert len(clean) == 1

    v = reorg_snapshot(spark, t)
    m = _read_manifest(spark, t, v)
    assert m["op"] == "reorg" and m["data_change"] is False
    assert m["files_rewritten"] == 1
    assert clean[0] in m["files"]  # post-drop file carried verbatim
    # the rewritten file's footer no longer holds the orphaned column
    for f in m["files"]:
        assert "w" not in pq.read_schema(f).names
    rows = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert rows == {i: i * 2 for i in range(8)}
    # nothing left to purge: idempotent no-op
    assert reorg_snapshot(spark, t) is None
    # zero delta for incremental consumers across the reorg
    assert snapshot_changes(spark, t, 4, v).count() == 0

    # DV flavor: hide two rows merge-on-read, then purge materializes
    delete_snapshot(spark, t, "id IN (1, 6)", mode="dv")
    m_dv = _read_manifest(spark, t, v + 1)
    assert m_dv.get("dv_files")
    v2 = reorg_snapshot(spark, t)
    m2 = _read_manifest(spark, t, v2)
    assert not m2.get("dv_files")  # every DV materialized
    assert {r.id for r in read_snapshot(spark, t).collect()} == {0, 2, 3, 4, 5, 7}


def test_writeserializable_merge_rebases_over_appends(spark, tmp_path, monkeypatch):
    """Delta WriteSerializable parity: a MERGE losing its version slot to
    a PURE APPEND does not abort — it rebases, carrying the appended
    files into its manifest verbatim (no data work re-runs, no appended
    rows lost). The appended rows do NOT participate in the merge: the
    merge serialized BEFORE the append (rebased_over records it)."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 10)  # ids 0..9, v = 2*id

    real_try = S._try_commit
    state = {"fired": False}
    late = spark.createDataFrame([(500, 1), (3, 999)], "id long, v long")

    def hook(spark_, tdir, version, manifest, prev=None):
        if not state["fired"] and manifest.get("op") == "merge":
            state["fired"] = True
            # steal the slot with a real append — id=3's new row arrives
            # AFTER the merge's serialization point
            S.commit_append(spark_, tdir, late.coalesce(1), stats_cols=["id"])
        return real_try(spark_, tdir, version, manifest, prev)

    monkeypatch.setattr(S, "_try_commit", hook)
    upd = spark.createDataFrame([(3, -3), (100, -100)], "id long, v long")
    v = S.merge_snapshot(spark, t, upd, keys=["id"], stats_cols=["id"])
    assert state["fired"]
    assert v == 3  # append took v2; the merge rebased onto v3
    m = S._read_manifest(spark, t, 3)
    assert m["rebased_over"] == [2]
    got = {(r.id): r.v for r in S.read_snapshot(spark, t).collect()}
    # merge updated the PRE-APPEND id=3 row; the appended (3, 999) row is
    # a second row for the key, exactly what serial merge-then-append gives
    rows = {(r.id, r.v) for r in S.read_snapshot(spark, t).collect()}
    assert (3, -3) in rows and (3, 999) in rows and (500, 1) in rows
    assert (100, -100) in rows
    # time travel: v2 = base + append, merge absent
    v2 = {(r.id, r.v) for r in S.read_snapshot(spark, t, version=2).collect()}
    assert (3, 6) in v2 and (3, 999) in v2 and (100, -100) not in v2
    # the change feed stays per-commit exact across the rebase
    feed = S.snapshot_change_feed(spark, t, 1)
    by = {}
    for r in feed.collect():
        by.setdefault((r._commit_version, r.change_type), set()).add((r.id, r.v))
    assert by[(2, "insert")] == {(500, 1), (3, 999)}
    assert by[(3, "update_postimage")] == {(3, -3)}
    assert by[(3, "insert")] == {(100, -100)}


def test_writeserializable_conflicting_interleave_still_aborts(
    spark, tmp_path, monkeypatch
):
    """A rewrite-class interleave (here a DELETE) is a true conflict —
    the merge must abort exactly as before, naming the conflicting op."""
    import pytest as _pytest

    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    _commit_sized(spark, t, 0, 10)
    real_try = S._try_commit
    state = {"fired": False}

    def hook(spark_, tdir, version, manifest, prev=None):
        if not state["fired"] and manifest.get("op") == "merge":
            state["fired"] = True
            S.delete_snapshot(spark_, tdir, "id = 7", stats_cols=["id"])
        return real_try(spark_, tdir, version, manifest, prev)

    monkeypatch.setattr(S, "_try_commit", hook)
    upd = spark.createDataFrame([(3, -3)], "id long, v long")
    with _pytest.raises(RuntimeError, match="conflicting commit.*op='delete'"):
        S.merge_snapshot(spark, t, upd, keys=["id"], stats_cols=["id"])


def test_writeserializable_compact_rebases_over_append(spark, tmp_path, monkeypatch):
    """OPTIMIZE racing a streaming append is THE common contention shape:
    the compaction rebases, the micro-batch's files survive uncompacted,
    and no rows are lost either way."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    for i in range(4):  # four small files worth compacting
        _commit_sized(spark, t, i * 10, i * 10 + 10)
    real_try = S._try_commit
    state = {"fired": False}
    late = spark.range(1000, 1005).selectExpr("id", "id*2 AS v")

    def hook(spark_, tdir, version, manifest, prev=None):
        if not state["fired"] and manifest.get("op") == "replace":  # OPTIMIZE op
            state["fired"] = True
            S.commit_append(spark_, tdir, late.coalesce(1), stats_cols=["id"])
        return real_try(spark_, tdir, version, manifest, prev)

    monkeypatch.setattr(S, "_try_commit", hook)
    v = S.compact_snapshot(spark, t)
    assert state["fired"] and v == 6  # append stole v5
    assert S.read_snapshot(spark, t).count() == 45
    m = S._read_manifest(spark, t, v)
    assert m["rebased_over"] == [5]


def test_writeserializable_rebase_stress_appends_vs_merges(spark, tmp_path):
    """Contention stress for the rebase rule: two append threads and two
    merge threads race one table. Appends never abort (retry-append
    class), merges rebase over appends and only abort against each other
    (retried). Disjoint key spaces make the final state order-independent:
    every appended row present exactly once, every merge landed exactly
    once."""
    import threading

    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "race")
    _commit_sized(spark, t, 0, 20)  # ids 0..19
    n_appends, n_merges = 6, 3
    errs: list[str] = []

    def appender(slot: int) -> None:
        for j in range(n_appends // 2):
            i = slot * (n_appends // 2) + j
            df = spark.createDataFrame([(1000 + i, i)], "id long, v long")
            try:
                S.commit_append(spark, t, df.coalesce(1), stats_cols=["id"])
            except Exception as e:  # appends must never fail
                errs.append(f"append {i}: {e}")

    def merger(i: int) -> None:
        upd = spark.createDataFrame(
            [(i, -(i + 1)), (500 + i, -(i + 1))], "id long, v long"
        )
        for _ in range(16):
            try:
                S.merge_snapshot(spark, t, upd, keys=["id"], stats_cols=["id"])
                return
            except RuntimeError:
                continue  # merge-vs-merge conflict: retry
        errs.append(f"merge {i} never landed")

    threads = [threading.Thread(target=appender, args=(s,)) for s in range(2)] + [
        threading.Thread(target=merger, args=(i,)) for i in range(n_merges)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    got = {}
    for r in S.read_snapshot(spark, t).collect():
        got.setdefault(r.id, []).append(r.v)
    # every appended row exactly once (a lost rebase would drop one)
    for i in range(n_appends):
        assert got.get(1000 + i) == [i], (1000 + i, got.get(1000 + i))
    # every merge landed exactly once
    for i in range(n_merges):
        assert got.get(i) == [-(i + 1)]
        assert got.get(500 + i) == [-(i + 1)]
    assert sum(len(v) for v in got.values()) == 20 + n_appends + n_merges


# ---------------------------------------------------------------------------
# Identity columns (Delta GENERATED ... AS IDENTITY parity)
# ---------------------------------------------------------------------------


def test_identity_mints_unique_ids_above_watermark(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    # declare-at-create flow: v1 carries the column precomputed
    commit_append(
        spark, t, spark.range(0, 5).selectExpr("id + 1 AS rid", "id AS v")
    )
    S.set_identity_column(spark, t, "rid", start=1, step=1)
    commit_append(spark, t, spark.range(100, 108).selectExpr("id AS v"))
    rows = read_snapshot(spark, t).collect()
    rids = [r.rid for r in rows]
    assert len(rids) == 13 and len(set(rids)) == 13
    minted = sorted(r.rid for r in rows if r.v >= 100)
    assert min(minted) > 5  # strictly above the initialized watermark
    # watermark advanced to the minted max, atomically with the commit
    m = S._read_manifest(spark, t, S._list_versions(spark, t)[-1])
    assert m["identity"]["rid"]["high"] == max(minted)
    # the NEXT append continues above it (no reuse across commits)
    commit_append(spark, t, spark.range(200, 203).selectExpr("id AS v"))
    rows2 = read_snapshot(spark, t).collect()
    assert len({r.rid for r in rows2}) == 16
    assert min(r.rid for r in rows2 if r.v >= 200) > max(minted)


def test_identity_step_and_start_spacing(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(100, "a")], "rid long, v string"))
    S.set_identity_column(spark, t, "rid", start=100, step=10)
    commit_append(
        spark,
        t,
        spark.createDataFrame([("b",), ("c",), ("d",)], "v string"),
    )
    minted = [r.rid for r in read_snapshot(spark, t).collect() if r.v != "a"]
    assert all(x > 100 and (x - 100) % 10 == 0 for x in minted), minted
    assert len(set(minted)) == 3


def test_identity_always_refuses_writer_values_default_accepts(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, 0)], "rid long, v long"))
    S.set_identity_column(spark, t, "rid", mode="always")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        commit_append(spark, t, spark.createDataFrame([(99, 1)], "rid long, v long"))
    # switch to BY DEFAULT: explicit values accepted, watermark folds them in
    S.drop_identity_column(spark, t, "rid")
    S.set_identity_column(spark, t, "rid", mode="default")
    commit_append(spark, t, spark.createDataFrame([(50, 1)], "rid long, v long"))
    m = S._read_manifest(spark, t, S._list_versions(spark, t)[-1])
    assert m["identity"]["rid"]["high"] == 50
    commit_append(spark, t, spark.createDataFrame([(2,)], "v long"))
    minted = [r.rid for r in read_snapshot(spark, t).collect() if r.v == 2]
    assert minted[0] > 50


def test_identity_requires_bigint_and_existing_column(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, "x")], "rid int, v string"))
    with pytest.raises(KeyError):
        S.set_identity_column(spark, t, "nope")
    with pytest.raises(TypeError, match="bigint"):
        S.set_identity_column(spark, t, "rid")


def test_identity_survives_rename_and_blocks_drop(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, 0)], "rid long, v long"))
    S.set_identity_column(spark, t, "rid")
    with pytest.raises(ValueError, match="identity column"):
        S.drop_snapshot_column(spark, t, "rid")
    S.rename_snapshot_column(spark, t, "rid", "row_id")
    commit_append(spark, t, spark.createDataFrame([(7,)], "v long"))
    rows = read_snapshot(spark, t).collect()
    minted = [r.row_id for r in rows if r.v == 7]
    assert minted and minted[0] > 1  # allocation followed the rename


def test_identity_concurrent_appends_never_collide(spark, tmp_path):
    """Two writers allocating from the same watermark: the loser's commit
    sees the moved watermark, re-stages with fresh ids, and the final
    table holds unique ids for every row."""
    import threading

    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, -1)], "rid long, v long"))
    S.set_identity_column(spark, t, "rid")
    errs = []

    def appender(k: int) -> None:
        try:
            commit_append(
                spark, t,
                spark.createDataFrame([(k * 10 + j,) for j in range(5)], "v long"),
            )
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(k,)) for k in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    rows = read_snapshot(spark, t).collect()
    assert len(rows) == 21
    rids = [r.rid for r in rows]
    assert len(set(rids)) == 21, sorted(rids)
    m = S._read_manifest(spark, t, S._list_versions(spark, t)[-1])
    assert m["identity"]["rid"]["high"] == max(rids)


def test_identity_blocks_datasource_writer(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S
    from customer_activity_lakehouse_spark.sources.datasource import (
        SnapshotLogDataSource,
    )

    spark.dataSource.register(SnapshotLogDataSource)
    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, 0)], "rid long, v long"))
    S.set_identity_column(spark, t, "rid")
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="identity"):
        try:
            (
                spark.createDataFrame([(9, 9)], "rid long, v long")
                .write.format("snapshot_log")
                .mode("append")
                .option("path", t)
                .save()
            )
        except Py4JJavaError as e:  # surface the python-side message
            raise RuntimeError(str(e)) from e


# ---------------------------------------------------------------------------
# Enforced unique keys (dedup-on-ingest)
# ---------------------------------------------------------------------------


def test_unique_key_declaration_validates_existing(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string"))
    with pytest.raises(ValueError, match="unique key"):
        S.set_unique_key(spark, t, ["k"])
    t2 = str(tmp_path / "tbl2")
    commit_append(spark, t2, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    assert S.set_unique_key(spark, t2, ["k"]) == 2


def test_unique_key_blocks_dup_appends(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    S.set_unique_key(spark, t, ["k"])
    # in-batch duplicate
    with pytest.raises(ValueError, match="within\n?.*the batch|within the batch"):
        commit_append(
            spark, t, spark.createDataFrame([(5, "x"), (5, "y")], "k long, v string")
        )
    # collision with existing data
    with pytest.raises(ValueError, match="collision with existing"):
        commit_append(spark, t, spark.createDataFrame([(2, "x")], "k long, v string"))
    # clean append lands; enforcement stops after drop
    commit_append(spark, t, spark.createDataFrame([(3, "c")], "k long, v string"))
    S.drop_unique_key(spark, t)
    commit_append(spark, t, spark.createDataFrame([(3, "dup-ok")], "k long, v string"))
    assert read_snapshot(spark, t).count() == 4


def test_unique_key_concurrent_appends_one_loses(spark, tmp_path):
    import threading

    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, "a")], "k long, v string"))
    S.set_unique_key(spark, t, ["k"])
    errs, oks = [], []

    def appender(tag: str) -> None:
        try:
            commit_append(
                spark, t, spark.createDataFrame([(7, tag)], "k long, v string")
            )
            oks.append(tag)
        except ValueError as e:
            errs.append(str(e))

    threads = [threading.Thread(target=appender, args=(s,)) for s in ("t1", "t2")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(oks) == 1 and len(errs) == 1, (oks, errs)
    assert "unique key" in errs[0]
    rows = read_snapshot(spark, t).filter("k = 7").collect()
    assert len(rows) == 1 and rows[0].v == oks[0]


def test_unique_key_overwrite_validates_and_carries(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, "a")], "k long, v string"))
    S.set_unique_key(spark, t, ["k"])
    with pytest.raises(ValueError, match="unique key"):
        commit_overwrite(
            spark, t, spark.createDataFrame([(9, "x"), (9, "y")], "k long, v string")
        )
    commit_overwrite(spark, t, spark.createDataFrame([(9, "x")], "k long, v string"))
    # the key survived the overwrite: a colliding append still fails
    with pytest.raises(ValueError, match="collision with existing"):
        commit_append(spark, t, spark.createDataFrame([(9, "again")], "k long, v string"))


def test_unique_key_follows_rename_and_blocks_drop(spark, tmp_path):
    """ALTER-surface interplay: renaming a unique-key column remaps the
    declared key (enforcement keeps working under the new name — a stale
    list would brick every later append's uniqueness probe); dropping a
    unique-key column is refused until drop_unique_key."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    S.set_unique_key(spark, t, ["k"])
    S.rename_snapshot_column(spark, t, "k", "key_id")
    # enforcement survived the rename: dup on the renamed column still fails
    with pytest.raises(ValueError, match="collision with existing"):
        commit_append(spark, t, spark.createDataFrame([(2, "x")], "key_id long, v string"))
    commit_append(spark, t, spark.createDataFrame([(3, "c")], "key_id long, v string"))
    assert read_snapshot(spark, t).count() == 3
    # dropping the key's column is refused (drop_unique_key first)
    with pytest.raises(ValueError, match="unique key"):
        S.drop_snapshot_column(spark, t, "key_id")
    S.drop_unique_key(spark, t)
    S.drop_snapshot_column(spark, t, "key_id")
    assert read_snapshot(spark, t).columns == ["v"]


def test_unique_key_merge_requires_covering_keys(spark, tmp_path):
    """ENFORCED unique keys vs MERGE: merging BY the unique key preserves
    uniqueness by construction; any merge whose keys are not a subset of
    the declared key's columns is refused (it could insert duplicate
    unique-key values through a feature advertised as ENFORCED)."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(
        spark, t,
        spark.createDataFrame([(1, "d1", "a"), (2, "d1", "b")], "k long, d string, v string"),
    )
    S.set_unique_key(spark, t, ["k"])
    # covered: merge by the unique key upserts and stays unique
    S.merge_snapshot(
        spark, t,
        spark.createDataFrame([(2, "d2", "B"), (3, "d1", "c")], "k long, d string, v string"),
        keys=["k"],
    )
    rows = {(r.k, r.d, r.v) for r in read_snapshot(spark, t).collect()}
    assert rows == {(1, "d1", "a"), (2, "d2", "B"), (3, "d1", "c")}
    # uncovered: keys=[k, d] could insert a second row for an existing k
    with pytest.raises(ValueError, match="not preserved by a merge"):
        S.merge_snapshot(
            spark, t,
            spark.createDataFrame([(2, "d9", "dup")], "k long, d string, v string"),
            keys=["k", "d"],
        )


def test_unique_key_blocks_raw_append_paths(spark, tmp_path):
    """Write paths that cannot enforce the key (the streaming append
    sink's direct _commit_append_files) fail loudly instead of silently
    bypassing it."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, "a")], "k long, v string"))
    S.set_unique_key(spark, t, ["k"])
    with pytest.raises(RuntimeError, match="cannot enforce"):
        S._commit_append_files(
            spark, t, [], [["k", "bigint"], ["v", "string"]], {}
        )


# ---------------------------------------------------------------------------
# Liquid clustering (persistent CLUSTER BY)
# ---------------------------------------------------------------------------


def test_liquid_clustering_incremental_compaction(spark, tmp_path):
    """set_cluster_columns makes PLAIN compaction an incremental
    clustering pass: sub-target files come out range-laid on the
    clustering key (disjoint stats → skip_where prunes to ~1 file),
    while above-target files carry verbatim — maintenance clusters the
    new data without full re-layouts (Delta liquid's contract)."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    # one ABOVE-target base file (~>1 MB) plus overlapping small appends
    big = spark.range(0, 300_000).selectExpr(
        "id", "md5(cast(id AS string)) AS pad"
    ).coalesce(1)
    commit_append(spark, t, big, stats_cols=["id"])
    base_files = set(_read_manifest_latest(spark, t)["files"])
    for _ in range(3):  # each small append spans the WHOLE id range
        commit_append(
            spark, t,
            spark.range(0, 300_000, 1000).selectExpr(
                "id", "md5(cast(id AS string)) AS pad"
            ).coalesce(1),
            stats_cols=["id"],
        )
    S.set_cluster_columns(spark, t, ["id"])
    v = S.compact_snapshot(spark, t, target_file_mb=1)
    assert v is not None
    m = _read_manifest_latest(spark, t)
    # the big file carried verbatim (incremental, not a full re-layout)
    assert base_files <= set(m["files"])
    new_files = [f for f in m["files"] if f not in base_files]
    assert len(new_files) >= 1
    # rewritten files carry DISJOINT id ranges (range-partitioned sort)
    spans = sorted(
        tuple(m["stats"][f]["id"]) for f in new_files if "id" in m["stats"][f]
    )
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans
    assert read_snapshot(spark, t).count() == 300_000 + 3 * 300
    # clustering survives rename; dropping the clustered column refuses
    S.rename_snapshot_column(spark, t, "id", "rid")
    m2 = _read_manifest_latest(spark, t)
    assert m2["clustering"]["cols"] == ["rid"]
    with pytest.raises(ValueError, match="clustering column"):
        S.drop_snapshot_column(spark, t, "rid")
    S.drop_cluster_columns(spark, t)
    assert "clustering" not in _read_manifest_latest(spark, t)


def test_liquid_clustering_merge_layout(spark, tmp_path):
    """A MERGE into a clustered table re-lays its rewrites range-sorted
    on the cluster columns with fresh per-file stats — maintenance
    preserves the prunable layout instead of hash-scattering it (the r11
    text-index finding, fixed at the snapshot layer so EVERY clustered
    table keeps pruning through MERGE, not just the postings table)."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    base = spark.range(0, 4000).selectExpr("id AS k", "id * 2 AS v")
    commit_append(
        spark, t,
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    S.set_cluster_columns(spark, t, ["k"])
    # updates span the WHOLE key range — every file is touched, exactly
    # the case that used to hash-scatter the rewrite
    ups = (
        spark.range(0, 4000, 7).selectExpr("id AS k", "id * 3 AS v")
        .unionByName(spark.range(4000, 4100).selectExpr("id AS k", "id AS v"))
    )
    S.merge_snapshot(spark, t, ups, keys=["k"], stats_cols=["k"])
    m = _read_manifest_latest(spark, t)
    assert m["files_rewritten"] == 4
    new_files = [f for f in m["files"] if "-merge-" in f]
    assert len(new_files) >= 2
    # rewritten files carry DISJOINT cluster-key ranges
    spans = sorted(tuple(m["stats"][f]["k"]) for f in new_files)
    for (_lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans
    # so skip_where on the cluster key prunes to ~1 of the merge files
    probe = read_snapshot(spark, t, skip_where=("k", 10, 20))
    assert 0 < len(set(probe.inputFiles())) < len(new_files)
    # and the relayout changed layout only, not rows
    assert read_snapshot(spark, t).count() == 4100
    assert read_snapshot(spark, t).filter("k = 14").collect()[0]["v"] == 42


def test_liquid_clustering_pure_insert_merge_splits_by_volume(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: a pure-insert MERGE into a clustered table rewrote no
    files, so n_out collapsed to 1 and an arbitrarily large insert batch
    landed range-sorted in a SINGLE file. The fold now sizes its output
    from the optimizer's free sizeInBytes estimate of the insert frame
    (file-backed and local frames report real bytes), so a large insert
    splits into ~128 MB range-disjoint files like any other rewrite."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(
        spark,
        t,
        spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"),
        stats_cols=["k"],
    )
    S.set_cluster_columns(spark, t, ["k"])
    # shrink the per-file target so a modest insert exceeds it
    monkeypatch.setattr(S, "_CLUSTER_FILE_BYTES", 4096)
    ups = spark.range(1000, 6000).selectExpr("id AS k", "id * 3 AS v")
    S.merge_snapshot(spark, t, ups, keys=["k"], stats_cols=["k"])
    m = _read_manifest_latest(spark, t)
    assert m["files_rewritten"] == 0  # pure insert: no key overlap
    new_files = [f for f in m["files"] if "-merge-" in f]
    assert len(new_files) >= 2, new_files
    # and the split is still range-laid: disjoint cluster-key spans
    spans = sorted(tuple(m["stats"][f]["k"]) for f in new_files)
    for (_lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans
    assert read_snapshot(spark, t).count() == 5100


def test_liquid_clustering_insert_estimate_capped_by_parallelism(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13 — the opposite failure mode of the r12 single-file bug:
    Catalyst sizeInBytes for COMPUTED insert frames (joins/aggregates
    default to row-products or padded widths) can overestimate by orders
    of magnitude, and below the 1 TiB degenerate-estimate gate that
    would split a small insert into thousands of near-empty range-sorted
    files. The estimate-derived output count is now capped at 4x
    defaultParallelism; layout stays range-disjoint and the next fold's
    rewrite sees real bytes."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    commit_append(
        spark,
        t,
        spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"),
        stats_cols=["k"],
    )
    S.set_cluster_columns(spark, t, ["k"])
    # a wildly inflated (but sub-TiB) estimate for a tiny insert batch
    monkeypatch.setattr(S, "_est_plan_bytes", lambda df: 512 << 30)
    ups = spark.range(1000, 1200).selectExpr("id AS k", "id * 3 AS v")
    S.merge_snapshot(spark, t, ups, keys=["k"], stats_cols=["k"])
    m = _read_manifest_latest(spark, t)
    assert m["files_rewritten"] == 0  # pure insert: no key overlap
    new_files = [f for f in m["files"] if "-merge-" in f]
    cap = 4 * spark.sparkContext.defaultParallelism
    assert 1 <= len(new_files) <= cap, len(new_files)
    # still range-laid: disjoint cluster-key spans
    spans = sorted(tuple(m["stats"][f]["k"]) for f in new_files)
    for (_lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans
    assert read_snapshot(spark, t).count() == 300


def test_liquid_clustering_merge_with_hive_partitioning(spark, tmp_path):
    """Clustered MERGE composes with hive dir-partitioning (the
    date-partitioned + key-clustered production shape): merge output is
    range-laid on the cluster key WITHIN each partition dir, partition
    dirs survive, and both pruning axes still work afterwards."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    base = spark.range(0, 2000).selectExpr(
        "id % 2 AS p", "id AS k", "id AS v"
    )
    commit_append(
        spark, t,
        base.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"], partition_by=["p"],
    )
    S.set_cluster_columns(spark, t, ["k"])
    ups = spark.range(0, 2000, 3).selectExpr("id % 2 AS p", "id AS k", "id * 5 AS v")
    S.merge_snapshot(spark, t, ups, keys=["k"], stats_cols=["k"])
    m = _read_manifest_latest(spark, t)
    new_files = [f for f in m["files"] if "-merge-" in f]
    assert new_files and all("p=" in f for f in new_files)  # dirs survive
    # within each partition dir the merge files carry disjoint k ranges
    for p in ("p=0", "p=1"):
        spans = sorted(
            tuple(m["stats"][f]["k"]) for f in new_files if p in f
        )
        assert len(spans) >= 2
        for (_l1, h1), (l2, _h2) in zip(spans, spans[1:]):
            assert h1 <= l2, (p, spans)
    # both pruning axes: partition dir + cluster-key stats
    probe = read_snapshot(
        spark, t, partition_where={"p": [0]}, skip_where=("k", 100, 120)
    )
    assert 0 < len(set(probe.inputFiles())) < len(m["files"])
    got = {r.k: r.v for r in read_snapshot(spark, t).collect()}
    assert got == {k: (k * 5 if k % 3 == 0 else k) for k in range(2000)}


def test_reorg_drops_inert_dv_pointers_then_vacuum_reclaims(spark, tmp_path):
    """r12: a MERGE materializes the DVs of every file it rewrites but
    carries the pointer list verbatim (entries become inert), so every
    later read still paid the anti-join. REORG now detects the all-inert
    case and drops the pointers in a METADATA-ONLY commit; once vacuum
    expires the pre-reorg versions, the DV parquet files are physically
    reclaimed — and reads are identical throughout."""
    import glob

    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    # two files with disjoint key ranges; DVs reference file A only
    commit_append(
        spark, t,
        spark.range(0, 50).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )
    commit_append(
        spark, t,
        spark.range(50, 100).selectExpr("id AS k", "id AS v").coalesce(1),
        stats_cols=["k"],
    )
    S.delete_snapshot(spark, t, "k % 10 = 3 AND k < 50", mode="dv")
    # merge touches exactly file A (batch keys 0..49): its DVs are
    # materialized by the rewrite; file B carries untouched, so the
    # pointer list rides along — now 100% inert
    S.merge_snapshot(
        spark, t,
        spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v"),
        keys=["k"], stats_cols=["k"],
    )
    m = _read_manifest_latest(spark, t)
    assert m.get("dv_files")  # inert but still carried
    v = S.reorg_snapshot(spark, t)
    assert v is not None
    m2 = _read_manifest_latest(spark, t)
    assert not m2.get("dv_files")
    assert m2["files_rewritten"] == 0  # metadata-only drop, no data I/O
    assert glob.glob(f"{t}/data/v*-dv-*/*.parquet")  # bytes still on disk
    S.vacuum(spark, t, keep_last=1)
    assert not glob.glob(f"{t}/data/v*-dv-*/*.parquet")  # reclaimed
    # merge re-inserted every A key (unmatched keys insert) doubled;
    # B untouched
    got = {r.k: r.v for r in read_snapshot(spark, t).collect()}
    assert got == {**{k: k * 2 for k in range(50)},
                   **{k: k for k in range(50, 100)}}
    # a second reorg has nothing to do
    assert S.reorg_snapshot(spark, t) is None


def test_maintain_snapshot_drops_inert_dv_pointers(spark, tmp_path):
    """The nightly loop productizes the inert-pointer drop: a DV delete
    followed by maintenance (whose compaction materializes the DVs of
    every small file it rewrites) leaves no dv_files in the manifest —
    and the deleted rows STAY deleted through the rewrite."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    # one ABOVE-target file (kept verbatim by compaction — it's what
    # carries the pointer list along) plus two small DV'd files
    commit_append(
        spark, t,
        spark.range(0, 300_000).selectExpr(
            "id AS k", "md5(cast(id AS string)) AS v"
        ).coalesce(1),
        stats_cols=["k"],
    )
    for lo in (300_000, 300_050):
        commit_append(
            spark, t,
            spark.range(lo, lo + 50).selectExpr(
                "id AS k", "md5(cast(id AS string)) AS v"
            ).coalesce(1),
            stats_cols=["k"],
        )
    S.delete_snapshot(spark, t, "k % 10 = 3 AND k >= 300000", mode="dv")
    out = S.maintain_snapshot(
        spark, t, target_file_mb=1, max_small_files=1, keep_versions=99
    )
    # compaction rewrote the small files (materializing their DVs) and
    # kept the big one, carrying the now-inert pointer list — which the
    # drop step then removes
    assert out["compacted"] is not None
    assert out["dv_pointers_dropped"] is not None
    assert not _read_manifest_latest(spark, t).get("dv_files")
    got = {r.k for r in read_snapshot(spark, t).filter("k >= 300000").collect()}
    assert got == {k for k in range(300_000, 300_100) if k % 10 != 3}
    assert read_snapshot(spark, t).count() == 300_000 + 90
    # idempotent: a second loop has nothing to drop
    out2 = S.maintain_snapshot(
        spark, t, target_file_mb=1, max_small_files=1, keep_versions=99
    )
    assert out2["dv_pointers_dropped"] is None


def _read_manifest_latest(spark, t):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    return S._read_manifest(spark, t, S._list_versions(spark, t)[-1])


def test_fsck_reports_and_repairs_missing_files(spark, tmp_path):
    """FSCK REPAIR TABLE parity: missing data files drop (acknowledged
    loss), missing bloom sidecars drop their pointers (pruning-only),
    missing deletion vectors REFUSE repair (dropping one would resurrect
    deleted rows)."""
    import os

    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        commit_append(
            spark, t,
            spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v").coalesce(1),
            stats_cols=["id"],
        )
    S.set_bloom_filter(spark, t, ["id"], m_bits=2**13, k=4, backfill=True)
    m = _read_manifest_latest(spark, t)
    # clean table: nothing to report
    rep0 = S.fsck_snapshot(spark, t)
    assert rep0 == {
        "missing_files": [], "missing_dv_files": [],
        "missing_bloom_sidecars": [], "unresolvable_versions": [],
        "chain_expired": None, "repaired": None,
    }
    # out-of-band delete one data file and the bloom sidecar
    victim = sorted(m["files"])[0]
    os.unlink(victim.replace("file:", ""))
    rel = next(s["__bloom"] for s in m["stats"].values() if s.get("__bloom"))
    os.unlink(os.path.join(t, rel))
    rep = S.fsck_snapshot(spark, t)
    assert rep["missing_files"] == [victim]
    assert rep["missing_bloom_sidecars"] == [rel]
    assert rep["repaired"] is None  # report-only by default
    # repair drops the dead reference; the table reads again
    rep2 = S.fsck_snapshot(spark, t, repair=True)
    assert rep2["repaired"] is not None
    assert read_snapshot(spark, t).count() == 20  # 10 rows acknowledged lost
    assert S.fsck_snapshot(spark, t) == {
        "missing_files": [], "missing_dv_files": [],
        "missing_bloom_sidecars": [], "unresolvable_versions": [],
        "chain_expired": None, "repaired": None,
    }
    # missing DV refuses repair (dropping it would un-delete rows)
    S.delete_snapshot(spark, t, "id = 25", mode="dv")
    m2 = _read_manifest_latest(spark, t)
    os.unlink(m2["dv_files"][0].replace("file:", ""))
    rep3 = S.fsck_snapshot(spark, t)
    assert rep3["missing_dv_files"] == [m2["dv_files"][0]]
    with pytest.raises(RuntimeError, match="RESURRECT"):
        S.fsck_snapshot(spark, t, repair=True)


def test_txn_idempotent_append_skips_replay(spark, tmp_path):
    """Delta txnAppId/txnVersion parity: a retried batch write with the
    same (app_id, txn_version) is skipped; higher versions apply; distinct
    apps never dedupe each other."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        latest_txn_version,
    )

    t = str(tmp_path / "tbl")
    v1 = commit_append(spark, t, _df(spark, 0, 10), txn=("etl-a", 1))
    assert v1 == 1 and read_snapshot(spark, t).count() == 10
    # scheduler retry: same logical write replayed → skipped, no new rows
    assert commit_append(spark, t, _df(spark, 0, 10), txn=("etl-a", 1)) == 1
    assert read_snapshot(spark, t).count() == 10
    # a LOWER version is also skipped (stamps are monotone per app)
    assert commit_append(spark, t, _df(spark, 90, 95), txn=("etl-a", 0)) == 1
    assert read_snapshot(spark, t).count() == 10
    # the next version applies; a different app's same number applies too
    v2 = commit_append(spark, t, _df(spark, 10, 15), txn=("etl-a", 2))
    assert v2 == 2 and read_snapshot(spark, t).count() == 15
    v3 = commit_append(spark, t, _df(spark, 15, 18), txn=("etl-b", 1))
    assert v3 == 3 and read_snapshot(spark, t).count() == 18
    assert latest_txn_version(spark, t, "etl-a") == 2
    assert latest_txn_version(spark, t, "etl-b") == 1
    assert latest_txn_version(spark, t, "etl-c") is None


def test_txn_stamp_survives_interleaved_commits(spark, tmp_path):
    """The probe walks raw records — an interleaved non-stamping commit
    (plain append, metadata op) must not hide the app's cursor."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        latest_txn_version,
        set_check_constraint,
    )

    t = str(tmp_path / "tbl")
    commit_append(spark, t, _df(spark, 0, 5), txn=("job", 7))
    commit_append(spark, t, _df(spark, 5, 9))  # unstamped writer
    set_check_constraint(spark, t, "pos", "id >= 0")  # metadata commit
    assert latest_txn_version(spark, t, "job") == 7
    assert commit_append(spark, t, _df(spark, 0, 5), txn=("job", 7)) == 1
    assert read_snapshot(spark, t).count() == 9


def test_fsck_detects_and_expires_unresolvable_versions(spark, tmp_path):
    """Chain invariant (r10 judge item): a storage-lost commit record
    leaves retained delta versions above it unresolvable — FSCK must
    DETECT them (the old fsck reported such tables clean while
    history/CDF/vacuum raised FileNotFoundError) and repair by expiring
    them, restoring every walk."""
    import os as _os

    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "t")
    for lo in range(0, 120, 10):  # 12 commits -> periodic ckpt at v10
        commit_append(
            spark, t, spark.range(lo, lo + 10).selectExpr("id", "id*2 AS v")
        )
    # simulate storage loss of v3's record: v3..v9 can no longer resolve
    # (delta chains with no checkpoint below v10); v10+ resolve via ckpt
    _os.unlink(_os.path.join(t, "_snapshots", "v00003.json"))
    rep = S.fsck_snapshot(spark, t)
    assert rep["unresolvable_versions"] == [4, 5, 6, 7, 8, 9]
    assert rep["missing_files"] == []  # head's data files are all fine
    rep2 = S.fsck_snapshot(spark, t, repair=True)
    assert rep2["chain_expired"] == [4, 5, 6, 7, 8, 9]
    # every walk is green again
    assert S.fsck_snapshot(spark, t)["unresolvable_versions"] == []
    assert S.snapshot_history(spark, t).count() >= 4  # v1, v2, v10..v12
    assert S.vacuum(spark, t, keep_last=2) >= 0
    assert read_snapshot(spark, t).count() == 120


def test_fsck_chain_repair_refuses_pinned_unresolvable(spark, tmp_path):
    """An unresolvable version PINNED by a tag is unrecoverable data —
    repair must refuse (expiring it would silently break the pin) until
    the operator drops the ref explicitly."""
    import os as _os

    import customer_activity_lakehouse_spark.sources.snapshots as S

    from customer_activity_lakehouse_spark.sources.refs import drop_tag, set_tag

    t = str(tmp_path / "t")
    for lo in range(0, 120, 10):
        commit_append(
            spark, t, spark.range(lo, lo + 10).selectExpr("id", "id*2 AS v")
        )
    set_tag(spark, t, "audit", version=5)
    _os.unlink(_os.path.join(t, "_snapshots", "v00003.json"))
    rep = S.fsck_snapshot(spark, t)
    assert 5 in rep["unresolvable_versions"]
    with pytest.raises(RuntimeError, match="pinned"):
        S.fsck_snapshot(spark, t, repair=True)
    # dropping the tag unblocks the repair
    drop_tag(spark, t, "audit")
    rep2 = S.fsck_snapshot(spark, t, repair=True)
    assert 5 in rep2["chain_expired"]
    assert S.fsck_snapshot(spark, t)["unresolvable_versions"] == []


def test_txn_stamp_survives_vacuum(spark, tmp_path):
    """ADVICE r10: the idempotence cursor rides the 'txns' TABLE PROPERTY
    (carried with every commit), so vacuum expiring the stamped commit's
    raw record cannot lose it — a scheduler retry with the same
    (app_id, txn_version) after an aggressive vacuum must still skip."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        latest_txn_version,
    )

    t = str(tmp_path / "t")
    df = spark.range(0, 5).selectExpr("id", "id*2 AS v")
    commit_append(spark, t, df, txn=("etl", 7))
    commit_append(spark, t, spark.range(5, 8).selectExpr("id", "id*2 AS v"))
    commit_append(spark, t, spark.range(8, 9).selectExpr("id", "id*2 AS v"))
    S = __import__(
        "customer_activity_lakehouse_spark.sources.snapshots",
        fromlist=["vacuum"],
    )
    S.vacuum(spark, t, keep_last=1)  # expires the stamped record (v1)
    assert latest_txn_version(spark, t, "etl") == 7  # cursor survived
    # the replayed batch is SKIPPED — before the fix it re-applied
    n = read_snapshot(spark, t).count()
    commit_append(spark, t, df, txn=("etl", 7))
    assert read_snapshot(spark, t).count() == n
    # a HIGHER txn_version still applies, and the cursor advances
    commit_append(spark, t, spark.range(9, 11).selectExpr("id", "id*2 AS v"),
                  txn=("etl", 8))
    assert read_snapshot(spark, t).count() == n + 2
    assert latest_txn_version(spark, t, "etl") == 8
    # distinct apps never dedupe each other, vacuum or not
    commit_append(spark, t, spark.range(11, 12).selectExpr("id", "id*2 AS v"),
                  txn=("other", 1))
    assert read_snapshot(spark, t).count() == n + 3


def test_restore_preserves_tags_and_txn_cursors(spark, tmp_path):
    """Tags are TABLE-level refs (Iceberg: rollback does not touch refs)
    and txn stamps are monotonic cursors — a RESTORE to a version that
    predates them must carry the HEAD's set, not the target's. Before the
    fix, restore-to-v1 after set_tag silently erased the tag (and the
    next vacuum expired the tagged version's files)."""
    from customer_activity_lakehouse_spark.sources.refs import (
        read_tag,
        tag_version,
    )
    from customer_activity_lakehouse_spark.sources.snapshots import (
        latest_txn_version,
        restore_snapshot,
    )

    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "t")
    commit_append(spark, t, spark.range(0, 3).selectExpr("id"))          # v1
    commit_append(spark, t, spark.range(3, 5).selectExpr("id"),
                  txn=("etl", 4))                                        # v2
    from customer_activity_lakehouse_spark.sources.refs import set_tag

    set_tag(spark, t, "late")                                            # v3, tags v2
    restore_snapshot(spark, t, 1)                                        # v4
    assert tag_version(spark, t, "late") == 2
    assert read_tag(spark, t, "late").count() == 5
    assert latest_txn_version(spark, t, "etl") == 4  # cursor not rolled back
    assert read_snapshot(spark, t).count() == 3
    # the tag keeps pinning through an aggressive vacuum after restore
    S.vacuum(spark, t, keep_last=1)
    assert read_tag(spark, t, "late").count() == 5
    # and a replay of the pre-restore batch still skips
    n = read_snapshot(spark, t).count()
    commit_append(spark, t, spark.range(3, 5).selectExpr("id"), txn=("etl", 4))
    assert read_snapshot(spark, t).count() == n


def test_fsck_chain_repair_respects_branch_audit_range(spark, tmp_path):
    """fsck chain repair must pin the SAME range vacuum does for live
    branches: a version inside (base, head] whose resolution chain broke
    still has a readable raw record that publish_branch needs — expiring
    it would break the audit. Dropping the branch unblocks the repair."""
    import os as _os

    import customer_activity_lakehouse_spark.sources.snapshots as S
    from customer_activity_lakehouse_spark.sources.refs import (
        create_branch,
        drop_branch,
    )

    t = str(tmp_path / "t")
    for lo in range(0, 120, 10):
        commit_append(
            spark, t, spark.range(lo, lo + 10).selectExpr("id", "id*2 AS v")
        )
    create_branch(spark, t, "wip", version=4)  # audit range pins v >= 4
    _os.unlink(_os.path.join(t, "_snapshots", "v00003.json"))
    rep = S.fsck_snapshot(spark, t)
    assert rep["unresolvable_versions"] == [4, 5, 6, 7, 8, 9]
    with pytest.raises(RuntimeError, match="pinned"):
        S.fsck_snapshot(spark, t, repair=True)
    drop_branch(spark, t, "wip", force=True)
    rep2 = S.fsck_snapshot(spark, t, repair=True)
    assert rep2["chain_expired"] == [4, 5, 6, 7, 8, 9]
    assert S.fsck_snapshot(spark, t)["unresolvable_versions"] == []
