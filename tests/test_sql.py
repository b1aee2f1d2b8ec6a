"""SQL front-end tests: every statement shape routes to the native verb
and mis-parses fail loudly (a silently no-op DML is a data-loss bug)."""

from __future__ import annotations

import pytest

from customer_activity_lakehouse_spark.sources.snapshots import (
    _read_manifest,
    commit_append,
    read_snapshot,
)
from customer_activity_lakehouse_spark.sources.sql import run_table_sql


def _seed(spark, tmp_path, n=10):
    t = str(tmp_path / "tbl")
    commit_append(
        spark, t, spark.range(0, n).selectExpr("id", "id * 2 AS v").coalesce(1),
        stats_cols=["id"],
    )
    return t


def test_select_with_time_travel_and_joins(spark, tmp_path):
    t = _seed(spark, tmp_path)
    run_table_sql(spark, f"INSERT INTO snapshot.`{t}` SELECT id, id AS v FROM range(100, 103)")
    df = run_table_sql(spark, f"SELECT count(*) AS n FROM snapshot.`{t}`")
    assert df.collect()[0]["n"] == 13
    old = run_table_sql(
        spark, f"SELECT count(*) AS n FROM snapshot.`{t}` VERSION AS OF 1"
    )
    assert old.collect()[0]["n"] == 10
    # self-join of two travel points through plain Spark SQL
    both = run_table_sql(
        spark,
        f"SELECT a.id FROM snapshot.`{t}` a JOIN snapshot.`{t}` VERSION AS OF 1 b "
        "ON a.id = b.id",
    )
    assert both.count() == 10


def test_insert_overwrite_delete_update(spark, tmp_path):
    t = _seed(spark, tmp_path)
    v = run_table_sql(spark, f"DELETE FROM snapshot.`{t}` WHERE id >= 8")
    assert v == 2 and read_snapshot(spark, t).count() == 8
    run_table_sql(spark, f"UPDATE snapshot.`{t}` SET v = v + 1000 WHERE id < 2")
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert got[0] == 1000 and got[1] == 1002 and got[5] == 10
    run_table_sql(
        spark, f"INSERT OVERWRITE snapshot.`{t}` SELECT id, id AS v FROM range(3)"
    )
    assert read_snapshot(spark, t).count() == 3
    with pytest.raises(ValueError, match="WHERE is required"):
        run_table_sql(spark, f"DELETE FROM snapshot.`{t}`")


def test_merge_clauses_via_sql(spark, tmp_path):
    t = _seed(spark, tmp_path)
    spark.createDataFrame(
        [(3, -3), (20, 40)], "id long, v long"
    ).createOrReplaceTempView("src")
    v = run_table_sql(
        spark,
        f"MERGE INTO snapshot.`{t}` AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    assert got[3] == -3 and got[20] == 40 and len(got) == 11
    m = _read_manifest(spark, t, v)
    assert m["op"] == "merge"
    # delete-only merge: matched rows satisfying the condition vanish,
    # unmatched source rows must NOT insert
    spark.createDataFrame(
        [(4, 0), (500, 0)], "id long, v long"
    ).createOrReplaceTempView("tomb")
    run_table_sql(
        spark,
        f"MERGE INTO snapshot.`{t}` t USING tomb s ON t.id = s.id "
        "WHEN MATCHED THEN DELETE",
    )
    got = {r.id for r in read_snapshot(spark, t).collect()}
    assert 4 not in got and 500 not in got and len(got) == 10
    with pytest.raises(ValueError, match="key equalities"):
        run_table_sql(
            spark,
            f"MERGE INTO snapshot.`{t}` t USING src s ON t.id < s.id "
            "WHEN MATCHED THEN DELETE",
        )


def test_optimize_reorg_vacuum_restore_describe(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        commit_append(
            spark, t,
            spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v").coalesce(1),
            stats_cols=["id"],
        )
    v = run_table_sql(spark, f"OPTIMIZE snapshot.`{t}`")
    assert v == 4 and read_snapshot(spark, t).count() == 30
    hist = run_table_sql(spark, f"DESCRIBE HISTORY snapshot.`{t}`")
    assert hist.filter("op = 'replace'").count() == 1
    run_table_sql(spark, f"RESTORE snapshot.`{t}` TO VERSION AS OF 2")
    assert read_snapshot(spark, t).count() == 20
    n = run_table_sql(spark, f"VACUUM snapshot.`{t}`")
    assert isinstance(n, int)
    assert run_table_sql(spark, f"REORG TABLE snapshot.`{t}` APPLY (PURGE)") is None


def test_alter_and_constraints_via_sql(spark, tmp_path):
    t = _seed(spark, tmp_path)
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` RENAME COLUMN v TO val")
    assert read_snapshot(spark, t).columns == ["id", "val"]
    run_table_sql(
        spark, f"ALTER TABLE snapshot.`{t}` ADD CONSTRAINT pos CHECK (val >= 0)"
    )
    with pytest.raises(ValueError, match="pos"):
        run_table_sql(
            spark,
            f"INSERT INTO snapshot.`{t}` SELECT id, CAST(-1 AS BIGINT) AS val FROM range(1)",
        )
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` DROP CONSTRAINT pos")
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` DROP COLUMN val")
    assert read_snapshot(spark, t).columns == ["id"]


def test_unsupported_statements_fail_loudly(spark, tmp_path):
    t = _seed(spark, tmp_path)
    for bad in (
        "TRUNCATE TABLE snapshot.`/x`",
        f"OPTIMIZE snapshot.`{t}` FULL NONSENSE",
        "SELECT 1",  # no snapshot ref
        f"MERGE INTO snapshot.`{t}` t USING src s ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = 1",
    ):
        with pytest.raises(ValueError):
            run_table_sql(spark, bad)


def test_alter_identity_and_unique_key_routes(spark, tmp_path):
    from customer_activity_lakehouse_spark.sources.snapshots import (
        commit_append,
        read_snapshot,
    )
    from customer_activity_lakehouse_spark.sources.sql import run_table_sql

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.createDataFrame([(1, 10)], "rid long, v long"))
    run_table_sql(
        spark,
        f"ALTER TABLE snapshot.`{t}` ALTER COLUMN rid SET IDENTITY (START 100 STEP 10)",
    )
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` ADD UNIQUE KEY uk (v)")
    commit_append(spark, t, spark.createDataFrame([(20,)], "v long"))
    rows = {r.v: r.rid for r in read_snapshot(spark, t).collect()}
    assert rows[20] > 100 and (rows[20] - 100) % 10 == 0
    with pytest.raises(ValueError, match="unique key"):
        commit_append(spark, t, spark.createDataFrame([(20,)], "v long"))
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` ALTER COLUMN rid DROP IDENTITY")
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` DROP UNIQUE KEY uk")
    commit_append(spark, t, spark.createDataFrame([(5, 20)], "rid long, v long"))
    assert read_snapshot(spark, t).count() == 3


def test_create_shallow_clone_via_sql(spark, tmp_path):
    src = str(tmp_path / "src")
    for lo in (0, 10):
        commit_append(
            spark, src, spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v")
        )
    dst = str(tmp_path / "dst")
    v = run_table_sql(
        spark, f"CREATE TABLE snapshot.`{dst}` SHALLOW CLONE snapshot.`{src}`"
    )
    assert v == 1 and read_snapshot(spark, dst).count() == 20
    # pinned-version clone sees only the first append
    dst1 = str(tmp_path / "dst1")
    run_table_sql(
        spark,
        f"CREATE TABLE snapshot.`{dst1}` SHALLOW CLONE snapshot.`{src}`"
        " VERSION AS OF 1",
    )
    assert read_snapshot(spark, dst1).count() == 10
    # clones diverge copy-on-write: writes at the clone never touch the src
    run_table_sql(spark, f"DELETE FROM snapshot.`{dst}` WHERE id < 5")
    assert read_snapshot(spark, dst).count() == 15
    assert read_snapshot(spark, src).count() == 20


def test_enable_row_tracking_via_tblproperties(spark, tmp_path):
    from customer_activity_lakehouse_spark.sources.snapshots import read_snapshot as rs

    t = str(tmp_path / "tbl")
    commit_append(spark, t, spark.range(0, 8).selectExpr("id", "id * 2 AS v"))
    run_table_sql(
        spark,
        f"ALTER TABLE snapshot.`{t}` SET TBLPROPERTIES "
        "('delta.enableRowTracking'='true')",
    )
    ids = {r._row_id for r in rs(spark, t, with_row_ids=True).collect()}
    assert ids == set(range(8))


def test_copy_into_sql_route(spark, tmp_path):
    """COPY INTO via SQL: exactly-once ledger semantics survive the SQL
    path (r8 verdict #3 — the loader verb a scheduler invokes)."""
    src = tmp_path / "landing"
    spark.range(0, 10).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(
        str(src / "a")
    )
    t = str(tmp_path / "tbl")
    r = run_table_sql(spark, f"COPY INTO snapshot.`{t}` FROM '{src}'")
    assert r == {"loaded_files": 1, "version": 1}
    # idempotent re-run loads nothing
    r2 = run_table_sql(spark, f"COPY INTO snapshot.`{t}` FROM '{src}'")
    assert r2 == {"loaded_files": 0, "version": None}
    assert read_snapshot(spark, t).count() == 10
    # CSV with schema + format options
    csvdir = tmp_path / "csvland"
    csvdir.mkdir()
    (csvdir / "one.csv").write_text("id,v\n100,x\n101,y\n")
    t2 = str(tmp_path / "tbl2")
    r3 = run_table_sql(
        spark,
        f"COPY INTO snapshot.`{t2}` FROM '{csvdir}' FILEFORMAT = CSV "
        "SCHEMA 'id long, v string' FORMAT_OPTIONS ('header' = 'true')",
    )
    assert r3["loaded_files"] == 1
    assert {(x.id, x.v) for x in read_snapshot(spark, t2).collect()} == {
        (100, "x"), (101, "y"),
    }


def test_apply_changes_scd2_sql_route(spark, tmp_path):
    """APPLY CHANGES ... STORED AS SCD TYPE 2 via SQL routes to
    scd.apply_changes_scd2 — interval history, one atomic commit."""
    dim = str(tmp_path / "dim")
    b1 = spark.createDataFrame(
        [(1, "a", 10, "insert"), (2, "b", 10, "insert")],
        "k long, seg string, lsn long, change_type string",
    )
    b1.createOrReplaceTempView("scd_batch1")
    run_table_sql(
        spark,
        f"APPLY CHANGES INTO snapshot.`{dim}` FROM scd_batch1 "
        "KEYS (k) SEQUENCE BY lsn STORED AS SCD TYPE 2",
    )
    b2 = spark.createDataFrame(
        [(1, "a2", 20, "update")], "k long, seg string, lsn long, change_type string"
    )
    b2.createOrReplaceTempView("scd_batch2")
    run_table_sql(
        spark,
        f"APPLY CHANGES INTO snapshot.`{dim}` FROM scd_batch2 "
        "KEYS (k) SEQUENCE BY lsn STORED AS SCD TYPE 2",
    )
    rows = {
        (r.k, r.seg, r.valid_from, r.valid_to)
        for r in read_snapshot(spark, dim).collect()
    }
    assert (1, "a", 10, 20) in rows  # closed old row
    assert (1, "a2", 20, None) in rows  # open new row
    assert (2, "b", 10, None) in rows  # untouched key stays open


def test_refresh_materialized_view_sql_route(spark, tmp_path):
    """REFRESH MATERIALIZED VIEW via SQL: bootstrap on first run, then
    O(changes) maintenance from the change feed — exactly-once (a second
    refresh with nothing new consumes nothing)."""
    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    commit_append(
        spark,
        src,
        spark.range(0, 100).selectExpr(
            "id % 7 AS k", "cast(id as decimal(18,2)) AS price"
        ),
    )
    v = run_table_sql(
        spark,
        f"REFRESH MATERIALIZED VIEW snapshot.`{agg}` FROM snapshot.`{src}` "
        "GROUP BY k SUM (price)",
    )
    assert v == 1
    run_table_sql(
        spark,
        f"INSERT INTO snapshot.`{src}` "
        "SELECT id % 7 AS k, cast(1000 as decimal(18,2)) AS price FROM range(0, 7)",
    )
    v2 = run_table_sql(
        spark,
        f"REFRESH MATERIALIZED VIEW snapshot.`{agg}` FROM snapshot.`{src}` "
        "GROUP BY k SUM (price)",
    )
    assert v2 == 2
    # already current → None
    assert (
        run_table_sql(
            spark,
            f"REFRESH MATERIALIZED VIEW snapshot.`{agg}` FROM snapshot.`{src}` "
            "GROUP BY k SUM (price)",
        )
        is None
    )
    got = {(r.k, str(r.price)) for r in read_snapshot(spark, agg).collect()}
    want = {
        (r.k, str(r.price))
        for r in read_snapshot(spark, src)
        .groupBy("k")
        .agg({"price": "sum"})
        .withColumnRenamed("sum(price)", "price")
        .collect()
    }
    assert got == want


def test_create_table_as_select_sql_route(spark, tmp_path):
    t = _seed(spark, tmp_path)
    dst = str(tmp_path / "ctas")
    v = run_table_sql(
        spark,
        f"CREATE TABLE snapshot.`{dst}` AS SELECT id, v FROM snapshot.`{t}` WHERE id < 5",
    )
    assert v == 1
    assert read_snapshot(spark, dst).count() == 5
    with pytest.raises(ValueError, match="already exists"):
        run_table_sql(
            spark, f"CREATE TABLE snapshot.`{dst}` AS SELECT 1 AS id, 2 AS v"
        )


def test_cluster_by_and_optimize_full_sql_routes(spark, tmp_path):
    """ALTER TABLE ... CLUSTER BY declares liquid clustering; plain
    OPTIMIZE then clusters incrementally, OPTIMIZE FULL re-lays the
    whole table; CLUSTER BY NONE stops it."""
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = str(tmp_path / "tbl")
    for i in range(4):
        commit_append(
            spark, t,
            spark.range(0, 1000, 2 if i % 2 else 3).selectExpr(
                "id", "id * 2 AS v"
            ).coalesce(1),
            stats_cols=["id"],
        )
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` CLUSTER BY (id)")
    m = S._read_manifest(spark, t, S._list_versions(spark, t)[-1])
    assert m["clustering"] == {"cols": ["id"], "zorder": False}
    v = run_table_sql(spark, f"OPTIMIZE snapshot.`{t}`")
    assert v is not None
    m = S._read_manifest(spark, t, S._list_versions(spark, t)[-1])
    spans = sorted(st["id"] for st in m["stats"].values() if "id" in st)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans
    # two more overlapping appends, then FULL re-lays EVERYTHING
    for step in (5, 7):
        commit_append(
            spark, t,
            spark.range(0, 1000, step).selectExpr("id", "id * 2 AS v").coalesce(1),
            stats_cols=["id"],
        )
    v2 = run_table_sql(spark, f"OPTIMIZE snapshot.`{t}` FULL")
    assert v2 is not None and v2 > v
    m = S._read_manifest(spark, t, S._list_versions(spark, t)[-1])
    spans = sorted(st["id"] for st in m["stats"].values() if "id" in st)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` CLUSTER BY NONE")
    m = S._read_manifest(spark, t, S._list_versions(spark, t)[-1])
    assert "clustering" not in m
    with pytest.raises(ValueError, match="no clustering columns"):
        run_table_sql(spark, f"OPTIMIZE snapshot.`{t}` FULL")


def test_maintain_table_sql_route(spark, tmp_path):
    """MAINTAIN TABLE ... [TARGET n MB] [KEEP m VERSIONS] runs the
    nightly loop and reports the four step outcomes as one row."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        _list_versions,
        delete_snapshot,
    )

    t = str(tmp_path / "tbl")
    for lo in range(0, 100, 10):  # 10 small files > max_small_files=8
        commit_append(
            spark, t,
            spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v").coalesce(1),
            stats_cols=["id"],
        )
    delete_snapshot(spark, t, "id = 5", mode="dv")
    row = run_table_sql(
        spark, f"MAINTAIN TABLE snapshot.`{t}` TARGET 1 MB KEEP 1 VERSIONS"
    ).collect()[0]
    # the small files compacted (materializing the DV); the pointer list
    # is shed by the compaction or the drop step — either way the
    # manifest ends clean
    assert row.compacted is not None
    assert row.vacuumed > 0
    m = _read_manifest(spark, t, _list_versions(spark, t)[-1])
    assert not m.get("dv_files")
    assert read_snapshot(spark, t).count() == 99
    with pytest.raises(ValueError, match="cannot parse MAINTAIN"):
        run_table_sql(spark, f"MAINTAIN snapshot.`{t}`")


def test_maintain_index_sql_route(spark, tmp_path):
    """MAINTAIN TEXT|VECTOR INDEX runs the nightly policy loop over every
    index subtable: maintenance folds leave small-file debris (extra
    doclen/postings commits per REFRESH), MAINTAIN compacts it down and
    vacuums old versions WITHOUT breaking the serve — the fixed 3-term
    query still prunes and answers exactly after. A non-index path
    fails loudly instead of compacting whatever it names."""
    import inspect
    import re as _re

    from customer_activity_lakehouse_spark.plans.text_index import (
        query_text_index,
    )
    from customer_activity_lakehouse_spark.sources.snapshots import maintain_snapshot

    # MAINTAIN compacts a subtable only past this many small files
    max_small = inspect.signature(maintain_snapshot).parameters["max_small_files"].default
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    docs = [(i, f"spark table query row{i} filler words here") for i in range(40)]
    # one file per commit: the build writes one doclen file per corpus-scan
    # partition, so a single-file corpus makes the debris count independent
    # of the core count (1 build file + 1 per fold)
    commit_append(
        spark,
        corpus,
        spark.createDataFrame(docs, "doc_id long, text string").coalesce(1),
        stats_cols=["doc_id"],
    )
    run_table_sql(
        spark, f"CREATE TEXT INDEX snapshot.`{idx}` ON snapshot.`{corpus}`"
    )
    # max_small maintenance folds -> per-fold doclen/postings debris
    for lo in range(40, 40 * (max_small + 1), 40):
        commit_append(
            spark,
            corpus,
            spark.createDataFrame(
                [(i, f"spark query extra batch{lo} doc{i}") for i in range(lo, lo + 40)],
                "doc_id long, text string",
            ).coalesce(1),
            stats_cols=["doc_id"],
        )
        run_table_sql(
            spark, f"REFRESH TEXT INDEX snapshot.`{idx}` FROM snapshot.`{corpus}`"
        )
    before = query_text_index(spark, idx, ("spark", "query")).collect()
    dl_files_before = len(
        {f for f in read_snapshot(spark, f"{idx}/doclen").inputFiles() if "-dv-" not in f}
    )
    assert dl_files_before > max_small  # the debris MAINTAIN exists to shed
    rows = run_table_sql(
        spark,
        f"MAINTAIN TEXT INDEX snapshot.`{idx}` TARGET 1 MB KEEP 1 VERSIONS",
    ).collect()
    assert {r.subtable for r in rows} == {"postings", "doclen"}
    by_sub = {r.subtable: r for r in rows}
    assert by_sub["doclen"].compacted is not None
    assert sum(r.vacuumed for r in rows) > 0
    dl_files_after = len(
        {f for f in read_snapshot(spark, f"{idx}/doclen").inputFiles() if "-dv-" not in f}
    )
    assert dl_files_after < dl_files_before
    # the serve is unchanged and still prunes per term
    after_df = query_text_index(spark, idx, ("spark", "query"))
    assert after_df.collect() == before
    post_files = {
        f for f in read_snapshot(spark, f"{idx}/postings").inputFiles() if "-dv-" not in f
    }
    pruned = {f for f in after_df.inputFiles() if "/postings/" in f and "-dv-" not in f}
    assert len(pruned) <= len(post_files)
    # guard: a plain table is not an index
    with pytest.raises(FileNotFoundError, match=_re.escape("no VECTOR index")):
        run_table_sql(spark, f"MAINTAIN VECTOR INDEX snapshot.`{corpus}`")


def test_set_partitioning_sql_route(spark, tmp_path):
    import customer_activity_lakehouse_spark.sources.snapshots as S

    t = _seed(spark, tmp_path)
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` SET PARTITIONING (v)")
    m = S._read_manifest(spark, t, S._list_versions(spark, t)[-1])
    assert m["partition_by"] == ["v"]
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` SET PARTITIONING NONE")
    m = S._read_manifest(spark, t, S._list_versions(spark, t)[-1])
    assert "partition_by" not in m


def test_describe_files_sql_route(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for i in range(12):  # crosses the checkpoint boundary
        commit_append(
            spark, t,
            spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 2 AS v").coalesce(1),
            stats_cols=["id"],
        )
    df = run_table_sql(spark, f"DESCRIBE FILES snapshot.`{t}`")
    rows = df.filter("kind = 'data'").collect()
    assert len(rows) == 12
    got = {(r["path"], r["stat:id"]["lo"], r["stat:id"]["hi"]) for r in rows}
    m = _read_manifest(spark, t, 12)
    want = {(f, m["stats"][f]["id"][0], m["stats"][f]["id"][1]) for f in m["files"]}
    assert got == want


def test_vacuum_dry_run_and_restore_to_timestamp(spark, tmp_path):
    """VACUUM ... DRY RUN returns the would-delete list touching nothing;
    RESTORE ... TO TIMESTAMP AS OF resolves through committed_at."""
    t = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        commit_append(
            spark, t,
            spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v").coalesce(1),
        )
    run_table_sql(spark, f"INSERT OVERWRITE snapshot.`{t}` SELECT id, id AS v FROM range(5)")
    would = run_table_sql(spark, f"VACUUM snapshot.`{t}` DRY RUN")
    assert isinstance(would, list) and len(would) == 3  # the 3 superseded files
    # nothing deleted: time travel still reads the pre-overwrite version
    assert read_snapshot(spark, t, version=3).count() == 30
    # restore by timestamp: 'now' resolves to the latest version
    import datetime as dt

    ts = (dt.datetime.now(dt.timezone.utc) + dt.timedelta(minutes=1)).isoformat()
    run_table_sql(
        spark, f"RESTORE snapshot.`{t}` TO TIMESTAMP AS OF '{ts}'"
    )
    assert read_snapshot(spark, t).count() == 5
    # the real deletion still works and matches the dry run's list
    n = run_table_sql(spark, f"VACUUM snapshot.`{t}`")
    assert n >= 3


def test_fsck_sql_route(spark, tmp_path):
    import os

    t = _seed(spark, tmp_path)
    commit_append(spark, t, spark.range(50, 60).selectExpr("id", "id*2 AS v").coalesce(1))
    rep = run_table_sql(spark, f"FSCK REPAIR TABLE snapshot.`{t}` DRY RUN")
    assert rep["missing_files"] == [] and rep["repaired"] is None
    m = _read_manifest(spark, t, 2)
    os.unlink(sorted(m["files"])[0].replace("file:", ""))
    rep2 = run_table_sql(spark, f"FSCK REPAIR TABLE snapshot.`{t}`")
    assert rep2["repaired"] == 3
    assert read_snapshot(spark, t).count() == 10


def test_create_and_refresh_vector_index_via_sql(spark, tmp_path):
    """Index lifecycle through SQL (VERDICT r9 missing #3): CREATE VECTOR
    INDEX builds the persisted IVF-PQ tables, REFRESH VECTOR INDEX folds
    the change feed exactly-once (second refresh is a no-op None), and
    the SQL path IS the Python path so the stamp contract holds."""
    from pyspark.sql import functions as F

    emb = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: (
            F.pmod(F.col("id") * 31 + i.cast("long") * 7, F.lit(97)) / 97.0
        ).cast("float"),
    )
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    commit_append(
        spark, corpus,
        spark.range(0, 120).select(F.col("id").alias("vec_id"), emb.alias("embedding")),
    )
    v = run_table_sql(
        spark, f"CREATE VECTOR INDEX snapshot.`{idx}` ON snapshot.`{corpus}`"
    )
    assert v == 1
    assert read_snapshot(spark, f"{idx}/codes").count() == 120
    # current → None; append → consumed version; again → None
    assert run_table_sql(
        spark, f"REFRESH VECTOR INDEX snapshot.`{idx}` FROM snapshot.`{corpus}`"
    ) is None
    commit_append(
        spark, corpus,
        spark.range(120, 150).select(F.col("id").alias("vec_id"), emb.alias("embedding")),
    )
    assert run_table_sql(
        spark, f"REFRESH VECTOR INDEX snapshot.`{idx}` FROM snapshot.`{corpus}`"
    ) == 2
    assert read_snapshot(spark, f"{idx}/codes").count() == 150
    assert run_table_sql(
        spark, f"REFRESH VECTOR INDEX snapshot.`{idx}` FROM snapshot.`{corpus}`"
    ) is None


def test_create_and_refresh_minhash_index_via_sql(spark, tmp_path):
    """MinHash equivalent: CREATE MINHASH INDEX commits the band
    postings; REFRESH MINHASH INDEX returns the batch's duplicate pairs
    and stamps exactly-once; a delete retracts through the same verb."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "a completely different document about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    commit_append(spark, corpus, docs)
    assert run_table_sql(
        spark, f"CREATE MINHASH INDEX snapshot.`{idx}` ON snapshot.`{corpus}`"
    ) == 1
    assert read_snapshot(spark, f"{idx}/bands").count() == 8  # 4 bands x 2
    commit_append(
        spark, corpus,
        spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy dog again and again!")],
            "doc_id long, text string",
        ),
    )
    pairs = run_table_sql(
        spark, f"REFRESH MINHASH INDEX snapshot.`{idx}` FROM snapshot.`{corpus}`"
    )
    assert {(r.new_doc, r.dup_of) for r in pairs.collect()} == {(10, 1)}
    # exactly-once through SQL: nothing left to consume
    assert run_table_sql(
        spark, f"REFRESH MINHASH INDEX snapshot.`{idx}` FROM snapshot.`{corpus}`"
    ) is None
    # retraction routes through the same verb
    run_table_sql(spark, f"DELETE FROM snapshot.`{corpus}` WHERE doc_id = 1")
    assert run_table_sql(
        spark, f"REFRESH MINHASH INDEX snapshot.`{idx}` FROM snapshot.`{corpus}`"
    ) is None
    assert read_snapshot(spark, f"{idx}/bands").filter("doc_id = 1").count() == 0


def test_index_sql_misparse_fails_loudly(spark, tmp_path):
    t = _seed(spark, tmp_path)
    with pytest.raises(ValueError):
        run_table_sql(spark, f"CREATE VECTOR INDEX ON snapshot.`{t}`")
    with pytest.raises(ValueError):
        run_table_sql(
            spark, f"REFRESH HNSW INDEX snapshot.`{t}` FROM snapshot.`{t}`"
        )


def test_describe_index_via_sql(spark, tmp_path):
    """DESCRIBE VECTOR|MINHASH INDEX: the scheduler-facing observability
    row — counts, structure size, and the consumed-version cursor."""
    from pyspark.sql import functions as F

    emb = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: (
            F.pmod(F.col("id") * 31 + i.cast("long") * 7, F.lit(97)) / 97.0
        ).cast("float"),
    )
    corpus = str(tmp_path / "vcorpus")
    vidx = str(tmp_path / "vidx")
    commit_append(
        spark, corpus,
        spark.range(0, 80).select(F.col("id").alias("vec_id"), emb.alias("embedding")),
    )
    run_table_sql(spark, f"CREATE VECTOR INDEX snapshot.`{vidx}` ON snapshot.`{corpus}`")
    row = run_table_sql(
        spark, f"DESCRIBE VECTOR INDEX snapshot.`{vidx}`"
    ).collect()[0]
    from customer_activity_lakehouse_spark.plans.ml_ops import _ivf_cells

    assert (row.index_kind, row.n_vectors, row.consumed_version) == ("vector", 80, 1)
    # corpus-sized quantizer: nlist = max(8, ceil(sqrt(80))) = 9 targets,
    # minus any empty seed buckets / Lloyd-emptied cells
    assert 1 <= row.n_cells <= row.n_centroids <= _ivf_cells(80)
    dcorpus = str(tmp_path / "dcorpus")
    midx = str(tmp_path / "midx")
    commit_append(
        spark, dcorpus,
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog again and again")],
            "doc_id long, text string",
        ),
    )
    run_table_sql(spark, f"CREATE MINHASH INDEX snapshot.`{midx}` ON snapshot.`{dcorpus}`")
    row = run_table_sql(
        spark, f"DESCRIBE MINHASH INDEX snapshot.`{midx}`"
    ).collect()[0]
    assert (row.index_kind, row.n_docs, row.n_postings, row.consumed_version) == (
        "minhash", 1, 4, 1,
    )


def test_drop_index_via_sql(spark, tmp_path):
    """DROP VECTOR|MINHASH INDEX completes the SQL lifecycle: the index's
    subtables are physically removed (a re-CREATE starts from scratch),
    a non-index path is refused before anything is deleted, and data a
    caller nested under the index root survives the drop."""
    import os

    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "a completely different document about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    commit_append(spark, corpus, docs)
    run_table_sql(spark, f"CREATE MINHASH INDEX snapshot.`{idx}` ON snapshot.`{corpus}`")
    # a stowaway file under the index root must survive the drop
    with open(f"{idx}/notes.txt", "w") as f:
        f.write("not index data")
    assert run_table_sql(spark, f"DROP MINHASH INDEX snapshot.`{idx}`") == 1
    assert not os.path.exists(f"{idx}/bands")
    assert os.path.exists(f"{idx}/notes.txt")
    # dropping again: nothing there → loud refusal
    with pytest.raises(FileNotFoundError):
        run_table_sql(spark, f"DROP MINHASH INDEX snapshot.`{idx}`")
    # kind mismatch is refused BEFORE deletion: a minhash index is not a
    # vector index (and vice versa)
    idx2 = str(tmp_path / "idx2")
    run_table_sql(spark, f"CREATE MINHASH INDEX snapshot.`{idx2}` ON snapshot.`{corpus}`")
    with pytest.raises(FileNotFoundError):
        run_table_sql(spark, f"DROP VECTOR INDEX snapshot.`{idx2}`")
    assert os.path.exists(f"{idx2}/bands")
    # an arbitrary snapshot table masquerading as an index: schema guard
    fake = str(tmp_path / "fake")
    commit_append(
        spark, f"{fake}/bands",
        spark.createDataFrame([(1, 2)], "a long, b long"),
    )
    with pytest.raises(ValueError):
        run_table_sql(spark, f"DROP MINHASH INDEX snapshot.`{fake}`")
    assert os.path.exists(f"{fake}/bands")
    # vector drop removes all three subtables and reports the count
    from pyspark.sql import functions as F

    emb = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: (
            F.pmod(F.col("id") * 31 + i.cast("long") * 7, F.lit(97)) / 97.0
        ).cast("float"),
    )
    vcorpus = str(tmp_path / "vcorpus")
    vidx = str(tmp_path / "vidx")
    commit_append(
        spark, vcorpus,
        spark.range(0, 120).select(F.col("id").alias("vec_id"), emb.alias("embedding")),
    )
    run_table_sql(spark, f"CREATE VECTOR INDEX snapshot.`{vidx}` ON snapshot.`{vcorpus}`")
    assert run_table_sql(spark, f"DROP VECTOR INDEX snapshot.`{vidx}`") == 3
    assert not os.path.exists(vidx)  # emptied root is removed too


def test_refs_sql_lifecycle(spark, tmp_path):
    """CREATE TAG / TAG AS OF / DESCRIBE REFS / branch verbs / @branch
    refs — the write-audit-publish flow driven entirely through SQL."""
    t = str(tmp_path / "t")
    commit_append(spark, t, spark.range(0, 10).selectExpr("id", "id * 2 AS v"))
    commit_append(spark, t, spark.range(10, 30).selectExpr("id", "id * 2 AS v"))
    assert run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` CREATE TAG rel AS OF VERSION 1") == 3
    got = run_table_sql(
        spark, f"SELECT count(*) AS n FROM snapshot.`{t}` TAG AS OF 'rel'"
    ).collect()
    assert got[0].n == 10
    # branch: fork, audit-write through the @branch ref, publish
    assert run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` CREATE BRANCH wip") == 1
    run_table_sql(
        spark,
        f"INSERT INTO snapshot.`{t}@wip` SELECT id, id * 2 AS v FROM range(30, 35)",
    )
    run_table_sql(spark, f"DELETE FROM snapshot.`{t}@wip` WHERE id < 5")
    n_branch = run_table_sql(
        spark, f"SELECT count(*) AS n FROM snapshot.`{t}@wip`"
    ).collect()[0].n
    assert n_branch == 30
    # parent still pristine mid-audit
    assert run_table_sql(
        spark, f"SELECT count(*) AS n FROM snapshot.`{t}`"
    ).collect()[0].n == 30 + 0  # 30 original rows, no branch writes
    refs = {
        (r.kind, r.name): (r.version, r.head_version)
        for r in run_table_sql(spark, f"DESCRIBE REFS snapshot.`{t}`").collect()
    }
    assert refs[("tag", "rel")] == (1, None)
    assert refs[("branch", "wip")][0] == 3  # base = tagged head (v3)
    v = run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` PUBLISH BRANCH wip")
    assert v == 4
    rows = sorted(
        r.id for r in run_table_sql(spark, f"SELECT id FROM snapshot.`{t}`").collect()
    )
    assert rows == list(range(5, 35))
    # branch consumed; the tag still resolves
    assert [r.kind for r in run_table_sql(spark, f"DESCRIBE REFS snapshot.`{t}`").collect()] == ["tag"]
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` DROP TAG rel")


def test_drop_branch_sql_force(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_append(spark, t, spark.range(0, 5).selectExpr("id"))
    run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` CREATE BRANCH wip")
    run_table_sql(spark, f"INSERT INTO snapshot.`{t}@wip` SELECT id FROM range(5, 8)")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="unpublished"):
        run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` DROP BRANCH wip")
    assert run_table_sql(spark, f"ALTER TABLE snapshot.`{t}` DROP BRANCH wip FORCE") is None
    assert run_table_sql(spark, f"DESCRIBE REFS snapshot.`{t}`").count() == 0


def test_restore_to_tag_sql(spark, tmp_path):
    from customer_activity_lakehouse_spark.sources.refs import set_tag

    t = str(tmp_path / "t")
    commit_append(spark, t, spark.range(0, 7).selectExpr("id"))
    set_tag(spark, t, "good")
    run_table_sql(spark, f"INSERT OVERWRITE snapshot.`{t}` SELECT id FROM range(100, 103)")
    assert run_table_sql(spark, f"SELECT count(*) AS n FROM snapshot.`{t}`").collect()[0].n == 3
    v = run_table_sql(spark, f"RESTORE snapshot.`{t}` TO TAG AS OF 'good'")
    assert v == 4
    assert run_table_sql(spark, f"SELECT count(*) AS n FROM snapshot.`{t}`").collect()[0].n == 7


def test_vector_index_lifecycle_through_branches(spark, tmp_path):
    """WAP for indexes (r10 punch #6): CREATE VECTOR INDEX against a
    branch-qualified corpus ref (snapshot.`p@wip`) indexes the BRANCH's
    rows without touching the parent's index; after PUBLISH BRANCH, ONE
    incremental REFRESH folds the published rows into the parent index
    (the publish commit is feed-visible as inserts when add-only)."""
    from pyspark.sql import functions as F

    from customer_activity_lakehouse_spark.sources.refs import branch_dir

    emb = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: (
            F.pmod(F.col("id") * 31 + i.cast("long") * 7, F.lit(97)) / 97.0
        ).cast("float"),
    )
    corpus = str(tmp_path / "corpus")
    pidx = str(tmp_path / "pidx")
    bidx = str(tmp_path / "bidx")
    commit_append(
        spark, corpus,
        spark.range(0, 120).select(F.col("id").alias("vec_id"), emb.alias("embedding")),
    )
    run_table_sql(spark, f"CREATE VECTOR INDEX snapshot.`{pidx}` ON snapshot.`{corpus}`")
    run_table_sql(spark, f"ALTER TABLE snapshot.`{corpus}` CREATE BRANCH wip")
    # audit writes land on the branch ref only
    commit_append(
        spark, branch_dir(corpus, "wip"),
        spark.range(120, 150).select(F.col("id").alias("vec_id"), emb.alias("embedding")),
    )
    # branch index over the branch-qualified ref sees the audit rows…
    run_table_sql(
        spark, f"CREATE VECTOR INDEX snapshot.`{bidx}` ON snapshot.`{corpus}@wip`"
    )
    assert read_snapshot(spark, f"{bidx}/codes").count() == 150
    # …and the parent's index tables are untouched (isolation)
    assert read_snapshot(spark, f"{pidx}/codes").count() == 120
    assert run_table_sql(
        spark, f"REFRESH VECTOR INDEX snapshot.`{pidx}` FROM snapshot.`{corpus}`"
    ) is None  # parent corpus unchanged — nothing to fold
    # more audit writes fold into the BRANCH index through the branch ref
    commit_append(
        spark, branch_dir(corpus, "wip"),
        spark.range(150, 160).select(F.col("id").alias("vec_id"), emb.alias("embedding")),
    )
    assert run_table_sql(
        spark, f"REFRESH VECTOR INDEX snapshot.`{bidx}` FROM snapshot.`{corpus}@wip`"
    ) is not None
    assert read_snapshot(spark, f"{bidx}/codes").count() == 160
    assert read_snapshot(spark, f"{pidx}/codes").count() == 120  # still isolated
    # publish the audit; ONE refresh folds the published rows incrementally
    run_table_sql(spark, f"ALTER TABLE snapshot.`{corpus}` PUBLISH BRANCH wip")
    assert read_snapshot(spark, corpus).count() == 160
    assert run_table_sql(
        spark, f"REFRESH VECTOR INDEX snapshot.`{pidx}` FROM snapshot.`{corpus}`"
    ) is not None
    assert read_snapshot(spark, f"{pidx}/codes").count() == 160
    # codes agree on the published vectors (same frozen parent codebooks
    # would differ from the branch's own training — compare row COUNTS and
    # id sets, not codes)
    pids = {r.vec_id for r in read_snapshot(spark, f"{pidx}/codes").select("vec_id").collect()}
    assert pids == set(range(160))
