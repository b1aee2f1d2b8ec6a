"""Commit-time file stats and bloom sidecars without a read-back.

`snapshots._file_stats` reads each new file's parquet footer and sends only
what a footer cannot answer exactly to an aggregate pass;
`bloom.file_blooms` builds every bloom column's bitmaps in one
`mapInArrow` scan. Both must produce exactly what the old read-back
passes produced, so the old passes are kept below, verbatim, as oracles:

- stats equal the read-back on every handled type (int, bigint,
  smallint, tinyint, string, date, boolean, three decimal encodings) plus
  double and INT96 timestamps (aggregate pass), an all-null column, a
  0-row file, a partitioned layout and a renamed (column-mapped) column,
  and on files whose footer cannot be read;
- the one-scan bloom pass returns the read-back's bitmaps and sidecar
  order on a two-column (int, string) spec;
- a bloom-indexed `commit_append` runs exactly two Spark jobs: the write
  and the bloom pass (no stats, count or schema-inference job).
"""

from __future__ import annotations

import base64
import decimal
import math
import re

import pandas as pd
from pyspark.sql import functions as F

from customer_activity_lakehouse_spark.sources import bloom, snapshots
from customer_activity_lakehouse_spark.sources.snapshots import (
    _data_files,
    _file_row_counts,
    _file_stats,
    _list_versions,
    _read_manifest,
    _write_data,
    commit_append,
    rename_snapshot_column,
    set_bloom_filter,
)

# ---------------------------------------------------------------------------
# The read-back passes these functions replaced (oracles, verbatim)
# ---------------------------------------------------------------------------


def _readback_file_stats(spark, files, stats_cols):
    from pyspark.sql import functions as F

    df = spark.read.parquet(*files).withColumn("__file", F.input_file_name())
    aggs = [F.count(F.lit(1)).alias("__nrows")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
    rows = df.groupBy("__file").agg(*aggs).collect()

    def js(v, side):
        if v is None or isinstance(v, (int, float, str, bool)):
            return v
        if isinstance(v, decimal.Decimal):
            f = float(v)
            return math.nextafter(f, -math.inf if side < 0 else math.inf)
        return str(v)

    out = {}
    for r in rows:
        d = r.asDict()
        key = d["__file"]
        out[key] = {
            c: [js(d[f"__min_{c}"], -1), js(d[f"__max_{c}"], +1)] for c in stats_cols
        }
        out[key]["__rows"] = int(d["__nrows"])
    import re

    def norm(p: str) -> str:
        return re.sub(r"^[a-zA-Z0-9+.-]+:/+", "/", p)

    by_path = {norm(k): v for k, v in out.items()}
    return {f: by_path[norm(f)] for f in files if norm(f) in by_path}


def _norm(p: str) -> str:
    return re.sub(r"^[a-zA-Z0-9+.-]+:/+", "/", p)


def _readback_file_blooms(spark, files, cols, m, k):
    from pyspark.sql import functions as F

    df = spark.read.parquet(*files)
    present = [c for c in cols if c in df.columns]
    if not present:
        return {}

    @F.pandas_udf("binary")
    def _pack(ps: pd.Series) -> pd.Series:
        import numpy as np

        def one(positions):
            bits = np.zeros(m // 8, dtype=np.uint8)
            a = np.asarray(positions, dtype=np.int64)
            np.bitwise_or.at(
                bits, a >> 3, (np.uint8(1) << (a & 7).astype(np.uint8))
            )
            return bits.tobytes()

        return ps.map(one)

    pos = bloom._position_cols(present, m, k)
    out = {}
    for c in present:
        rows = (
            df.where(F.col(c).isNotNull())
            .select(F.input_file_name().alias("__file"), pos[c].alias("__ps"))
            .select("__file", F.explode("__ps").alias("__p"))
            .groupBy("__file")
            .agg(F.collect_set("__p").alias("__set"))
            .select("__file", _pack("__set").alias("__bits"))
            .collect()
        )
        by_path = {_norm(r["__file"]): bytes(r["__bits"]) for r in rows}
        for f in files:
            bm = by_path.get(_norm(f))
            if bm is not None:
                out.setdefault(f, {})[c] = base64.b64encode(bm).decode()
    return out


# ---------------------------------------------------------------------------

ALL_COLS = [
    "i", "l", "s", "t", "str", "d", "b", "d7", "d15", "d30", "dbl", "ts", "n",
    "sparse",
]


def _typed(spark, lo: int, hi: int):
    """Every handled stats type, the aggregate-pass types (double, INT96
    timestamp), an all-null column and a partly-null string."""
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("i"),
        (F.col("id") * 1_000_003 - 7).alias("l"),
        (F.col("id") - 40).cast("smallint").alias("s"),
        (F.col("id") % 100 - 50).cast("tinyint").alias("t"),
        F.concat(F.lit("k"), (F.col("id") * 37 % 101).cast("string")).alias("str"),
        F.date_add(
            F.lit("2020-02-28").cast("date"), (F.col("id") * 5 - 90).cast("int")
        ).alias("d"),
        (F.col("id") % 3 == 0).alias("b"),
        ((F.col("id") - 30) / 7).cast("decimal(7,2)").alias("d7"),
        ((F.col("id") - 25) * 1000.125).cast("decimal(15,3)").alias("d15"),
        ((F.col("id") - 35) * 1e12 / 3).cast("decimal(30,4)").alias("d30"),
        ((F.col("id") - 20) / 3.0).alias("dbl"),
        F.timestamp_seconds(F.col("id") * 3601).alias("ts"),
        F.lit(None).cast("int").alias("n"),
        F.when(F.col("id") % 4 == 1, F.format_string("s%03d", "id")).alias("sparse"),
    )


def test_footer_stats_equal_readback_on_every_type(spark, tmp_path):
    t = str(tmp_path / "t")
    multi = _data_files(
        spark, _write_data(_typed(spark, 0, 60).repartition(3), t, "a")
    )
    empty = _data_files(spark, _write_data(_typed(spark, 0, 0).coalesce(1), t, "b"))
    parted = _data_files(
        spark, _write_data(_typed(spark, 60, 90), t, "c", partition_by=["b"])
    )
    files = multi + empty + parted
    assert len(multi) == 3 and len(empty) == 1 and len(parted) >= 2
    got = _file_stats(spark, files, ALL_COLS)
    assert got == _readback_file_stats(spark, files, ALL_COLS)
    assert all(f in got for f in multi + parted) and empty[0] not in got
    some = got[multi[0]]
    assert some["n"] == [None, None]
    assert isinstance(some["d30"][0], float) and isinstance(some["d"][0], str)
    # row counts come from the same footers
    counts = _file_row_counts(spark, files)
    assert counts[empty[0]] == 0
    assert sum(counts.values()) == 90


def test_unreadable_footers_fall_back_to_the_scan(spark, tmp_path, monkeypatch):
    """Files pyarrow cannot open (non-local schemes) take the aggregate
    pass for stats and row counts and the inferring read for blooms, with
    the same results."""
    t = str(tmp_path / "t")
    files = _data_files(
        spark, _write_data(_typed(spark, 0, 40).repartition(2), t, "a")
    )
    want_stats = _file_stats(spark, files, ALL_COLS)
    want_blooms = bloom.file_blooms(spark, files, ["i", "str"], 2**12, 3)
    want_counts = _file_row_counts(spark, files)
    monkeypatch.setattr(snapshots.commitlog, "read_footer", lambda f: None)
    assert _file_stats(spark, files, ALL_COLS) == want_stats
    assert want_stats == _readback_file_stats(spark, files, ALL_COLS)
    assert bloom.file_blooms(spark, files, ["i", "str"], 2**12, 3) == want_blooms
    assert _file_row_counts(spark, files) == want_counts


def test_manifest_stats_equal_readback_partitioned_and_renamed(spark, tmp_path):
    """Through the public verbs: a partitioned table, then a renamed
    column (stats keyed by the physical name) and a later append."""
    t = str(tmp_path / "t")
    cols = ["i", "str", "d", "d15", "dbl"]
    commit_append(
        spark, t, _typed(spark, 0, 40).repartition(2), stats_cols=cols,
        partition_by=["b"],
    )
    rename_snapshot_column(spark, t, "str", "label")
    commit_append(
        spark, t,
        _typed(spark, 40, 70).withColumnRenamed("str", "label"),
        stats_cols=["i", "label", "d", "d15", "dbl"],
    )
    m = _read_manifest(spark, t, _list_versions(spark, t)[-1])
    assert m["colmap"]["label"] == "str"
    for f in m["files"]:
        keys = [c for c in m["stats"][f] if not c.startswith("__")]
        assert "str" in keys and "b" in keys
        assert {f: m["stats"][f]} == _readback_file_stats(spark, [f], keys)


def test_one_scan_blooms_equal_readback(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        F.when(F.col("id") % 9 != 0, (F.col("id") * 7).cast("int")).alias("a"),
        F.when(F.col("id") % 5 != 0, F.format_string("u%05d", "id")).alias("k"),
        F.col("id"),
    )
    files = _data_files(spark, _write_data(df.repartition(3), t, "a"))
    no_k = df.where("id < 10").select(F.lit(None).cast("int").alias("a"), "id")
    files += _data_files(spark, _write_data(no_k.coalesce(1), t, "b"))
    m, k = 2**12, 3
    want = _readback_file_blooms(spark, files, ["a", "k"], m, k)
    got = bloom.file_blooms(spark, files, ["a", "k"], m, k)
    assert got == want
    # same sidecar bytes: files in input order, columns in spec order
    assert bloom.sidecar_payload(got, m, k) == bloom.sidecar_payload(want, m, k)
    # the last file lacks `k` and is all-null in `a`: no bitmap at all
    assert files[-1] not in got


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bloom_indexed_commit_append_runs_two_jobs(spark, tmp_path):
    t = str(tmp_path / "t")
    batch = spark.range(0, 50).select(
        "id", F.format_string("u%04d", "id").alias("uk")
    ).coalesce(1)
    commit_append(spark, t, batch, stats_cols=["id"])
    set_bloom_filter(spark, t, ["uk"], m_bits=2**12, k=3)
    nxt = spark.range(50, 80).select(
        "id", F.format_string("u%04d", "id").alias("uk")
    ).coalesce(1)
    n = _jobs_in_group(
        spark, "commit-append-budget",
        lambda: commit_append(spark, t, nxt, stats_cols=["id"]),
    )
    assert n == 2  # the parquet write and the one bloom pass
    m = _read_manifest(spark, t, _list_versions(spark, t)[-1])
    new = [f for f in m["files"] if bloom.STATS_KEY in m["stats"][f]]
    assert len(new) == 1 and m["stats"][new[0]]["__rows"] == 30
    assert m["stats"][new[0]]["id"] == [50, 79]
    assert snapshots.read_snapshot(spark, t, point_where={"uk": "u0060"}).where(
        "uk = 'u0060'"
    ).count() == 1
