"""table_maintenance: a lineitem snapshot table kept at a steady live size
by a fixed cycle of writes, interleaved with bloom point lookups.

Set-up builds ``li`` (orderkey, linenumber, suppkey, qty, price, uk) from
the star fixture's lineitem, with a bloom filter on ``uk``, and ``mv``, its
SUM(qty, price) BY suppkey materialized view. One cycle appends a batch of
new orders, looks up two live keys, merges corrections to recent orders
(updates plus inserts), deletes the oldest batch so the live size stays
put, updates a range of recent orders,
refreshes the view and compacts the files of the newest keys (OPTIMIZE
... WHERE, as a streaming table compacts today's files).
The benchmark keeps its own model of ``li`` and checks it after every
cycle, every lookup against it, and the view against it at the end.
"""

from __future__ import annotations

import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

from measure import dir_bytes, fixed_bytes, mean
from spans import files_read, per_call

ORDERS_PER_CYCLE = 25
MERGE_UPDATES, MERGE_INSERTS = 15, 5
LOOKUPS_PER_CYCLE = 2
BASE_FILES = 8
RECENT_ORDERS = 10 * ORDERS_PER_CYCLE  # merges and updates touch these
COMPACT_CYCLES = 2  # compaction scope: the keys appended by the last cycles

LI_SCHEMA = (
    "l_orderkey long, l_linenumber int, l_suppkey long, qty long, "
    "price decimal(18,2), uk string"
)


class TableMaintenance:
    name = "table_maintenance"
    traced_passes = 2

    def __init__(self, run, star_dir: str):
        self.run, self.star = run, star_dir
        w = run.work_dir
        self.li, self.mv = f"{w}/li", f"{w}/mv"
        self.cycle = 0
        self.input_bytes = 0
        self.lookup_files: list[int] = []

    # --- helpers ---------------------------------------------------------

    def _layer(self, module: str):
        return self.run.layers.get(module)

    def _frame(self, cols: dict, schema: str):
        """Spark frame of user rows, counted into the input bytes."""
        tbl = pa.table(cols)
        self.input_bytes += fixed_bytes(tbl)
        return self.run.spark.createDataFrame(list(zip(*tbl.to_pydict().values())), schema)

    def _li_rows(self, rows):
        return self._frame({
            "l_orderkey": [o for (o, _), _ in rows],
            "l_linenumber": pa.array([ln for (_, ln), _ in rows], pa.int32()),
            "l_suppkey": [v[0] for _, v in rows],
            "qty": [v[1] for _, v in rows],
            "price": pa.array([Decimal(v[2]) / 100 for _, v in rows], pa.decimal128(18, 2)),
            "uk": [f"{o}-{ln}" for (o, ln), _ in rows],
        }, LI_SCHEMA)

    def _write(self, name: str, fn) -> None:
        self.run.op("write", name, fn)

    # --- set-up ----------------------------------------------------------

    def setup(self) -> None:
        spark, snap = self.run.spark, self._layer("sources.snapshots")
        li = pq.read_table(f"{self.star}/lineitem.parquet").to_pydict()
        self.model: dict[tuple[int, int], tuple[int, int, int]] = {}
        for o, ln, s, q, p in zip(li["l_orderkey"], li["l_linenumber"], li["l_suppkey"],
                                  li["l_quantity"], li["l_extendedprice"]):
            self.model[(o, ln)] = (s, int(q), int(round(p * 100)))
        self.next_order = max(o for o, _ in self.model) + 1
        base = spark.read.parquet(f"{self.star}/lineitem.parquet").selectExpr(
            "l_orderkey", "l_linenumber", "l_suppkey", "cast(l_quantity as long) as qty",
            "cast(l_extendedprice as decimal(18,2)) as price",
            "concat(l_orderkey, '-', l_linenumber) as uk",
        ).repartitionByRange(BASE_FILES, "l_orderkey")
        snap.commit_append(spark, self.li, base, stats_cols=["l_orderkey"])
        snap.set_bloom_filter(spark, self.li, ["uk"], m_bits=2**16, k=5, backfill=True)
        self._layer("sources.incremental").maintain_sum_aggregate(
            spark, self.li, self.mv, ["l_suppkey"], ["qty", "price"]
        )

    # --- one cycle -------------------------------------------------------

    def run_pass(self) -> None:
        spark, rng = self.run.spark, self.run.rng
        snap = self._layer("sources.snapshots")
        self.cycle += 1

        # append a batch of new orders
        new = {}
        for o in range(self.next_order, self.next_order + ORDERS_PER_CYCLE):
            for ln in range(1, rng.randint(1, 7) + 1):
                new[(o, ln)] = (rng.randrange(20), rng.randint(1, 50), rng.randint(90_000, 5_000_000))
        self.next_order += ORDERS_PER_CYCLE
        df = self._li_rows(sorted(new.items()))
        self._write("commit_append", lambda: snap.commit_append(spark, self.li, df, stats_cols=["l_orderkey"]))
        self.model.update(new)

        keys = list(self.model)
        for _ in range(LOOKUPS_PER_CYCLE):
            self._lookup(keys[rng.randrange(len(keys))])

        # merge: late corrections to recent orders, plus a few new lines
        recent = [k for k in keys if k[0] >= self.next_order - RECENT_ORDERS]
        upd = {}
        for k in rng.sample(recent, MERGE_UPDATES):
            s, q, c = self.model[k]
            upd[k] = (s, q + 1, c + 100)
        for o, _ in rng.sample(recent, MERGE_INSERTS):
            k = (o, 8 + self.cycle)
            upd[k] = (rng.randrange(20), rng.randint(1, 50), rng.randint(90_000, 5_000_000))
        mdf = self._li_rows(sorted(upd.items()))
        self._write("merge_snapshot", lambda: snap.merge_snapshot(
            spark, self.li, mdf, keys=["l_orderkey", "l_linenumber"], stats_cols=["l_orderkey"]))
        self.model.update(upd)

        # delete the oldest batch of orders
        lo = min(o for o, _ in self.model)
        hi = lo + ORDERS_PER_CYCLE - 1
        self._write("delete_snapshot", lambda: snap.delete_snapshot(
            spark, self.li, f"l_orderkey BETWEEN {lo} AND {hi}", prune_where=("l_orderkey", lo, hi)))
        self.model = {k: v for k, v in self.model.items() if not lo <= k[0] <= hi}

        # ranged update of ten recent orders
        a = self.next_order - rng.randint(10, RECENT_ORDERS)
        b = a + 9
        self._write("update_snapshot", lambda: snap.update_snapshot(
            spark, self.li, f"l_orderkey BETWEEN {a} AND {b}", {"qty": "qty + 1"},
            prune_where=("l_orderkey", a, b)))
        for k, (s, q, c) in list(self.model.items()):
            if a <= k[0] <= b:
                self.model[k] = (s, q + 1, c)

        self._write("maintain_sum_aggregate", lambda: self._layer("sources.incremental")
                    .maintain_sum_aggregate(spark, self.li, self.mv, ["l_suppkey"], ["qty", "price"]))
        recent = (self.next_order - COMPACT_CYCLES * ORDERS_PER_CYCLE, self.next_order - 1)
        self._write("compact_snapshot", lambda: snap.compact_snapshot(
            spark, self.li, target_file_mb=32, stats_cols=["l_orderkey"],
            scope_where=("l_orderkey", *recent)))

    def _lookup(self, key) -> None:
        from customer_activity_lakehouse_spark.sources import snapshots
        from pyspark.sql import functions as F

        uk = f"{key[0]}-{key[1]}"
        want = [self.model[key]]

        def op():
            with self.run.tracer.span("sources.snapshots.read_snapshot"):
                df = snapshots.read_snapshot(self.run.spark, self.li, point_where={"uk": uk})
                df = df.where(F.col("uk") == uk).select("l_suppkey", "qty", "price")
                rows = df.collect()
            if self.run.tracer.enabled:
                self.lookup_files.append(files_read(df))
            return rows

        def check(rows):
            got = [(r[0], r[1], int(r[2] * 100)) for r in rows]
            return None if got == want else f"lookup {uk}: {got} != {want}"

        self.run.op("serve", "read_snapshot", op, check)

    # --- checks ----------------------------------------------------------

    def between_passes(self) -> None:
        """Live rows and keyed sums of ``li`` against the model (untimed)."""
        from customer_activity_lakehouse_spark.sources.snapshots import read_snapshot
        from pyspark.sql import functions as F

        n, q, p = read_snapshot(self.run.spark, self.li).agg(
            F.count("*"), F.sum("qty"), F.sum("price")).collect()[0]
        want = (len(self.model), sum(v[1] for v in self.model.values()),
                sum(v[2] for v in self.model.values()))
        got = (n, q, int(p * 100))
        if got != want:
            self.run.fail(f"li after cycle {self.cycle}: (rows, qty, cents) {got} != {want}")

    def end_checks(self) -> None:
        from customer_activity_lakehouse_spark.sources.snapshots import read_snapshot

        want: dict[int, list] = {}
        for s, q, c in self.model.values():
            acc = want.setdefault(s, [0, 0, 0])
            acc[0] += q
            acc[1] += c
            acc[2] += 1
        got = {r["l_suppkey"]: [r["qty"], int(r["price"] * 100), r["n_rows"]]
               for r in read_snapshot(self.run.spark, self.mv).collect()}
        if got != want:
            self.run.fail("materialized view differs from the aggregate of the model")

    # --- sizes -----------------------------------------------------------

    def _bytes(self) -> int:
        return dir_bytes(self.li) + dir_bytes(self.mv)

    def _log(self) -> tuple[int, int]:
        """(commit files, bytes) of li's log directory."""
        log = os.path.join(self.li, "_snapshots")
        names = os.listdir(log)
        return (sum(1 for n in names if n.startswith("v") and n.endswith(".json")),
                sum(os.path.getsize(os.path.join(log, n)) for n in names))

    def start_timed(self) -> tuple[int, int, tuple[int, int]]:
        return self._bytes(), self.input_bytes, self._log()

    def diagnostics(self, before) -> dict:
        from customer_activity_lakehouse_spark.sources.snapshots import read_snapshot

        bytes0, input0, (commits0, log0) = before
        commits, log = self._log()
        live_df = read_snapshot(self.run.spark, self.li)
        self.live_files = len([f for f in live_df.inputFiles() if "-dv-" not in f])
        self.log_bytes_per_commit = (log - log0) / max(1, commits - commits0)
        live = fixed_bytes(live_df.toArrow()) + fixed_bytes(
            read_snapshot(self.run.spark, self.mv).toArrow())
        return {
            "bytes_written_per_input_byte": (self._bytes() - bytes0) / max(1, self.input_bytes - input0),
            "stored_bytes_per_live_byte": self._bytes() / live,
        }

    def layer_metrics(self, spans: list[dict], self_s: dict[int, float]) -> dict:
        out = {}
        for name in (
            "sources.snapshots.commit_append", "sources.snapshots.merge_snapshot",
            "sources.snapshots.delete_snapshot", "sources.snapshots.update_snapshot",
            "sources.snapshots.compact_snapshot", "sources.incremental.maintain_sum_aggregate",
        ):
            t, jobs, _ = per_call(spans, self_s, name)
            out[f"{name}_s"] = (t, "s")
            out[f"{name}_jobs"] = (jobs, "count")
        out["sources.snapshots.read_snapshot_s"] = (
            per_call(spans, self_s, "sources.snapshots.read_snapshot")[0], "s")
        per_lookup = mean(self.lookup_files)
        out["sources.snapshots.files_read_per_lookup"] = (per_lookup, "count")
        out["sources.snapshots.live_files"] = (self.live_files, "count")
        out["sources.bloom.files_read_share"] = (per_lookup / max(1, self.live_files), "ratio")
        out["sources.commitlog.log_bytes_per_commit"] = (self.log_bytes_per_commit, "B")
        return out
