"""nightly_etl: the reference's nightly rebuild. Each night runs the six
``pipeline.run_pipeline`` steps in overwrite mode over one pre-generated
CSV batch, then the two curated rollups.

The batch comes from the run's seed. Every night must give the same curated
fact row count and rollups, and both must match what the benchmark computes
from the CSV rows itself.
"""

from __future__ import annotations

import os
from collections import defaultdict
from datetime import datetime, timedelta

from fixture import write_etl_batch
from measure import dir_bytes, fixed_bytes, mean
from spans import files_read, per_call

N_TXN = 10_000
BATCH_DAYS = 30  # the batch's transactions span this many days (partitions)
ROLLUP_DAYS = 7  # revenue_by_category_date reads the last week only
STEPS = (
    "ingest_transactions", "ingest_products", "ingest_customers",
    "curate_transactions", "curate_customers", "curate_products",
)


def expected_rollups(rows, date_from: str):
    """Fact row count, revenue by (category, date) from ``date_from`` and
    revenue and distinct customers by segment, computed from the CSV rows in
    integer cents."""
    txns, prods, custs = rows
    category = {p[0]: p[2][:1].upper() + p[2][1:].lower() for p in prods}
    segment = {c[0]: c[6] or "Unknown" for c in custs}
    n_fact = 0
    by_cat: dict = defaultdict(lambda: [0, 0])
    by_seg: dict = defaultdict(lambda: [0, set()])
    for t in txns:
        if t[3] == "not-a-date":
            continue
        n_fact += 1
        cents = t[4] * int(t[5].replace(".", ""))
        day = t[3][:10]
        if day >= date_from:
            acc = by_cat[(category.get(t[2]), day)]
            acc[0] += cents
            acc[1] += 1
        seg = by_seg[segment.get(t[1])]
        seg[0] += cents
        seg[1].add(t[1])
    return (
        n_fact,
        {k: (v[0], v[1]) for k, v in by_cat.items()},
        {k: (v[0], len(v[1])) for k, v in by_seg.items()},
    )


class NightlyEtl:
    name = "nightly_etl"
    traced_passes = 2

    def __init__(self, run, star_dir: str):
        self.run = run
        self.csv_dir = f"{run.work_dir}/csv"
        self.nights = 0
        self.night_files: list[int] = []
        self.night_bytes: list[int] = []
        self.rollup_files: list[int] = []

    def setup(self) -> None:
        from customer_activity_lakehouse_spark.pipeline import LakehouseConfig

        self.paths, rows = write_etl_batch(self.csv_dir, self.run.seed, N_TXN, BATCH_DAYS)
        self.input_bytes = sum(dir_bytes(p) for p in self.paths)
        anchor = datetime(2025, 6, 30)
        self.date_from = (anchor - timedelta(days=ROLLUP_DAYS)).strftime("%Y-%m-%d")
        self.want = expected_rollups(rows, self.date_from)
        w = self.run.work_dir
        self.cfg = LakehouseConfig(f"{w}/raw", f"{w}/curated")
        self.run.layers.get("pipeline").bootstrap_zones(self.run.spark, self.cfg)

    def run_pass(self) -> None:
        run, spark, cfg = self.run, self.run.spark, self.cfg
        pipe = run.layers.get("pipeline")
        txn_csv, prod_csv, cust_csv = self.paths
        args = {
            "ingest_transactions": (txn_csv,), "ingest_products": (prod_csv,),
            "ingest_customers": (cust_csv,),
        }
        self.nights += 1
        for step in STEPS:
            fn = getattr(pipe, step)
            run.op("write", step, lambda fn=fn, step=step: fn(spark, *args.get(step, ()), cfg))
        if run.tracer.enabled:
            files = [os.path.join(r, f) for z in (cfg.raw_dir, cfg.curated_dir)
                     for r, _, fs in os.walk(z) for f in fs if f.endswith(".parquet")]
            self.night_files.append(len(files))
            self.night_bytes.append(sum(os.path.getsize(f) for f in files))
        run.op("query", "revenue_by_category_date", self._by_category, self._check_category)
        run.op("query", "customer_segment_revenue", self._by_segment, self._check_segment)

    def _rollup(self, name: str, build):
        """Run one curated rollup to the driver under its span."""
        from customer_activity_lakehouse_spark import pipeline

        with self.run.tracer.span(f"pipeline.{name}"):
            star = pipeline.load_star(self.run.spark, self.cfg)
            df = build(pipeline, star)
            rows = df.collect()
        if self.run.tracer.enabled:
            self.rollup_files.append(files_read(df))
        return rows

    def _by_category(self):
        return self._rollup("revenue_by_category_date", lambda p, s: p.revenue_by_category_date(
            s["fact_customer_transactions"], s["dim_product"], self.date_from))

    def _by_segment(self):
        return self._rollup("customer_segment_revenue", lambda p, s: p.customer_segment_revenue(
            s["fact_customer_transactions"], s["dim_customer"]))

    def _check_category(self, rows):
        got = {(r["product_category"], r["transaction_date"]):
               (int(round(r["revenue"] * 100)), r["n_transactions"]) for r in rows}
        return None if got == self.want[1] else "revenue_by_category_date differs from the CSV input"

    def _check_segment(self, rows):
        got = {r["customer_segment"]: (int(round(r["revenue"] * 100)), r["n_customers"])
               for r in rows}
        return None if got == self.want[2] else "customer_segment_revenue differs from the CSV input"

    def between_passes(self) -> None:
        from customer_activity_lakehouse_spark.sources.parquet import read_parquet

        n = read_parquet(self.run.spark, self.cfg.fact_customer_transactions).count()
        if n != self.want[0]:
            self.run.fail(f"night {self.nights}: {n} curated fact rows, want {self.want[0]}")

    def end_checks(self) -> None:
        pass

    def start_timed(self) -> None:
        return None

    def diagnostics(self, _state) -> dict:
        from customer_activity_lakehouse_spark.sources.parquet import read_parquet

        cfg = self.cfg
        zones = dir_bytes(cfg.raw_dir) + dir_bytes(cfg.curated_dir)
        curated = (cfg.fact_customer_transactions, cfg.dim_customer, cfg.dim_product)
        live = sum(fixed_bytes(read_parquet(self.run.spark, d).toArrow()) for d in curated)
        return {
            "bytes_written_per_input_byte": zones / self.input_bytes,
            "stored_bytes_per_live_byte": sum(dir_bytes(d) for d in curated) / live,
        }

    def layer_metrics(self, spans: list[dict], self_s: dict[int, float]) -> dict:
        out = {}
        for name in STEPS:
            t, jobs, _ = per_call(spans, self_s, f"pipeline.{name}")
            out[f"pipeline.{name}_s"] = (t, "s")
            out[f"pipeline.{name}_jobs"] = (jobs, "count")
        for name in ("revenue_by_category_date", "customer_segment_revenue"):
            out[f"pipeline.{name}_s"] = (per_call(spans, self_s, f"pipeline.{name}")[0], "s")
        out["pipeline.files_read_per_rollup"] = (mean(self.rollup_files), "count")
        out["sources.parquet.files_written_per_batch"] = (mean(self.night_files), "count")
        out["sources.parquet.bytes_written_per_batch"] = (mean(self.night_bytes), "B")
        return out
