"""catalog_queries: the query catalog's benchmark entries over the fixed star
fixture, one client, seeded shuffled passes into the ``noop`` sink.

Each entry runs in two traced steps: ``<module>.build`` is the entry's
``fn(spark, sf_dir)`` call (planning plus any eager materialize) and
``<module>.exec`` the write into the ``noop`` sink. The first warm-up pass
collects every result instead and compares its digest with
``digests.json``.
"""

from __future__ import annotations

import hashlib
import json
import os

from spans import per_call

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
MODULES = ("core", "llm_ops", "ml_ops", "timeseries")

# A fixed subset of the 39 bench entries, every module represented, sized
# so that a run's cold pass and warm-up stay short. The ml_ops pair is the
# vector-kernel work (IVF-PQ search, k-means).
ENTRIES = (
    "pricing_summary",  # plans.core
    "events_asof_join",  # plans.timeseries
    "ann_ivfpq_topk", "embedding_kmeans",  # plans.ml_ops
    "doc_tfidf_terms",  # plans.llm_ops
)


def result_digest(rows: list, columns: list[str]) -> str:
    """Order-free digest: columns sorted by name, values by repr, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(json.dumps([repr(r[i]) for i in order]) for r in rows)
    h = hashlib.sha256(json.dumps([columns[i] for i in order]).encode())
    for line in body:
        h.update(line.encode())
    return h.hexdigest()


class CatalogQueries:
    name = "catalog_queries"
    traced_passes = 1

    def __init__(self, run, star_dir: str):
        from customer_activity_lakehouse_spark.plans import QUERIES

        self.run, self.star = run, star_dir
        self.queries = {n: QUERIES[n] for n in ENTRIES}
        self.module = {n: q.fn.__module__.rsplit(".", 1)[1] for n, q in self.queries.items()}
        with open(DIGESTS) as f:
            self.expected = json.load(f)
        self.digested: dict[str, str] = {}
        self.passes = 0

    def setup(self) -> None:
        missing = [n for n in ENTRIES if n not in self.queries or not self.queries[n].bench]
        if missing:
            raise RuntimeError(f"not bench entries of the catalog: {missing}")

    def _check(self, name: str):
        def check(out):
            rows, cols = out
            got = result_digest(rows, cols)
            self.digested[name] = got
            want = self.expected.get(name)
            return None if got == want else f"digest {got[:12]} != committed {str(want)[:12]}"
        return check

    def run_pass(self) -> None:
        run, tracer = self.run, self.run.tracer
        order = list(ENTRIES)
        run.rng.shuffle(order)
        collect = self.passes == 0
        self.passes += 1
        for name in order:
            mod = self.module[name]
            fn = self.queries[name].fn

            def op(fn=fn, mod=mod):
                with tracer.span(f"plans.{mod}.build"):
                    df = fn(run.spark, self.star)
                with tracer.span(f"plans.{mod}.exec"):
                    if collect:
                        return df.collect(), df.columns
                    df.write.format("noop").mode("overwrite").save()

            run.op("query", name, op, self._check(name) if collect else None)

    def between_passes(self) -> None:
        pass

    def end_checks(self) -> None:
        missing = sorted(set(ENTRIES) - set(self.digested))
        if missing:
            self.run.fail(f"no digest taken for {missing}")

    def start_timed(self) -> None:
        return None

    def diagnostics(self, _state) -> dict:
        return {}

    def layer_metrics(self, spans: list[dict], self_s: dict[int, float]) -> dict:
        out = {}
        for mod in MODULES:
            build = per_call(spans, self_s, f"plans.{mod}.build")
            ex = per_call(spans, self_s, f"plans.{mod}.exec")
            out[f"plans.{mod}.build_s"] = (build[0], "s")
            out[f"plans.{mod}.exec_s"] = (ex[0], "s")
            out[f"plans.{mod}.jobs"] = (build[1] + ex[1], "count")
            out[f"plans.{mod}.stages"] = (build[2] + ex[2], "count")
        return out
