"""One vector-kernel module, one concurrency helper.

- structural guard: the sequential-fold kernels exist once
  (plans/vector_kernels.py) and driver threads are started in one place
  (session.run_concurrently), so copies cannot grow back unnoticed;
- `run_concurrently` returns results in argument order, propagates a
  thunk's exception, and works when pinned-thread mode is off (pyspark's
  `inheritable_thread_target` then returns the session itself);
- an empty embeddings corpus: k-means and the IVF serve return no rows,
  the PQ serves keep their explicit ValueError.
"""

from __future__ import annotations

import ast
import threading
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from customer_activity_lakehouse_spark.plans import QUERIES
from customer_activity_lakehouse_spark.session import run_concurrently

PKG = Path(__file__).resolve().parent.parent / "customer_activity_lakehouse_spark"


def _run_concurrently_lines() -> range:
    tree = ast.parse((PKG / "session.py").read_text())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "run_concurrently"
    )
    return range(fn.lineno, fn.end_lineno + 1)


def test_kernels_and_thread_pools_exist_once():
    allowed_threads = _run_concurrently_lines()
    cumsum_sites, thread_sites = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for no, line in enumerate(path.read_text().splitlines(), start=1):
            if "np.cumsum" in line and rel != "plans/vector_kernels.py":
                cumsum_sites.append(f"{rel}:{no}")
            if ("ThreadPoolExecutor" in line or "inheritable_thread_target" in line) and not (
                rel == "session.py" and no in allowed_threads
            ):
                thread_sites.append(f"{rel}:{no}")
    assert not cumsum_sites, f"fold copies outside plans/vector_kernels.py: {cumsum_sites}"
    assert not thread_sites, f"thread pools outside session.run_concurrently: {thread_sites}"


def _order_and_error_checks(spark):
    def slow():
        time.sleep(0.2)
        return ("slow", threading.get_ident())

    def fast():
        return ("fast", threading.get_ident())

    (a, ta), (b, tb) = run_concurrently(spark, slow, fast)
    assert (a, b) == ("slow", "fast")  # argument order, not finish order
    assert ta != tb  # one thread per thunk

    def boom():
        raise RuntimeError("thunk failed")

    with pytest.raises(RuntimeError, match="thunk failed"):
        run_concurrently(spark, fast, boom)


def test_run_concurrently_order_errors_and_pinned_thread_off(spark, sf_smoke, monkeypatch):
    _order_and_error_checks(spark)
    want = QUERIES["ann_pq_topk"].fn(spark, sf_smoke).collect()
    # pinned-thread mode off: pyspark hands back its argument (the session)
    import pyspark

    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f=None: f)
    _order_and_error_checks(spark)
    assert QUERIES["ann_pq_topk"].fn(spark, sf_smoke).collect() == want


def test_empty_corpus(spark, tmp_path):
    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    )
    pq.write_table(schema.empty_table(), tmp_path / "embeddings.parquet")
    sf = str(tmp_path)
    assert QUERIES["embedding_kmeans"].fn(spark, sf).collect() == []
    assert QUERIES["ann_ivf_kmeans_topk"].fn(spark, sf).collect() == []
    for name in ("ann_pq_topk", "ann_ivfpq_topk"):
        with pytest.raises(ValueError, match="no query vector"):
            QUERIES[name].fn(spark, sf)
