"""Arrow/NumPy kernel twins — bit-exactness pins.

The ANN / k-means family runs on the Arrow-vectorized NumPy kernels of
plans/vector_kernels.py (guide §4.2). The DuckDB oracles already re-verify
every catalog entry's VALUES; these tests pin the kernels against the JVM
expression forms DIRECTLY — same doubles, same argmin tie-breaks — so a
future numpy / Arrow behavior change is caught at the kernel boundary, not
as a mysterious oracle hash drift. The expression forms live HERE, below,
as the reference twins (production no longer carries them):

- `_km_assign` (NumPy sequential-fold argmin) == `_km_assign_expr`
  (zip_with / aggregate fold + array_min) — exact (cluster, dist) per
  vector;
- `_pq_assign` == `_pq_assign_expr` — exact per-(vec, m) codeword;
- `_adc_code_cos_udf` (both the fixed-query and per-row-query variants)
  == the `_adc_cos` expression over `_pq_cents_by_m` — exact UNROUNDED
  cosine doubles;
- `rank_cells` (the one IVF cell ranking) == the retired crossJoin /
  explode / orderBy(cdist, cluster) probe expression — exact cell order
  for every query of a batch.
"""

from __future__ import annotations

import functools
import operator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from customer_activity_lakehouse_spark.plans.ann_index import (
    _adc_code_cos_udf,
    _encode_cells,
    _local_books,
    build_ann_index,
)
from customer_activity_lakehouse_spark.plans.ml_ops import (
    PQ_M,
    PQ_SUB,
    _centroid_rows,
    _codebook_rows,
    _hash_seeds,
    _km_assign,
    _km_update,
    _pq_assign,
    _pq_fit,
    _pq_subrows,
    _quantize,
)
from customer_activity_lakehouse_spark.sources.snapshots import read_snapshot

from .test_ann_index import _corpus

# ---------------------------------------------------------------------------
# JVM expression twins (the reference the kernels are pinned against)
# ---------------------------------------------------------------------------


def _km_assign_expr(embq: DataFrame, centroids: DataFrame) -> DataFrame:
    """Map-side argmin, pure-JVM expression form: centroids collapse to ONE
    broadcast row holding a sorted array<struct<cluster,c>>; each vector
    folds over it computing squared distances and takes array_min of
    (dist, cluster) structs — ties break toward the smaller cluster id in
    both engines. Vectors never shuffle.

    Kept as the reference twin of the Arrow kernel below (pinned equal in
    tests/test_np_kernels.py): interpreted HOF lambdas cost ~1.7 s per
    assignment pass at sf0.1 (2000 rows x 45 cells x 64 dims — measured
    r14), which the NumPy batch path does in ~0.05 s with bit-identical
    doubles."""
    carr = centroids.agg(
        F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cents")
    )
    dist_structs = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("q"), s["c"], lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist"),
            s["cluster"].alias("cluster"),
        ),
    )
    best = F.array_min(dist_structs)
    return embq.crossJoin(F.broadcast(carr)).select(
        "vec_id", "q", best["cluster"].alias("cluster"), best["dist"].alias("dist")
    )


def _pq_cents_by_m(cents: DataFrame):
    """Collapse the codebook to ONE broadcastable row: cents[m+1] = the
    m-th subspace's 16 (cluster, c) structs, cluster-sorted."""
    return (
        cents.groupBy("m")
        .agg(F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cm"))
        .agg(F.array_sort(F.collect_list(F.struct("m", "cm"))).alias("byms"))
        .select(F.transform("byms", lambda s: s["cm"]).alias("cents"))
    )


def _pq_assign_expr(sub_rows: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-(vec, subspace) argmin, pure-JVM expression form — map-side
    against the broadcast codebook row; ties break toward the smaller
    cluster id. Reference twin of the Arrow kernel below (pinned equal in
    tests/test_np_kernels.py)."""
    carr = _pq_cents_by_m(cents)
    my_cents = F.element_at(F.col("cents"), (F.col("m") + 1).cast("int"))
    dist_structs = F.transform(
        my_cents,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("sq"), s["c"],
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist"),
            s["cluster"].alias("cluster"),
        ),
    )
    best = F.array_min(dist_structs)
    return sub_rows.crossJoin(F.broadcast(carr)).select(
        "vec_id", "m", "sq", best["cluster"].alias("cluster")
    )


def _adc_cos():
    """The in-row ADC cosine expression over columns ``qq`` (quantized
    query), ``code`` (PQ code array) and ``cents`` (broadcast per-m
    codebooks) — independent of HOW qq arrived on the row, so the
    single-query (broadcast scalar) and batch (joined per-row) serve
    paths share the exact fold order and stay bit-identical."""

    def _subvec(arr, m):
        return F.transform(
            F.sequence(F.lit(1), F.lit(PQ_SUB)),
            lambda i: F.element_at(arr, (m * PQ_SUB + i).cast("int")),
        )

    def _fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    def _per_m(m):
        qv = _subvec(F.col("qq"), m)
        my_cents = F.element_at(F.col("cents"), (m + 1).cast("int"))
        cm = F.element_at(F.col("code"), (m + 1).cast("int"))
        c = F.element_at(
            F.filter(my_cents, lambda s: s["cluster"] == cm), 1
        )["c"]
        return F.struct(
            _fold(F.zip_with(c, qv, lambda a, b: a * b.cast("double"))).alias(
                "dot"
            ),
            _fold(F.transform(c, lambda x: x * x)).alias("sq"),
        )

    per_m = F.transform(F.sequence(F.lit(0), F.lit(PQ_M - 1)), _per_m)
    dots = _fold(F.transform(per_m, lambda s: s["dot"]))
    sqs = _fold(F.transform(per_m, lambda s: s["sq"]))
    qnorm = F.sqrt(
        F.aggregate(
            F.transform(F.col("qq"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
    )
    return dots / (F.sqrt(sqs) * qnorm)


# ---------------------------------------------------------------------------
# Pins
# ---------------------------------------------------------------------------


def _seed_cents(embq: DataFrame, k: int) -> DataFrame:
    """(cluster, c) 8-hex-digit hash seeds — the corpus-sized index's
    first centroids, as a frame for the expression twins."""
    return embq.join(F.broadcast(_hash_seeds(embq, k, hex_digits=8)), "vec_id").select(
        "cluster", F.transform("q", lambda x: x.cast("double")).alias("c")
    )


def test_km_assign_kernel_matches_expression(spark):
    embq = _quantize(_corpus(spark, 0, 350))
    for k in (8, 19):  # legacy fixed-K and a corpus-sized cell count
        cents = _seed_cents(embq, k)
        # second-iteration centroids too: non-integer doubles from the
        # mean division — the tie/precision regime training actually runs
        cents2 = _km_update(_km_assign(embq, _centroid_rows(cents)))
        for c in (cents, cents2):
            want = sorted(
                (r["vec_id"], r["cluster"], r["dist"])
                for r in _km_assign_expr(embq, c).collect()
            )
            got = sorted(
                (r["vec_id"], r["cluster"], r["dist"])
                for r in _km_assign(embq, _centroid_rows(c)).collect()
            )
            assert got == want  # exact doubles, exact tie-breaks


def _left_fold_sq_dists(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """The JVM ``aggregate(zip_with(...), 0.0, acc + v)`` distance, one
    Python float op at a time: acc starts at 0.0 and adds each squared
    difference in dimension order."""
    out = np.empty((len(x), len(cents)))
    for i, row in enumerate(x.tolist()):
        for j, c in enumerate(cents.tolist()):
            acc = 0.0
            for a, b in zip(row, c):
                acc += (a - b) * (a - b)
            out[i, j] = acc
    return out


def test_distance_fold_order_on_non_integer_inputs():
    """The integer-quantized corpus above makes every distance sum exact
    in any order, so it cannot see a change of fold order. Non-integer
    doubles can: a pairwise ``np.sum`` (or BLAS) distance differs from the
    sequential fold in the last bits here, and must fail this pin."""
    from customer_activity_lakehouse_spark.plans.vector_kernels import (
        argmin_sq,
        seq_sum,
        sq_dists,
    )

    rng = np.random.default_rng(20261019)
    x = rng.standard_normal((120, 64)) * 3.7
    cents = rng.standard_normal((19, 64)) * 3.7
    want = _left_fold_sq_dists(x, cents)
    # the corpus is order-sensitive: a pairwise sum does move bits here
    assert not np.array_equal(((x[:, None, :] - cents[None]) ** 2).sum(-1), want)
    assert np.array_equal(sq_dists(x, cents), want)
    idx, dist = argmin_sq(x, cents)
    assert np.array_equal(idx, np.argmin(want, axis=1))
    assert np.array_equal(dist, want[np.arange(len(x)), idx])
    folds = [functools.reduce(operator.add, r) for r in x.tolist()]
    assert np.array_equal(seq_sum(x), np.array(folds))


def test_pq_assign_kernel_matches_expression(spark):
    embq = _quantize(_corpus(spark, 0, 300))
    book = _pq_fit(embq)
    sub = _pq_subrows(embq)
    want = sorted(
        (r["vec_id"], r["m"], r["cluster"])
        for r in _pq_assign_expr(sub, _local_books(spark, book)).collect()
    )
    got = sorted(
        (r["vec_id"], r["m"], r["cluster"])
        for r in _pq_assign(sub, book).collect()
    )
    assert got == want


def test_adc_kernel_matches_expression(spark, tmp_path):
    idx = str(tmp_path / "idx")
    corpus = _corpus(spark, 0, 300)
    build_ann_index(spark, corpus, idx)
    codes = read_snapshot(spark, f"{idx}/codes")
    books = read_snapshot(spark, f"{idx}/pq_codebooks")
    embq = _quantize(corpus)
    q0 = embq.filter(F.col("vec_id") == 7).select("q")
    # expression twin: broadcast books + query, fold in-row (UNROUNDED)
    want = {
        r["vec_id"]: r["cos"]
        for r in codes.crossJoin(F.broadcast(_pq_cents_by_m(books)))
        .crossJoin(F.broadcast(q0.select(F.col("q").alias("qq"))))
        .select("vec_id", _adc_cos().alias("cos"))
        .collect()
    }
    book = _codebook_rows(books)
    qq = np.asarray(q0.head()[0], dtype=np.int64)
    adc_fixed = _adc_code_cos_udf(spark, book, qq)
    got_fixed = {
        r["vec_id"]: r["cos"]
        for r in codes.select("vec_id", adc_fixed("code").alias("cos")).collect()
    }
    assert got_fixed == want
    # per-row-query variant (the batch serve): same query attached per row
    adc_row = _adc_code_cos_udf(spark, book, None)
    with_q = codes.crossJoin(F.broadcast(q0.select(F.col("q").alias("qq"))))
    got_row = {
        r["vec_id"]: r["cos"]
        for r in with_q.select("vec_id", adc_row("code", "qq").alias("cos")).collect()
    }
    assert got_row == want


def test_ivf_probe_driver_ranking_matches_expression(spark):
    """`rank_cells` (the driver-side cell ranking of the ml_ops IVF probe
    and every persisted-index serve) == the retired in-plan probe: fold
    each query over the broadcast centroid array with the JVM aggregate
    expression, orderBy(cdist, cluster) — exact doubles, exact (dist,
    cluster) tie order, for several queries ranked in one call."""
    from customer_activity_lakehouse_spark.plans.vector_kernels import rank_cells

    embq = _quantize(_corpus(spark, 0, 300))
    qids = [0, 7, 131]
    for k in (8, 17):
        cents = _km_update(_km_assign(embq, _centroid_rows(_seed_cents(embq, k))))
        rows = _centroid_rows(cents)
        qs = embq.filter(F.col("vec_id").isin(qids))
        carr = cents.agg(
            F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cents")
        )
        cent_dist = F.aggregate(
            F.zip_with(
                F.col("q"),
                F.col("cent.c"),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        want: dict[int, list[int]] = {}
        for r in (
            qs.crossJoin(F.broadcast(carr))
            .select("vec_id", F.explode("cents").alias("cent"), "q")
            .select("vec_id", F.col("cent.cluster").alias("cluster"), cent_dist.alias("cdist"))
            .orderBy("vec_id", "cdist", "cluster")
            .collect()
        ):
            want.setdefault(r["vec_id"], []).append(r["cluster"])
        qrows = qs.orderBy("vec_id").select("vec_id", "q").collect()
        got = rank_cells(rows, [np.asarray(q, dtype=np.int64) for _, q in qrows])
        assert dict(zip([v for v, _ in qrows], got)) == want
        assert all(len(cells) == k for cells in got)
    assert rank_cells(rows, []) == []


def test_encode_cells_matches_staged_chain(spark):
    """The fused build kernel (cell argmin + PQ codes in one pass) equals
    the retired staged chain: expression assign for the cell, expression
    per-(vec, m) argmin collected in ascending-m order for the code."""
    embq = _quantize(_corpus(spark, 0, 250))
    cents = _km_update(_km_assign(embq, _centroid_rows(_seed_cents(embq, 12))))
    book = _pq_fit(embq)
    books = _local_books(spark, book)
    got = {
        r["vec_id"]: (r["cell"], tuple(r["code"]))
        for r in _encode_cells(embq, _centroid_rows(cents), book).collect()
    }
    cells = {
        r["vec_id"]: r["cluster"]
        for r in _km_assign_expr(embq, cents).collect()
    }
    staged = (
        _pq_assign_expr(_pq_subrows(embq), books)
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "cluster"))).alias("mc"))
        .select(
            "vec_id",
            F.transform("mc", lambda s: s["cluster"].cast("int")).alias("code"),
        )
    )
    want = {
        r["vec_id"]: (cells[r["vec_id"]], tuple(r["code"]))
        for r in staged.collect()
    }
    assert got == want
