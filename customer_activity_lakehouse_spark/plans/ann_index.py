"""Persisted ANN index — the FAISS build/serve split on the snapshot log.

Round-8 verdict, What's-missing #2: `ann_pq_topk` / `ann_ivfpq_topk`
retrain their Lloyd codebooks inside EVERY query's plan — the engine's
two most expensive benched entries, and the anti-pattern FAISS exists to
avoid (an index is built once and serves many queries; the second ANN
query a user ever runs hits the retrain). This module splits them:

- :func:`build_ann_index` trains ONCE and commits three snapshot tables
  under one index root — exactly what `faiss.write_index` persists:
    ``ivf_centroids``  (cluster, c[64])      — the coarse quantizer,
                       CORPUS-SIZED: nlist = max(8, ceil(sqrt(N)))
                       (`ml_ops._ivf_cells` — the FAISS sizing rule and
                       the `_build_parts` doctrine of text_index.py)
    ``pq_codebooks``   (m, cluster, c[8])    — PQ_M × PQ_K codebook rows
    ``codes``          (vec_id, cell, code[PQ_M]) — 4-byte codes,
                       PARTITIONED BY cell, so a probe is partition
                       pruning on the index table itself
- :func:`query_ann_index` serves top-k with ZERO training: a
  cells-row centroid probe, a partition-pruned read of the probed
  cells' codes, and in-row ADC against the broadcast codebooks. The
  probe count is ceil(sqrt(nlist)) (`ml_ops._serve_probes`, derived
  from the persisted centroid table — never stored), so the serving
  read touches |corpus|·probes/nlist ≈ |corpus|·N^-1/4 code rows:
  the probed FRACTION shrinks as the corpus grows (1e9 vectors →
  ~31.6k cells, ~178 probes, 0.56 % of code rows; the r12 fixed
  K=8/probe-2 design read a constant 25 % at any size).

PQ_K (16 centroids/subspace) and PQ_M (8 subspaces) are NOT scan-
fraction knobs and stay fixed: they set the recall/compression trade
(4-byte codes = 16× vs float32; more centroids or subspaces = better
reconstruction, bigger codes). Resizing them is a REBUILD — codes
encoded under one codebook geometry are meaningless under another —
surfaced by `ann_index_recall`, exactly like FAISS, where nlist can be
retrained cheaply but a PQ change re-encodes the corpus.
- :func:`maintain_ann_index` keeps ``codes`` current from a snapshot
  corpus's CHANGE FEED: new vectors are encoded against the FROZEN
  centroids/codebooks (faiss `add()` — training data drift is a rebuild,
  not a maintenance step) and appended in ONE commit that stamps the
  consumed source version — the MV exactly-once contract
  (incremental.py) applied to an index.

Every number the index produces is bit-identical to the per-query
training path: the same quantization, seeding, tie-breaks, and fold
orders, persisted through parquet (doubles round-trip exactly). That is
what lets `ann_index_query`'s oracle be the EXISTING IVF-PQ chain: DuckDB
re-derives the training deterministically and must land on the same
top-10 the persisted index serves.

Reference basis: the reference has no vector surface at all (930-line
CSV→parquet ETL, data_processing.py); FAISS's IndexIVFPQ and its
write_index/add() lifecycle are the public model.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import run_concurrently
from .ml_ops import (
    KM_SCALE,
    PQ_M,
    PQ_SUB,
    _centroid_rows,
    _codebook_rows,
    _ivf_cells,
    _ivfpq_sql_chain,
    _km_sql_parts,
    _km_train,
    _md5_hex_value,
    _pq_fit,
    _quantize,
    _serve_probes,
    _sql_serve_probes,
    _train_divisor,
)
from .registry import Query, table
from .vector_kernels import adc_cos, argmin_sq, cents_arrays, int_norm, rows_matrix

ANN_TOPK = 10
# Refine-stage candidate pool (r14, VERDICT r13 missing #2): the ADC
# serve keeps its top REFINE_POOL candidates and re-ranks them by EXACT
# cosine against the full vectors fetched by id (FAISS IndexRefineFlat —
# k_factor doctrine). 8x k: the sf0.01 gauge showed the worst-ranked
# true neighbor inside the probed cells at ADC rank 49, so a 4x pool
# would still miss it; 8x costs O(80·dim) — noise at any corpus size.
REFINE_POOL = 8 * ANN_TOPK


_CENTS_SCHEMA = "cluster int, c array<double>"


def _local_cents(spark: SparkSession, rows) -> DataFrame:
    """Rebuild a centroid frame from collected (cluster, c) rows as a
    LocalRelation — doubles round-trip exactly through the driver, and
    the index commit sees a lineage-free K-row frame instead of
    re-executing a Lloyd pass."""
    return spark.createDataFrame(
        [(int(cl), list(c)) for cl, c in rows], _CENTS_SCHEMA
    )


_BOOKS_SCHEMA = "m int, cluster int, c array<double>"


def _local_books(spark: SparkSession, book: dict) -> DataFrame:
    """Rebuild a PQ codebook frame from `_codebook_rows` output as a
    LocalRelation (same exactness/lineage contract as `_local_cents`)."""
    return spark.createDataFrame(
        [
            (int(m), int(cl), list(c))
            for m in sorted(book)
            for cl, c in book[m]
        ],
        _BOOKS_SCHEMA,
    )


def _km_fit_scaled(
    embq: DataFrame, k: int, divisor: int = 1
) -> list[tuple[int, list[float]]]:
    """Lloyd's with a corpus-sized cell count: `ml_ops._km_train` with k
    cells and 8-hex-digit seeding. Returns the trained centroid rows; the
    final full-corpus assignment is NOT run here — the build folds it
    into the single encode pass (`_encode_cells`), so the corpus is
    scanned once per training iteration plus once to encode.

    ``divisor`` > 1 trains on the deterministic md5 sample (8-hex-digit
    value % divisor == 0 — `ml_ops._train_divisor`, the FAISS
    max_points_per_centroid doctrine): the update-feeding assignments
    scan ~KM_TRAIN_PER_CELL·k rows instead of the corpus, turning
    training from O(N^1.5·dim) to O(N·dim). divisor=1 (every fixture
    scale) is byte-identical to full-corpus training."""
    train = embq if divisor <= 1 else embq.filter(_md5_hex_value(8) % divisor == 0)
    return _km_train(train, k, hex_digits=8)


def _encode_cells(embq: DataFrame, crows, book) -> DataFrame:
    """(vec_id, cell, code[PQ_M]): the coarse-cell argmin AND the per-
    subspace PQ codes computed in ONE zero-shuffle pass through an
    Arrow-vectorized NumPy kernel (guide §4.2, §2.4) against the collected
    centroid rows ``crows`` and codebook ``book``. Replaces the pre-r14
    three-stage chain — per-(vec, m) explode → argmin → groupBy(vec_id)
    collect_list → join back to the cell assignment — which shuffled the
    8×-exploded corpus twice (measured 2.3 s of the sf0.1 build) for
    per-row arithmetic the scan task can do in place.

    Numeric parity: every stage is `vector_kernels.argmin_sq` (pinned in
    tests/test_np_kernels.py); code order is ascending m, exactly the
    retired array_sort(collect_list) layout."""
    if not crows or not book:
        # fail at the driver with a diagnosable message instead of an
        # executor-side error inside the kernel
        raise ValueError(
            f"_encode_cells: empty centroid ({len(crows)}) or codebook "
            f"({len(book)}) frame — the index training input has no rows"
        )
    bc = embq.sparkSession.sparkContext.broadcast(
        (cents_arrays(crows), [cents_arrays(book[m]) for m in range(PQ_M)])
    )

    @F.pandas_udf("struct<cell:int,code:array<int>>")
    def enc(q: pd.Series) -> pd.DataFrame:
        (cents, clusters), books = bc.value
        qm = rows_matrix(q.values)
        cell = clusters[argmin_sq(qm, cents)[0]]
        codes = np.empty((len(qm), PQ_M), dtype=np.int32)
        for m, (cents_m, cl_m) in enumerate(books):
            sub = qm[:, m * PQ_SUB : (m + 1) * PQ_SUB]
            codes[:, m] = cl_m[argmin_sq(sub, cents_m)[0]]
        return pd.DataFrame({"cell": cell.astype("int32"), "code": list(codes)})

    return embq.select("vec_id", enc("q").alias("__e")).select(
        "vec_id",
        F.col("__e.cell").alias("cell"),
        F.col("__e.code").alias("code"),
    )


def build_ann_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    consumed_version: int | None = None,
    cells: int | None = None,
) -> None:
    """Train IVF + PQ over ``emb`` (vec_id, embedding) and persist the
    index as three snapshot tables under ``index_dir``. The coarse cell
    count is derived from the corpus size (``_ivf_cells``: nlist ≈
    sqrt(N), one metadata-cheap count — a one-time build can afford it,
    the `_build_parts` precedent); ``cells`` overrides it. Lloyd trains
    on a deterministic md5 sample of ~KM_TRAIN_PER_CELL vectors per
    centroid (``_train_divisor`` — full corpus below ~65k vectors), so
    training is O(N·dim) instead of O(N^1.5·dim); the final cell
    assignment and the PQ encode are each ONE full-corpus map-side pass
    (per-row cost nlist·dim — at extreme nlist FAISS accelerates this
    with an index over the centroids; that is the upgrade path, not
    silently approximated). Training is the only stage that shuffles
    (nlist-row / (m, cluster)-keyed partial aggs); codes assign in-row
    and land partitioned by cell, one file per cell."""
    from ..sources.snapshots import commit_append, commit_overwrite

    n = emb.count()  # one metadata-cheap single-column scan
    n_cells = cells if cells is not None else _ivf_cells(n)
    embq = _quantize(emb)
    # Train ONCE into collected rows (r14; replaces the r13
    # persist-and-pin): the trained state is nlist + PQ_M*PQ_K rows —
    # collecting it once per training iteration is the same driver-bounded
    # job the broadcast exchanges ran, and every downstream consumer (the
    # three commits, the encode kernel) reads the local rows instead of
    # re-executing any Lloyd lineage. The corpus itself never caches,
    # collects, or shuffles. r15 (guide §2.6): the coarse-quantizer and
    # PQ-codebook chains are independent short series of driver-bounded
    # collect jobs — run them from two driver threads so one chain's
    # collect latency back-fills the other's.
    crows, book = run_concurrently(
        spark,
        lambda: _km_fit_scaled(embq, n_cells, _train_divisor(n, n_cells)),
        lambda: _pq_fit(embq),
    )
    # assign cells AND encode PQ codes in ONE zero-shuffle corpus pass
    # (r14, guide §2.4 / §4.2): bit-identical to the training path's
    # final assignment (same argmin against the same doubles); the
    # pre-r14 explode→regroup→join chain's two corpus shuffles are gone
    codes = _encode_cells(embq, crows, book)
    extra = (
        None
        if consumed_version is None
        else {"ann_consumed_version": int(consumed_version)}
    )
    # co-locate each cell before the hive-partitioned write: the encode
    # leaves rows partitioned by vec_id, so writing partitioned-by-cell
    # from there emits one file per (task, cell) — tasks x nlist files of
    # a few rows each (the corpus-sized nlist made this visible: 45-cell
    # sf0.1 builds committed ~360 files and the commit's per-file stats
    # dominated build time). Hash-repartitioning on cell puts each cell
    # in exactly one task -> one file per cell, which is also the 100 TB
    # shape: a cell is ~N/nlist ≈ sqrt(N) 4-byte codes, well under one
    # parquet file.
    n_parts = max(1, min(int(n_cells), spark.sparkContext.defaultParallelism))
    # the two K-row metadata tables commit concurrently; ``codes`` (what
    # serve and maintain look for) commits only after both succeeded, so
    # a failed build never leaves codes visible without their codebooks.
    # Each build REPLACES them: a retry after a failed build must not
    # stack a second copy of the centroids on the first attempt's
    run_concurrently(
        spark,
        lambda: commit_overwrite(
            spark, f"{index_dir}/ivf_centroids", _local_cents(spark, crows)
        ),
        lambda: commit_overwrite(
            spark,
            f"{index_dir}/pq_codebooks",
            _local_books(spark, book).orderBy("m", "cluster"),
        ),
    )
    commit_append(
        spark,
        f"{index_dir}/codes",
        codes.select("vec_id", "cell", "code").repartition(n_parts, "cell"),
        stats_cols=["vec_id"],
        partition_by=["cell"],
        extra=extra,
    )


def maintain_ann_index(
    spark: SparkSession, index_dir: str, source_table_dir: str
) -> int | None:
    """Fold the corpus change feed into ``codes``: encode ONLY the newly
    appended vectors against the frozen centroids/codebooks and append
    them in one commit stamping the consumed source version (exactly-once
    without side state — the incremental.py doctrine).

    DELETE/UPDATE feeds RETRACT (r10, VERDICT r9 missing #2): deleted
    vec_ids' code rows are DV-masked out of ``codes`` (one O(changes)
    delete commit — a served neighbor list stops containing them
    immediately; physical retirement at the next OPTIMIZE), and an
    updated vector re-encodes against the SAME frozen codebooks as
    retract-then-reinsert (faiss remove_ids()+add(); codebook drift from
    mutated training data remains a rebuild decision, surfaced by
    ``ann_index_recall``). The retraction is idempotent, so a crash
    between the delete and the stamped append replays safely; a
    retraction-only feed leaves the stamp alone (empty-append
    precedent)."""
    from ..sources.incremental import dv_retract, net_change_feed, stamped_version
    from ..sources.snapshots import (
        _list_versions,
        merge_snapshot,
        read_snapshot,
        snapshot_change_feed,
    )

    codes_dir = f"{index_dir}/codes"
    versions = _list_versions(spark, codes_dir)
    if not versions:
        raise FileNotFoundError(f"no ANN index at {index_dir} — build first")
    # stamp read walks the log so interleaved commits (an OPTIMIZE of the
    # codes table) can't reset the cursor (incremental.stamped_version)
    consumed = stamped_version(spark, codes_dir, "ann_consumed_version")
    src_versions = _list_versions(spark, source_table_dir)
    if not src_versions:
        raise FileNotFoundError(f"no snapshots at {source_table_dir}")
    latest = src_versions[-1]
    if latest <= consumed:
        return None
    # feed range is (consumed, latest] — v_from is the exclusive base
    feed = snapshot_change_feed(spark, source_table_dir, consumed, latest)
    retract, final_rows = net_change_feed(feed, "vec_id")
    victims = [int(r["vec_id"]) for r in retract.collect()]  # O(changes)
    if victims:
        dv_retract(spark, codes_dir, "vec_id", victims)
    new = final_rows.select("vec_id", "embedding")
    if not new.limit(1).collect():
        # nothing to (re)encode: data_change=false commits only, or a
        # retraction-only feed (already applied above). Don't stamp —
        # stamping needs a commit, and an empty append has no files;
        # the next maintenance re-walks the same range (cheap).
        return None
    # assign + encode in one zero-shuffle pass against the FROZEN trained
    # state (r14 — same kernel as the build path)
    codes = _encode_cells(
        _quantize(new),
        _centroid_rows(read_snapshot(spark, f"{index_dir}/ivf_centroids")),
        _codebook_rows(read_snapshot(spark, f"{index_dir}/pq_codebooks")),
    )
    # keyed MERGE, not append (r10): double-application of the same feed
    # (stale stamp read / crash replay) CONVERGES — the second pass
    # matches every vec_id and rewrites identical rows, so the serve can
    # never list a neighbor twice; a truly concurrent maintainer aborts
    # on rewrite-vs-rewrite conflict detection and its retry no-ops.
    merge_snapshot(
        spark,
        codes_dir,
        codes.select("vec_id", "cell", "code"),
        keys=["vec_id"],
        stats_cols=["vec_id"],
        extra={"ann_consumed_version": latest},
    )
    return latest


def query_ann_index(
    spark: SparkSession,
    index_dir: str,
    query_q: DataFrame,
    k: int = ANN_TOPK,
    exclude_id: int | None = None,
) -> DataFrame:
    """Serve top-``k`` for ``query_q`` (one row: quantized ``q``) from the
    persisted index — NO training in this plan:

    1. probe: squared distance of q against the nlist-row centroid
       table, take the ceil(sqrt(nlist)) nearest (`_serve_probes` of the
       persisted cell count — a driver-bounded ≤nlist-row collect; the
       prefix feeds partition pruning);
    2. candidates: ``partition_where={'cell': probes}`` on the codes
       table — manifest-level partition pruning, so only the probed
       cells' files are ever listed;
    3. ADC: per subspace, look the stored code up in the broadcast
       codebook and fold dot/norm terms in fixed m order ENTIRELY in-row
       — the same arithmetic (and therefore bit-identical doubles) as
       the retraining path `ml_ops._pq_adc_topk`.

    ``exclude_id`` drops one vec_id from the candidates — pass the query
    vector's own id when serving "neighbors of a corpus member" (the
    catalog entry passes 0); leave None for external query vectors, which
    must be able to get every corpus row back (ADVICE r9: this was a
    hardcoded ``vec_id != 0``).

    Returns (vec_id, cos_sim) — cosine of the PQ-reconstructed vector vs
    the exact query, rounded to 4dp, ties broken by vec_id."""
    from ..sources.snapshots import read_snapshot

    order = _ordered_cells(spark, index_dir, query_q)
    probes = order[: _serve_probes(len(order))]
    codes = read_snapshot(
        spark, f"{index_dir}/codes", partition_where={"cell": probes}
    )
    if exclude_id is not None:
        codes = codes.filter(F.col("vec_id") != exclude_id)
    return _adc_topk(spark, index_dir, query_q, codes, k)


def query_ann_index_refined(
    spark: SparkSession,
    index_dir: str,
    query_emb: DataFrame,
    corpus_emb: DataFrame,
    k: int = ANN_TOPK,
    pool: int = REFINE_POOL,
    exclude_id: int | None = None,
) -> DataFrame:
    """Refined serve (r14, VERDICT r13 missing #2 — FAISS
    IndexRefineFlat): the ADC stage's top-``pool`` candidates are
    re-ranked by EXACT cosine against their full vectors before the
    top-``k`` cut. ADC ranks by a 4-byte reconstruction, so a true
    neighbor sitting at ADC rank 30 is lost to the plain serve; the
    refine stage recovers every true neighbor the probed cells contain
    (the sf0.01 gauge: recall@10 0.4 → 0.9, the residue being one
    neighbor in an unprobed cell — a probe-width matter, not a ranking
    one).

    ``query_emb``: ONE row with an ``embedding`` column (raw floats —
    quantized here for the ADC stage, used exact for the refine).
    ``corpus_emb``: the corpus (vec_id, embedding) the index was built
    over — the refine fetches the pool's full vectors from it by an
    id-list filter (≤``pool`` ids collected driver-side), which reaches
    the parquet scan as a pushed-down IN filter: O(pool·dim) data
    touched, never a corpus scan. Scale shape: probe + pruned ADC read
    (≈N^-1/4 of codes) + one stats-pruned point-lookup scan for ~80
    full vectors + in-row exact cosine.

    Returns (vec_id, cos_sim) with cos_sim the EXACT 4dp cosine — ties
    by vec_id, same rounding convention as the brute-force baseline, so
    within the pool the refined ranking IS the exact ranking."""
    from .llm_ops import _dot_expr, _norm_expr

    qq = query_emb.select(
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * KM_SCALE)
        ).alias("q")
    )
    adc = query_ann_index(spark, index_dir, qq, k=pool, exclude_id=exclude_id)
    ids = [int(r["vec_id"]) for r in adc.select("vec_id").collect()]  # ≤pool
    qraw = query_emb.select(F.col("embedding").alias("q_emb"))
    cos = _dot_expr(F.col("embedding"), F.col("q_emb")) / (
        _norm_expr(F.col("embedding")) * _norm_expr(F.col("q_emb"))
    )
    return (
        corpus_emb.filter(F.col("vec_id").isin(ids))
        .crossJoin(F.broadcast(qraw))
        .select("vec_id", F.round(cos, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


def _ordered_cells(
    spark: SparkSession, index_dir: str, query_q: DataFrame
) -> list[int]:
    """ALL IVF cells in ascending squared-distance-to-query order (ties to
    the smaller cluster id) — one driver-bounded collect of ≤K rows; the
    prefix of this list is what partition pruning probes."""
    from ..sources.snapshots import read_snapshot

    cents = read_snapshot(spark, f"{index_dir}/ivf_centroids")
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
    rows = (
        query_q.crossJoin(F.broadcast(carr))
        .select(F.explode("cents").alias("cent"), "q")
        .select(F.col("cent.cluster").alias("cluster"), cent_dist.alias("cdist"))
        .orderBy("cdist", "cluster")
        .collect()
    )
    return [int(r["cluster"]) for r in rows]


def _adc_code_cos_udf(spark: SparkSession, book, qq_fixed: np.ndarray | None):
    """Arrow kernel for the SERVE path: ADC cosine of stored PQ ``code``
    rows against a query — codeword lookup by cluster id, then
    `vector_kernels.adc_cos` (per-m dot/sq partials from the reconstructed
    codeword, folded ascending-m; qnorm an exact integer sum). With
    ``qq_fixed`` the query is a kernel constant (single-query serve: no
    crossJoin machinery at all); without it the kernel reads a per-row
    ``qq`` column (the batch serve, where each candidate row carries its
    own query). Pinned equal to the JVM expression twin in
    tests/test_np_kernels.py."""
    luts = []
    for m in range(PQ_M):
        rows = book[m]
        lut = np.zeros((max(cl for cl, _ in rows) + 1, len(rows[0][1])), dtype=np.float64)
        for cl, c in rows:
            lut[cl] = c
        luts.append(lut)
    bc = spark.sparkContext.broadcast(luts)

    def words(code: pd.Series) -> list[np.ndarray]:
        cm = rows_matrix(code.values, np.int64)
        return [lut[cm[:, m]] for m, lut in enumerate(bc.value)]

    if qq_fixed is not None:
        qv, qnorm = qq_fixed.astype(np.float64), int_norm(qq_fixed)

        @F.pandas_udf("double")
        def adc(code: pd.Series) -> pd.Series:
            if len(code) == 0:
                return pd.Series([], dtype="float64")
            return pd.Series(adc_cos(words(code), qv, qnorm))

        return adc

    @F.pandas_udf("double")
    def adc_batch(code: pd.Series, qq: pd.Series) -> pd.Series:
        if len(code) == 0:
            return pd.Series([], dtype="float64")
        qm = rows_matrix(qq.values, np.int64)
        return pd.Series(adc_cos(words(code), qm.astype(np.float64), int_norm(qm)))

    return adc_batch


def _adc_topk(
    spark: SparkSession,
    index_dir: str,
    query_q: DataFrame,
    codes: DataFrame,
    k: int,
) -> DataFrame:
    """ADC-score a candidate codes frame against the persisted codebooks
    and take top-k — the shared tail of the filtered and unfiltered serve
    paths. r14: the scoring runs in the Arrow kernel above (guide §4.2)
    instead of an interpreted HOF expression — same fixed
    m-order folds, so the doubles stay bit-identical to the retraining
    oracle; the two broadcast cross joins the expression needed are gone
    (the 128-row codebook and the 1-row query are kernel constants)."""
    from ..sources.snapshots import read_snapshot

    book = _codebook_rows(read_snapshot(spark, f"{index_dir}/pq_codebooks"))
    qrow = query_q.select("q").head()
    if qrow is None:
        raise ValueError(
            "_adc_topk: empty query frame — exactly one query row required"
        )
    qq = np.asarray(qrow[0], dtype=np.int64)
    adc = _adc_code_cos_udf(spark, book, qq)
    return (
        codes.select("vec_id", F.round(adc("code"), 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


def query_ann_index_batch(
    spark: SparkSession,
    index_dir: str,
    queries_q: DataFrame,
    k: int = ANN_TOPK,
    exclude_self: bool = False,
) -> DataFrame:
    """Serve a BATCH of queries from the persisted index in one plan —
    the throughput shape of a serving tier (one probed-cells scan
    amortized over the whole batch, instead of |batch| separate jobs):

    1. per-query probes DISTRIBUTIVELY: each (qid, q) row folds over the
       broadcast centroid array and a row_number window PARTITIONED BY
       qid (bounded: ≤nlist cells per query, WindowGroupLimit) keeps its
       `_serve_probes(nlist)` nearest cells — no driver work per query;
    2. ONE partition-pruned read of the UNION of probed cells (the only
       driver-bounded collect: ≤K distinct cell ids, independent of
       batch size);
    3. candidates = codes ⋈ broadcast probe pairs on cell — each code
       row is scored only for the queries that probed its cell, with the
       query vector arriving ON the row (same `adc_cos` folds as the
       single-query path, bit-identical);
    4. top-k per query: row_number over partitionBy(qid) — bounded
       partitions (a query's candidates ≤ probed cells' rows),
       WindowGroupLimit-shaped.

    ``queries_q``: (qid, q) quantized query vectors. ``exclude_self``
    drops vec_id == qid matches (corpus-member queries — the batch twin
    of the single serve's ``exclude_id``). Returns (qid, vec_id,
    cos_sim), ordered within each query by (cos_sim desc, vec_id); each
    query's rows equal `query_ann_index`'s for the same vector
    (pytest-pinned)."""
    from ..sources.snapshots import read_snapshot

    cents = read_snapshot(spark, f"{index_dir}/ivf_centroids")
    n_probe = _serve_probes(cents.count())  # one nlist-row count
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
    w_probe = Window.partitionBy("qid").orderBy("cdist", "cluster")
    probes = (
        queries_q.crossJoin(F.broadcast(carr))
        .select("qid", "q", F.explode("cents").alias("cent"))
        .select("qid", "q", F.col("cent.cluster").alias("cluster"), cent_dist.alias("cdist"))
        .withColumn("pr", F.row_number().over(w_probe))
        .filter(F.col("pr") <= n_probe)
        .select("qid", F.col("q").alias("qq"), F.col("cluster").alias("cell"))
    )
    cell_union = sorted(
        int(r["cell"]) for r in probes.select("cell").distinct().collect()
    )
    codes = read_snapshot(
        spark, f"{index_dir}/codes", partition_where={"cell": cell_union}
    )
    cand = codes.join(F.broadcast(probes), "cell")
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("qid"))
    book = _codebook_rows(read_snapshot(spark, f"{index_dir}/pq_codebooks"))
    adc = _adc_code_cos_udf(spark, book, None)  # per-row qq (batch serve)
    scored = cand.select(
        "qid", "vec_id", F.round(adc("code", "qq"), 4).alias("cos_sim")
    )
    w_k = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w_k))
        .filter(F.col("rk") <= k)
        .select("qid", "vec_id", "cos_sim")
        .orderBy("qid", F.col("cos_sim").desc(), "vec_id")
    )


def query_ann_index_batch_where(
    spark: SparkSession,
    index_dir: str,
    queries_q: DataFrame,
    allowed: DataFrame,
    k: int = ANN_TOPK,
    exclude_self: bool = False,
) -> DataFrame:
    """Predicate + top-k for a QUERY BATCH — the composition of
    :func:`query_ann_index_batch` (amortize one plan over the batch) and
    :func:`query_ann_index_where` (widen probes until k filtered
    survivors; post-filtering under-returns). Per query the result is
    IDENTICAL to the single filtered serve (pytest-pinned).

    Shape: instead of per-query widening loops (one pruned count per
    step — right for ONE selective query, |batch|·steps jobs for a
    batch), the batch path pays ONE narrow counting scan: codes
    semi-joined to ``allowed``, grouped by cell — a 2-column read whose
    K-row result lets the driver walk every query's cell order and pick
    its prefix without further I/O. Batch amortization is the point:
    one count scan + one pruned score read serve the whole batch. The
    driver-side state is K cell counts + |batch|·K ranking rows +
    ≤|batch| own-cell rows — all bounded by batch size and cell count,
    never by corpus size."""
    from ..sources.snapshots import read_snapshot

    cents = read_snapshot(spark, f"{index_dir}/ivf_centroids")
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
    ranking_rows = (
        queries_q.crossJoin(F.broadcast(carr))
        .select("qid", F.explode("cents").alias("cent"), "q")
        .select("qid", F.col("cent.cluster").alias("cell"), cent_dist.alias("cdist"))
        .orderBy("qid", "cdist", "cell")
        .collect()
    )  # |batch|·K rows — driver-bounded by batch size × cell count
    order: dict[int, list[int]] = {}
    for r in ranking_rows:
        order.setdefault(int(r["qid"]), []).append(int(r["cell"]))
    sem = allowed.select("vec_id")
    filtered = read_snapshot(spark, f"{index_dir}/codes").join(
        F.broadcast(sem), "vec_id", "left_semi"
    )
    counts = {
        int(r["cell"]): int(r["n"])
        for r in filtered.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }  # ≤K rows
    own_cell: dict[int, int] = {}
    if exclude_self:
        qids = sorted(order)
        own_cell = {
            int(r["vec_id"]): int(r["cell"])
            for r in filtered.filter(F.col("vec_id").isin(qids))
            .select("vec_id", "cell")
            .collect()
        }  # ≤|batch| rows
    used: dict[int, int] = {}
    for qid, cells in order.items():
        n_probe = _serve_probes(len(cells))
        surv, m = 0, 0
        for m, cell in enumerate(cells, start=1):
            surv += counts.get(cell, 0)
            if exclude_self and own_cell.get(qid) == cell:
                surv -= 1
            if m >= n_probe and surv >= k:
                break
        used[qid] = m
    probe_pairs = spark.createDataFrame(
        [(qid, c) for qid, cells in order.items() for c in cells[: used[qid]]],
        "qid long, cell int",
    ).join(
        queries_q.select("qid", F.col("q").alias("qq")), "qid"
    )
    cell_union = sorted({c for qid, cells in order.items() for c in cells[: used[qid]]})
    codes = read_snapshot(
        spark, f"{index_dir}/codes", partition_where={"cell": cell_union}
    ).join(F.broadcast(sem), "vec_id", "left_semi")
    cand = codes.join(F.broadcast(probe_pairs), "cell")
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("qid"))
    book = _codebook_rows(read_snapshot(spark, f"{index_dir}/pq_codebooks"))
    adc = _adc_code_cos_udf(spark, book, None)  # per-row qq (batch serve)
    scored = cand.select(
        "qid", "vec_id", F.round(adc("code", "qq"), 4).alias("cos_sim")
    )
    w_k = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w_k))
        .filter(F.col("rk") <= k)
        .select("qid", "vec_id", "cos_sim")
        .orderBy("qid", F.col("cos_sim").desc(), "vec_id")
    )


def query_ann_index_where(
    spark: SparkSession,
    index_dir: str,
    query_q: DataFrame,
    allowed: DataFrame,
    k: int = ANN_TOPK,
    exclude_id: int | None = None,
) -> DataFrame:
    """Predicate + top-k from the persisted index (VERDICT r9 missing #1):
    the first real retrieval query has a WHERE clause, and post-filtering
    an unfiltered top-k SILENTLY UNDER-RETURNS (k index hits may hold
    fewer than k predicate survivors). This serve path widens the probed
    cells until k FILTERED survivors are in hand — or every cell is —
    then ADC-scores once.

    ``allowed``: a frame with a ``vec_id`` column — the predicate
    pre-applied by the caller over whatever metadata table they own
    (composable: any filter a DataFrame can express). It reaches the
    candidates as a broadcast LEFT SEMI join.

    Widening rule (deterministic, oracle-expressible): cells are ordered
    by squared centroid distance (ties to the smaller cluster id); the
    served prefix is the SMALLEST whole-cell prefix of length ≥
    `_serve_probes(nlist)` whose filtered-survivor count reaches ``k``.
    Each widening
    step reads ONLY the newly added cell (partition pruning), so total
    data touched is the final prefix — a selective predicate costs probes
    proportional to its selectivity, never a full-corpus scan. The loop
    is driver-side but bounded by the cell count (≤K iterations of one
    pruned count each), the same bound as the probe collect."""
    from ..sources.snapshots import read_snapshot

    order = _ordered_cells(spark, index_dir, query_q)
    sem = allowed.select("vec_id")

    def _cells_codes(cells: list[int]) -> DataFrame:
        c = read_snapshot(
            spark, f"{index_dir}/codes", partition_where={"cell": cells}
        )
        if exclude_id is not None:
            c = c.filter(F.col("vec_id") != exclude_id)
        return c.join(F.broadcast(sem), "vec_id", "left_semi")

    used = min(_serve_probes(len(order)), len(order))
    survivors = _cells_codes(order[:used]).count()
    while survivors < k and used < len(order):
        survivors += _cells_codes(order[used : used + 1]).count()
        used += 1
    return _adc_topk(spark, index_dir, query_q, _cells_codes(order[:used]), k)


# --------------------------------------------------------------- catalog
#
# The catalog entries exercise the lifecycle over the sf fixture: one
# memoized build per sf_dir (the dml.py scratch pattern), then queries
# that only READ the persisted tables. `ann_index_query`'s oracle is the
# SCALED IVF-PQ chain (corpus-sized nlist, sqrt(nlist) probes) — DuckDB
# re-derives the deterministic training and must match what the
# persisted index serves.

_IDX: dict[str, str] = {}
_IDX_LOCK = threading.Lock()


def _index_dir(spark: SparkSession, sf_dir: str) -> str:
    with _IDX_LOCK:
        if sf_dir in _IDX:
            return _IDX[sf_dir]
        base = tempfile.mkdtemp(prefix="calh-annidx-")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        build_ann_index(spark, emb, base)
        _IDX[sf_dir] = base
        return base


def q_ann_index_build(spark: SparkSession, sf: str) -> DataFrame:
    """Build (memoized) and summarize the persisted index: one row per
    IVF cell with its vector count and centroid L2 norm (4dp) — read
    back from the COMMITTED tables, so the oracle checks what landed on
    disk, not what training computed in memory."""
    from ..sources.snapshots import read_snapshot

    idx = _index_dir(spark, sf)
    codes = read_snapshot(spark, f"{idx}/codes")
    cents = read_snapshot(spark, f"{idx}/ivf_centroids")
    l2 = F.round(
        F.sqrt(
            F.aggregate(
                F.transform("c", lambda x: x * x), F.lit(0.0), lambda a, v: a + v
            )
        ),
        4,
    )
    counts = codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        cents.select(F.col("cluster").alias("cell"), l2.alias("centroid_l2"))
        .join(counts, "cell")
        .select("cell", "n_vectors", "centroid_l2")
        .orderBy("cell")
    )


def _ann_build_sql() -> str:
    parts, final_a, probe_c = _km_sql_parts(scaled=True)
    return (
        ",\n".join(parts)
        + f""",
counts AS (SELECT cluster, count(*) AS n_vectors FROM {final_a} GROUP BY cluster)
SELECT c.cluster AS cell, n.n_vectors,
       round(sqrt(list_sum(list_transform(c.c, x -> x * x))), 4) AS centroid_l2
FROM {probe_c} c JOIN counts n USING (cluster)
ORDER BY cell"""
    )


ORACLE_ANN_INDEX_BUILD = _ann_build_sql()


def q_ann_index_query(spark: SparkSession, sf: str) -> DataFrame:
    """Serve the vec_id=0 top-10 from the PERSISTED index (building it
    first if this sf_dir hasn't yet — memoized, so the bench and the
    driver pay training once, not per query). The oracle is the SCALED
    IVF-PQ chain (`_ivfpq_sql_chain(scaled=True)`): DuckDB re-derives
    the corpus-sized cell count, the trained cells, and the
    sqrt(nlist)-probe prefix deterministically and must land on the
    same top-10 the persisted index serves."""
    idx = _index_dir(spark, sf)
    q0 = _quantize(table(spark, sf, "embeddings")).filter(F.col("vec_id") == 0)
    return query_ann_index(spark, idx, q0, k=ANN_TOPK, exclude_id=0)


def _ann_index_query_sql() -> str:
    parts, final = _ivfpq_sql_chain(scaled=True)
    return ",\n".join(parts) + "\n" + final


ORACLE_ANN_INDEX_QUERY = _ann_index_query_sql()


def q_ann_refined_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Serve vec_id 0's top-10 from the persisted index WITH the exact
    refine stage (`query_ann_index_refined`) — the serve a quality-
    sensitive caller uses: same probed cells and ADC pool as
    `ann_index_query`, plus an O(pool·dim) exact re-rank that recovers
    the true neighbors ADC mis-ranks. The oracle re-derives the scaled
    IVF-PQ chain, cuts the pool at REFINE_POOL, and re-ranks by the
    same exact 4dp cosine."""
    idx = _index_dir(spark, sf)
    emb = table(spark, sf, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).select("embedding")
    return query_ann_index_refined(
        spark, idx, q0, emb.select("vec_id", "embedding"), k=ANN_TOPK, exclude_id=0
    )


def _refined_sql_parts() -> tuple[list[str], str]:
    """(with_parts, final_select) of the refined-serve oracle: the scaled
    IVF-PQ chain's ADC ranking cut at REFINE_POOL, then an exact-cosine
    re-rank over the raw embeddings (the `_SQL_DOT` fold — the proven
    bit-identical twin of the Spark `_dot_expr` path)."""
    from .llm_ops import _SQL_DOT, _SQL_NORM_A, _SQL_NORM_Q

    parts, final = _ivfpq_sql_chain(scaled=True)
    cut = final.rfind("LIMIT ")
    assert cut != -1, "ADC final select lost its LIMIT"
    pool_sel = final[:cut] + f"LIMIT {REFINE_POOL}"
    parts = parts + [f"refpool AS MATERIALIZED (\n{pool_sel}\n)"]
    refined = f"""SELECT a.vec_id, round({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_Q}), 4) AS cos_sim
FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE a.vec_id IN (SELECT vec_id FROM refpool)
ORDER BY cos_sim DESC, a.vec_id
LIMIT {ANN_TOPK}"""
    return parts, refined


def _ann_refined_sql() -> str:
    parts, refined = _refined_sql_parts()
    return ",\n".join(parts) + "\n" + refined


ORACLE_ANN_REFINED_TOPK = _ann_refined_sql()


def q_ann_index_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Measured recall@10 of BOTH persisted-index serves against exact
    brute-force cosine — the index-quality gate an operator tracks after
    every rebuild/maintenance cycle. Two columns per serve path: the
    plain ADC serve (compression loss + probe loss) and the refined
    serve (probe loss only — r14, FAISS IndexRefineFlat), so the gap
    between them attributes lost neighbors to ranking vs probe width.
    Both sides are deterministic, so the oracle computes the identical
    row."""
    from .llm_ops import _bruteforce_topk

    bf = _bruteforce_topk(spark, sf, ANN_TOPK).select("vec_id")
    adc = q_ann_index_query(spark, sf).select("vec_id")
    ref = q_ann_refined_topk(spark, sf).select("vec_id")
    n_adc = adc.join(bf, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits_adc")
    )
    n_ref = ref.join(bf, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits_refined")
    )
    return n_adc.crossJoin(n_ref).select(
        F.lit(ANN_TOPK).alias("k"),
        "n_hits_adc",
        F.round(F.col("n_hits_adc") / F.lit(ANN_TOPK), 4).alias("recall_adc"),
        "n_hits_refined",
        F.round(F.col("n_hits_refined") / F.lit(ANN_TOPK), 4).alias(
            "recall_refined"
        ),
    )


def _ann_index_recall_sql() -> str:
    from .llm_ops import _SQL_DOT, _SQL_NORM_A, _SQL_NORM_Q

    parts, refined = _refined_sql_parts()
    adc_final = _ivfpq_sql_chain(scaled=True)[1]
    return (
        ",\n".join(
            parts
            + [
                f"served AS (\n{adc_final}\n)",
                f"refined AS (\n{refined}\n)",
                f"""bf AS (
  SELECT a.vec_id AS vec_id
  FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE a.vec_id != 0
  ORDER BY round({_SQL_DOT} / ({_SQL_NORM_A} * {_SQL_NORM_Q}), 4) DESC, a.vec_id
  LIMIT {ANN_TOPK})""",
            ]
        )
        + f"""
SELECT {ANN_TOPK} AS k,
       (SELECT count(*) FROM served WHERE vec_id IN (SELECT vec_id FROM bf)) AS n_hits_adc,
       round((SELECT count(*) FROM served WHERE vec_id IN (SELECT vec_id FROM bf))::DOUBLE / {ANN_TOPK}, 4) AS recall_adc,
       (SELECT count(*) FROM refined WHERE vec_id IN (SELECT vec_id FROM bf)) AS n_hits_refined,
       round((SELECT count(*) FROM refined WHERE vec_id IN (SELECT vec_id FROM bf))::DOUBLE / {ANN_TOPK}, 4) AS recall_refined"""
    )


ORACLE_ANN_INDEX_RECALL = _ann_index_recall_sql()


# Catalog predicate for the filtered serve: chosen so the sf0.01 fixture
# EXERCISES the widening branch (≈30 survivors spread over the corpus-
# sized cell count — the first `_serve_probes(nlist)` cells hold fewer
# than k, so the serve must widen).
ANN_WHERE_LABEL = 3
ANN_WHERE_SQL = f"label = {ANN_WHERE_LABEL} AND vec_id % 2 = 0"


def q_ann_index_query_where(spark: SparkSession, sf: str) -> DataFrame:
    """Predicate + top-k from the persisted index (VERDICT r9 missing #1):
    vec_id 0's top-10 among vectors satisfying a metadata predicate. The
    filtered result differs from ``ann_index_query``'s unfiltered top-10
    (pytest-pinned), and post-filtering that top-10 would return fewer
    than k rows — the silent under-return this serve path exists to
    avoid."""
    idx = _index_dir(spark, sf)
    q0 = _quantize(table(spark, sf, "embeddings")).filter(F.col("vec_id") == 0)
    allowed = (
        table(spark, sf, "embeddings")
        .filter(
            (F.col("label") == ANN_WHERE_LABEL) & (F.col("vec_id") % 2 == 0)
        )
        .select("vec_id")
    )
    return query_ann_index_where(
        spark, idx, q0, allowed, k=ANN_TOPK, exclude_id=0
    )


def _ann_where_sql() -> str:
    """Oracle for the filtered serve: the SCALED IVF-PQ chain with the
    widening rule stated in SQL — cells ordered by centroid distance; the
    served prefix is the smallest whole-cell prefix of length ≥
    `_serve_probes(nlist)` whose filtered-survivor running count reaches
    k (all cells if it never does); candidates are the prefix's
    survivors, ADC-scored."""
    from .ml_ops import KM_DIM, _pq_sql_parts

    km_parts, final_a, probe_c = _km_sql_parts(scaled=True)
    km_parts = [
        km_parts[0].replace("WITH emb AS (", "WITH emb AS MATERIALIZED (", 1)
    ] + km_parts[1:]
    cdist = (
        "list_sum(list_transform(range(1, {d} + 1),"
        " i -> (e.q[i]::DOUBLE - c.c[i]) * (e.q[i]::DOUBLE - c.c[i])))"
    ).format(d=KM_DIM)
    tail = [
        f"""cellorder AS MATERIALIZED (
  SELECT c.cluster, row_number() OVER (ORDER BY {cdist}, c.cluster) AS rn
  FROM (SELECT * FROM emb WHERE vec_id = 0) e CROSS JOIN {probe_c} c
)""",
        f"""surv AS MATERIALIZED (
  SELECT a.vec_id, o.rn
  FROM {final_a} a JOIN cellorder o ON a.cluster = o.cluster
  WHERE a.vec_id != 0
    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE {ANN_WHERE_SQL})
)""",
        f"""used AS (
  SELECT coalesce(
           min(CASE WHEN rn >= {_sql_serve_probes("cellorder")}
                     AND cum_n >= {ANN_TOPK}
                    THEN rn END),
           (SELECT max(rn) FROM cellorder)) AS used
  FROM (
    SELECT o.rn, sum(coalesce(s.n_rn, 0)) OVER (ORDER BY o.rn) AS cum_n
    FROM cellorder o
    LEFT JOIN (SELECT rn, count(*) AS n_rn FROM surv GROUP BY rn) s
      USING (rn))
)""",
        """cand AS MATERIALIZED (
  SELECT vec_id FROM surv WHERE rn <= (SELECT used FROM used)
)""",
    ]
    pq_parts, final = _pq_sql_parts(prefix="p", include_emb=False, cand_cte="cand")
    return ",\n".join(km_parts + tail + pq_parts) + "\n" + final


ORACLE_ANN_INDEX_QUERY_WHERE = _ann_where_sql()


QUERIES: dict[str, Query] = {
    "ann_index_build": Query(
        q_ann_index_build,
        ORACLE_ANN_INDEX_BUILD,
        ("ann", "index", "quantization"),
    ),
    "ann_index_query": Query(
        q_ann_index_query,
        ORACLE_ANN_INDEX_QUERY,
        ("ann", "index", "similarity"),
    ),
    "ann_refined_topk": Query(
        q_ann_refined_topk,
        ORACLE_ANN_REFINED_TOPK,
        ("ann", "index", "similarity", "refine"),
    ),
    "ann_index_recall": Query(
        q_ann_index_recall,
        ORACLE_ANN_INDEX_RECALL,
        ("ann", "index", "recall", "audit"),
    ),
    "ann_index_query_where": Query(
        q_ann_index_query_where,
        ORACLE_ANN_INDEX_QUERY_WHERE,
        ("ann", "index", "similarity", "filtered"),
    ),
}
