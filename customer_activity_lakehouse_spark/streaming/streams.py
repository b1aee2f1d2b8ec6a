"""Structured Streaming layer over the events stream.

The reference names "Apache Kafka and Flink or Spark Structured Streaming for
near real-time streaming ingestion into the raw layer" as future work
(ReadMe.md:99) — no streaming code exists there. This module IS that layer,
built Spark-native: file-source streams (drop-in for a Kafka source — swap
``readStream.format``), event-time watermarks for late data, windowed
aggregates, exact streaming dedup, and a custom stateful sessionization
operator via ``applyInPandasWithState``.

Scale notes (100 TB / continuous):
- Every aggregate is keyed by (window, low-cardinality key) so state stays
  bounded; watermarks let Spark drop state for closed windows.
- Sessionization state is per-user and O(1) per user (last-seen timestamp +
  counters), not a buffer of events — the state store stays small no matter
  the event rate.
- File sink + checkpoint gives exactly-once; foreachBatch variant shows the
  idempotent-merge escape hatch for non-transactional sinks.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Event schema mirrors the driver's events table (TESTDATA.md) with ts as a
# proper timestamp. File streams REQUIRE an explicit schema — there is no
# inference on a stream.
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of an events directory (raw-zone landing path).

    ``max_files_per_trigger`` bounds micro-batch size — the backpressure knob
    when replaying a large backlog.
    """
    reader = spark.readStream.format(fmt).schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


RATE_EVENT_TYPES = ("view", "click", "purchase")


def read_rate_events_stream(
    spark: SparkSession,
    rows_per_batch: int = 1000,
    start_epoch_s: int = 1_700_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Message-bus stand-in source (the reference names Kafka as future work,
    ReadMe.md:99; no broker ships in this environment): the built-in
    ``rate-micro-batch`` format generates a monotonically increasing
    ``value`` column with a FIXED number of rows per micro-batch, which we
    map into the events schema fully deterministically — row index ``v``
    produces the identical event on every machine, run, and partitioning
    (unlike the wall-clock ``rate`` source), so windowed results over the
    stream are batch-checkable. Event time advances one second per row from
    ``start_epoch_s``; type/user/value/props are all functions of ``v``.

    At scale the same transformation applies verbatim to a real
    ``spark.readStream.format("kafka")`` reader (value parsing replaces the
    synthetic mapping); everything downstream — watermarks, windows, the
    stateful operators — is source-agnostic."""
    reader = spark.readStream.format("rate-micro-batch").option(
        "rowsPerBatch", str(rows_per_batch)
    )
    if num_partitions is not None:
        reader = reader.option("numPartitions", str(num_partitions))
    v = F.col("value")
    return reader.load().select(
        v.alias("event_id"),
        F.timestamp_seconds(F.lit(start_epoch_s) + v).alias("ts"),
        (v % 50).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in RATE_EVENT_TYPES]), (v % 3 + 1).cast("int")
        ).alias("event_type"),
        ((v % 100).cast("double") / 10.0).alias("value"),
        F.to_json(F.struct((v % 7).alias("k"))).alias("props"),
    )


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event_type, tolerating ``watermark`` of
    event-time lateness. Append-mode-safe: rows emit once the watermark
    passes the window end, then their state is dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def theta_distinct_stream(
    events: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Windowed APPROXIMATE distinct users per event type — the streaming
    face of the fixed-threshold theta sketch (plans/ml_ops.py
    `events_theta_overlap`): θ-filter the stream on the 60-bit md5 hash
    (map-side, stateless), exact-dedup only the sampled (window, type,
    user) triples within the watermark, and count × 1/θ.

    Why not countDistinct: streaming aggregation forbids DISTINCT
    aggregates outright, and the exact workaround (dedup state over EVERY
    user) holds |active users| rows per window. Here the per-(window,
    type) state is collect_set over the SAMPLE only — θ·|users| entries
    (2^-20 at web scale), merged across micro-batches by set union inside
    ONE stateful operator (a chained dedup→agg would hold its tail window
    in flight one extra data batch per stage). Because the hash is the
    engine-portable md5, a batch run of this same function yields the
    identical numbers — the module's batch-equivalence doctrine.

    Watermark note: Catalyst pushes the deterministic θ-filter BELOW the
    EventTimeWatermark operator, so the watermark advances with the max
    ts of SAMPLED rows — it lags the full stream by ~1/θ inter-event
    gaps (negligible at any real rate, conservative in the safe
    direction: windows close later, never early)."""
    from ..plans.ml_ops import THETA_KEEP, THETA_SCALE, _h60

    sampled = (
        events.withWatermark("ts", watermark)
        .filter(F.col("user_id").isNotNull())
        .filter(_h60(F.col("user_id")) < THETA_KEEP)
        .select("ts", "event_type", "user_id")
    )
    return (
        sampled.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            (F.size(F.collect_set("user_id")) * THETA_SCALE)
            .cast("long")
            .alias("est_users")
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "est_users",
        )
    )


def sliding_event_rates(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event rates — each event lands in window/slide
    overlapping windows (4 here); state per (window × type) only."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def enrich_stream_with_dim(
    events: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a broadcast dim
    snapshot (the fact⋈dim shape of the reference's star schema, applied to
    the stream). Stateless — no watermark needed, no state store; Spark
    re-resolves the static side per micro-batch, so a dim refreshed in
    place is picked up on the next trigger. Left join keeps events whose
    key is absent from the dim (the reference's fact tables reference
    customers outside the dim — SURVEY §1.5)."""
    return events.join(F.broadcast(dim), key, "left")


def session_window_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """NATIVE streaming session windows — the built-in counterpart of the
    ``applyInPandasWithState`` sessionizer (``sessionize_stream``): Spark's
    session_window aggregate merges per-user event-time sessions in the
    state store and, in append mode, emits a session once the watermark
    passes its end (last event + gap), then drops its state — O(open
    sessions) state, the same eviction contract as the hand-rolled
    version but with zero Python in the loop. Batch twin:
    plans/core.q_events_session_stats_native (same micros arithmetic)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_micros("ts")).alias("first_us"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            (F.col("last_us") - F.col("first_us")).alias("active_us"),
        )
    )


def stream_dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exact streaming dedup on event_id within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per id and
    expires it once the watermark passes — bounded state, unlike plain
    ``dropDuplicates`` on a stream which grows forever.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def purchases_with_recent_clicks(
    purchases: DataFrame,
    clicks: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase is joined to every click
    by the same user within ``max_gap`` BEFORE it — the attribution join
    (which ad click preceded this purchase), run continuously on two live
    streams. Batch twin: the ``events_range_join`` / ``events_asof_join``
    catalog entries.

    Both sides carry watermarks and the join condition bounds click_ts to
    a closed event-time interval around purchase_ts — together these let
    Spark EVICT join state once the watermark passes (a stream-stream join
    without a time bound buffers both streams forever). Left-outer
    semantics: a purchase with no preceding click emits with nulls once
    the watermark guarantees no matching click can still arrive; Spark
    requires the time bound + watermark for exactly this reason.

    State at scale: per-key buffered rows span only ``max_gap + watermark``
    of event time per side — arrival-rate x horizon, independent of stream
    lifetime."""
    c = clicks.select(
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (p["user_id"] == c["click_user_id"])
        & (c["click_ts"] <= p["purchase_ts"])
        & (c["click_ts"] >= p["purchase_ts"] - F.expr(f"INTERVAL {max_gap}"))
    )
    return p.join(c, cond, "leftOuter").select(
        "event_id",
        "user_id",
        "purchase_ts",
        "purchase_value",
        "click_ts",
        "click_value",
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: gap-based sessionization
# ---------------------------------------------------------------------------

SESSION_GAP_SECONDS = 1800  # same 30-min inactivity gap as the batch
# catalog's event_sessionization query (plans/core.py) — stream and batch
# agree on the session definition.

_SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)

# State = (last event epoch-seconds, sessions so far, events so far): O(1)
# per user regardless of stream length.
_SESSION_STATE = T.StructType(
    [
        T.StructField("last_epoch", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _sessionize(
    key: tuple,
    pdf_iter: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Per-user session counter. Events within a micro-batch are sorted by
    (ts, event_id) — matching the batch query's window ordering — and folded
    into running state. Emits one updated row per user per batch."""
    (user_id,) = key
    if state.exists:
        last_epoch, n_sessions, n_events = state.get
    else:
        last_epoch, n_sessions, n_events = None, 0, 0

    last_ts = None
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        # floor to whole seconds like the batch query (unix_timestamp)
        epochs = (pdf["ts"].astype("int64") // 1_000_000_000).tolist()
        for e in epochs:
            if last_epoch is None or e - last_epoch > SESSION_GAP_SECONDS:
                n_sessions += 1
            last_epoch = e
            n_events += 1
        if len(pdf):
            last_ts = pdf["ts"].iloc[-1]

    state.update((last_epoch, n_sessions, n_events))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_sessions": [n_sessions],
            "n_events": [n_events],
            "last_ts": [last_ts],
        }
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user gap-based session counts via
    ``applyInPandasWithState`` (Arrow-batched; state is a 3-long tuple).

    Caveat: sessions are ordered *within* arrival order across batches —
    out-of-order arrival across micro-batch boundaries can split a session
    that batch processing would merge. That is inherent to single-pass
    sessionization; use the batch catalog query for exact retrospective
    sessions.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        outputStructType=_SESSION_OUTPUT,
        stateStructType=_SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming anomaly detection (stateful rolling baseline)
# ---------------------------------------------------------------------------

_ANOMALY_OUTPUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("bucket", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("zscore", T.DoubleType()),
    ]
)
# history of closed-bucket counts (oldest first), plus the open bucket
_ANOMALY_STATE = T.StructType(
    [
        T.StructField("hist", T.ArrayType(T.LongType())),
        T.StructField("cur_minute", T.LongType()),
        T.StructField("cur_count", T.LongType()),
    ]
)


def _score_bucket(hist: list[int], n: int) -> float | None:
    """z of count ``n`` against the trailing history — same integer-exact
    formula as the batch ``events_anomaly_zscore`` (see plans/timeseries.py):
    all inputs integers, one fixed sequence of double ops, HALF_UP 4dp."""
    from decimal import ROUND_HALF_UP, Decimal

    from ..plans.timeseries import ANOMALY_LOOKBACK as LB

    if len(hist) < LB:
        return None
    s = sum(hist)
    q = sum(x * x for x in hist)
    v = LB * q - s * s
    if v <= 0:
        return None
    z = (float(n) - float(s) / float(LB)) / ((float(v) / float(LB * (LB - 1))) ** 0.5)
    return float(Decimal(z).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _anomaly_fold(
    key: tuple,
    pdf_iter: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Per-event-type rolling baseline: minute buckets close when a later
    minute arrives; a closing bucket is scored against the trailing
    ANOMALY_LOOKBACK closed buckets and emitted when |z| ≥ ANOMALY_Z."""
    from ..plans.timeseries import ANOMALY_LOOKBACK, ANOMALY_Z

    (event_type,) = key
    hist, cur_minute, cur_count = (state.get if state.exists else ([], None, 0))
    hist = list(hist)
    out = {"event_type": [], "bucket": [], "n_events": [], "zscore": []}

    # Drain ALL Arrow chunks before folding: applyInPandasWithState does not
    # guarantee time-ordering ACROSS the chunks of one group in a micro-batch,
    # so a per-chunk sort could close a bucket early and silently drop
    # perfectly in-order events as "late" (ADVICE r5). One global sort per
    # (group, micro-batch) — memory stays O(events of this key in the batch),
    # which the chunk list already held anyway.
    chunks = [pdf["ts"].astype("int64") // 60_000_000_000 for pdf in pdf_iter]
    if chunks:
        minutes = pd.concat(chunks).sort_values().tolist()
        for m in minutes:
            if cur_minute is None:
                cur_minute, cur_count = m, 0
            elif m > cur_minute:
                # close the open bucket: score it, then roll it into history
                z = _score_bucket(hist, cur_count)
                if z is not None and abs(z) >= ANOMALY_Z:
                    ts = pd.Timestamp(cur_minute * 60, unit="s", tz="UTC")
                    out["event_type"].append(event_type)
                    out["bucket"].append(ts.strftime("%Y-%m-%d %H:%M:%S"))
                    out["n_events"].append(cur_count)
                    out["zscore"].append(z)
                hist = (hist + [cur_count])[-ANOMALY_LOOKBACK:]
                cur_minute, cur_count = m, 0
            elif m < cur_minute:
                # late event for an already-closed bucket: dropped, exactly
                # like a watermark would — exact retrospective scoring is the
                # batch catalog query's job
                continue
            cur_count += 1

    state.update((hist, cur_minute, cur_count))
    yield pd.DataFrame(out)


def anomaly_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: streaming twin of the batch
    ``events_anomaly_zscore`` catalog query via ``applyInPandasWithState``
    — per event_type, minute-bucket counts scored against a rolling
    baseline of the trailing closed buckets, emitting only alert rows.

    State is O(lookback) longs per event_type (a dozen counters), not a
    buffer of events, so the state store stays tiny at any event rate.
    Caveats (inherent to single-pass scoring): a series' final bucket is
    never scored (nothing closes it), and events arriving after their
    minute closed are dropped like late data beyond a watermark — the
    batch query is the exact retrospective oracle.
    """
    return events.groupBy("event_type").applyInPandasWithState(
        _anomaly_fold,
        outputStructType=_ANOMALY_OUTPUT,
        stateStructType=_ANOMALY_STATE,
        outputMode="update",  # matches the foreachBatch sink; each alert
        # still materializes exactly once — at the close of its bucket
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
    output_mode: str = "append",
):
    """Parquet file sink with checkpointing (exactly-once via the sink's
    transactional log). ``available_now=True`` drains the current backlog
    and stops — the batch-replay/test mode; False = continuous."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_foreach_batch(
    df: DataFrame,
    batch_fn,
    checkpoint: str,
    available_now: bool = True,
    output_mode: str = "update",
):
    """foreachBatch escape hatch — for sinks without streaming support
    (JDBC upsert, MERGE INTO). ``batch_fn(batch_df, batch_id)`` must be
    idempotent on batch_id for exactly-once."""
    writer = (
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_dq_monitor(
    events: DataFrame,
    audit_path: str,
    checkpoint: str,
):
    """Streaming data-quality monitor — the continuous twin of the batch
    ``data_quality_audit``: every micro-batch folds its constraint checks
    into ONE partial-agg pass (null keys, null/absent timestamps, negative
    values, duplicate event ids WITHIN the batch) and appends a single
    audit row per batch to ``audit_path``. Deduplicating on batch_id at
    read time keeps the log exactly-once under replays (foreachBatch may
    re-run a batch after a crash; the audit carries the id so consumers
    drop the duplicate — same idempotency contract as merge_upsert).

    Scale: per batch one aggregate row; no state store, no watermark —
    monitoring never holds back the pipeline."""
    from pyspark.sql import functions as F

    def audit_batch(batch_df: DataFrame, batch_id: int) -> None:
        row = batch_df.agg(
            F.lit(batch_id).alias("batch_id"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_user"),
            F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_ts"),
            F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_negative_value"),
            (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("n_dup_event_ids"),
        )
        row.write.mode("append").parquet(audit_path)

    return write_stream_foreach_batch(events, audit_batch, checkpoint)


def read_dq_audit(spark, audit_path: str) -> DataFrame:
    """The exactly-once view of the audit log: one row per batch_id
    (replays deduplicate on read — keep the max-violation row, which is
    identical across replays of the same deterministic batch)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    log = spark.read.parquet(audit_path)
    w = Window.partitionBy("batch_id").orderBy(F.col("n_rows").desc())
    return log.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")


def _stream_txn_committed(
    spark, snap, table_dir: str, app_id: str, batch_id: int, lookback: int = 64
) -> bool:
    """Replay probe for streaming sinks — Delta's txnAppId/txnVersion
    idempotence contract: a micro-batch is identified by (app_id,
    batch_id), BOTH matched, so two different streams (distinct
    checkpoints) writing one table can never false-dedupe each other's
    same-numbered batches. The probe walks the last ``lookback`` raw
    commit records regardless of op (a DML commit landing between a crash
    and the replay must not hide the stamp — the old walk-until-non-append
    heuristic did exactly that). Metadata-only: no file-list resolution.
    A replay arriving more than ``lookback`` commits late would re-apply;
    replays are always the last uncommitted batch of their checkpoint, so
    the window only needs to cover commits interleaving a single
    crash-restart."""
    for v in snap._list_versions(spark, table_dir)[-lookback:][::-1]:
        r = snap._read_commit(spark, table_dir, v)
        if r.get("stream_batch_id") == batch_id and r.get("stream_app_id") == app_id:
            return True
    return False


def write_stream_snapshot_append(
    events: DataFrame,
    table_dir: str,
    checkpoint: str,
    stats_cols: list[str] | None = None,
    allow_schema_evolution: bool = False,
    app_id: str | None = None,
):
    """Stream → versioned table: every micro-batch commits as a snapshot
    append, making the stream's output time-travelable and incrementally
    consumable (snapshots.consume_appends) — the full loop a lakehouse
    runs: ingest stream → snapshot log → downstream incremental jobs.

    Exactly-once: the committed manifest records the micro-batch id; on a
    foreachBatch replay (crash between commit and checkpoint advance) the
    batch id is already in the log's recent history and the commit is
    SKIPPED — dedup lives in the table's own log, not in reader-side
    conventions.

    The commit itself is ``snapshots._commit_append_files`` — the same
    retry loop batch appends use — so the streaming sink inherits the
    schema-drift gate (a drifted micro-batch fails the stream loudly
    instead of poisoning reads) and carries the previous manifest's
    per-file stats forward (ADVICE r6: a sink that rebuilt its manifest
    from scratch permanently discarded them, silently disabling
    ``skip_where`` for the whole table). ``stats_cols`` records skipping
    stats for each batch's new files — on an event stream, stats on the
    event-time column make time-ranged reads prune old micro-batches.

    At 100 TB: one commit per micro-batch grows the manifest forever —
    schedule ``snapshots.compact_snapshot`` alongside this sink (its
    data_change=false commits don't disturb incremental consumers)."""
    from customer_activity_lakehouse_spark.sources import snapshots as snap

    txn_app = app_id or checkpoint  # Delta txnAppId default: the checkpoint

    # the (app, batch) id lands atomically in the SAME manifest as the
    # file list (a second metadata write would race)
    def commit_batch_atomic(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _stream_txn_committed(spark, snap, table_dir, txn_app, batch_id):
            return
        versions = snap._list_versions(spark, table_dir)
        attempt = (versions[-1] if versions else 0) + 1
        import uuid

        # column mapping (rename/drop without rewrite): stage this
        # micro-batch under the table's PHYSICAL names, exactly as
        # commit_append does; the commit loop re-checks the mapping
        # didn't change concurrently
        mapping = None
        part_phys: list[str] = []
        sig = snap._schema_sig(batch_df)
        if versions:
            latest_m = snap._read_manifest(spark, table_dir, versions[-1])
            base_colmap, base_used = snap._mapping_of(latest_m)
            if base_colmap is not None:
                rec_colmap, rec_used = snap._assign_physical(
                    [n for n, _ in sig], base_colmap, base_used
                )
                mapping = (base_colmap, rec_colmap, rec_used)
            # partitioned table: micro-batches honor the layout, so each
            # streamed-in file stays value-pure and partition-prunable
            part_phys = snap._part_keys(latest_m)
        staged = snap._to_physical(batch_df, mapping[1]) if mapping else batch_df
        data_path = snap._write_data(
            staged, table_dir, f"v{attempt:05d}-b{batch_id}-{uuid.uuid4().hex[:8]}",
            partition_by=part_phys or None,
        )
        new_files = snap._data_files(spark, data_path)
        new_stats = snap._index_new_files(
            spark, table_dir, latest_m if versions else None, new_files,
            stats_cols, mapping[1] if mapping else None, part_phys,
        )
        snap._commit_append_files(
            spark,
            table_dir,
            new_files,
            sig,
            new_stats,
            allow_schema_evolution=allow_schema_evolution,
            extra={"stream_batch_id": batch_id, "stream_app_id": txn_app},
            mapping=mapping,
        )

    return write_stream_foreach_batch(events, commit_batch_atomic, checkpoint)


def write_stream_merge_upsert(
    df: DataFrame,
    spec,
    keys: list[str],
    checkpoint: str,
    order_col: str | None = None,
    available_now: bool = True,
):
    """Streaming MERGE sink: every micro-batch upserts into a lakehouse
    table via ``sources.tables.merge_upsert`` — the streaming face of the
    nightly-load contract (update-mode aggregates re-emit a key per batch;
    the table must hold only the LATEST row per key, which append-mode file
    sinks cannot express).

    Exactly-once composition: the checkpoint guarantees each micro-batch is
    delivered at-least-once with a stable batch_id, and ``merge_upsert`` is
    idempotent per batch (updates-win keyed dedup + stage-and-swap), so a
    replayed batch converges to the same table state. At 100 TB the merge
    touches only the partitions present in the batch — continuous small
    upserts, plus a periodic ``compact`` for the file counts.
    """
    from ..sources.tables import merge_upsert

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(batch_df.sparkSession, spec, batch_df, keys, order_col=order_col)

    return write_stream_foreach_batch(
        df, merge_batch, checkpoint, available_now=available_now, output_mode="update"
    )


def write_stream_apply_changes_scd2(
    df: DataFrame,
    table_dir: str,
    keys: list[str],
    order_col: str,
    checkpoint: str,
    change_col: str = "change_type",
    stats_cols: list[str] | None = None,
    max_retries: int = 8,
    app_id: str | None = None,
    available_now: bool = True,
):
    """Streaming SCD TYPE 2 sink — DLT's ``APPLY CHANGES ... STORED AS
    SCD TYPE 2`` as a foreachBatch over :func:`sources.scd.
    apply_changes_scd2`: each micro-batch of change records extends the
    dimension's interval history in ONE merge commit. Replay dedup and
    race retry are exactly the snapshot-merge sink's: the commit stamps
    (app_id, batch_id) so a replayed batch skips (keeping CDC exact),
    and a lost version race re-reads the log and re-applies."""
    from customer_activity_lakehouse_spark.sources import scd
    from customer_activity_lakehouse_spark.sources import snapshots as snap

    txn_app = app_id or checkpoint

    def scd2_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _stream_txn_committed(spark, snap, table_dir, txn_app, batch_id):
            return
        last_err: Exception | None = None
        for _ in range(max_retries):
            try:
                scd.apply_changes_scd2(
                    spark,
                    table_dir,
                    batch_df,
                    keys,
                    order_col,
                    change_col=change_col,
                    stats_cols=stats_cols,
                    extra={
                        "stream_batch_id": batch_id,
                        "stream_app_id": txn_app,
                    },
                )
                return
            except RuntimeError as e:
                if "committed concurrently" not in str(e):
                    raise
                last_err = e
        raise RuntimeError(
            f"write_stream_apply_changes_scd2: batch {batch_id} lost "
            f"{max_retries} version races at {table_dir}"
        ) from last_err

    return write_stream_foreach_batch(
        df, scd2_batch, checkpoint, available_now=available_now, output_mode="append"
    )


def write_stream_apply_changes(
    df: DataFrame,
    spec,
    keys: list[str],
    checkpoint: str,
    order_col: str | None = None,
    change_col: str = "change_type",
    available_now: bool = True,
):
    """Streaming CDC-apply sink: every micro-batch of change records
    (insert/update/delete — e.g. ``snapshots.snapshot_changes`` output
    shipped through a stream) lands in the keyed table via
    ``sources.tables.apply_changes``. The streaming face of AUTO CDC:
    where the MERGE sink can only upsert, this one also retires keys whose
    latest record is a delete.

    Exactly-once composition is the same as write_stream_merge_upsert:
    checkpointed at-least-once delivery × an idempotent per-batch apply
    (keyed latest-wins dedup + stage-and-swap) converges replays to the
    same table state. Pass ``order_col`` (an event-time / LSN column)
    whenever one batch can carry several records for a key — without it
    the in-batch winner is the union's arbitrary row order."""
    from ..sources.tables import apply_changes

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_changes(
            batch_df.sparkSession,
            spec,
            batch_df,
            keys,
            order_col=order_col,
            change_col=change_col,
        )

    return write_stream_foreach_batch(
        df, apply_batch, checkpoint, available_now=available_now, output_mode="append"
    )


def write_stream_snapshot_merge(
    updates: DataFrame,
    table_dir: str,
    keys: list[str],
    checkpoint: str,
    order_col: str | None = None,
    stats_cols: list[str] | None = None,
    max_retries: int = 8,
    app_id: str | None = None,
):
    """Stream → MERGE INTO the snapshot log: every micro-batch upserts
    (matched keys update, unmatched insert) as ONE snapshot commit —
    Delta's `foreachBatch + MERGE` streaming-upsert idiom, with the
    exactly-once guarantee moved into the table's own log:

    - REPLAY DEDUP: the merge commit records its micro-batch id
      (``stream_batch_id``) atomically with the merge; on a foreachBatch
      replay (crash between commit and checkpoint advance) the id is
      found in recent history and the batch SKIPS — a replayed merge
      can never double-apply (a re-merge of the same rows would be
      value-idempotent but would still pollute the change feed with
      duplicate update rows; the skip keeps CDC exact too).
    - RACE RETRY: merge aborts on a lost version race (overwrite-class);
      the sink re-runs the whole merge against the new latest version —
      re-reading the log each attempt, so concurrent batch writers and
      the stream serialize cleanly.

    The merge inherits everything the batch verb does: stats-pruned file
    targeting, CHECK/generated-column enforcement, column mapping, CDC
    change files (each micro-batch becomes one change-feed commit that
    ``consume_changes`` replicas stream through)."""
    from customer_activity_lakehouse_spark.sources import snapshots as snap

    txn_app = app_id or checkpoint  # Delta txnAppId default: the checkpoint

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _stream_txn_committed(spark, snap, table_dir, txn_app, batch_id):
            return  # replayed batch: already merged
        last_err: Exception | None = None
        for _ in range(max_retries):
            try:
                snap.merge_snapshot(
                    spark,
                    table_dir,
                    batch_df,
                    keys,
                    order_col=order_col,
                    stats_cols=stats_cols,
                    extra={
                        "stream_batch_id": batch_id,
                        "stream_app_id": txn_app,
                    },
                )
                return
            except RuntimeError as e:
                if "committed concurrently" not in str(e):
                    raise
                last_err = e  # lost a version race: re-read and re-merge
        raise RuntimeError(
            f"write_stream_snapshot_merge: batch {batch_id} lost "
            f"{max_retries} version races at {table_dir}"
        ) from last_err

    return write_stream_foreach_batch(updates, merge_batch, checkpoint)


def write_stream_incremental_aggregate(
    changes: DataFrame,
    agg_dir: str,
    keys: list[str],
    sum_cols: list[str],
    checkpoint: str,
    available_now: bool = True,
    max_retries: int = 8,
    app_id: str | None = None,
    transform=None,
):
    """STREAMING materialized aggregate — the DLT pattern end to end: a
    CDC stream (the snapshot-log DataSource's ``mode=cdc`` reader, rows =
    table columns + ``change_type``) continuously maintains a per-key
    SUM/COUNT aggregate snapshot table. Each micro-batch folds its change
    rows into signed per-key deltas (insert/update_postimage = +1,
    delete/update_preimage = −1) and MERGEs absolutes in — cost per batch
    O(|changes| + |touched keys|), never a source rescan, which is what
    lets an all-time rollup ride a 100 TB table's stream of daily DML.

    Exactly-once: the merge commit records the micro-batch id atomically
    with the aggregate change (``stream_batch_id``); a foreachBatch replay
    finds the id in recent history and SKIPS — additive application is
    NOT idempotent, so this replay dedup (same mechanism as
    :func:`write_stream_snapshot_merge`) is load-bearing, not hygiene.
    The CDC reader's first batch delivers the source's initial snapshot
    as 'insert' rows (Delta CDF startingVersion=0 contract), so bootstrap
    is just batch 0. ``transform`` defines the view over the change rows
    before folding — same row-local/static-dim/change_type-preserving
    contract as ``incremental.maintain_sum_aggregate``. Float caveat as
    in ``sources.incremental``: exact for integer/decimal measures."""
    from customer_activity_lakehouse_spark.sources import incremental as inc
    from customer_activity_lakehouse_spark.sources import snapshots as snap

    txn_app = app_id or checkpoint  # Delta txnAppId default: the checkpoint

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _stream_txn_committed(spark, snap, agg_dir, txn_app, batch_id):
            return  # replayed batch: already folded in
        rows = batch_df.drop("_commit_version")
        if transform is not None:
            rows = inc._apply_transform(rows, transform)
        delta = inc._fold_feed(
            rows, keys, sum_cols, "write_stream_incremental_aggregate"
        )
        if delta is None:
            return
        try:
            last_err: Exception | None = None
            for _ in range(max_retries):
                try:
                    inc.apply_signed_delta(
                        spark, agg_dir, delta, keys, sum_cols,
                        extra={
                            "stream_batch_id": batch_id,
                            "stream_app_id": txn_app,
                        },
                    )
                    return
                except RuntimeError as e:
                    if "committed concurrently" not in str(e):
                        raise
                    last_err = e  # lost a version race: re-read and re-merge
            raise RuntimeError(
                f"write_stream_incremental_aggregate: batch {batch_id} lost "
                f"{max_retries} version races at {agg_dir}"
            ) from last_err
        finally:
            delta.unpersist()

    return write_stream_foreach_batch(
        changes, fold_batch, checkpoint, available_now=available_now
    )


def write_stream_ingest_dedup(
    docs: DataFrame,
    corpus_dir: str,
    index_dir: str,
    pairs_dir: str,
    checkpoint: str,
    available_now: bool = True,
    app_id: str | None = None,
):
    """STREAMING ingest-with-dedup — the composed sink r10 first REJECTED
    and the keyed-MERGE maintenance design now admits: each micro-batch of
    ``(doc_id, text, …)`` documents (1) appends to the versioned corpus
    table and (2) folds the corpus change feed into the MinHash band
    index, persisting the batch's candidate duplicate pairs to
    ``pairs_dir`` — one continuously-loaded corpus whose near-dup report
    is always current, at O(new bands) per batch, never a corpus rescan.

    Exactly-once holds with TWO independent mechanisms, one per commit
    class, and every crash boundary between them replays to convergence:

    - the corpus append records (app_id, batch_id) atomically in its own
      manifest — a foreachBatch replay finds the stamp and skips the
      append (the ``write_stream_snapshot_append`` contract);
    - index maintenance is stamp-driven (``mh_consumed_version``) and
      BOTH its writes are keyed MERGEs — pairs on (new_doc, dup_of)
      BEFORE the stamping bands merge on (doc_id, band_idx) — so a crash
      after the corpus append, between the two merges, or a stale stamp
      read all re-apply the same feed and rewrite identical rows
      (``maintain_minhash_index``'s joint-stamp contract). Maintenance
      runs even on a replayed append, because the crash may have been
      between the append and the fold.

    The index is bootstrapped EMPTY (consumed_version=0) before the
    stream starts, so batch 0's documents flow through the same
    maintenance path as every later batch — within-batch duplicates in
    the very first micro-batch are reported too, and an existing corpus
    history at ``corpus_dir`` is indexed by the first fold. Deletes or
    updates committed to the corpus between micro-batches RETRACT through
    the same feed (maintain's dv_retract path).

    At 100 TB: per batch this reads the batch + bloom-pruned index files
    only; schedule ``compact_snapshot`` on all three tables alongside
    (data_change=false commits don't disturb the feed)."""
    from customer_activity_lakehouse_spark.plans.minhash_index import (
        build_minhash_index,
        maintain_minhash_index,
    )
    from customer_activity_lakehouse_spark.sources import snapshots as snap

    txn_app = app_id or checkpoint  # Delta txnAppId default: the checkpoint

    spark0 = docs.sparkSession
    if not snap._list_versions(spark0, f"{index_dir}/bands"):
        build_minhash_index(
            spark0,
            spark0.createDataFrame([], "doc_id bigint, text string"),
            index_dir,
            consumed_version=0,
        )

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not _stream_txn_committed(spark, snap, corpus_dir, txn_app, batch_id):
            snap.commit_append(
                spark,
                corpus_dir,
                batch_df,
                stats_cols=["doc_id"],
                extra={"stream_batch_id": batch_id, "stream_app_id": txn_app},
            )
        # ALWAYS fold — a replay may be recovering from a crash between
        # the append and the fold; a fully-folded feed no-ops on the stamp
        maintain_minhash_index(spark, index_dir, corpus_dir, pairs_dir=pairs_dir)

    return write_stream_foreach_batch(
        docs, ingest_batch, checkpoint, available_now=available_now
    )
