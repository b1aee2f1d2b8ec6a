"""SparkSession factory.

Replaces the reference's s3fs client factory (data_processing.py:12-28) and
implicit Dask threaded scheduler with a single configured SparkSession. S3A
credentials are injected from an optional config (mirroring the MinIO config
dict at flows.py:294-307) so the same code runs against local paths in tests
and object storage in production.

Scale notes (100 TB):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  plan re-optimization replace any hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a real
  cluster set it ~2-3x total cores and let AQE coalesce.
- Partition-column type inference is disabled so hive partition values written
  as 'YYYY-MM-DD' strings read back as strings (reference writes string dates,
  data_processing.py:175-180), keeping schemas stable across zones.
- Runtime row-level filtering is left at its Spark 4 defaults, which are the
  right ones at scale and verified on this build (r6):
  ``spark.sql.optimizer.runtime.bloomFilter.enabled=true`` (selective joins
  inject a bloom filter into the big side's scan) and
  ``spark.sql.optimizer.dynamicPartitionPruning.enabled=true`` (fact
  partition dirs pruned from a dim-side filter at runtime).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class S3Config:
    """S3-compatible endpoint config (maps the MinIO dict, flows.py:294-307)."""

    endpoint: str
    access_key: str
    secret_key: str
    path_style_access: bool = True


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "customer-activity-lakehouse",
    master: str | None = None,
    s3: S3Config | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session. Idempotent per-JVM; safe for tests."""
    # Python workers must be able to import THIS package by reference
    # (the snapshot_log DataSource class pickles by module path, unlike
    # closure-serialized UDFs). PYTHONPATH is inherited by the workers
    # the JVM forks, so set it BEFORE the JVM launches; on a real
    # cluster ship the package via --py-files / pip instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + pp if pp else "")
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # TIMESTAMP(NANOS) parquet columns (the events fixture) read as long;
        # set at construction, NOT at read time — a runtime conf.set inside a
        # table reader mutates the shared session under every other thread
        # planning a query (see plans/registry.py events_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Generated-class cache (default 100 entries) is too small for a
        # workload that cycles through dozens of distinct query plans — each
        # plan holds several WholeStageCodegen stages, so a mixed workload
        # evicts and recompiles (janino) every cycle. Sized for the whole
        # catalog; entries are compiled classes, cheap to retain.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if s3 is not None:
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", s3.endpoint)
            .config("spark.hadoop.fs.s3a.access.key", s3.access_key)
            .config("spark.hadoop.fs.s3a.secret.key", s3.secret_key)
            .config(
                "spark.hadoop.fs.s3a.path.style.access",
                str(s3.path_style_access).lower(),
            )
        )
    builder = builder.config(
        # Drop a GC'd frame's reliable-checkpoint files (the materialize()
        # contract: blocks/files live only while the frame is referenced).
        "spark.cleaner.referenceTracking.cleanCheckpoints",
        "true",
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Checkpoint dir (r15): with one set, materialize()/the iterative
    # dedup loops take the RELIABLE checkpoint branch — recomputable-free
    # blocks on the checkpoint FS instead of executor-memory
    # localCheckpoints that die with any executor (guide §5). On local[n]
    # there are no executor losses and the reliable branch only adds a
    # serialized write/read round-trip per materialize (measured +0.1-1.4 s
    # per materialize-heavy sf0.1 query — OPTIMIZATION_r15.md), so the
    # local default stays localCheckpoint; a CLUSTER deploy must point
    # SPARK_GRAFT_CHECKPOINT_DIR at shared storage (HDFS/S3A — per-node
    # file:/tmp is not reliable there), which every materialize/iterative
    # loop then picks up. The reliable branch is pinned value-identical in
    # tests/test_registry.py.
    if spark.sparkContext.getCheckpointDir() is None:
        ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if ckpt:
            spark.sparkContext.setCheckpointDir(ckpt)
        elif not (master or f"local[{cpus}]").startswith("local"):
            import warnings

            warnings.warn(
                "non-local master without SPARK_GRAFT_CHECKPOINT_DIR: "
                "materialize() falls back to localCheckpoint, which does "
                "not survive executor loss — set the env var to shared "
                "storage for production runs",
                stacklevel=2,
            )
    return spark


def run_concurrently(spark: SparkSession, *thunks):
    """Run independent driver-side thunks (each a short series of Spark
    jobs) from one thread each and return their results in argument
    order. Every thunk finishes before the call returns or raises; the
    first failure in argument order propagates. Each thunk is
    wrapped on the calling thread with ``inheritable_thread_target`` so its
    jobs keep the caller's job group, local properties and tags. With
    pinned-thread mode off, pyspark returns the session itself instead of
    a wrapper, and the thunks run unwrapped."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    targets = [wrap(t) if callable(wrap) else t for t in thunks]
    with ThreadPoolExecutor(max_workers=max(1, len(targets))) as pool:
        futures = [pool.submit(t) for t in targets]
        return [f.result() for f in futures]
