"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per-job:
AQE on (runtime re-planning, skew-join handling, partition coalescing),
shuffle partitions sized to cores (not the 200 default), Arrow enabled for
the Pandas-UDF paths, and UTC session time so results hash-compare cleanly
against a DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["get_spark", "job_tag", "local_relation", "scoped_confs", "stop_spark"]

# Native thread-pool caps for every Python worker (and the driver's own
# numpy kernels). The gemm/decode strips hand whole Arrow batches to
# numpy, and Spark runs up to `cores` Python workers concurrently — one
# task per core is the unit of parallelism, so each worker's BLAS/OMP
# pool must be 1 thread wide (opt guide §4.5: size Python-worker
# resources to cores × per-worker threads). Without the cap, N
# concurrent workers × a default-width OpenBLAS/OMP pool oversubscribe
# the host quadratically — measured r12: the per-bucket gemm tier ran
# 0.28× at local[32] while winning 1.9× at local[8]. setdefault keeps
# any deployment-set value.
_WORKER_THREAD_CAPS = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
}


def get_spark(app_name: str = "shortcut_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a real
    cluster the master URL comes from the environment; everything else here
    is still the right per-job config.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = str(max(cpus, 32))
    # local mode: the JVM (and the pyspark.daemon it forks workers from)
    # inherits this process's env, so set the caps before getOrCreate()
    # spawns it; the executorEnv confs below carry the same caps to
    # cluster-mode executors.
    for k, v in _WORKER_THREAD_CAPS.items():
        os.environ.setdefault(k, v)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS); Spark 4.1+ reads it as
        # TIMESTAMP_NTZ and sources.normalize_event_ts casts it to a
        # session-tz timestamp at load time — no session-level legacy conf
        # is needed (and spark.sql.legacy.parquet.nanosAsLong no longer has
        # any effect on this Spark).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND
        # isnotnull(arr)` under every explode; predicate pushdown then
        # INLINES the generator's full child expression into that filter
        # (twice) and pushes it below the exchange — so every
        # explode-over-a-computed-array (shingles, CDC chunks, band keys)
        # re-ran its whole tokenize/transform chain two extra times at
        # scan parallelism. Excluding the rule only drops that pre-prune;
        # Generate itself skips empty/null arrays, so results are
        # identical. Measured r12: the shingle explode 5.7 → 0.4 s at
        # sf0.1; the effect grows with data (the chain is the map wall).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in _WORKER_THREAD_CAPS.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set session confs for the body of a ``with`` block, then put back
    exactly what was there before.

    The one place library code flips session-global confs (the static
    compiles turn AQE off and pin ``spark.sql.shuffle.partitions`` for a
    plan whose size the driver already knows). Contract:

    - exception-safe: the prior values come back on any exit;
    - nested-safe: an inner scope restores what the outer scope had set;
    - exact: a key that was unset comes back unset (``conf.unset``), not
      as an explicit default string;
    - one conf writer per SparkSession: session confs are global, so
      threads sharing a session see each other's flips while a scope is
      open. Callers that run concurrent work on one session must
      serialize their scopes.

    An empty ``confs`` is a no-op, so a gated caller can pass ``{}``.
    """
    conf = spark.conf
    prior = {k: conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


@contextmanager
def job_tag(spark: SparkSession) -> Iterator[list[int]]:
    """Tag the Spark jobs the body of a ``with`` block launches with a tag
    of their own; the yielded list holds their ids once the block exits.

    The tag is added to the calling thread's job tags, so it nests inside
    any job group or tag the caller has set and leaves them as they were.
    On exit the listener bus is drained first, since the status tracker
    it feeds may lag the body's last job.
    """
    import uuid

    sc = spark.sparkContext
    tag = f"shortcut-{uuid.uuid4().hex[:12]}"
    jobs: list[int] = []
    sc.addJobTag(tag)
    try:
        yield jobs
    finally:
        sc.removeJobTag(tag)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs.extend(sorted(int(j) for j in jsc.statusTracker().getJobIdsForTag(tag)))


def local_relation(spark: SparkSession, tables: list, schema: T.StructType) -> DataFrame:
    """The rows of the arrow ``tables`` as one Arrow-built
    ``LocalRelation`` in ``schema`` — the one way driver kernels hand rows
    to Spark. The optimizer sizes a ``LocalRelation`` (a Python-list
    ``createDataFrame`` reads as size-unknown, so every join against it
    shuffles both sides), and ``ConvertToLocalRelation`` evaluates
    filters and projections over it on the driver. The chunks are
    combined first: pyspark's ``createDataFrame`` drops every row after a
    zero-row record batch that follows a non-empty one, and a file whose
    rows are all tombstoned reads as one."""
    import pyarrow as pa

    return spark.createDataFrame(pa.concat_tables(tables).combine_chunks(), schema=schema)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
