"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-first determinism plus scale-minded defaults:
AQE on (runtime re-plan, skew-join splitting), Arrow pandas UDFs on,
case mapping through the JVM rather than ICU (``ENGINE_CONF``), shuffle
partitions proportional to parallelism so two-parallelism
scaling comparisons are honest (SURVEY.md §7 risks).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


# The engine's settings for every session that crawls: `get_spark` and
# the spark-submit job (tools/run_crawl.py) both apply this dict, so a
# cluster crawl plans and lowercases as the tests do. Local-mode tuning
# (partition count, UI, driver memory, shuffle compression) stays in
# `get_spark`.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.session.timeZone": "UTC",
    # `lower`/`upper` through the JVM (`UTF8String.toLowerCase`), not
    # ICU. With ICU on, the first `lower` in a JVM runs the static
    # initializer of `CollationAwareUTF8String`, which title-cases all
    # 1,114,112 code points through ICU: about 1.2-1.5 s per JVM, on the
    # first crawl round's critical path, and 200-400 MB of peak RSS
    # (`frontier_bulk`, 4 cores).
    # Both paths take the same ASCII fast path; on non-ASCII text they
    # differ from Python's `str.lower` only on recent Unicode additions
    # (see the `urlnorm` module docstring).
    "spark.sql.icu.caseMappings.enabled": "false",
}


def get_spark(
    app_name: str = "cc-dbp-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # proportional to parallelism (honest N vs 4N scaling comparisons),
        # with a 3x multiplier: finer tasks overlap shuffle write/read with
        # compute and absorb stragglers (measured ~25-40% on the 8M-URL
        # scheduling round at both 2 and 8 cores)
        shuffle_partitions = max(cores * 3, 6)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # local mode: driver == executor. 8g is deliberate: benchmarks
        # clear persisted localCheckpoint blocks between reps
        # (session.clear_persisted), which fixes the storage-eviction
        # churn that an accumulating heap showed — and A/B runs show a
        # 48g heap makes the first heavy pandas-UDF query pay a one-off
        # multi-10s stall (heap expansion + GC ergonomics), slowing the
        # whole suite 2-3x.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # local[N] shuffles go through the local filesystem: compression is
        # pure CPU overhead there (~40% of a shuffle-heavy round, measured
        # on the 8M-URL scheduling round). On a real multi-executor cluster
        # shuffles are network-bound — leave compression ON there (these
        # two lines are local-mode-only; tools/submit.sh does not set them).
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config(map=ENGINE_CONF | (extra_conf or {}))
        .getOrCreate()
    )


def empty_df(spark: SparkSession, schema: str) -> DataFrame:
    """An empty DataFrame of ``schema`` that the optimizer can see is
    empty: its optimized plan is ``LocalRelation <empty>``, so unions drop
    it and joins against it fold away at planning time.
    ``spark.createDataFrame([], schema)`` is instead an opaque Python-RDD
    scan, which every plan over it must schedule and run."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema).fields
    return (
        spark.range(1)
        .select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in fields])
        .where(F.lit(False))
    )


def clear_persisted(spark: SparkSession) -> int:
    """Unpersist every persistent RDD — including localCheckpoint blocks,
    which ``spark.catalog.clearCache()`` does NOT touch. Benchmarks call
    this between repetitions so storage from earlier reps can't evict /
    GC-thrash the rep being measured."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for rdd in jmap.values():
        rdd.unpersist(True)
        n += 1
    return n


def warm_python_worker_pool(spark: SparkSession, cores: int | None = None) -> None:
    """Start one Python UDF worker per core slot before timed work.

    A cold pandas-UDF stage pays a per-worker import storm (pandas +
    pyarrow per process); with 32 concurrent cold workers that dwarfs the
    actual compute. Long-running executors on a real cluster amortize
    this once per executor lifetime — ``spark.python.worker.reuse``
    (default on) keeps the pool alive here, so one tiny many-task UDF
    stage up front removes the artifact from every later stage."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    if cores is None:
        cores = spark.sparkContext.defaultParallelism

    @F.pandas_udf(DoubleType())
    def _noop(x: pd.Series) -> pd.Series:
        return x.astype("float64")

    # three CHAINED pandas UDFs = three Arrow runners per task = 3 workers
    # per core slot, matching the worst per-stage runner fan-out in the
    # engine (a stage with N chained UDFs demands N workers per slot)
    x = F.col("id").cast("double")
    (
        spark.range(cores * 4)
        .repartition(cores * 4)
        .select(F.sum(_noop(_noop(_noop(x)))))  # nested -> 3 separate runners
        .collect()
    )
