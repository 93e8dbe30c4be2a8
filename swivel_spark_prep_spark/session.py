"""SparkSession factory with the engine's required configuration.

Forced confs (SURVEY.md §1.3) — oracle parity depends on them, so they
are set on every session whatever the caller chose:
- ``spark.sql.session.timeZone=UTC`` — keeps TIMESTAMP_NTZ comparisons
  aligned with the DuckDB oracle.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — events.parquet stores
  INT64 TIMESTAMP(NANOS) which Spark 4.1 otherwise refuses to read
  ([PARQUET_TYPE_ILLEGAL]); the catalog converts the long back to
  timestamp_ntz.

Performance defaults — AQE (runtime shuffle-partition coalescing,
skew-join splitting, dynamic broadcast: the scale levers we rely on at
100 TB), Arrow transfer, shuffle width — apply only where neither the
caller (``conf=``, ``spark.conf.set``) nor the deployment
(spark-submit ``--conf``, spark-defaults) set the key, so cluster
sizing always wins over this module's host-derived values.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs oracle parity depends on — forced on every session.
FORCED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Runtime performance defaults — each applies only while the key is
#: unset. ``spark.sql.shuffle.partitions`` joins them at session time
#: (see :func:`configure_runtime`).
DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Spark plans a persisted relation with AQE coalescing off, so a
    # cached aggregate of a few KB is stored — and every later scan of
    # it runs — at full shuffle width; let AQE coalesce cached plans
    # like any other query (cache.track_persist relies on this).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bigger Arrow batches cut driver-fetch conversion ~20% on wide
    # results (measured Q28 sf0.1); also the pandas-UDF batch size — at
    # cluster scale balance against per-task memory
    "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
    # InferFiltersFromGenerate rewrites explode(f(x)) into
    # Filter(size(f(x)) > 0 AND isnotnull(f(x))) + explode(f(x)) — the
    # FULL generator-input expression is duplicated into the filter, which
    # then pushes below exchanges down to the scan. For cheap column
    # references that prunes empty arrays early; for computed inputs
    # (shingle/n-gram/signature pipelines, any transform(...) feeding an
    # explode) it evaluates the expensive expression TWICE per row, the
    # first time before any repartition can parallelize it. Measured on
    # the shingle path (sf0.1, 5000 docs): 5.9 s → 0.4 s scan+explode,
    # X38 contamination 8.5 s → 1.3 s end-to-end. Generator inputs in
    # this engine are always computed arrays, so the rule is globally
    # excluded.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}

#: Default shuffle width on a non-local master, where the slot count is
#: not known at session start; deployments set their own.
CLUSTER_SHUFFLE_PARTITIONS = 32

#: Confs that must be set before the JVM starts.
STARTUP_CONFS = {
    "spark.driver.memory": "12g",
    "spark.ui.enabled": "false",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (e.g. one
    a caller of ``__spark_entry__`` created without our settings): the
    forced confs always, each performance default only if the key is
    unset.

    The shuffle width defaults to the core count on a ``local[...]``
    master (local[4] → 4, local[32] → 32), where ``defaultParallelism``
    is known when the session starts. On a cluster master executors may
    register after ``getOrCreate``, so ``defaultParallelism`` would
    undercount; there the default stays :data:`CLUSTER_SHUFFLE_PARTITIONS`
    and a deployment sizes ``spark.sql.shuffle.partitions`` itself.
    """
    for k, v in FORCED_CONFS.items():
        spark.conf.set(k, v)
    sc = spark.sparkContext
    local = sc.master.startswith("local")
    width = sc.defaultParallelism if local else CLUSTER_SHUFFLE_PARTITIONS
    defaults = {**DEFAULT_CONFS, "spark.sql.shuffle.partitions": str(width)}
    # RuntimeConfig.contains: set on this session or merged in from the
    # SparkConf — registered defaults don't count
    jconf = spark.conf._jconf
    for k, v in defaults.items():
        if not jconf.contains(k):
            spark.conf.set(k, v)
    return spark


def get_session(
    app_name: str = "swivel-spark-prep-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` if the
    env var is unset) — the bench contract (TESTDATA.md / BASELINE.md).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    # performance defaults stay out of the builder: there they would
    # override the deployment's SparkConf; configure_runtime fills them
    # in only where nothing was set
    for k, v in {**STARTUP_CONFS, **FORCED_CONFS, **(conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return configure_runtime(spark)
