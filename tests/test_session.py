"""Session sizing: which conf value wins, and how wide the tasks over
small intermediates fan out."""

from __future__ import annotations

import uuid
from types import SimpleNamespace

from pyspark.sql import functions as F

from swivel_spark_prep_spark.cache import track_persist
from swivel_spark_prep_spark.operators.ranks import partitioned_prefix_sum
from swivel_spark_prep_spark.session import (
    CLUSTER_SHUFFLE_PARTITIONS,
    configure_runtime,
    get_session,
)

_SHUFFLE = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"
_TZ = "spark.sql.session.timeZone"


def _restoring(spark, keys):
    """Snapshot ``keys`` as RuntimeConfig sees them; the returned
    callable puts every one back (set or unset) on the session."""
    jconf = spark.conf._jconf
    saved = {k: spark.conf.get(k) if jconf.contains(k) else None for k in keys}

    def restore():
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    return restore


def test_fixture_conf_reaches_the_session(spark):
    # conftest passes shuffle.partitions=8 through get_session(conf=...)
    assert spark.conf.get(_SHUFFLE) == "8"


def test_caller_conf_wins_over_performance_defaults(spark):
    restore = _restoring(spark, [_SHUFFLE, _AQE, _TZ])
    try:
        s = get_session(
            master="local[2]", conf={_SHUFFLE: "5", _AQE: "false"}
        )
        assert s.conf.get(_SHUFFLE) == "5"
        assert s.conf.get(_AQE) == "false"
        # a source read re-applies the runtime confs: a value set
        # with spark.conf.set still wins, parity confs are forced
        s.conf.set(_SHUFFLE, "3")
        s.conf.set(_TZ, "America/New_York")
        configure_runtime(s)
        assert s.conf.get(_SHUFFLE) == "3"
        assert s.conf.get(_AQE) == "false"
        assert s.conf.get(_TZ) == "UTC"
    finally:
        restore()


def test_unset_shuffle_width_defaults_to_core_count(spark):
    restore = _restoring(spark, [_SHUFFLE])
    try:
        spark.conf.unset(_SHUFFLE)
        configure_runtime(spark)
        assert spark.conf.get(_SHUFFLE) == str(
            spark.sparkContext.defaultParallelism
        )
    finally:
        restore()


def test_cluster_master_keeps_fixed_shuffle_width(spark):
    # executors may register after getOrCreate on a cluster, so its
    # defaultParallelism at session start is no guide to the slot count
    restore = _restoring(spark, [_SHUFFLE])
    try:
        spark.conf.unset(_SHUFFLE)
        cluster = SimpleNamespace(
            conf=spark.conf,
            sparkContext=SimpleNamespace(
                master="spark://head:7077", defaultParallelism=2
            ),
        )
        configure_runtime(cluster)
        assert spark.conf.get(_SHUFFLE) == str(CLUSTER_SHUFFLE_PARTITIONS)
    finally:
        restore()


def _stage_widths(spark, action):
    """Run ``action`` under a fresh job group; return the task count of
    every stage its jobs ran. A job also lists the stages it skipped
    (shuffle or cache output already there); they completed no task."""
    sc = spark.sparkContext
    group = f"fanout-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    widths = []
    for job_id in tracker.getJobIdsForGroup(group):
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            info = tracker.getStageInfo(stage_id)
            if info is not None and info.numCompletedTasks:
                widths.append(info.numTasks)
    assert widths, "the action launched no stage"
    return widths


def test_persisted_small_aggregate_scans_at_coalesced_width(spark):
    agg = track_persist(
        spark.range(1000).groupBy((F.col("id") % 100).alias("k")).count()
    )
    assert agg.count() == 100  # materializes the cache
    widths = _stage_widths(spark, agg.collect)
    # AQE coalesced the cached plan: a few KB is one partition, not one
    # per shuffle partition
    assert max(widths) == 1 < int(spark.conf.get(_SHUFFLE)), widths


def test_prefix_sum_stages_no_wider_than_core_count(spark):
    df = spark.range(100).select("id", (F.col("id") % 7).alias("v"))
    out = partitioned_prefix_sum(df, ["id"], "v")
    rows = []
    widths = _stage_widths(spark, lambda: rows.extend(out.collect()))
    assert max(widths) <= spark.sparkContext.defaultParallelism, widths
    cum = {r.id: r.v_cum for r in rows}
    assert cum == {i: sum(j % 7 for j in range(i)) for i in range(100)}
