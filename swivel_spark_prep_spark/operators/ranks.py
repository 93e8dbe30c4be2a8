"""Scale-safe ordered prefix sums — the public primitive behind every
"running total over a globally-ordered relation" in this engine.

A naive ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY forces Spark
to collapse the whole relation into ONE task (Exchange SinglePartition +
Sort) — correct at test scale, a single-executor sort at 100 TB. The
two-pass scheme here (the X46/X90 pattern born in packing/dedup, promoted
to a public operator per the round-9 verdict) computes the identical
values with no single-task data stage:

1. range-partition by the order columns (equal keys land together, so
   partition-local order is a contiguous slice of the global order) and
   sort within partitions;
2. partition-local prefix sums in parallel (a window PARTITIONED by the
   physical partition id — never a global window);
3. add per-partition offsets computed from the partition TOTALS — a
   control relation of at most ``#partitions`` rows (ungrouped: a
   driver-side cumsum over #partitions numbers; grouped: a per-group
   window over the totals relation, whose partition spec is non-empty so
   no single-partition exchange appears anywhere in the plan).

Grouped form: with ``group_cols`` the running sum RESETS per group and
rows are range-partitioned by (group, order) — each group occupies a
contiguous run of partitions, so the totals relation has at most
``#partitions + #groups`` rows and is broadcast back. Use the grouped
form when group cardinality is control-plane-sized (sources, languages,
shards); a per-group window is the right tool only when groups are
numerous AND individually small.

Determinism contract: ``order_cols`` must totally order the rows within
each group (build the relation with a groupBy on the order key first, as
binary_auc/ks_test do, or use a unique key). With duplicate order keys
the split of ties across the exclusive/inclusive boundary is
tie-order-dependent — exactly as it is under a raw running window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "partitioned_prefix_sum",
    "partitioned_prefix_extremum",
    "weighted_quantile",
]


def partitioned_prefix_sum(
    df: DataFrame,
    order_cols: list,
    value_cols,
    out_cols=None,
    *,
    group_cols: list | None = None,
    inclusive: bool = False,
) -> DataFrame:
    """Append running-sum columns over the total order ``order_cols``
    (within ``group_cols`` if given) without any single-partition data
    stage. ``inclusive=False`` sums rows strictly BEFORE each row
    (exclusive prefix, 0 for the first row); ``inclusive=True`` includes
    the row itself. Multiple ``value_cols`` share one pass. All input
    columns are preserved; ``out_cols`` default to ``<value>_cum``.
    """
    value_cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    out_cols = list(out_cols) if out_cols else [f"{v}_cum" for v in value_cols]
    if len(out_cols) != len(value_cols):
        raise ValueError("out_cols must match value_cols in length")
    group_cols = list(group_cols or [])
    order_cols = list(order_cols)

    # NOT df.rdd.getNumPartitions() (plan-to-RDD conversion; single-file
    # inputs would collapse the range exchange to one partition) —
    # shuffle.partitions is the knob deployments size to their data, and
    # session.configure_runtime defaults it to the core count. AQE never
    # coalesces this explicit-width exchange, so the width set here is
    # the task count of every stage over the ranged relation.
    spark = df.sparkSession
    n_part = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
        2,
    )
    ranged = df.repartitionByRange(
        n_part, *group_cols, *order_cols
    ).sortWithinPartitions(*group_cols, *order_cols)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())

    bound = 0 if inclusive else -1
    w_local = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, bound)
    )
    # Offsets come from a window over the TOTALS relation (≤ n_part +
    # #groups rows, broadcast back). Round 17 (guide §1.2/§5): the
    # ungrouped path used to persist the ranged relation and COLLECT the
    # per-partition totals to the driver — 2 extra Spark jobs, a cache
    # materialization and a driver sync for every call of the engine's
    # most shared kernel (every rank/quantile/CDF operator sits on it;
    # the per-op job-scheduling floor multiplies with job count). Both
    # paths now share the grouped formula, the ungrouped one keyed by a
    # constant pseudo-group: the offsets window runs over the bounded
    # totals relation (never data rows), the plan stays fully lazy, and
    # the ranged shuffle is shared by the local and totals branches via
    # ReuseExchange inside the single action. The running-sum offset
    # accumulates partition totals in ascending _pid order — the same
    # left-to-right addition order as the old driver-side loop, so
    # floating-point results are bit-identical.
    gkey = group_cols or ["_gconst"]
    if not group_cols:
        # NOT F.lit(0): FoldablePropagation would inline the literal and
        # strip it from the offsets window's partition spec, leaving an
        # unpartitioned Window in the plan (the exact shape the plan
        # guardrail bans). spark_partition_id() % 1 is always 0 — one
        # runtime partition, same ascending-_pid addition order — but
        # is flagged non-deterministic, so Catalyst keeps the attribute
        # opaque and the partition spec non-empty.
        with_pid = with_pid.withColumn(
            "_gconst", F.spark_partition_id() % F.lit(1)
        )
    local = with_pid.select(
        "*",
        *[
            F.coalesce(F.sum(v).over(w_local), F.lit(0)).alias(f"_loc_{v}")
            for v in value_cols
        ],
    )
    totals = with_pid.groupBy("_pid", *gkey).agg(
        *[F.sum(v).alias(f"_t_{v}") for v in value_cols]
    )
    w_off = (
        Window.partitionBy(*gkey)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = totals.select(
        "_pid",
        *gkey,
        *[
            F.coalesce(F.sum(f"_t_{v}").over(w_off), F.lit(0)).alias(
                f"_off_{v}"
            )
            for v in value_cols
        ],
    )
    out = local.join(F.broadcast(off_df), ["_pid", *gkey])
    for v, o in zip(value_cols, out_cols):
        out = out.withColumn(o, F.col(f"_loc_{v}") + F.col(f"_off_{v}"))
    out = out.drop(*[f"_off_{v}" for v in value_cols])

    drop_extra = [] if group_cols else ["_gconst"]
    return out.drop("_pid", *drop_extra, *[f"_loc_{v}" for v in value_cols])


def partitioned_prefix_extremum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str | None = None,
    *,
    group_cols: list | None = None,
    inclusive: bool = False,
    agg: str = "max",
) -> DataFrame:
    """Running MAX/MIN over the total order ``order_cols`` (within
    ``group_cols``), same two-pass scheme as
    :func:`partitioned_prefix_sum` — range-partition + partition-local
    window + per-partition extremum offsets — so no single-partition
    data stage appears anywhere. ``order_cols`` may contain descending
    Column expressions (``F.col("x").desc()``); the range partitioner,
    the local sort and the local window all honor them.

    Rows whose prefix is empty (the global/group first row under
    ``inclusive=False``) get NULL — the honest "no preceding value"
    answer (there is no additive identity for max the way 0 is for
    sum). Downstream, ``F.greatest``/``F.least`` skip NULLs, which is
    exactly how the offsets are merged here.

    The skyline/Pareto operator is the motivating consumer: the
    2-D front is "keep x-groups whose best y beats the running max of
    all better-x groups" — a prefix max over the distinct-x relation.
    """
    if agg not in ("max", "min"):
        raise ValueError(f"agg must be 'max' or 'min', got {agg!r}")
    agg_fn = F.max if agg == "max" else F.min
    comb = F.greatest if agg == "max" else F.least
    out_col = out_col or f"{value_col}_{agg}"
    group_cols = list(group_cols or [])
    order_cols = list(order_cols)

    spark = df.sparkSession
    n_part = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
        2,
    )
    ranged = df.repartitionByRange(
        n_part, *group_cols, *order_cols
    ).sortWithinPartitions(*group_cols, *order_cols)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())

    bound = 0 if inclusive else -1
    w_local = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, bound)
    )
    # Round 17: same lazy unification as partitioned_prefix_sum — the
    # ungrouped path's persist + driver-side collect of partition
    # extrema (2 extra jobs + a cache per call) is replaced by the
    # grouped formula over a constant pseudo-group; the offsets window
    # runs over the ≤ n_part-row totals relation only. greatest/least
    # skip the NULL offset of the first partition, preserving the
    # "empty prefix → local extremum only" semantics exactly.
    gkey = group_cols or ["_gconst"]
    if not group_cols:
        # non-foldable constant — see partitioned_prefix_sum above
        with_pid = with_pid.withColumn(
            "_gconst", F.spark_partition_id() % F.lit(1)
        )
    local = with_pid.select(
        "*", agg_fn(value_col).over(w_local).alias("_loc")
    )
    totals = with_pid.groupBy("_pid", *gkey).agg(
        agg_fn(value_col).alias("_t")
    )
    w_off = (
        Window.partitionBy(*gkey)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = totals.select(
        "_pid", *gkey, agg_fn("_t").over(w_off).alias("_off")
    )
    out = local.join(F.broadcast(off_df), ["_pid", *gkey]).withColumn(
        out_col, comb(F.col("_loc"), F.col("_off"))
    )
    out = out.drop("_off")
    drop_extra = [] if group_cols else ["_gconst"]
    return out.drop("_pid", "_loc", *drop_extra)


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs,
    *,
    group_cols: list | None = None,
) -> DataFrame:
    """Weighted quantiles per group: the left-continuous inverse CDF
    v(q) = min{ v : Σ_{v' ≤ v} w(v') ≥ q·W } — the quantile a
    sample-weighted survey, an importance-weighted corpus mix, or a
    token-budget allocation actually needs (plain percentile_/median
    treats every row as weight 1). With all weights 1 it reduces to the
    "lower" quantile of the unweighted values (pinned in tests).

    Scale design: collapse to the per-(group, value) weight relation
    (hash aggregate, value-cardinality), one INCLUSIVE
    :func:`partitioned_prefix_sum` in value order for the running
    weight, then for each requested q one filter + min-aggregate
    against the broadcast per-group totals — no window over data, no
    sort of the corpus, one prefix pass shared by ALL requested qs.
    Zero/negative weights are rejected upstream of the CDF (a zero
    weight cannot move a quantile; negatives make the CDF non-monotone
    — refused loudly). NULL values are excluded. Output: one row per
    (group, q): (group..., q, value).
    """
    qs = [qs] if isinstance(qs, (int, float)) else list(qs)
    if not qs or any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"each q must be in (0, 1], got {qs}")
    group_cols = list(group_cols or [])
    base = df.select(
        *group_cols,
        F.col(value_col).alias("_v"),
        F.col(weight_col).cast("double").alias("_w"),
    ).filter(F.col("_v").isNotNull() & F.col("_w").isNotNull())
    # negative weights: refuse loudly. The guard must be LOAD-BEARING —
    # a dropped assert_true column gets pruned by Catalyst and never
    # evaluates — so the weight itself is routed through the check:
    # assert_true returns NULL on success, raises on violation.
    base = base.select(
        *group_cols,
        "_v",
        F.when(
            F.assert_true(
                F.col("_w") >= 0, F.lit("weighted_quantile: negative weight")
            ).isNull(),
            F.col("_w"),
        ).alias("_w"),
    ).filter(F.col("_w") > 0)
    dv = base.groupBy(*group_cols, "_v").agg(F.sum("_w").alias("_wsum"))
    cum = partitioned_prefix_sum(
        dv,
        ["_v"],
        "_wsum",
        ["_cw"],
        group_cols=group_cols or None,
        inclusive=True,
    )
    totals = dv.groupBy(*group_cols).agg(F.sum("_wsum").alias("_W"))
    if group_cols:
        joined = cum.join(F.broadcast(totals), group_cols)
    else:
        joined = cum.crossJoin(F.broadcast(totals))
    # ALL qs from ONE aggregate (round-16 optimization): the previous
    # form ran filter + min-aggregate once per q and unioned the
    # results, so the whole CDF lineage (collapse + prefix pass) was
    # replicated — and re-executed — |qs| times per call (measured: a
    # 9-q call over the same relation carried 9 copies of the prefix
    # pass in the plan; qq_drift's two calls made it 18). A conditional
    # min per q over the SAME prefix relation is the identical
    # left-continuous inverse CDF — min over {v : cw ≥ q·W} — computed
    # in one pass, then unpivoted to the same (group..., q, value) rows.
    agg = joined.groupBy(*group_cols).agg(
        *[
            F.min(
                F.when(
                    F.col("_cw") >= F.lit(float(q)) * F.col("_W"), F.col("_v")
                )
            ).alias(f"_q_{i}")
            for i, q in enumerate(qs)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"), F.col(f"_q_{i}").alias("value")
            )
            for i, q in enumerate(qs)
        ]
    )
    return agg.select(*group_cols, F.explode(pairs).alias("_p")).select(
        *group_cols, F.col("_p.q").alias("q"), F.col("_p.value").alias("value")
    )
