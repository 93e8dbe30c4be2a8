"""Session-level registry for persisted intermediates.

Several operators persist() a relation that feeds two or more downstream
consumers (Spark has no common-subplan reuse, so without the persist the
lineage — shingling, signatures, tokenization — would be recomputed per
consumer). Those operators return a LAZY DataFrame, so they cannot
unpersist inside the function: the blocks must survive until the caller
fetches the result.

The contract: operators persist through ``track_persist``; the session
owner calls ``release_persisted()`` after each query's results are
fetched (bench.py does this between queries; tests/conftest.py does it
after every test). A long-lived session that never releases simply
accumulates bounded-size intermediates until ``spark.catalog.clearCache()``
— the registry makes the cleanup explicit instead of leaking handles.

Width: session.py defaults
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` to true,
so the plan behind a persist is AQE-coalesced like any other query and
persisted intermediates are stored — and scanned — at coalesced width: a
cached aggregate of a few KB is one partition and one task per scan, not
one per shuffle partition. An explicit-width exchange
(``repartition(n)``, ``repartitionByRange(n, ...)``) keeps its n.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []

#: Default cap for :func:`bounded_distinct` — generous for any real
#: group/label/shard vocabulary, tiny next to corpus row counts.
BOUNDED_DISTINCT_CAP = 10_000


def bounded_distinct(df: DataFrame, col: str, cap: int = BOUNDED_DISTINCT_CAP):
    """Collect the distinct values of a *k-bounded* control-plane column
    (group labels, bucket ids, shard keys) — and RAISE instead of
    silently flooding the driver when the column turns out not to be
    bounded (the classic miscall: a value column passed where a group
    column was expected).

    The plan fetches at most ``cap + 1`` rows (``distinct().limit()``),
    so driver memory is bounded by the cap regardless of the column's
    true cardinality — the guard itself costs O(cap), never O(rows).
    Returns the values as a plain list (unsorted; callers sort).
    """
    rows = df.select(col).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"bounded_distinct: column {col!r} exceeds {cap} distinct "
            "values — not a bounded control-plane vocabulary (pass a "
            "group/label column, or raise cap deliberately)"
        )
    return [r[col] for r in rows]


def fan_out(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Round-robin repartition a NARROW relation up to the session's
    default parallelism before CPU-heavy per-row expansion (a wide
    explode, shingling/hashing, interpreted higher-order-function
    evaluation, a broadcast-nested-loop probe).

    Why (guide §2.5, input skew): the fixture tables are single-file
    single-row-group parquet, so every scan arrives as ONE input split —
    and AQE coalesces small post-shuffle relations back to one partition
    — leaving everything upstream of the first wide exchange on one of
    the master's cores. The repartition moves only the NARROW
    pre-expansion rows (cheap) and parallelizes the expansion, which is
    where the CPU is. Unconditional rather than width-probed: checking
    the current width via ``df.rdd`` forces a full plan-to-RDD
    conversion (the zorder anti-pattern), and on an already-wide input
    the extra round-robin exchange of narrow rows is noise next to the
    work it rebalances. Scale-adaptive by construction —
    ``defaultParallelism`` follows the master/core count, never a
    constant tuned to this sandbox.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * max(1, multiplier)
    return df.repartition(target)


def track_persist(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and register it for later release."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every registered intermediate (blocking=False — block
    eviction proceeds async, callers don't wait on executor cleanup).
    Returns how many handles were released."""
    n = len(_PERSISTED)
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    return n


@contextlib.contextmanager
def persisted_scope():
    """Self-enforcing form of the track_persist contract: everything an
    operator persists inside the ``with`` block is released on exit —
    including on exception — so a library caller composing several
    operators in one session cannot accumulate blocks by forgetting the
    release call. Intermediates persisted BEFORE entry are untouched
    (the scope releases only what it saw created).

    Usage::

        with persisted_scope():
            result = minhash_near_dups(docs).collect()

    Fetch results INSIDE the block — the lazy DataFrames an operator
    returns depend on the persisted blocks the exit releases.
    """
    mark = len(_PERSISTED)
    try:
        yield
    finally:
        while len(_PERSISTED) > mark:
            df = _PERSISTED.pop()
            try:
                df.unpersist()
            except Exception:
                pass


def checkpoint_truncate(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint PLUS size-statistics truncation — the
    checkpoint primitive every multi-round iterative operator here
    (bradley_terry, dawid_skene, long-horizon pagerank) must use.

    ``localCheckpoint(eager=True)`` truncates the LOGICAL plan but
    copies the optimized plan's estimated statistics into the resulting
    LogicalRDD. An iteration whose update joins the state relation
    twice (MM denominators, EM M-steps, rank contributions) therefore
    SQUARES the estimated sizeInBytes every round: the BigInteger's
    digit count doubles per iteration (measured: 56 → 131 → 280 → 577
    → 1173 → 2364 across 6 rounds of the Bradley–Terry update), and by
    ~iteration 25 Catalyst's SizeInBytesOnlyStatsPlanVisitor spends
    MINUTES in BigInteger.multiply on a number with ~10^9 digits — the
    driver hangs in planning long before any data moves.

    The fix: rebuild the DataFrame from the checkpointed InternalRow
    RDD via SparkSession.internalCreateDataFrame (JVM-side, zero data
    movement, no Python round-trip) so the new LogicalRDD carries NO
    inherited statistics — the stats visitor sees the conf default,
    a constant, and per-iteration estimates stay bounded. Planner
    effect: the state relation is treated as large (defaultSizeInBytes),
    which only disables auto-broadcast — every explicit broadcast()
    in the operators is unaffected. Falls back to the plain eager
    localCheckpoint if the internal constructor is unavailable.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        spark = ck.sparkSession
        jrdd = jdf.queryExecution().toRdd()
        schema = jdf.schema()
        fresh = spark._jsparkSession.internalCreateDataFrame(jrdd, schema, False)
        return DataFrame(fresh, spark)
    except Exception:
        return ck
