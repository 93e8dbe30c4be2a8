"""Threaded oracle-replay prefetch shared by the declared and extra
replay suites.

The replay block is ~454 independent (Spark query → DuckDB oracle →
compare) checks, each a tiny sf0.001/sf0.01 job whose wall is dominated
by driver/scheduler constants, run strictly sequentially by pytest. The
optimization guide's §2.6 ("overlap independent jobs — actions are only
sequential because your driver code calls them sequentially") applies
directly: a session-scoped prefetch runs every replay through a small
thread pool ONCE per (suite, SF) and memoizes each query's verdict; the
parametrized tests then assert their memoized entry, preserving
one-test-per-query reporting, the exact per-query assertions, and zero
skips. Total Spark/DuckDB work is unchanged — only the idle driver time
between tiny jobs is overlapped.

Thread-safety inventory: concurrent actions on one SparkSession are
supported (each thread gets its own py4j connection); cache.py's
registry appends are GIL-atomic and the release happens once,
single-threaded, after the pool drains; DuckDB connections are NOT
thread-safe, so each worker owns one via threading.local (closed at the
end); plan-guardrail walks are per-thread py4j traffic.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

from _guardrail import assert_plan_guardrail
from _sfs import SF_SMOKE

#: small pool: enough to hide the per-job driver latency, not enough to
#: oversubscribe the local[8] test session (guide §2.6: "2-3 jobs in
#: flight is plenty" — replay jobs are tinier than that advice assumes)
_WORKERS = 4


def is_smoke_dir(sf_dir) -> bool:
    """True iff ``sf_dir`` names the smoke SF — compared as resolved
    paths, so a trailing slash or a symlink still gets the guardrail."""
    return os.path.realpath(sf_dir) == os.path.realpath(SF_SMOKE)


def prefetch_replays(spark, sf_dir, queries, oracles, extra_check=None):
    """Run every ``name -> problems`` replay concurrently; return the
    memo dict. ``extra_check(name, oracle_pdf)`` may add problems (the
    declared suite's SURVEY row-count self-check)."""
    from swivel_spark_prep_spark.cache import release_persisted
    from swivel_spark_prep_spark.oracle import compare_frames, duckdb_connection

    tls = threading.local()
    cons: list = []
    cons_lock = threading.Lock()

    def one(name):
        try:
            df = queries[name](spark, sf_dir)
            problems: list[str] = []
            if is_smoke_dir(sf_dir):
                # guardrail on the SAME DataFrame the replay executes —
                # one Catalyst planning pass per query per suite run
                try:
                    assert_plan_guardrail(name, df)
                except AssertionError as e:
                    problems.append(f"plan guardrail: {e}")
            pdf = df.toPandas()
            con = getattr(tls, "con", None)
            if con is None:
                con = tls.con = duckdb_connection(sf_dir)
                with cons_lock:
                    cons.append(con)
            oracle_pdf = con.execute(oracles[name]).fetchdf()
            if extra_check is not None:
                problems.extend(extra_check(name, oracle_pdf))
            problems.extend(compare_frames(pdf, oracle_pdf))
            return problems
        except Exception as e:  # surfaced by the query's own test
            return [f"exception: {type(e).__name__}: {e}"]

    names = sorted(oracles)
    try:
        with ThreadPoolExecutor(max_workers=_WORKERS) as pool:
            return dict(zip(names, pool.map(one, names)))
    finally:
        release_persisted()
        for con in cons:
            try:
                con.close()
            except Exception:
                pass
