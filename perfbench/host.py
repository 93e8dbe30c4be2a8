"""Host sizing, contention anchors and process memory for a benchmark run."""

from __future__ import annotations

import os
import platform
import statistics
import time

#: DuckDB calibration anchors: the oracle SQL of one hash aggregate (Q13),
#: one window frame (Q20) and one scalar-compute + sort + wide fetch (Q28),
#: on fixed generated tables (seed 0, sf0.01). Gates are the medians of 20
#: readings on a quiet 4-CPU host, times 1.5: a run whose anchors exceed a
#: gate, before or after, is labelled contended. See README.md.
ANCHORS = {
    "q13": ("Q13_agg_tpch_q1", 11.0),
    "q20": ("Q20_win_frame_running", 15.0),
    "q28": ("Q28_math_funcs", 100.0),
}
ANCHOR_SF = 0.01


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def jvm_heap_mb() -> int:
    """A quarter of physical memory, between 1 GiB and 8 GiB: the Spark
    JVM shares the host with this Python process, the Python workers and
    the page cache."""
    return max(1024, min(8192, mem_total_mb() // 4))


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
    }


def anchors(tables_dir: str, threads: int) -> dict:
    """Median-of-3 wall (ms) of each anchor, execute plus full fetch."""
    from swivel_spark_prep_spark.oracle import duckdb_connection
    from swivel_spark_prep_spark.queries.declared import DECLARED_ORACLES

    con = duckdb_connection(tables_dir)
    con.execute(f"SET threads={threads}")
    out = {}
    for key, (name, _gate) in ANCHORS.items():
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(DECLARED_ORACLES[name]).fetchall()
            samples.append((time.perf_counter() - t0) * 1000)
        out[key] = statistics.median(samples)
    con.close()
    return out


def contended(*readings: dict) -> bool:
    return any(r.get(k, 0.0) > gate for r in readings for k, (_, gate) in ANCHORS.items())


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def rss_peak_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the Spark JVM."""
    return _hwm_mb("self") + _hwm_mb(jvm_pid)
