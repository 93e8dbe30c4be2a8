"""Spans around the project's public calls, and Spark's own counters.

Tracing is installed only for ``--trace 1`` runs. Wrappers record spans
(name, start, end, parent, op id) in memory; :meth:`Tracer.dump` writes
them out at the end of the run. Spark counters are read over py4j with
the UI disabled:

- ``statusTracker().getJobIdsForGroup`` and ``getJobInfo`` give the jobs
  and stages of the job group set around each op;
- ``statusStore().lastStageAttempt`` gives each stage's task metrics;
- ``queryExecution().tracker().phases()`` gives the Catalyst phases;
- ``StreamingQuery.recentProgress`` gives the micro-batch durations.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

_PKG = "swivel_spark_prep_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.enabled = True

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        """Seconds spent in spans called ``name``; nested calls of the
        same name (a kernel calling itself through a consumer) count once."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and not self._has_ancestor(s, name))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def _has_ancestor(self, s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False

    # -- wrapping -------------------------------------------------------
    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper, and
        every other binding of the same function object in the project's
        loaded modules, so consumers that imported the function at module
        level (``from ..ranks import partitioned_prefix_sum``) are traced
        too. Function-level imports read the module attribute at call
        time and see the wrapper directly."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            with tracer.span(name):
                return orig(*a, **kw)

        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname == _PKG or mname.startswith(_PKG + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": (s["end"] or s["start"]) - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f)


def install(tracer: Tracer) -> None:
    """Wrap the public calls of every measured layer."""
    import importlib

    mods = {
        m: importlib.import_module(f"{_PKG}.{m}")
        for m in ("session", "cache", "operators.swivel", "operators.ranks",
                  "streaming")
    }
    # import every consumer of the kernels first so their module-level
    # bindings exist when the kernels are wrapped
    for m in ("queries.declared", "queries.extra", "operators.evalmetrics",
              "operators.skyline", "operators.quality", "operators.timeseries",
              "operators.dedup"):
        importlib.import_module(f"{_PKG}.{m}")
    tracer.wrap(mods["session"], "get_session", "session.start")
    tracer.wrap(mods["cache"], "track_persist", "cache.persist")
    tracer.wrap(mods["cache"], "release_persisted", "cache.release")
    sw = mods["operators.swivel"]
    for fn in ("prep", "build_vocab", "assign_ids", "cooc_matrix"):
        tracer.wrap(sw, fn, f"swivel.{fn}")
    tracer.wrap(sw, "write_outputs", "sinks.write_outputs")
    for fn in ("partitioned_prefix_sum", "partitioned_prefix_extremum",
               "weighted_quantile"):
        tracer.wrap(mods["operators.ranks"], fn, "ranks.kernel")
    tracer.wrap(mods["streaming"], "_near_dedup_apply", "streaming.near_dedup_apply")


# -- Spark counters ------------------------------------------------------
_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("task_run_s", "executorRunTime", 1e-3),
    ("task_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("spill_mb", "diskBytesSpilled", 1 / 2**20),
    ("failed_tasks", "numFailedTasks", 1),
    ("shuffle_write_records", "shuffleWriteRecords", 1),
)


def group_counters(spark, group: str) -> dict:
    """Jobs, stages and summed task metrics of one job group."""
    sc = spark.sparkContext._jsc.sc()
    tracker, store = sc.statusTracker(), sc.statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info.isDefined():
            stages.update(int(s) for s in info.get().stageIds())
    out = {k: 0.0 for k, _, _ in _STAGE_FIELDS}
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # evicted from the store or never submitted
            continue
        if str(st.status()) == "SKIPPED":
            continue
        for key, getter, scale in _STAGE_FIELDS:
            out[key] += getattr(st, getter)() * scale
    out["jobs"] = len(jobs)
    out["stages"] = len(stages)
    out["job_ids"] = sorted(int(j) for j in jobs)
    return out


def catalyst_phases(df) -> dict:
    """Catalyst phase durations (ms) of the query a DataFrame executed."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = float(kv._2().durationMs())
    return out


def stored_mb(spark) -> float:
    """Memory plus disk held by cached RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum((i.memSize() + i.diskSize()) for i in infos) / 2**20
