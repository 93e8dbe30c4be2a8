"""The repository's benchmark.

    python3 perfbench/run.py --workload declared --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the repository root. Workloads: ``declared``, ``extras``,
``stream`` and ``prep`` (see README.md). A run makes its inputs from the
seed and sets up the Spark session (session creation plus one untimed
warm-up op) in a fresh JVM; that cold set-up is ``setup_s``. It then
re-creates the session twice in the same JVM, for the ``# info`` line,
and runs whole passes over the workload's ops on ``local[<cpus>]`` until
``--seconds`` have passed (at least one pass). It checks every op's
output outside the timer and prints one JSON object as its last stdout
line. ``--trace 1`` runs each op traced and untraced, in pairs, and
reports per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "swivel_spark_prep_spark"
SETUPS = 3

END_TO_END = {"setup_s": "s", "total_s": "s", "op_geomean_ms": "ms"}
#: per-layer metrics of a traced run (BENCHMARK.json "per_layer"): the
#: layers both timed workloads exercise
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_ms": "ms", "queries.analysis_ms": "ms",
    "queries.optimization_ms": "ms", "queries.planning_ms": "ms",
    "queries.exec_ms": "ms", "queries.fetch_ms": "ms", "queries.jobs": "count",
    "ranks.kernel_calls": "count",
    "cache.persists": "count", "cache.stored_mb": "MB", "cache.release_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.busy_frac": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.failed_tasks": "count", "trace.overhead_s": "s",
}
#: layer metrics that only some workloads exercise (zero elsewhere); a
#: traced run prints them on its "# info" line and in its trace file
LAYER_EXTRA = {
    "swivel.prep_s": "s", "swivel.build_vocab_s": "s", "swivel.assign_ids_s": "s",
    "swivel.jobs": "count", "swivel.vocab_size": "count", "swivel.nnz": "count",
    "swivel.shuffle_records_per_nnz": "ratio",
    "sinks.write_outputs_s": "s", "sinks.files": "count", "sinks.mb": "MB",
    "ranks.kernel_build_ms": "ms",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.jobs_per_batch": "count",
    "streaming.state_rows": "count", "streaming.last_over_first": "ratio",
}


class Context:
    """Seed, host size and the run's directories, all inside the checkout."""

    def __init__(self, seed: int, cpus: int):
        self.seed, self.cpus = seed, cpus
        self.cache = os.path.join(ROOT, ".bench_cache")
        self.out = os.path.join(ROOT, ".bench_out")
        self.work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
        self._n = 0
        for d in (self.cache, self.out, self.work):
            os.makedirs(d, exist_ok=True)

    def counter(self) -> int:
        self._n += 1
        return self._n

    def cached_dir(self, name: str, build) -> str:
        """``cache/<name>-<digest of the input generators>``, built once by
        ``build(tmp_dir)`` and published with an atomic rename."""
        path = os.path.join(self.cache, f"{name}-{self._code_digest()}")
        if not os.path.isdir(path):
            tmp = f"{path}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            build(tmp)
            try:
                os.rename(tmp, path)
            except OSError:  # built concurrently by another run
                shutil.rmtree(tmp, ignore_errors=True)
        return path

    @staticmethod
    def _code_digest() -> str:
        h = hashlib.sha256()
        for f in ("datagen.py", "prepcheck.py"):
            with open(os.path.join(HERE, f), "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()[:10]

    def fresh_dir(self, prefix: str) -> str:
        path = os.path.join(self.work, f"{prefix}-{self.counter()}")
        os.makedirs(path)
        return path


def _spark_conf(ctx: Context, heap_mb: int) -> dict:
    return {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work}",
    }


def _release(spark) -> float:
    from swivel_spark_prep_spark import cache

    t0 = time.perf_counter()
    cache.release_persisted()
    spark.catalog.clearCache()
    return time.perf_counter() - t0


def _stop_jvm(spark) -> None:
    """Stop the session and the Spark JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _run_op(spark, wl, op, group: str, tracer) -> dict:
    """Run one op under its own job group and time it. Its output is
    checked after the timer has stopped."""
    import tracing

    released = _release(spark)
    spark.sparkContext.setJobGroup(group, op.name)
    if tracer is not None:
        tracer.op = group
    span = tracer.span("op", label=op.name) if tracer else contextlib.nullcontext()
    t0 = time.perf_counter()
    err = None
    with span:
        try:
            result = op.run(spark, tracer)
        except Exception as e:  # an op that raises counts as failed
            result, err = None, f"{type(e).__name__}: {str(e)[:300]}"
    wall = time.perf_counter() - t0
    rec = {"op": op.name, "group": group, "wall": wall, "released_s": released,
           "latency": wall, "problems": [err] if err else []}
    if isinstance(result, dict) and "latency" in result:
        rec["latency"] = result["latency"]
        rec["service"], rec["batch"] = result["service"], result["batch"]
    rec["counters"] = tracing.group_counters(spark, group)
    if tracer is not None:
        rec["stored_mb"] = tracing.stored_mb(spark)
    if result is not None:
        try:
            rec["problems"] += wl.check(op, result)
        except Exception as e:
            rec["problems"].append(f"check raised {type(e).__name__}: {str(e)[:300]}")
    return rec


def run_pass(spark, wl, pass_id: int, tracer=None, paired: bool = False) -> list[dict]:
    """One pass over the workload's ops; checks run outside the timer.

    With ``paired``, every op runs twice in a row, once traced and once
    untraced, with the traced run first on odd ops; the ops' probes run
    after both. The result is two passes, traced then untraced, that saw
    the same JVM warm-up. Otherwise it is one pass, traced if ``tracer``
    is given."""
    records = {True: [], False: []}
    for i, op in enumerate(wl.ops()):
        if not paired:
            records[tracer is not None].append(
                _run_op(spark, wl, op, f"bench-p{pass_id}-{i:03d}", tracer))
            continue
        for traced in ((True, False) if i % 2 else (False, True)):
            tracer.enabled = traced
            group = f"bench-p{pass_id}{'t' if traced else 'u'}-{i:03d}"
            records[traced].append(_run_op(spark, wl, op, group, tracer if traced else None))
        tracer.enabled = True
        rec = records[True][-1]
        if op.probe is not None and not rec["problems"]:
            spark.sparkContext.setJobGroup(rec["group"], op.name)
            tracer.op = rec["group"]
            op.probe(spark, tracer)
    spark.sparkContext.setJobGroup("bench-finish", "checks")
    try:
        finish = wl.finish(spark)
    except Exception as e:
        finish = [f"pass check raised {type(e).__name__}: {str(e)[:300]}"]
    kinds = (True, False) if paired else (tracer is not None,)
    passes = [{"ops": records[t], "total_s": sum(r["wall"] for r in records[t]),
               "problems": []} for t in kinds]
    passes[0]["problems"] = finish
    return passes


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def layer_metrics(stats: dict, traced: dict, untraced: dict, tracer,
                  session_start_s: float, cpus: int) -> dict:
    ops = traced["ops"]
    m = {k: 0.0 for k in {**PER_LAYER, **LAYER_EXTRA}}
    m["session.start_s"] = session_start_s
    for fn in ("prep", "build_vocab", "assign_ids"):
        m[f"swivel.{fn}_s"] = tracer.total(f"swivel.{fn}")
    swivel_groups = {s["op"] for s in tracer.spans if s["name"].startswith("swivel.")}
    m["swivel.jobs"] = sum(r["counters"]["jobs"] for r in ops if r["group"] in swivel_groups)
    m["swivel.vocab_size"] = stats.get("vocab_size", 0)
    m["swivel.nnz"] = stats.get("nnz", 0)
    if stats.get("nnz"):
        m["swivel.shuffle_records_per_nnz"] = sum(
            r["counters"]["shuffle_write_records"] for r in ops
            if r["group"] in swivel_groups) / stats["nnz"]
    m["sinks.write_outputs_s"] = tracer.total("sinks.write_outputs")
    m["sinks.files"] = stats.get("files", 0)
    m["sinks.mb"] = stats.get("mb", 0.0)

    by_op: dict[str, dict] = {}
    for s in tracer.spans:
        if s["name"].startswith("queries.") and s["end"] is not None:
            d = by_op.setdefault(s["op"], {})
            d[s["name"]] = s["end"] - s["start"]
            if "phases" in s:
                d["phases"] = s["phases"]
    if by_op:
        q = list(by_op.values())
        m["queries.build_ms"] = _median([d["queries.build"] * 1e3 for d in q])
        m["queries.exec_ms"] = _median([d["queries.exec"] * 1e3 for d in q])
        m["queries.fetch_ms"] = _median(
            [(d["queries.exec_fetch"] - d["queries.exec"]) * 1e3 for d in q])
        for ph in ("analysis", "optimization", "planning"):
            m[f"queries.{ph}_ms"] = _median([d["phases"].get(ph, 0.0) for d in q])
        m["queries.jobs"] = sum(r["counters"]["jobs"] for r in ops if r["group"] in by_op)

    m["ranks.kernel_calls"] = tracer.count("ranks.kernel")
    m["ranks.kernel_build_ms"] = tracer.total("ranks.kernel") * 1e3
    m["cache.persists"] = tracer.count("cache.persist")
    m["cache.stored_mb"] = max(r["stored_mb"] for r in ops)
    m["cache.release_s"] = sum(r["released_s"] for r in ops)

    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms")):
        vals = [p["durationMs"].get(key, 0.0) for p in stats.get("progress", [])]
        m[f"streaming.{name}"] = _median(vals)
    batches = stats.get("batch_jobs", [])
    m["streaming.jobs_per_batch"] = statistics.fmean(batches) if batches else 0.0
    m["streaming.state_rows"] = stats.get("state_rows", 0)
    m["streaming.last_over_first"] = stats.get("last_over_first", 0.0)

    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "failed_tasks"):
        m[f"spark.{key}"] = sum(r["counters"][key] for r in ops) + sum(
            c[key] for c in stats.get("extra_counters", []))
    busy_wall = traced["total_s"] * cpus
    m["spark.busy_frac"] = m["spark.task_run_s"] / busy_wall if busy_wall else 0.0
    m["trace.overhead_s"] = traced["total_s"] - untraced["total_s"]
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["declared", "extras", "stream", "prep"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="check that the prep checker rejects corrupted outputs")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG}/ not found next to perfbench/ — run from a full checkout",
              file=sys.stderr)
        return 2
    if not (args.workload or args.selfcheck):
        ap.error("--workload is required")

    sys.path[:0] = [ROOT, HERE]
    # Python workers import the package from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import host

    ctx = Context(args.seed, host.cpus())
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = ctx.work
    try:
        if args.selfcheck:
            return _selfcheck(ctx)
        return _run(ctx, args)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)


def _selfcheck(ctx: Context) -> int:
    import datagen
    import prepcheck
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = datagen.zipf_corpus(ctx.seed, 300, 40, 2000, 1.1)
    corpus = os.path.join(ctx.work, "corpus.parquet")
    pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                             "text": [r[1] for r in rows]}), corpus)
    errors = prepcheck.self_check(corpus, ctx.fresh_dir("selfcheck"))
    for e in errors:
        print(f"selfcheck: {e}", file=sys.stderr)
    print(json.dumps({"selfcheck": "fail" if errors else "ok", "errors": errors}))
    return 1 if errors else 0


def _run(ctx: Context, args) -> int:
    import datagen
    import host
    import tracing
    import workloads
    from swivel_spark_prep_spark import session

    heap_mb = host.jvm_heap_mb()
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.prepare()
    anchor_tables = ctx.cached_dir(
        f"tables-sf{host.ANCHOR_SF}-seed0",
        lambda d: datagen.write_tables(d, 0, host.ANCHOR_SF))
    anchors_before = host.anchors(anchor_tables, ctx.cpus)

    conf = _spark_conf(ctx, heap_mb)
    setups, starts = [], []
    spark = None
    for i in range(SETUPS):
        # the first set-up launches the JVM, as a user's first call does;
        # the others re-create the session in it
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session.get_session("perfbench", master=f"local[{ctx.cpus}]", conf=conf)
        starts.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        _release(spark)
        wl.warmup().run(spark, None)
        setups.append(time.perf_counter() - t0)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    passes = []
    tracer = None
    t_measure = time.perf_counter()
    if args.trace:
        # traced and untraced runs of each op are paired, so both see the
        # same JVM warm-up; a stream op is one batch of a running query and
        # cannot run twice, so there a traced pass, the first after set-up,
        # is followed by an untraced one on a warmer JVM
        tracer = tracing.Tracer()
        tracing.install(tracer)
        passes += run_pass(spark, wl, 0, tracer, paired=wl.repeatable)
        wl.collect_stats(spark, passes[0], tracer)
        stats = dict(wl.stats)
        if not wl.repeatable:
            tracer.enabled = False
            passes += run_pass(spark, wl, 1)
    else:
        while not passes or time.perf_counter() - t_measure < args.seconds:
            passes += run_pass(spark, wl, len(passes))
        wl.collect_stats(spark, passes[-1], None)
        stats = wl.stats
    rss = host.rss_peak_mb(jvm_pid)
    info = {"host": {"cpus": ctx.cpus, "mem_total_mb": host.mem_total_mb(),
                     "jvm_heap_mb": heap_mb, **host.versions(spark)}}
    _release(spark)
    _stop_jvm(spark)
    anchors_after = host.anchors(anchor_tables, ctx.cpus)

    ops = [r for p in passes for r in p["ops"]]
    failed_ops = [r for r in ops if r["problems"]]
    pass_problems = [x for p in passes for x in p["problems"]]
    attempted = len(ops)
    failed = min(attempted, len(failed_ops) + len(pass_problems))
    lat_ms = sorted(r["latency"] * 1e3 for r in ops)
    info.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "ops_per_pass": len(passes[0]["ops"]),
        "setup_runs_s": setups, "session_start_s": starts,
        "anchors_before_ms": anchors_before, "anchors_after_ms": anchors_after,
        "contended": host.contended(anchors_before, anchors_after),
        "failed_frac": failed / attempted,
        "task_cpu_s": _median([sum(r["counters"]["task_cpu_s"] for r in p["ops"])
                               for p in passes]),
        "rss_peak_mb": rss,
        "op_p50_ms": _median(lat_ms),
        "op_p90_ms": statistics.quantiles(lat_ms, n=10)[-1] if len(lat_ms) >= 20 else None,
        "problems": [f"{r['op']}: {p}" for r in failed_ops for p in r["problems"]][:20]
        + pass_problems[:20],
        "ops": [{k: r.get(k) for k in ("op", "wall", "latency", "counters")} for r in ops],
    })
    if tracer is not None:
        metrics = layer_metrics(stats, passes[0], passes[1], tracer, starts[0], ctx.cpus)
        units = PER_LAYER
        info["layer_extra"] = {k: metrics[k] for k in LAYER_EXTRA}
        tracer.dump(os.path.join(ctx.out, f"trace-{args.workload}-seed{args.seed}.json"),
                    {"info": info, "metrics": metrics})
    else:
        metrics = {
            "setup_s": setups[0],
            "total_s": _median([p["total_s"] for p in passes]),
            "op_geomean_ms": math.exp(statistics.fmean(math.log(x) for x in lat_ms)),
        }
        units = END_TO_END
    info["out_mb"] = stats.get("mb")
    with open(os.path.join(ctx.out, f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({"info": info, "metrics": metrics}, f, indent=1, default=str)
    for p in info["problems"]:
        print(f"# failed: {p}", file=sys.stderr)
    if info["contended"]:
        print("# contended: anchors outside their gates", anchors_before, anchors_after,
              file=sys.stderr)
    print("# info " + json.dumps({k: v for k, v in info.items() if k != "ops"}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
