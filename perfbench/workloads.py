"""The benchmark's workloads: ``prep``, ``declared``, ``extras``, ``stream``.

Each workload makes its inputs from the seed (``prepare``, untimed and
cached per input), has one untimed warm-up op, and yields the ops of one
pass. An op returns its result; ``check`` compares it with the reference
outside the timer. See perfbench/README.md for why each was chosen.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pickle
import shutil
import time

import datagen

PREFIX_KERNEL_EXTRAS = [
    "X169_spearman", "X197_kaplan_meier", "X199_fdr_drift", "X214_good_turing",
    "X268_psi_timeline", "X302_holm_adjust", "X320_logrank_k", "X361_fdr_by",
]
DEDUP_EXTRAS = ["X06_minhash_near_dups", "X38_contamination", "X40_dedup_clusters"]
#: scale factor of the generated star-schema tables
QUERY_SF = 0.01


def _hash_files(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def written(*dirs: str) -> tuple[int, float]:
    """Data files and MB under ``dirs`` (Spark's hidden/marker files excluded)."""
    files, size = 0, 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
    return files, size / 2**20


class Op:
    """One timed operation. ``run(spark, tracer)`` returns the result. A
    traced pass calls ``probe(spark, tracer)``, if given, after the op's
    timer has stopped."""

    def __init__(self, name: str, run, probe=None):
        self.name, self.run, self.probe = name, run, probe


class Workload:
    """Defaults: ops that can run twice in a row, no per-op check, no
    end-of-pass check, no layer stats."""

    repeatable = True
    stats: dict = {}

    def check(self, op: Op, result) -> list[str]:
        return []

    def finish(self, spark) -> list[str]:
        return []

    def collect_stats(self, spark, last_pass: dict, tracer) -> None:
        pass


# -- declared / extras ------------------------------------------------------
class QueryWorkload(Workload):
    """Registered queries on the seeded tables, fetched in full via Arrow,
    each compared with its DuckDB oracle (cached per input + SQL hash)."""

    warmup_query = "Q01_scan_project"

    def __init__(self, names_fn, ctx):
        self.ctx = ctx
        self._names_fn = names_fn

    def prepare(self) -> None:
        from swivel_spark_prep_spark.oracle import duckdb_connection
        from swivel_spark_prep_spark.queries.declared import DECLARED_ORACLES, DECLARED_QUERIES
        from swivel_spark_prep_spark.queries.extra import EXTRA_ORACLES, EXTRA_QUERIES

        self.queries = {**DECLARED_QUERIES, **EXTRA_QUERIES}
        oracles = {**DECLARED_ORACLES, **EXTRA_ORACLES}
        self.names = self._names_fn(self.queries)
        self.data = self.ctx.cached_dir(
            f"tables-sf{QUERY_SF}-seed{self.ctx.seed}",
            lambda d: datagen.write_tables(d, self.ctx.seed, QUERY_SF),
        )
        in_hash = _hash_files(glob.glob(os.path.join(self.data, "*.parquet")))
        self.expected = {}
        con = None
        for name in self.names + [self.warmup_query]:
            sql = oracles[name]
            key = hashlib.sha256(f"{in_hash}\0{sql}".encode()).hexdigest()[:24]
            path = os.path.join(self.ctx.cache, "oracle", f"{key}.pkl")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb_connection(self.data)
                    con.execute(f"SET threads={self.ctx.cpus}")
                frame = con.execute(sql).fetchdf()
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path + ".tmp", "wb") as f:
                    pickle.dump(frame, f)
                os.replace(path + ".tmp", path)
            with open(path, "rb") as f:
                self.expected[name] = pickle.load(f)
        if con is not None:
            con.close()

    def _op(self, name: str) -> Op:
        fn = self.queries[name]
        data = self.data

        built = {}

        def run(spark, tracer):
            if tracer is None:
                return fn(spark, data).toArrow()
            from tracing import catalyst_phases

            with tracer.span("queries.build"):
                df = built["df"] = fn(spark, data)
            with tracer.span("queries.exec_fetch") as s:
                table = df.toArrow()
            s["phases"] = catalyst_phases(df)
            return table

        def probe(spark, tracer):
            # execution alone, into the noop sink, under its own job group,
            # so neither the op's wall nor its counters include it
            sc = spark.sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{group}-noop", "noop sink")
            with tracer.span("queries.exec"):
                built.pop("df").write.format("noop").mode("overwrite").save()
            sc.setJobGroup(group, name)

        return Op(name, run, probe)

    def warmup(self) -> Op:
        return self._op(self.warmup_query)

    def ops(self) -> list[Op]:
        return [self._op(n) for n in self.names]

    def check(self, op: Op, result) -> list[str]:
        from swivel_spark_prep_spark.oracle import compare_frames

        return compare_frames(result.to_pandas(), self.expected[op.name])


def declared(ctx):
    return QueryWorkload(lambda q: sorted(n for n in q if n.startswith("Q")), ctx)


def extras(ctx):
    return QueryWorkload(lambda q: PREFIX_KERNEL_EXTRAS + DEDUP_EXTRAS, ctx)


# -- prep -------------------------------------------------------------------
class PrepWorkload(Workload):
    """swivel.prep() + swivel.write_outputs() on a seeded Zipfian corpus."""

    N_DOCS, MEAN_LEN, N_TYPES, EXPONENT = 20_000, 60, 100_000, 1.1

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        import prepcheck

        def corpus(d, n_docs=self.N_DOCS, seed=self.ctx.seed):
            import pyarrow as pa
            import pyarrow.parquet as pq

            rows = datagen.zipf_corpus(seed, n_docs, self.MEAN_LEN, self.N_TYPES, self.EXPONENT)
            pq.write_table(
                pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}),
                os.path.join(d, "corpus.parquet"),
            )

        shape = f"{self.N_DOCS}x{self.MEAN_LEN}-{self.N_TYPES}-{self.EXPONENT}"
        self.corpus = os.path.join(
            self.ctx.cached_dir(f"corpus-{shape}-seed{self.ctx.seed}", corpus), "corpus.parquet")
        self.small = os.path.join(
            self.ctx.cached_dir(f"corpus-small-seed{self.ctx.seed}",
                                lambda d: corpus(d, n_docs=500)), "corpus.parquet")
        ref_dir = self.ctx.cached_dir(
            f"prep-ref-{shape}-seed{self.ctx.seed}",
            lambda d: self._save_ref(prepcheck.reference(self.corpus), d))
        with open(os.path.join(ref_dir, "ref.pkl"), "rb") as f:
            self.ref = pickle.load(f)

    @staticmethod
    def _save_ref(ref, d):
        with open(os.path.join(d, "ref.pkl"), "wb") as f:
            pickle.dump(ref, f)

    def _op(self, name: str, corpus: str) -> Op:
        def run(spark, tracer):
            from swivel_spark_prep_spark.operators import swivel

            out = self.ctx.fresh_dir("prep-out")
            docs = spark.read.parquet(corpus)
            res = swivel.prep(docs)
            swivel.write_outputs(res, out)
            return res, out

        return Op(name, run)

    def warmup(self) -> Op:
        return self._op("prep-warmup", self.small)

    def ops(self) -> list[Op]:
        return [self._op("prep", self.corpus)]

    def check(self, op: Op, result) -> list[str]:
        import prepcheck

        res, out = result
        rows = [tuple(r) for r in res.vocab.select("tok", "cnt", "id").collect()]
        problems = prepcheck.check_outputs(self.ref, rows, res.vocab_size, out)
        files, mb = written(out)
        self.stats = {"vocab_size": res.vocab_size, "files": files, "mb": mb,
                      "nnz": len(prepcheck.read_shards(out))}
        return problems


# -- stream -----------------------------------------------------------------
class StreamWorkload(Workload):
    """Seeded micro-batch files fed, closed loop, to three services: the
    next file lands only after the previous batch commits. An op is one
    micro-batch, timed from the moment its file lands to its commit."""

    repeatable = False

    #: data batches per service; sessionize pays ~2 micro-batches per file
    #: (the data batch plus the watermark's no-data batch), so it gets fewer
    BATCHES = {"near_dedup": 3, "cusum": 3, "sessionize": 1}
    EVENT_ROWS, N_USERS, DOC_ROWS = 2000, 600, 40
    MU, SLACK, THRESHOLD = 50.0, 5.0, 400.0
    EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
    DOC_SCHEMA = "doc_id long, text string"

    def __init__(self, ctx):
        self.ctx = ctx
        self.progress: dict[str, list] = {}
        self.run_ids: dict[str, str] = {}

    def prepare(self) -> None:
        seed = self.ctx.seed
        n = max(self.BATCHES.values())

        def files(d):
            for i, cols in enumerate(datagen.event_batches(seed, n, self.EVENT_ROWS,
                                                           self.N_USERS)):
                datagen.write_parquet(os.path.join(d, f"events-{i:02d}.parquet"), cols)
            for i, cols in enumerate(datagen.doc_batches(seed, n, self.DOC_ROWS)):
                datagen.write_parquet(os.path.join(d, f"docs-{i:02d}.parquet"), cols)
            datagen.write_parquet(os.path.join(d, "sentinel.parquet"),
                                datagen.sentinel_event(10**9, days=10))

        shape = f"{n}x{self.EVENT_ROWS}-{self.N_USERS}-{self.DOC_ROWS}"
        self.files = self.ctx.cached_dir(f"stream-{shape}-seed{seed}", files)
        events = sorted(glob.glob(os.path.join(self.files, "events-*.parquet")))
        self.inputs = {
            "near_dedup": sorted(glob.glob(os.path.join(self.files, "docs-*.parquet"))),
            "cusum": events[:self.BATCHES["cusum"]],
            "sessionize": events[:self.BATCHES["sessionize"]],
        }
        self.sentinel = os.path.join(self.files, "sentinel.parquet")

    # one service run = start the query, feed its files one at a time
    def _service(self, spark, service: str):
        from swivel_spark_prep_spark import streaming

        base = self.ctx.fresh_dir(f"stream-{service}")
        inbox = os.path.join(base, "in")
        os.makedirs(inbox)
        if service == "near_dedup":
            src = (spark.readStream.schema(self.DOC_SCHEMA).option("maxFilesPerTrigger", 1)
                   .parquet(inbox))
            q = streaming.stream_near_dedup(src, os.path.join(base, "index"),
                                            os.path.join(base, "out"), os.path.join(base, "ckpt"))
        elif service == "cusum":
            src = (spark.readStream.schema(self.EVENT_SCHEMA).option("maxFilesPerTrigger", 1)
                   .option("latestFirst", "false").parquet(inbox))
            q = streaming.stream_cusum(src, "user_id", "ts", "value", mu=self.MU,
                                       state_dir=os.path.join(base, "state"),
                                       out_dir=os.path.join(base, "out"),
                                       checkpoint_dir=os.path.join(base, "ckpt"),
                                       slack=self.SLACK, threshold=self.THRESHOLD)
        else:
            src = streaming.events_file_stream(spark, inbox, self.EVENT_SCHEMA,
                                               watermark="10 minutes")
            q = (streaming.stream_sessionize(src, gap_seconds=1800).writeStream
                 .format("memory").queryName(f"sess_{os.getpid()}_{self.ctx.counter()}")
                 .outputMode("append")
                 .option("checkpointLocation", os.path.join(base, "ckpt")).start())
        return q, base, inbox

    def _batch_op(self, state: dict, service: str, index: int, path: str, last: bool) -> Op:
        def run(spark, tracer):
            if index == 0:
                state["q"], state["base"], state["inbox"] = self._service(spark, service)
            q, inbox = state["q"], state["inbox"]
            commits = os.path.join(state["base"], "ckpt", "commits")
            done = set(os.listdir(commits)) if os.path.isdir(commits) else set()
            # land the file atomically, then wait for its batch's commit file
            tmp = os.path.join(state["base"], f".landing-{index:02d}.parquet")
            shutil.copyfile(path, tmp)
            t_land = time.perf_counter()
            os.rename(tmp, os.path.join(inbox, f"{index:02d}.parquet"))
            polls = 0
            while not (os.path.isdir(commits)
                       and any(n.isdigit() for n in set(os.listdir(commits)) - done)):
                polls += 1
                if polls % 100 == 0 and not q.isActive:
                    raise RuntimeError(f"{service} query stopped: {q.exception()}")
                time.sleep(0.005)
            latency = time.perf_counter() - t_land
            # trailing no-data batches (watermark eviction) finish before
            # the next file lands
            q.processAllAvailable()
            if last:
                progress = q.recentProgress
                self.progress[service] = [p for p in progress if p["numInputRows"]]
                self.run_ids[service] = str(q.runId)
                if service == "sessionize":
                    state["sessions"] = spark.sql(f"SELECT * FROM {q.name}").toPandas()
                    state["state_rows"] = max(
                        (sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))
                         for p in progress), default=0)
                q.stop()
            return {"service": service, "batch": index, "latency": latency, "state": state}

        return Op(f"{service}-b{index}", run)

    def warmup(self) -> Op:
        return self._batch_op({}, "cusum", 0, self.inputs["cusum"][0], last=True)

    def ops(self) -> list[Op]:
        self._states = {s: {} for s in self.BATCHES}
        out = []
        for service, files in self.inputs.items():
            if service == "sessionize":
                files = files + [self.sentinel]
            for i, f in enumerate(files):
                out.append(self._batch_op(self._states[service], service, i, f,
                                          last=i == len(files) - 1))
        return out

    def collect_stats(self, spark, last_pass: dict, tracer) -> None:
        """Per-layer inputs: progress records, state size, bytes written,
        latency growth over the data batches, and Spark's counters for
        the stream threads' job groups (one per query run)."""
        import pandas as pd

        import tracing

        st = self._states
        bases = [st[s]["base"] for s in st]
        files, mb = written(*[os.path.join(b, d) for b in bases for d in ("out", "index", "state")])
        cusum_state = sorted(glob.glob(os.path.join(st["cusum"]["base"], "state", "cusum",
                                                    "batch_id=*")),
                             key=lambda p: int(p.rsplit("=", 1)[1]))
        state_rows = st["sessionize"].get("state_rows", 0)
        if cusum_state:
            state_rows += len(pd.read_parquet(cusum_state[-1]))
        shingles = glob.glob(os.path.join(st["near_dedup"]["base"], "index", "shingles", "b*"))
        state_rows += sum(len(pd.read_parquet(d)) for d in shingles)
        ratios = []
        for service in st:
            lat = [r["latency"] for r in last_pass["ops"]
                   if r.get("service") == service and r["batch"] < self.BATCHES[service]]
            if len(lat) >= 2:
                ratios.append(lat[-1] / lat[0])
        counters = ([tracing.group_counters(spark, rid) for rid in self.run_ids.values()]
                    if tracer is not None else [])
        progress = [p for ps in self.progress.values() for p in ps]
        self.stats = {
            "files": files, "mb": mb, "state_rows": state_rows, "progress": progress,
            "last_over_first": sum(ratios) / len(ratios) if ratios else 0.0,
            "extra_counters": counters,
            "batch_jobs": [c["jobs"] / max(1, len(self.progress[s]))
                           for s, c in zip(self.run_ids, counters)],
        }

    def finish(self, spark) -> list[str]:
        """Each service against its batch twin on the union of its batches."""
        import pandas as pd
        from pyspark.sql import functions as F

        from swivel_spark_prep_spark.operators.dedup import minhash_near_dups
        from swivel_spark_prep_spark.operators.timeseries import cusum
        from swivel_spark_prep_spark.streaming import session_agg

        problems = []
        # cusum: per-batch outputs equal the batch operator over all rows
        events = spark.read.schema(self.EVENT_SCHEMA).parquet(*self.inputs["cusum"])
        base = self._states["cusum"]["base"]
        got = {(r["user_id"], r["ts"]): (r["cusum_pos"], r["cusum_neg"], r["alarm"])
               for r in spark.read.parquet(os.path.join(base, "out")).collect()}
        want = {(r["user_id"], r["ts"]): (r["cusum_pos"], r["cusum_neg"])
                for r in cusum(events, "user_id", "ts", "value", slack=self.SLACK,
                               mu=self.MU).collect()}
        if set(got) != set(want):
            problems.append(f"stream_cusum: {len(got)} rows vs batch twin {len(want)}")
        else:
            bad = [k for k, (wp, wn) in want.items()
                   if abs(got[k][0] - wp) > 1e-9 or abs(got[k][1] - wn) > 1e-9
                   or got[k][2] != (got[k][0] >= self.THRESHOLD or got[k][1] >= self.THRESHOLD)]
            if bad:
                problems.append(f"stream_cusum: {len(bad)} rows differ from batch twin")

        # sessionize: closed sessions equal batch session_window
        sess = self._states["sessionize"]["sessions"]
        sess = sess[sess["user_id"] != datagen.SENTINEL_USER]
        got_s = sorted(zip(sess["user_id"], pd.to_datetime(sess["s_start"]),
                           pd.to_datetime(sess["s_end"]), sess["cnt"]))
        events = spark.read.schema(self.EVENT_SCHEMA).parquet(*self.inputs["sessionize"])
        want_df = session_agg(events, "30 minutes").toPandas()
        want_s = sorted(zip(want_df["user_id"], pd.to_datetime(want_df["s_start"]),
                            pd.to_datetime(want_df["s_end"]), want_df["cnt"]))
        if got_s != want_s:
            problems.append(f"stream_sessionize: {len(got_s)} sessions vs batch twin {len(want_s)}")

        # near-dedup: survivors equal the service rule replayed over the
        # batch twin's pair set (first-accepted wins; within a batch the
        # larger id of a pair is dropped)
        doc_files = self.inputs["near_dedup"]
        docs = spark.read.schema(self.DOC_SCHEMA).parquet(*doc_files)
        pairs = [(int(r["d1"]), int(r["d2"]))
                 for r in minhash_near_dups(docs).filter(F.col("d1") != F.col("d2")).collect()]
        batch_of = {}
        for b, f in enumerate(doc_files):
            for d in pd.read_parquet(f)["doc_id"]:
                batch_of[int(d)] = b
        accepted: set[int] = set()
        for b in range(len(doc_files)):
            members = {d for d, x in batch_of.items() if x == b}
            dropped = set()
            for d1, d2 in pairs:
                lo, hi = min(d1, d2), max(d1, d2)
                for mine, other in ((d1, d2), (d2, d1)):
                    if mine in members and other in accepted:
                        dropped.add(mine)
                if lo in members and hi in members:
                    dropped.add(hi)
            accepted |= members - dropped
        out = self._states["near_dedup"]["base"]
        survivors = {int(r["doc_id"]) for r in
                     spark.read.parquet(*sorted(glob.glob(os.path.join(out, "out", "b*"))))
                     .select("doc_id").collect()}
        if survivors != accepted:
            problems.append(f"stream_near_dedup: {len(survivors)} survivors vs batch twin "
                            f"{len(accepted)} ({len(survivors ^ accepted)} differ)")
        return problems


WORKLOADS = {
    "prep": PrepWorkload,
    "declared": declared,
    "extras": extras,
    "stream": StreamWorkload,
}
