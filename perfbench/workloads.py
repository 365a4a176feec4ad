"""The three benchmark workloads.

Each is a closed loop with one client: the next operation starts when
the previous one returns, and ``spark.catalog.clearCache()`` runs
between operations. ``control_heavy`` and ``exec_heavy`` run registry
queries (``queries.QUERIES``) over seeded tables; ``store_ingest_query``
feeds a ``VectorStore`` and reads from it. See README.md for why each
was chosen and what each metric means.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
import traceback

import numpy as np

import datagen
from tracing import Tracer, self_times, subtree_jobs

#: Registry queries per workload, and the subset whose latency is
#: reported as ``ann_query_s`` (the workload's vector-search reads). An
#: odd number of queries with spread-out costs puts the median sample
#: inside one query's latencies instead of in the gap between two.
#: ``exec_heavy`` is runnable but not in BENCHMARK.json (README.md).
REGISTRY = {
    "control_heavy": (
        ["kmeans_clusters", "ann_ivfpq_search", "dedup_connected_components"],
        ["ann_ivfpq_search"],
    ),
    "exec_heavy": (
        ["tpch_q1_pricing_summary", "customer_rfm_scores",
         "docs_assembly_pipeline", "ann_ivf_search"],
        ["ann_ivf_search"],
    ),
}
WORKLOADS = (*REGISTRY, "store_ingest_query")

#: Input sizes. ``default`` is what the benchmark measures; ``tiny`` is
#: for the smoke test.
SIZES = {
    "default": {"sf": 0.002, "bulk": 500, "batch": 100, "reads": 1},
    "tiny": {"sf": 0.001, "bulk": 200, "batch": 20, "reads": 2},
}
#: Untimed passes before the timed ones on the registry workloads.
WARM_PASSES = 2
#: Set-ups measured per run; ``setup_s`` is their median.
SETUPS = 3
#: Top-k of every store read.
K = 10

#: Operator modules reported per layer (``operators.<m>.*``): those the
#: workloads in BENCHMARK.json reach.
OPERATOR_MODULES = ("clustering", "dedup", "graph", "knn", "pq",
                    "similarity")
STORE_METHODS = ("set_data", "ingest_dedup_check", "add_to_ann_index",
                 "build_ann_index", "query", "query_ann")


def pct(values: list[float], q: float) -> float:
    """The ``q`` quantile (0..1) by linear interpolation."""
    return float(np.quantile(np.asarray(values, dtype=float), q))


#: Wall time of the reference job on the 4-core host the bounds were set
#: on, rounded. Timed figures are reported as the times they would have
#: on a host that runs the reference job in this time (``host_factor``).
REF_S = 0.4
#: Reference-job runs just before the timed passes, and again just after.
REF_RUNS = 4
#: SQL settings of the reference job's own session, fixed so that a
#: change to the engine's session defaults leaves the job as it is.
REF_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.execution.pythonUDF.arrow.enabled": "false",
}
REF_GROUPS = 997


def reference_job(spark) -> None:
    """A fixed Spark job that uses nothing of the engine: a grouped
    aggregate planned and run in the JVM, then a Python UDF run in a
    worker, each on one partition (no shuffle)."""
    from pyspark.sql import functions as F

    rows = spark.range(0, 100_000, 1, 1).selectExpr(
        f"id % {REF_GROUPS} AS k", "hash(id) AS h", "id * 1.5 AS v",
    ).groupBy("k").agg(F.sum("h"), F.max("v")).collect()
    total = spark.range(-1000, 1000, 1, 1).select(
        F.udf(abs, "long")("id").alias("a")).agg(F.sum("a")).collect()
    if len(rows) != REF_GROUPS or total[0][0] != 1000 * 1000:
        raise RuntimeError("the reference job returned a wrong result")


class Run:
    """State of one benchmark run: session, tracer, timings, counters."""

    def __init__(self, workload, seed, seconds, trace, size, work_dir,
                 cores, t_start):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.size = SIZES[size]
        self.work = work_dir
        self.cores = cores
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(bool(trace))
        self.trace_on = bool(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.passes: list[float] = []
        self.untraced_passes: list[float] = []
        self.lat: dict[str, list[float]] = {}
        #: wall times of the reference job around the timed passes
        self.ref: list[float] = []
        self._ref_spark = None
        self.setups: list[float] = []
        self.session_start: list[float] = []
        self.session_ship: list[float] = []
        self.result_rows = 0
        self.first_timed_span = 0
        #: figures a workload hands to the metric reducers
        self.extra: dict = {}
        self.phases: dict[str, float] = {}
        self._phase_t = t_start

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.phases[name] = now - self._phase_t
        self._phase_t = now

    # -- helpers -------------------------------------------------------

    def returned(self, rows: int) -> None:
        """Count rows returned by a traced operation's final action."""
        if self.tracer.enabled:
            self.result_rows += rows

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def reference(self) -> None:
        """Run the reference job ``REF_RUNS`` times in a session of its
        own and record its wall times."""
        if (self._ref_spark is None or self._ref_spark.sparkContext
                is not self.spark.sparkContext):
            self._ref_spark = self.spark.newSession()
            for k, v in REF_CONF.items():
                self._ref_spark.conf.set(k, v)
            for _ in range(2):  # compile it before it is timed
                reference_job(self._ref_spark)
        for _ in range(REF_RUNS):
            t0 = time.perf_counter()
            reference_job(self._ref_spark)
            self.ref.append(time.perf_counter() - t0)

    def host_factor(self) -> float:
        """``REF_S`` over the median reference-job time of the run. On a
        host that runs Spark slower than the one the bounds were set on
        the factor is below 1; wall times multiplied by it follow the
        engine's cost and not the speed the host has during the run."""
        return REF_S / statistics.median(self.ref)

    def timed(self, key: str, fn):
        """Run ``fn`` as one attempted operation, record its latency
        under ``key`` and clear Spark's cache afterwards."""
        self.attempted += 1
        self.tracer.new_trace()
        first = len(self.tracer.spans)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{key}"):
                out = fn()
        except Exception as e:  # counted, never fatal
            traceback.print_exc()
            self.fail(f"{key}: {type(e).__name__}: {str(e)[:300]}")
            out = None
        self.lat.setdefault(key, []).append(time.perf_counter() - t0)
        self.tracer.collect_jobs(first)
        self.spark.catalog.clearCache()
        return out

    def start_session(self):
        from vectorsearchutil_spark.session import (
            ensure_package_on_executors,
            get_spark,
        )

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            spark = get_spark("perfbench")
        t1 = time.perf_counter()
        with self.tracer.span("session.ship"):
            ensure_package_on_executors(spark)
        self.session_start.append(t1 - t0)
        self.session_ship.append(time.perf_counter() - t1)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.tracer.bind(spark)
        return spark

    def resetups(self, first_op) -> None:
        """Stop the session, then time a new session, package shipping
        and one first operation; ``SETUPS`` times."""
        for _ in range(SETUPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.start_session()
            first_op()
            self.setups.append(time.perf_counter() - t0)
            self.spark.catalog.clearCache()
        self.phase("setups")

    def timed_window(self, one_pass, before=None, warm_up=None) -> None:
        """Run ``before`` (traced with the passes), then ``warm_up``
        (untraced), then whole passes for about ``seconds``: another pass
        starts while at least half a median pass of time is left. The
        reference job runs just before the passes and just after them.
        With tracing, every pass is traced and one more untraced pass
        follows, so the tracing overhead can be reported."""
        self.first_timed_span = len(self.tracer.spans)
        self.tracer.enabled = self.trace_on
        if before is not None:
            before()
        self.tracer.enabled = False
        if warm_up is not None:
            warm_up()
        self.reference()
        self.phase("warmup")
        self.tracer.enabled = self.trace_on
        t_end = time.perf_counter() + self.seconds
        while True:
            t0 = time.perf_counter()
            one_pass()
            self.passes.append(time.perf_counter() - t0)
            left = t_end - time.perf_counter()
            if left < statistics.median(self.passes) / 2:
                break
        self.tracer.enabled = False
        self.phase("window")
        self.reference()
        if self.trace_on:
            t0 = time.perf_counter()
            one_pass()
            self.untraced_passes.append(time.perf_counter() - t0)

    def peak_rss_mb(self) -> float:
        pids = ["self"]
        gw = getattr(self.spark.sparkContext._gateway, "proc", None)
        if gw is not None:
            pids.append(str(gw.pid))
        kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024


# -- registry workloads ---------------------------------------------------


def run_registry(run: Run) -> None:
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.sources.readers import load_table

    names, ann = REGISTRY[run.workload]
    data_dir = os.path.join(run.work, "data")
    datagen.write_tables(data_dir, run.size["sf"], run.seed)
    norm_rows = canonicaliser()
    expected = oracle_fingerprints(norm_rows, Q.ORACLES, names, data_dir)
    run.phase("inputs")

    run.start_session()
    run.phase("session")
    run.tracer.instrument()
    run.tracer.enabled = False
    run.resetups(lambda: load_table(run.spark, data_dir, "region").count())

    def query(name):
        with run.tracer.span("queries.build"):
            df = Q.QUERIES[name](run.spark, data_dir)
        with run.tracer.span("exec"):
            return df.columns, [tuple(r) for r in df.collect()]

    def checked(name):
        out = run.timed(name, lambda: query(name))
        if out is None:
            return
        run.returned(len(out[1]))
        try:
            same = fingerprint(norm_rows, *out) == expected[name]
        except Exception as e:  # a cell the oracle gate cannot canonicalise
            same = False
            print(f"perfbench: {name}: {e}", file=sys.stderr)
        if not same:
            run.fail(f"{name}: output differs from its oracle")

    def warm_up():
        # untimed passes fill codegen, start the workers and let the JIT
        # compile the hot paths
        for _ in range(WARM_PASSES):
            for name in names:
                checked(name)
        run.lat.clear()

    def one_pass():
        for name in run.rng.permutation(names):
            checked(name)

    run.timed_window(one_pass, warm_up=warm_up)
    run.extra["query_keys"], run.extra["ann_keys"] = names, ann


def fingerprint(norm_rows, cols, rows) -> tuple:
    """(columns, row count, order-insensitive hash) of a result, with
    cells canonicalised as the oracle gate does."""
    h = hashlib.sha256("\n".join(norm_rows(cols, rows)).encode()).hexdigest()
    return sorted(cols), len(rows), h


def duckdb_tables(data_dir: str):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    for f in os.listdir(data_dir):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, f)}'")
    return con


def oracle_fingerprints(norm_rows, oracles, names, data_dir) -> dict:
    """Fingerprint of each query's DuckDB oracle over the tables."""
    con = duckdb_tables(data_dir)
    out = {}
    for name in names:
        res = con.execute(oracles[name])
        out[name] = fingerprint(norm_rows, [d[0] for d in res.description],
                                res.fetchall())
    con.close()
    return out


def canonicaliser():
    """``norm_rows`` of the repository's oracle gate
    (tools/check_oracles.py), loaded by path."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_oracle_gate", os.path.join(root, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.norm_rows


# -- vector-store workload --------------------------------------------------


class StoreSession:
    """A fresh store under ``path`` and the documents fed to it."""

    def __init__(self, run: Run, path: str, n_bulk: int):
        from vectorsearchutil_spark.store import VectorStore

        self.run, self.path = run, path
        self.store = VectorStore(run.spark, embedder="hash64",
                                 acid_path=os.path.join(path, "store"),
                                 maintain_dedup_state=True)
        self.docs = datagen.store_documents(run.rng, n_bulk, 0)
        self.next_id = n_bulk
        self.input_bytes = _raw_bytes(self.docs)
        self.appended_rows = 0
        self.append_s = 0.0
        self.reads: list[tuple] = []

    def call(self, method: str, *args, **kwargs):
        with self.run.tracer.span(f"store.{method}"):
            return getattr(self.store, method)(*args, **kwargs)

    def bulk_load(self) -> None:
        sp = self.run.spark
        self.call("set_data",
                  sp.createDataFrame(self.docs, datagen.STORE_DOC_SCHEMA))
        self.call("build_ann_index")

    def round(self, n_batch: int, n_reads: int, timed) -> None:
        run, sp = self.run, self.run.spark
        fresh = datagen.store_documents(run.rng, n_batch - n_batch // 10,
                                        self.next_id)
        resent = run.rng.choice(len(self.docs), n_batch // 10, replace=False)
        batch = fresh + [self.docs[i] for i in resent]
        self.next_id += len(fresh)
        self.input_bytes += _raw_bytes(batch)

        def dedup():
            inc = sp.createDataFrame(
                [(i, row[0]) for i, row in enumerate(batch)],
                "id long, target string")
            df = self.call("ingest_dedup_check", inc)
            with run.tracer.span("exec"):
                return df.collect()

        verdicts = timed("dedup_check", dedup)
        if verdicts is not None:
            run.returned(len(verdicts))
            got = {r["id"]: (r["verdict"], r["matched_id"]) for r in verdicts}
            for j, i in enumerate(resent):
                if got.get(len(fresh) + j) != ("exact_dup", int(i) + 1):
                    run.fail("ingest_dedup_check missed a re-sent document")
                    break

        def append():
            t0 = time.perf_counter()
            self.call("set_data",
                      sp.createDataFrame(batch, datagen.STORE_DOC_SCHEMA),
                      append=True)
            self.append_s += time.perf_counter() - t0
            self.appended_rows += len(batch)

        timed("append", append)
        self.docs += fresh
        timed("index_add", lambda: self.call("add_to_ann_index"))
        for _ in range(n_reads):
            text = datagen.store_documents(run.rng, 1, 10**9)[0][0]

            def read(method):
                df = self.call(method, text, k=K)
                with run.tracer.span("exec"):
                    return [(r["id"], r["distance"]) for r in df.collect()]

            exact = timed("query", lambda: read("query"))
            approx = timed("ann_query", lambda: read("query_ann"))
            self.reads.append((text, len(self.docs), exact, approx))
            run.returned(len(exact or []) + len(approx or []))


def _raw_bytes(docs) -> int:
    return sum(len(c.encode()) for row in docs for c in row if c)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def run_store(run: Run) -> None:
    size = run.size
    run.start_session()
    run.tracer.instrument()
    run.tracer.enabled = False
    run.phase("session")
    main = StoreSession(run, os.path.join(run.work, "main"), size["bulk"])

    def bulk_load():
        # the first store calls of the process: they run cold
        run.timed("bulk_load", main.bulk_load)
        run.extra["bulk_load_s"] = run.lat.pop("bulk_load")[0]
        run.phase("bulk_load")

    def warm_up():
        # one untimed round fills codegen and starts the workers
        main.round(size["batch"], 1, run.timed)
        run.lat.clear()
        main.appended_rows, main.append_s = 0, 0.0

    run.timed_window(
        lambda: main.round(size["batch"], size["reads"], run.timed),
        before=bulk_load, warm_up=warm_up)
    run.extra["query_keys"], run.extra["ann_keys"] = ["query"], ["ann_query"]
    run.extra["append_rows_per_s"] = main.appended_rows / main.append_s
    disk = _dir_bytes(main.path)[0]
    run.extra["store_bytes_per_input_byte"] = disk / main.input_bytes
    run.extra["data_files"] = _dir_bytes(
        os.path.join(main.path, "store", "data"))[1]
    check_store(run, main)

    def reopen():
        from vectorsearchutil_spark.store import VectorStore

        VectorStore(run.spark, embedder="hash64", acid_path=main.store.acid.base,
                    maintain_dedup_state=True).count()

    run.resetups(reopen)


def brute_force_topk(ids, vecs, q, n_rows: int) -> list[tuple]:
    """Exact (id, L2 distance) top-``K`` over the rows with id <= n_rows,
    ties by id: the contract of ``VectorStore.query``."""
    live = ids <= n_rows
    d = np.sqrt(((vecs[live] - q) ** 2).sum(axis=1))
    order = np.lexsort((ids[live], d))[:K]
    return list(zip(ids[live][order].tolist(), d[order].tolist()))


def same_topk(got: list[tuple], want: list[tuple]) -> bool:
    return [i for i, _ in got] == [i for i, _ in want] and np.allclose(
        [x for _, x in got], [x for _, x in want], atol=1e-4)


def check_store(run: Run, sess: StoreSession) -> None:
    """Exact reads against numpy brute force over the store's vectors as
    they stood when each read ran; ANN recall against the exact read."""
    from pyspark.sql import functions as F

    from vectorsearchutil_spark.embedders import embed_udf

    rows = sess.store.data.select("id", "vector").collect()
    ids = np.array([r[0] for r in rows])
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    if len(ids) != len(sess.docs):
        run.fail(f"store holds {len(ids)} rows, expected {len(sess.docs)}")
    texts = [t for t, *_ in sess.reads]
    qv = run.spark.createDataFrame([(t,) for t in texts], "t string").select(
        "t", embed_udf("hash64")(F.col("t")).alias("v")).collect()
    qvec = {r[0]: np.array(r[1], dtype=np.float64) for r in qv}
    recalls = []
    for text, n_rows, exact, approx in sess.reads:
        if exact is None or approx is None:
            continue
        want = brute_force_topk(ids, vecs, qvec[text], n_rows)
        if not same_topk(exact, want):
            run.fail("store.query differs from brute-force top-k")
        recalls.append(len({i for i, _ in approx} & {i for i, _ in want}) / K)
    run.extra["ann_recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0
    run.phase("check")


# -- metrics ---------------------------------------------------------------


def _samples(by_key: dict[str, list[float]], keys) -> list[float]:
    return [x for k in keys for x in by_key.get(k, [])]


#: The figures ``BENCHMARK.json`` bounds (``--trace 0``).
END_TO_END = ("setup_s", "pass_s")


def host_normalised(run: Run) -> dict[str, tuple[float, str]]:
    """The ``wall_report`` figures and the set-up time, times the run's
    ``host_factor``."""
    f = run.host_factor()
    wall = {"setup_s": (statistics.median(run.setups), "s"),
            **wall_report(run)}
    return {k.removeprefix("wall."): (v * f, u) for k, (v, u) in wall.items()
            if k != "wall.ref_s"}


def end_to_end(run: Run) -> dict[str, tuple[float, str]]:
    return {k: v for k, v in host_normalised(run).items() if k in END_TO_END}


def wall_report(run: Run) -> dict[str, tuple[float, str]]:
    """Measured wall times of the timed passes and reads, and the median
    time of the reference job."""
    q = _samples(run.lat, run.extra["query_keys"])
    a = _samples(run.lat, run.extra["ann_keys"])
    return {
        "wall.pass_s": (statistics.median(run.passes), "s"),
        "wall.query_s.p50": (pct(q, 0.5), "s"),
        "wall.query_s.p90": (pct(q, 0.9), "s"),
        "wall.ann_query_s.p50": (pct(a, 0.5), "s"),
        "wall.ref_s": (statistics.median(run.ref), "s"),
    }


#: The store workload's own end-to-end figures and their units.
STORE_REPORT = {
    "ann_query_s.p90": "s", "append_rows_per_s": "1/s",
    "dedup_check_s.p50": "s", "index_add_s.p50": "s", "bulk_load_s": "s",
    "ann_recall_at_10": "frac", "store_bytes_per_input_byte": "ratio",
}


def store_report(run: Run) -> dict[str, tuple[float, str]]:
    """``STORE_REPORT`` figures of a store run (empty for the others)."""
    if run.workload != "store_ingest_query":
        return {}
    values = {
        "ann_query_s.p90": pct(run.lat["ann_query"], 0.9),
        "append_rows_per_s": run.extra["append_rows_per_s"],
        "dedup_check_s.p50": pct(run.lat["dedup_check"], 0.5),
        "index_add_s.p50": pct(run.lat["index_add"], 0.5),
        "bulk_load_s": run.extra["bulk_load_s"],
        "ann_recall_at_10": run.extra["ann_recall_at_10"],
        "store_bytes_per_input_byte": run.extra["store_bytes_per_input_byte"],
    }
    return {k: (v, STORE_REPORT[k]) for k, v in values.items()}


def per_layer(run: Run) -> dict[str, tuple[float, str]]:
    """Layer figures from the traced passes, per pass (a store pass is
    one round; the bulk load is charged to the passes it precedes)."""
    spans = [s for s in run.tracer.spans[run.first_timed_span:]
             if s.end is not None]
    self_t = self_times(spans)
    jobs = subtree_jobs(spans)
    n = len(run.passes)
    out: dict[str, tuple[float, str]] = {}

    def named(name):
        return [s for s in spans if s.name == name]

    out["session.start_s"] = (statistics.median(run.session_start), "s")
    out["session.ship_s"] = (statistics.median(run.session_ship), "s")
    out["session.peak_rss_mb"] = (run.peak_rss_mb(), "MB")

    build, exe = named("queries.build"), named("exec")
    build_s = sum(s.dur for s in build)
    exec_s = sum(s.dur for s in exe)
    out["queries.build_s"] = (sum(self_t[s.sid] for s in build) / n, "s")
    out["queries.build_jobs"] = (sum(jobs[s.sid] for s in build) / n, "count")
    out["queries.build_share"] = (
        build_s / (build_s + exec_s) if build else 0.0, "frac")

    lt = named("sources.load_table")
    out["sources.load_table_calls"] = (len(lt) / n, "count")
    out["sources.load_table_s"] = (sum(s.dur for s in lt) / n, "s")
    out["sources.load_table_jobs"] = (sum(jobs[s.sid] for s in lt) / n,
                                      "count")
    out["sources.manifest_commit_s"] = (
        sum(s.dur for s in named("sources.manifest.write_and_commit")) / n,
        "s")
    out["sources.manifest_read_s"] = (
        sum(s.dur for s in named("sources.manifest.read")) / n, "s")
    out["sources.data_files"] = (run.extra.get("data_files", 0), "count")

    by_id = {s.sid: s for s in spans}
    for m in OPERATOR_MODULES:
        prefix = f"operators.{m}."
        mine = [s for s in spans if s.name.startswith(prefix)]
        outer = [s for s in mine if s.parent not in by_id
                 or not by_id[s.parent].name.startswith(prefix)]
        out[f"operators.{m}.calls"] = (len(outer) / n, "count")
        out[f"operators.{m}.s"] = (sum(self_t[s.sid] for s in mine) / n, "s")
        out[f"operators.{m}.jobs"] = (sum(len(s.jobs) for s in mine) / n,
                                      "count")

    stages = [st for s in exe for st in s.stages if not st["skipped"]]

    def tot(key):
        return sum(st[key] for st in stages)

    run_s = tot("run_ms") / 1000
    out["exec.s"] = (exec_s / n, "s")
    out["exec.jobs"] = (sum(len(s.jobs) for s in exe) / n, "count")
    out["exec.stages"] = (len(stages) / n, "count")
    out["exec.tasks"] = (tot("tasks") / n, "count")
    out["exec.executor_run_s"] = (run_s / n, "s")
    out["exec.executor_cpu_s"] = (tot("cpu_ns") / 1e9 / n, "s")
    out["exec.gc_s"] = (tot("gc_ms") / 1000 / n, "s")
    out["exec.shuffle_read_bytes"] = (tot("shuffle_read") / n, "B")
    out["exec.shuffle_write_bytes"] = (tot("shuffle_write") / n, "B")
    out["exec.spill_bytes"] = (tot("spill") / n, "B")
    out["exec.input_rows"] = (tot("input_rows") / n, "count")
    out["exec.rows_examined_per_result"] = (
        tot("input_rows") / max(1, run.result_rows), "ratio")
    out["exec.slot_idle_frac"] = (
        1 - run_s / (exec_s * run.cores) if exec_s else 0.0, "frac")

    for meth in STORE_METHODS:
        calls = named(f"store.{meth}")
        k = max(1, len(calls))
        out[f"store.{meth}.s"] = (sum(s.dur for s in calls) / k, "s")
        out[f"store.{meth}.jobs"] = (sum(jobs[s.sid] for s in calls) / k,
                                     "count")
    report = store_report(run)
    for key, unit in STORE_REPORT.items():
        out[f"store.{key}"] = (report.get(key, (0.0, unit))[0], unit)
    out.update(wall_report(run))
    out["trace.overhead_s"] = (
        statistics.median(run.passes)
        - statistics.median(run.untraced_passes), "s")
    return out
