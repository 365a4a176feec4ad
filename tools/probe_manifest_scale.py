"""Scale probe of the manifest log: 200 appends, then compaction;
40 IVF index adds, then ``optimize_ann_index``.

    python tools/probe_manifest_scale.py [log] [store] [index]

With no argument it runs all three parts.

Part 1 (``log``) commits 200 appends of 5k rows to a bare
``ManifestLog`` and times a read of the fragmented table,
``compact()`` and a read after it. Part 2 (``store``) feeds a
``VectorStore`` that keeps dedup state (one 500-doc load, then 200
appends of 20 docs, so each of its four parts lists 201 directories)
and reports the warm ``ingest_dedup_check`` of a 100-doc batch (jobs
and seconds, median of 3) before and after ``compact()``. A read of
more than 32 directories
(``spark.sql.sources.parallelPartitionDiscovery.threshold``) lists
them with a Spark job of its own, so the probe also reports the jobs
of a reopen. Part 3 (``index``) builds an IVF index (8 lists) over a
400-doc store and makes 40 adds of 40 docs; each add lists one leaf
directory per touched list, so a probe of 2 lists reads up to
2 * (1 + adds) leaves. At several add counts and after
``optimize_ann_index`` it reports the leaves the probe reads, the
jobs and seconds of building ``query_ann`` on the store that holds
the index (median of 3), the same for a reopened store's first
``query_ann``, and the collect. Everything is written under a
temporary directory that is removed at exit.
"""

import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectorsearchutil_spark import store as store_mod  # noqa: E402
from vectorsearchutil_spark.session import get_spark  # noqa: E402
from vectorsearchutil_spark.sources.manifest import ManifestLog  # noqa: E402
from vectorsearchutil_spark.store import VectorStore  # noqa: E402

APPENDS = 200
INDEX_ADDS = 40
INDEX_REPORT_AT = (8, 15, 16, 24, INDEX_ADDS)

def jobs_of(group, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def bare_log():
    log = ManifestLog(os.path.join(work, "log"))
    t0 = time.time()
    for i in range(APPENDS):
        batch = spark.range(i * 5000, (i + 1) * 5000).selectExpr(
            "id", "id * 2 AS v")
        log.write_and_commit(batch, mode="append")
    t_commits = time.time() - t0

    t0 = time.time()
    n = log.read(spark).count()
    t_read_frag = time.time() - t0

    t0 = time.time()
    log.compact(spark, target_files=32)
    t_compact = time.time() - t0

    t0 = time.time()
    n2 = log.read(spark).count()
    t_read_compact = time.time() - t0

    removed = log.vacuum(keep_versions=1)
    print(f"{APPENDS} append commits (5k rows each): {t_commits:.1f}s total "
          f"({t_commits / APPENDS * 1000:.0f} ms/commit)")
    print(f"read @ {APPENDS}-dir fragmentation: {t_read_frag:.2f}s -> {n} rows")
    print(f"compact(target_files=32): {t_compact:.1f}s")
    print(f"read after compaction: {t_read_compact:.2f}s -> {n2} rows")
    print(f"vacuum removed {len(removed)} obsolete dirs")
    assert n == n2 == APPENDS * 5000


def store_with_state():
    rng = random.Random(0)
    words = [f"w{i}" for i in range(500)]

    def docs(k):
        return [(" ".join(rng.choice(words) for _ in range(12)),)
                for _ in range(k)]

    path = os.path.join(work, "store")
    vs = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    bulk = docs(500)
    vs.set_data(spark.createDataFrame(bulk, "target string"))
    t0 = time.time()
    for _ in range(APPENDS):
        vs.set_data(spark.createDataFrame(docs(20), "target string"),
                    append=True)
    t_appends = time.time() - t0
    batch = spark.createDataFrame(
        [(i, t) for i, (t,) in enumerate(docs(90) + bulk[:10])],
        "id long, target string")

    def check(label):
        vs.ingest_dedup_check(batch).collect()  # warm
        runs = []
        for r in range(3):
            t0 = time.time()
            verdicts, jobs = jobs_of(
                f"{label}-{r}",
                lambda: vs.ingest_dedup_check(batch).collect())
            runs.append((time.time() - t0, jobs))
        resent = sum(v["verdict"] == "exact_dup" for v in verdicts)
        _, reopen_jobs = jobs_of(
            f"{label}-reopen",
            lambda: VectorStore(spark, acid_path=path,
                                maintain_dedup_state=True))
        m = vs.acid.manifest(vs.acid.latest_version())
        dirs = {p: len(r["dirs"]) for p, r in vs.acid._parts(m).items()}
        print(f"{label}: dirs per part {dirs}; warm ingest_dedup_check "
              f"{statistics.median(t for t, _ in runs):.2f}s, "
              f"{max(j for _, j in runs)} jobs; reopen {reopen_jobs} jobs; "
              f"{resent}/10 re-sent docs exact_dup")

    print(f"store: {APPENDS} appends of 20 docs with dedup state: "
          f"{t_appends:.1f}s ({t_appends / APPENDS * 1000:.0f} ms/append)")
    check("fragmented")
    t0 = time.time()
    vs.compact()
    print(f"store compact(): {time.time() - t0:.1f}s")
    check("compacted")


def index_adds():
    rng = random.Random(1)
    words = [f"w{i}" for i in range(500)]

    def docs(k):
        return spark.createDataFrame(
            [(" ".join(rng.choice(words) for _ in range(12)),)
             for _ in range(k)], "target string")

    path = os.path.join(work, "indexed")
    vs = VectorStore(spark, acid_path=path)
    vs.set_data(docs(400))
    vs.build_ann_index(n_lists=8)
    q = "w1 w2 w3 w4 w5 w6"

    def probe(label):
        held = vs._index(vs._ivf_path)
        probes = store_mod._probes(
            held.cids, held.centroids, vs._query_vector(q), 2)
        leaves = len(held.lists(probes)["dirs"])
        runs = []
        for r in range(3):
            t0 = time.time()
            df, jobs = jobs_of(f"{label}-held-{r}", lambda: vs.query_ann(q))
            runs.append((time.time() - t0, jobs))
        t0 = time.time()
        df.collect()
        t_collect = time.time() - t0
        reopened = VectorStore(spark, acid_path=path)
        t0 = time.time()
        _, reopen_jobs = jobs_of(
            f"{label}-reopen", lambda: reopened.query_ann(q))
        t_reopen = time.time() - t0
        print(f"{label}: probe reads {leaves} leaves; query_ann build "
              f"{statistics.median(t for t, _ in runs):.3f}s, "
              f"{max(j for _, j in runs)} jobs; reopened first build "
              f"{t_reopen:.2f}s, {reopen_jobs} jobs; collect {t_collect:.2f}s")

    t0 = time.time()
    for a in range(1, INDEX_ADDS + 1):
        vs.set_data(docs(40), append=True)
        vs.add_to_ann_index()
        if a in INDEX_REPORT_AT:
            probe(f"after {a} adds")
    print(f"index: {INDEX_ADDS} appends + adds of 40 docs: "
          f"{time.time() - t0:.1f}s (with the probes)")
    t0 = time.time()
    vs.optimize_ann_index()
    print(f"optimize_ann_index(): {time.time() - t0:.1f}s")
    probe("after optimize")


PARTS = {"log": bare_log, "store": store_with_state, "index": index_adds}

if __name__ == "__main__":
    spark = get_spark("manifest-probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="manifest_probe_")
    try:
        for name in sys.argv[1:] or PARTS:
            PARTS[name]()
    finally:
        shutil.rmtree(work, ignore_errors=True)
