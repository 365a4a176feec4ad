"""Scale probe for the query-tiled (no-collect / no-broadcast)
self-kNN census path (VERDICT r9 "Next round" #6).

Runs knn_hubness at 50k x 64-dim — the SAME shape as round 9's
arrow-path mutual-kNN probe (PERF.md, round 9), so the
two physical strategies are directly comparable — plus the blocked
path at 100k x 64 (4x the pair count), a size where the arrow path's
driver collect is already the wrong posture. Also reports the auto
dispatch with _SELF_KNN_COLLECT_MAX lowered below the input size to
prove the escalation wiring. Each probe forces its path through the
gate constants (``_SELF_KNN_COLLECT_MAX = -1`` for blocked,
``session.ARROW_MIN_CELLS = 0`` for arrow), as the tests do.

Usage: python tools/probe_blocked_census.py [probe ...]
"""

from __future__ import annotations

import importlib
import sys
import time
from unittest import mock

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

PROBES = {}

knn_mod = importlib.import_module("vectorsearchutil_spark.operators.knn")


def _hubness(emb, k):
    return knn_mod.knn_hubness(
        emb, k=k, vector_col="embedding", id_col="vec_id", metric="cosine"
    )


def _force(df):
    """Force FULL computation of the hubness frame. A bare .count()
    over the left-join output let Spark skip the pandas stage
    entirely (measured 3.8 s vs 294 s for the same plan) - every
    probe here aggregates the occurrence column instead."""
    return df.agg(F.sum("k_occurrence")).collect()[0][0]


def _emb(spark, n):
    return spark.range(n).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 64), j -> cast(pmod(xxhash64(id, j), 1000)"
        " as double) / 1000.0) AS embedding",
    )


def probe_hubness_blocked_50k(spark):
    """Same 50k x 64 shape as the round-9 arrow probe; blocked path."""
    emb = _emb(spark, 50_000)
    t0 = time.time()
    with mock.patch.object(knn_mod, "_SELF_KNN_COLLECT_MAX", -1):
        n = _force(_hubness(emb, 10))
    dt = time.time() - t0
    return f"{dt:.1f}s @ 50k x 64 (blocked, n_blocks=8) -> sum {n}"


def probe_hubness_arrow_50k(spark):
    """Arrow comparator on the identical input (gate-forced)."""
    from vectorsearchutil_spark import session

    emb = _emb(spark, 50_000)
    t0 = time.time()
    with mock.patch.object(session, "ARROW_MIN_CELLS", 0):
        n = _force(_hubness(emb, 10))
    dt = time.time() - t0
    return f"{dt:.1f}s @ 50k x 64 (arrow comparator) -> sum {n}"


def probe_hubness_blocked_100k(spark):
    """4x the pair count of the round-9 probe — only the blocked
    path is the right posture here (the arrow path would collect
    100k vectors to the driver and broadcast ~50 MB per executor)."""
    emb = _emb(spark, 100_000)
    t0 = time.time()
    with mock.patch.object(knn_mod, "_SELF_KNN_COLLECT_MAX", -1):
        n = _force(_hubness(emb, 10))
    dt = time.time() - t0
    return f"{dt:.1f}s @ 100k x 64 (blocked, n_blocks=8) -> sum {n}"


def probe_auto_escalation(spark):
    """auto on more points than _SELF_KNN_COLLECT_MAX must pick
    blocked (plan fingerprint: applyInPandas stage present, no
    broadcast of the query side). Runs on 2k points with the gate
    lowered to 1k — this probes the DISPATCH, not the compute."""
    emb = _emb(spark, 2_000)
    with mock.patch.object(knn_mod, "_SELF_KNN_COLLECT_MAX", 1_000):
        df = _hubness(emb, 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    picked_blocked = "FlatMapGroupsInPandas" in plan
    n = df.count()
    return (
        f"auto@2000>gate 1000: blocked={picked_blocked},"
        f" {n} rows"
    )


PROBES["hubness_blocked_50k"] = probe_hubness_blocked_50k
PROBES["hubness_arrow_50k"] = probe_hubness_arrow_50k
PROBES["hubness_blocked_100k"] = probe_hubness_blocked_100k
PROBES["auto_escalation"] = probe_auto_escalation


if __name__ == "__main__":
    from vectorsearchutil_spark.session import get_spark

    spark = get_spark("probe-blocked-census")
    spark.sparkContext.setLogLevel("ERROR")
    only = sys.argv[1:]
    for name, fn in PROBES.items():
        if only and name not in only:
            continue
        print(f"{name}: {fn(spark)}", flush=True)
