"""Interleaved A/B harness (VERDICT r10 "Next round" #8): re-run any
claimed optimization win from the repo itself instead of narrating it.

Usage:
    python tools/ab_compare.py --old-ref <git-ref> [--reps 3] \
        [--sf /root/testdata/sf0.1] name [name ...]

For each query name, the OLD form (the registry entry at ``--old-ref``,
materialized via ``git worktree``; a directory holding a checkout is
used as it is) and the NEW form (the working tree)
run INTERLEAVED in ONE Spark session — old, new, old, new, … ``reps``
times each — and the minimum per side is reported, which is the
methodology every per-change claim in OPTIMIZATION_r10/r11.md rests on
(this host's session noise swamps cross-session totals; see PERF.md).
Every timed rep starts with ``spark.catalog.clearCache()``, so no rep
is served by an earlier rep's in-query cache.
Output equality is asserted on sorted ``collect()`` of both sides (on
top of the DuckDB oracle gate, which each round re-runs separately).

Side switching works by swapping which checkout owns the
``vectorsearchutil_spark`` package: all of its modules are dropped from
``sys.modules`` and re-imported with the side's root at ``sys.path[0]``.
The Spark session (and its JVM/codegen warmth) is shared by both sides,
so the comparison isolates plan shape, not session state.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_queries(root: str):
    for mod in [m for m in sys.modules if m.startswith("vectorsearchutil_spark")]:
        del sys.modules[mod]
    sys.path.insert(0, root)
    try:
        from vectorsearchutil_spark import queries as Q  # noqa: PLC0415

        return dict(Q.QUERIES)
    finally:
        sys.path.remove(root)


def _worktree(ref: str) -> str:
    if os.path.isdir(os.path.join(ref, "vectorsearchutil_spark")):
        return ref  # an existing checkout of the old side
    out = f"/tmp/ab_worktree_{ref.replace('/', '_')}"
    if not os.path.isdir(out):
        subprocess.run(
            ["git", "-C", ROOT, "worktree", "add", "--detach", out, ref],
            check=True,
            capture_output=True,
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--old-ref", default="HEAD")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    old_root = _worktree(args.old_ref)
    sys.path.insert(0, ROOT)
    from vectorsearchutil_spark.session import get_spark

    spark = get_spark("ab-compare")
    spark.sparkContext.setLogLevel("ERROR")

    sides = {"old": old_root, "new": ROOT}
    for name in args.names:
        best: dict[str, float] = {}
        rows: dict[str, list] = {}
        for rep in range(args.reps):
            for side, root in sides.items():
                queries = _load_queries(root)
                fn = queries[name]
                if rep == 0:
                    # plan/codegen warm-up at negligible data cost,
                    # same protocol as bench.py
                    try:
                        fn(spark, args.warm).write.format("noop").mode(
                            "overwrite"
                        ).save()
                    except Exception:
                        pass
                # cold rep: the other side's (or the previous rep's)
                # in-query caches must not serve this one through plan
                # matching
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"ab {name} {side} {rep}")
                t0 = time.time()
                df = fn(spark, args.sf)
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best[side] = min(best.get(side, 1e18), dt)
                if rep == args.reps - 1:
                    rows[side] = sorted(
                        tuple(r) for r in df.collect()
                    )
        equal = rows["old"] == rows["new"]
        print(
            json.dumps(
                {
                    "query": name,
                    "old_ref": args.old_ref,
                    "old_min_s": round(best["old"], 3),
                    "new_min_s": round(best["new"], 3),
                    "speedup": round(best["old"] / max(best["new"], 1e-9), 2),
                    "reps": args.reps,
                    "rows_equal": equal,
                    "n_rows": len(rows["new"]),
                }
            )
        )
        assert equal, f"{name}: OLD and NEW outputs differ"


if __name__ == "__main__":
    main()
