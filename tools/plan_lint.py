"""Registry-wide physical-plan lint: build EVERY ``queries()`` entry
at sf0.001 (plan only — nothing is executed beyond the driver-side
work a query does while constructing its DataFrame) and flag the two
anti-patterns that do not survive 100 TB no matter how green the
answer is:

- ``CartesianProduct``   — a non-broadcast cross join on a fact side
  (intentional tiny cross joins compile to BroadcastNestedLoopJoin
  and are fine);
- ``BatchEvalPython``    — a row-at-a-time Python UDF on the hot path
  (Arrow-vectorized ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas are the sanctioned Python escapes).

Also reports per-query Exchange counts (informational — the shuffle
budget is query-specific, so no global threshold is enforced).

Usage: python tools/plan_lint.py [--json OUT.json] [name ...]
Exit code 1 if any violation. ``PLAN_LINT_PENDING=1`` adds the staged
entries (``queries.STAGED_QUERIES``).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("PLAN_LINT_SF_DIR", "/root/testdata/sf0.001")


def lint_all(names=None, sf_dir=SF_DIR):
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.plans.explain import formatted_plan
    from vectorsearchutil_spark.session import get_spark

    spark = get_spark("plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    entries = dict(Q.QUERIES)
    if os.environ.get("PLAN_LINT_PENDING"):
        entries.update(Q.STAGED_QUERIES)
    results, violations = {}, {}
    for name, fn in entries.items():
        if names and name not in names:
            continue
        t0 = time.time()
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — lint must report
            results[name] = {"err": f"{type(e).__name__}: {e}"}
            violations[name] = results[name]
            print(f"ERR  {name}: {results[name]['err']}", flush=True)
            continue
        bad = [
            pat
            for pat in ("CartesianProduct", "BatchEvalPython")
            if pat in plan
        ]
        results[name] = {
            "violations": bad,
            "exchanges": plan.count("Exchange"),
            "build_s": round(time.time() - t0, 2),
        }
        if bad:
            violations[name] = results[name]
            print(f"FAIL {name}: {bad}", flush=True)
        else:
            print(
                f"ok   {name}: {results[name]['exchanges']} Exchange "
                f"[{results[name]['build_s']}s]",
                flush=True,
            )
    return results, violations


def main():
    args = sys.argv[1:]
    out = None
    if "--json" in args:
        i = args.index("--json")
        out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    results, violations = lint_all(set(args) or None)
    if out:
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {out} ({len(results)} entries)")
    if violations:
        print(f"\n{len(violations)} VIOLATIONS: {sorted(violations)}")
        sys.exit(1)
    print(f"\nALL CLEAN ({len(results)} plans)")


if __name__ == "__main__":
    main()
