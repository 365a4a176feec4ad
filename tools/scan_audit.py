"""Static scan-count audit: for every registry (and, with
CHECK_ORACLES_PENDING=1, staging-lane) query, count references to
base relations in the OPTIMIZED plan and list the worst offenders.

A high count means the query's lineage re-derives an input many
times — Spark re-executes un-cached lineage once per consumer unless
exchange reuse happens to de-duplicate it at runtime. The round-7
finding: events_value_mad_outliers carried 36 references (nested
histogram-refinement medians compounding); materializing the two
bounded per-type tables cut it to 1 and the cold sf0.1 run 10.4→6.1s.

This is a diagnostic, NOT a hard gate: static counts overstate
executed work when subtrees are exchange-reused (interarrival's 11
refs execute fine), and some shapes (assembly pipelines, unions of
per-branch scans) legitimately read an input in several branches.
Investigate anything new at the top; compare against the committed
baseline in PERF.md before calling it a regression.

Usage: python tools/scan_audit.py [threshold]   (default: print top 25)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, "/root/repo")


def main() -> None:
    from vectorsearchutil_spark.session import get_spark
    import __spark_entry__ as m
    from vectorsearchutil_spark import queries_pending as P

    spark = get_spark("scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SCAN_AUDIT_SF_DIR", "/root/testdata/sf0.001")

    entries = dict(m.queries())
    entries.update(P.PENDING_QUERIES)
    rows = []
    for name, fn in sorted(entries.items()):
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            # \b: driver-built LocalRelations are not input scans
            rows.append((len(re.findall(r"\bRelation \[", plan)), name))
        except Exception as e:  # noqa: BLE001 — audit keeps going
            rows.append((-1, f"{name} ERR {type(e).__name__}"))
    rows.sort(reverse=True)
    limit = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    for n, name in rows[:limit]:
        print(n, name)


if __name__ == "__main__":
    main()
