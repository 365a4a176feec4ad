"""Executed scan-count audit: run every registry query (staged entries
included) and count the file scans its final adaptive plan executes;
list the worst offenders.

A high count means the query's lineage re-derives an input many
times — Spark re-executes un-cached lineage once per consumer unless
exchange reuse de-duplicates it at runtime. The round-7 finding:
events_value_mad_outliers carried 36 references (nested
histogram-refinement medians compounding); materializing the two
bounded per-type tables cut it to 1 and the cold sf0.1 run 10.4→6.1s.

Each entry starts from an empty cache (``spark.catalog.clearCache()``),
so a cache one query leaks cannot hide the next query's inputs, and is
executed in full by a ``noop`` write. The count is read from that
write's final plan (the SQL status store's physical plan description):
distinct ``Scan parquet`` / ``BatchScan`` operators in the final trees
of the plan and its subqueries. A ``ReusedExchange`` is a leaf there,
so a scan under a reused exchange is counted once; a cached subtree
the query itself built counts once, however many consumers read it;
driver-built ``LocalTableScan`` frames are not inputs. Jobs a query
runs while it is built (size gates, driver pulls) are not counted: a
query whose whole input went through a driver path reads 0 here.

This is a diagnostic, NOT a hard gate: some shapes (assembly
pipelines, unions of per-branch scans) legitimately read an input in
several branches. Investigate anything new at the top; compare against
the committed baseline in PERF.md before calling it a regression.

Usage: python tools/scan_audit.py [limit]   (default: print top 25)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_NODE = re.compile(r"[A-Za-z0-9*=]")
_SCAN = re.compile(r"^(?:\* )?(?:Scan parquet|BatchScan)\b[^(]*\((\d+)\)")


def executed_scans(description: str) -> int:
    """Distinct file-scan operators in the final trees of a formatted
    physical plan description (``spark.sql.ui.explainMode=formatted``,
    the default). A tree starts at ``== Physical Plan ==`` or at a
    ``Subquery:`` header and ends at the first blank line. Inside it,
    the ``== Initial Plan ==`` half of every adaptive plan, nested ones
    included, is skipped; a node belongs to the innermost marker it is
    indented under. A cached subtree printed under several
    ``InMemoryRelation`` nodes keeps its operator ids, so it counts
    once."""
    ids: set[str] = set()
    in_tree, markers = False, []  # (column, is_initial)
    for line in description.splitlines():
        if line.startswith(("== Physical Plan ==", "Subquery:")):
            in_tree, markers = True, []
            continue
        if not line.strip():
            in_tree = False
        if not in_tree:
            continue
        col = _NODE.search(line).start()
        text = line[col:]
        if text.startswith(("== Final Plan ==", "== Initial Plan ==")):
            markers = [m for m in markers if m[0] < col]
            markers.append((col, "Initial" in text))
            continue
        markers = [m for m in markers if m[0] <= col]
        scan = _SCAN.match(text)
        if scan and not any(initial for _c, initial in markers):
            ids.add(scan.group(1))
    return len(ids)


def main() -> None:
    import __spark_entry__ as m
    from vectorsearchutil_spark.queries import STAGED_QUERIES
    from vectorsearchutil_spark.session import get_spark

    spark = get_spark("scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SCAN_AUDIT_SF_DIR", "/root/testdata/sf0.001")
    status = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    bus = spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001

    entries = {**m.queries(), **STAGED_QUERIES}
    rows = []
    for name, fn in sorted(entries.items()):
        spark.catalog.clearCache()
        try:
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            bus.waitUntilEmpty()
            runs = status.executionsList()
            plan = runs.apply(runs.size() - 1).physicalPlanDescription()
            rows.append((executed_scans(plan), name))
        except Exception as e:  # noqa: BLE001 — audit keeps going
            rows.append((-1, f"{name} ERR {type(e).__name__}"))
    rows.sort(reverse=True)
    limit = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    for n, name in rows[:limit]:
        print(n, name)


if __name__ == "__main__":
    main()
