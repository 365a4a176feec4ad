"""Local stand-in for the driver's correctness gate: run each
``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()`` on
DuckDB, compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [--json OUT.json] [name ...]

With ``--json`` the full per-query result is also written in the
driver's CORRECTNESS_r{N}.json format (rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err) — the committed
CORRECTNESS_SELF_r{N}.json artifacts are produced this way, covering
the ENTIRE registry (the driver's own file caps at ~50 entries).
``CHECK_ORACLES_PENDING=1`` adds the staged entries
(``queries.STAGED_QUERIES``).
"""

from __future__ import annotations

import decimal
import json
import math
import os
import sys
import time

ROOT = "/root/repo"
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("CHECK_ORACLES_SF_DIR", "/root/testdata/sf0.01")


class DriverIncompatible(Exception):
    """Output shape the driver's canonicalizer cannot hash."""


def norm_cell(v):
    """Driver-strict canonical cell: full precision, dtype-tagged.

    The r3 lesson (VERDICT r3 "What's wrong" #5): ``%.6g`` erased
    int-vs-float dtype and absorbed >6-sig-fig diffs, so q12/q9
    shipped self-green but driver-red. The driver compares typed
    values at full precision and CRASHES on list cells — so this
    canonicalizer tags every cell with its Python type and refuses
    containers outright. A self-green row is now at least as strict
    as a driver-green row.
    """
    if v is None:
        return "null"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return f"bool:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "float:nan"
        return f"float:{v!r}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, decimal.Decimal):
        # scale-insensitive (123.45 ≡ 123.450) but exact-valued, the
        # way hashing Decimal objects behaves driver-side
        return f"decimal:{format(v.normalize(), 'f')}"
    if isinstance(v, (list, tuple, set, dict, bytes, bytearray)):
        raise DriverIncompatible(
            f"container-typed cell ({type(v).__name__}) — the driver's "
            "canonicalizer crashes on unhashable cells; stringify the "
            "column in the final projection on both sides"
        )
    return f"{type(v).__name__}:{v}"


def arrow_class(t) -> str:
    """Collapse an Arrow type to the class a typed hasher compares.

    Round-8 lesson (VERDICT r8): the driver hashes typed cells at the
    Arrow/materialized level, so DuckDB HUGEINT (Arrow
    decimal128(38,0)) vs Spark int64 red-flags EQUAL values — while
    python-duckdb's python-object fetch collapses HUGEINT to plain
    ``int`` before norm_cell ever sees it, making the value-level
    check structurally blind.  This closes the channel: both sides'
    limit-0 Arrow schemas are compared by TYPE CLASS (int widths and
    string/large_string collapse; int-vs-decimal-vs-float does not).
    """
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        # unsigned has no Spark twin — surface it as its own class
        return "int" if pa.types.is_signed_integer(t) else "uint"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_null(t):
        return "null"
    return f"other:{t}"


def arrow_schema_classes(schema) -> dict[str, str]:
    return {f.name: arrow_class(f.type) for f in schema}


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("|".join(norm_cell(r[i]) for i in idx))
    return sorted(out)


def main():
    import duckdb

    import __spark_entry__ as entrymod

    if os.environ.get("CHECK_ORACLES_VANILLA"):
        # driver simulation: a bone-stock SparkSession (default 200
        # shuffle partitions, no engine conf) — de-risks the external
        # gate against any get_spark conf the results might lean on
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("oracle-check-vanilla")
            .getOrCreate()
        )
    else:
        from vectorsearchutil_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    only = set(argv)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if os.environ.get("CHECK_ORACLES_PENDING"):
        # staged entries (kept out of __spark_entry__) go through the
        # same driver-strict gate
        from vectorsearchutil_spark.queries import (
            STAGED_ORACLES,
            STAGED_QUERIES,
        )

        qs = {**qs, **STAGED_QUERIES}
        oracles = {**oracles, **STAGED_ORACLES}
    failures = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "arrow_schema_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        report[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            rec["err"] = f"spark: {e}"[:500]
            failures += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(srows)} rows [{dt:.1f}s]")
            rec["err"] = "no_oracle"
            if len(srows) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            rec["oracle_rows"] = len(drows)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            rec["err"] = f"duckdb: {e}"[:500]
            failures += 1
            continue
        problems = []
        # Arrow-level schema compare (limit-0 on both engines: types
        # don't depend on rows, so this costs one trivial job).  This
        # is the channel the python-object fetch erases — see
        # arrow_class's docstring.  Recorded SEPARATELY from the
        # value-hash gate: the round-8 failure signature is exactly
        # "values equal, typed cells differ", and we want both facts.
        arrow_problem = None
        try:
            s_classes = arrow_schema_classes(sdf.limit(0).toArrow().schema)
            d_classes = arrow_schema_classes(
                con.sql(oracles[name]).limit(0).arrow().schema
            )
            rec["arrow_schema_match"] = s_classes == d_classes
            if not rec["arrow_schema_match"]:
                diffs = {
                    c: (s_classes.get(c), d_classes.get(c))
                    for c in sorted(set(s_classes) | set(d_classes))
                    if s_classes.get(c) != d_classes.get(c)
                }
                arrow_problem = f"arrow type classes spark!=duck: {diffs}"
        except Exception as e:  # pragma: no cover - diagnostic path
            rec["arrow_schema_match"] = False
            arrow_problem = f"arrow schema fetch failed: {e}"
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        if not rec["schema_match"]:
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        rec["rows_match"] = len(srows) == len(drows)
        if not rec["rows_match"]:
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            try:
                a = norm_rows(scols, srows)
                b = norm_rows(dcols, drows)
            except DriverIncompatible as e:
                rec["hash_match"] = False
                rec["err"] = f"driver-incompatible: {e}"[:500]
                problems.append(str(e))
            else:
                rec["hash_match"] = a == b
                if a != b:
                    diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                    problems.append(f"values differ; first diffs: {diff}")
        else:
            rec["hash_match"] = False
        if arrow_problem:
            problems.append(arrow_problem)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok {name}: {len(srows)} rows [{dt:.1f}s]")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"wrote {json_out} ({len(report)} entries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
