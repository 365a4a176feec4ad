"""TZ / parquet-read-config parity probe (VERDICT r6 "Next round" #3).

Round 6's only driver-red rows were environment flips the 470-test
suite could never catch because every run shared one machine config:
JVM/python timezone UTC and Spark 4's NTZ-inferring parquet reader.
This probe is the missing dimension: launched as a SUBPROCESS with
``TZ=America/New_York`` (a fresh JVM picks the zone up as its default)
and an explicit ``spark.sql.parquet.inferTimestampNTZ.enabled``
setting, it runs a calendar-sensitive slice of the registry on a
bone-stock session against the same DuckDB oracles with the
driver-strict comparator.

Usage:
    TZ=America/New_York python tools/probe_tz_parity.py \
        --ntz true --sf-dir /root/testdata/sf0.001 [name ...]

Exit 0 iff every query matches its oracle. The pytest wrapper
(tests/test_tz_parity.py) runs it under both NTZ settings.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

#: The slice: the 7 window/asof/OHLC queries the judge demonstrated
#: flipping under TZ=America/New_York, the 2 LTZ-read flips
#: (yoy/cusum), the 3 round-6 driver-red rows, and one representative
#: per remaining calendar-using family (sessionize, seasonality, ACF,
#: date-filtered TPC-H, interarrival, retention week-trunc,
#: moving-avg date grid).
DEFAULT_SLICE = [
    "events_tumbling_window",
    "events_sliding_window",
    "events_session_window_batch",
    "events_asof_join",
    "events_asof_join_forward",
    "events_ohlc_hourly",
    "events_kaplan_meier",
    "orders_yoy_growth",
    "customer_rfm_scores",
    "events_cusum_changepoint",
    "events_retention_triangle",
    "events_sessionize",
    "events_seasonality",
    "orders_daily_acf",
    "events_interarrival",
    "events_moving_avg",
    "tpch_q1_pricing_summary",
    # round-8 staged calendar consumers (waves 4/6): day-grid windows,
    # hour-index lag, 7-day lag join, dow-seasonal medians — each a
    # distinct calendar mechanism behind the NTZ read boundary
    "events_max_drawdown",
    "events_rolling_corr",
    "events_completeness_gaps",
    "events_seasonal_anomalies",
    "orders_seasonal_naive_wape",
    # round-9 staged ts consumer: pure timestamp COMPARISON (no
    # calendar functions) — in the slice to prove the funnel's
    # strict-ordering joins survive hostile zones, not because a
    # mechanism is suspected
    "events_funnel_conversion",
    # round-9 staged calendar consumer (to_date + date_add day grid,
    # the same mechanism class as the wape entry above it)
    "orders_conformal_coverage",
    # round-10 staged calendar consumers (the COVERAGE.md standing
    # rule): NA shares KM's epoch-floor day arithmetic; MK/FDR/EWMA
    # run on the to_date day grid; DAU/MAU adds date_add interval
    # arithmetic + a datediff island break; DiD anchors on a
    # min/max-date midpoint split.
    "events_nelson_aalen",
    "events_mann_kendall",
    "events_fdr_bh",
    "events_ewma_forecast",
    "events_dau_mau_stickiness",
    "events_diff_in_diff",
    # round-11 staged calendar consumers (the standing rule):
    # log-rank shares KM's epoch-floor day arithmetic per GROUP;
    # the Poisson rate test anchors on the min/max-date midpoint
    # split; Holt and Hurst run on the to_date day grid.
    "events_logrank_test",
    "events_poisson_rate_test",
    "events_holt_forecast",
    "events_hurst_exponent",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ntz", choices=["true", "false"], required=True)
    ap.add_argument(
        "--sf-dir", default=os.environ.get(
            "TZ_PARITY_SF_DIR", "/root/testdata/sf0.001"
        )
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or DEFAULT_SLICE

    import duckdb
    from pyspark.sql import SparkSession

    from check_oracles import norm_rows

    tz = os.environ.get("TZ", "<unset>")
    # bone-stock session (the driver contract) apart from the read
    # config under test; the TZ env var is the JVM's default zone
    spark = (
        SparkSession.builder.master("local[8]")
        .appName(f"tz-parity-ntz-{args.ntz}")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", args.ntz)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    jvm_tz = spark._jvm.java.util.TimeZone.getDefault().getID()  # noqa: SLF001
    print(f"probe: TZ={tz} jvm_default={jvm_tz} inferTimestampNTZ={args.ntz}")
    if jvm_tz in ("UTC", "Etc/UTC", "GMT"):
        print(
            "FAIL setup: JVM default zone is UTC — the probe must run "
            "in a fresh process with TZ set BEFORE JVM launch"
        )
        return 2

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    from vectorsearchutil_spark.queries import STAGED_ORACLES, STAGED_QUERIES

    qs = {**STAGED_QUERIES, **qs}
    oracles = {**STAGED_ORACLES, **oracles}

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    failures = 0
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not registered")
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(srows)} rows")
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            a = norm_rows(scols, srows)
            b = norm_rows(dcols, drows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok {name}: {len(srows)} rows [{time.time() - t0:.1f}s]")
    print("ALL GREEN" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
