"""Round-8 diagnostics that stay live: the rfm per-customer base
aggregate, the exact_ntile null-safe fix, the env canaries and the
driver-strict canonicalizer round-trip (VERDICT r7 "Next round"
#3/#4/#8)."""

from __future__ import annotations

import duckdb

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------
# rfm base aggregate + exact_ntile null path
# ------------------------------------------------------------------


def test_rfm_percust_is_rfm_scores_base(spark):
    """rfm_per_customer IS the base table rfm_scores quintiles over:
    joining quintiles back reproduces rfm_scores row-for-row."""
    from vectorsearchutil_spark.operators.analytics import (
        rfm_per_customer,
        rfm_scores,
    )
    from vectorsearchutil_spark.sources.readers import load_table

    o = load_table(spark, SF, "orders")
    base = {
        r["o_custkey"]: (r["recency_days"], r["frequency"], r["monetary_cents"])
        for r in rfm_per_customer(o).collect()
    }
    for r in rfm_scores(o).collect():
        assert base[r["o_custkey"]] == (
            r["recency_days"], r["frequency"], r["monetary_cents"]
        )


def test_exact_ntile_keeps_null_value_rows(spark):
    """Round-8 fix: NULL metric values are a NULLS LAST rank group,
    not rows to drop — the equi-join on the value key is now
    null-safe."""
    from vectorsearchutil_spark.operators.analytics import exact_ntile

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 10), (4, 5), (5, None)],
        "id long, v int",
    )
    out = exact_ntile(
        df, "v", 2, ascending=True, tie_col="id", out_col="b"
    ).collect()
    assert len(out) == 5
    got = {r["id"]: r["b"] for r in out}
    # order: 5,10,10,NULL,NULL (nulls last) -> buckets (n=5,k=2):
    # first 3 rows bucket 1, last 2 bucket 2
    assert got == {4: 1, 1: 1, 3: 1, 2: 2, 5: 2}


# ------------------------------------------------------------------
# canaries
# ------------------------------------------------------------------


def test_spark_version_canary_decodes(spark):
    import pyspark

    from vectorsearchutil_spark.queries import QUERIES

    n = QUERIES["env_spark_version"](spark, SF).count()
    maj, mi, pa = (int(x) for x in pyspark.__version__.split(".")[:3])
    assert n == maj * 10000 + mi * 100 + pa


def test_env_fingerprint_label_normalizes_utc_aliases(spark):
    from vectorsearchutil_spark.queries import QUERIES

    df = QUERIES["env_fingerprint"](spark, SF)
    (col,) = df.columns
    assert "__jvmtz_UTC__" in col
    assert "__sesstz_UTC__" in col
    assert df.count() == 11440


# ------------------------------------------------------------------
# driver-strict canonicalizer round-trip (VERDICT r7 #8): every
# output dtype the registry actually emits, pushed through BOTH
# engines and the self-checker's norm_cell — the regression gate that
# keeps the comparator honest if round 8's probes implicate it.
# ------------------------------------------------------------------


def test_canonicalizer_roundtrip_all_emitted_dtypes(spark):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracles import norm_rows

    sdf = spark.sql(
        """
        SELECT CAST(1 AS BIGINT) AS i64,
               CAST(2 AS INT) AS i32,
               CAST(NULL AS BIGINT) AS null_i,
               CAST(NULL AS DOUBLE) AS null_d,
               CAST(-0.0 AS DOUBLE) AS neg_zero,
               CAST(0.1 AS DOUBLE) AS frac,
               CAST('x' AS STRING) AS s,
               CAST(NULL AS STRING) AS null_s,
               CAST(12345.67 AS DECIMAL(18,2)) AS dec,
               TIMESTAMP_NTZ '1995-03-17 01:02:03' AS ts_ntz,
               DATE '1995-03-17' AS d,
               true AS b
        """
    )
    ddf = duckdb.connect().execute(
        """
        SELECT CAST(1 AS BIGINT) AS i64,
               CAST(2 AS INT) AS i32,
               CAST(NULL AS BIGINT) AS null_i,
               CAST(NULL AS DOUBLE) AS null_d,
               CAST(-0.0 AS DOUBLE) AS neg_zero,
               CAST(0.1 AS DOUBLE) AS frac,
               CAST('x' AS VARCHAR) AS s,
               CAST(NULL AS VARCHAR) AS null_s,
               CAST(12345.67 AS DECIMAL(18,2)) AS dec,
               TIMESTAMP '1995-03-17 01:02:03' AS ts_ntz,
               DATE '1995-03-17' AS d,
               true AS b
        """
    )
    cols = sdf.columns
    srows = norm_rows(cols, [tuple(r) for r in sdf.collect()])
    dcols = [c[0] for c in ddf.description]
    drows = norm_rows(dcols, ddf.fetchall())
    assert cols == dcols
    assert srows == drows


def test_canonicalizer_negative_zero_is_distinct_from_positive():
    """-0.0 hashes differently from 0.0 under repr-based float
    tagging — documented comparator behavior, pinned so a future
    'fix' is a conscious choice."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracles import norm_cell

    assert norm_cell(-0.0) != norm_cell(0.0)
    assert norm_cell(-0.0) == "float:-0.0"
