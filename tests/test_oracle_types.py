"""Oracle output-type lint: no DuckDB-private types in any oracle.

The round-8 driver-red class (VERDICT r8 "What's wrong" #1): DuckDB
widens ``SUM(BIGINT)`` to HUGEINT (INT128), a type with no Spark
counterpart.  python-duckdb's python-object fetch collapses HUGEINT
to a plain ``int`` BEFORE ``check_oracles.norm_cell`` tags the dtype,
so the strict self-checker was structurally blind to it — while the
driver's typed/Arrow-level hasher saw ``decimal128(38,0)`` vs Spark's
``int64`` on equal values and flagged exactly those 7 rows red (and 0
of the 266 greens).  Judge registry-wide type scan + A/B validation:
``CAST(... AS BIGINT)`` in the 3 shared fragments fixes all 7.

This gate closes the class at its root: every oracle (live registry
AND pending lane) is planned through DuckDB — no Spark needed, types
don't depend on data — and any output column whose DuckDB type has no
faithful Spark/Arrow twin fails the suite.  Red on the pre-fix round-8
tree (orders_yoy_growth revenue_cents/prev_year_cents,
customer_rfm_scores monetary_cents, events_kaplan_meier n_at_risk +
the 4 probes inheriting the shared CTEs); green post-fix.
"""

from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: DuckDB output types with no faithful Spark counterpart.  HUGEINT /
#: UHUGEINT materialize as Arrow decimal128(38,0) (≠ Spark int64);
#: unsigned ints materialize as Arrow uint* (Spark has none);
#: INTERVAL has no stable cross-engine hash form.
_BANNED_EXACT = {
    "HUGEINT",
    "UHUGEINT",
    "UTINYINT",
    "USMALLINT",
    "UINTEGER",
    "UBIGINT",
}
_BANNED_PREFIX = ("INTERVAL",)


def _banned(type_str: str) -> bool:
    t = type_str.upper()
    return t in _BANNED_EXACT or t.startswith(_BANNED_PREFIX)


def _all_oracles() -> dict[str, str]:
    from vectorsearchutil_spark import queries as Q

    return {**Q.STAGED_ORACLES, **Q.ORACLES}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return c


def test_no_duckdb_private_types_in_any_oracle(con):
    """Plan every oracle; assert no output column types a typed
    (Arrow-level) hasher would see differently than Spark's output."""
    oracles = _all_oracles()
    assert len(oracles) > 250, "registry shrank — wrong import path?"
    offenders: list[str] = []
    for name, sql in sorted(oracles.items()):
        rel = con.sql(sql)  # plans only; no execution
        bad = [
            f"{col}:{ty}"
            for col, ty in zip(rel.columns, [str(t) for t in rel.types])
            if _banned(ty)
        ]
        if bad:
            offenders.append(f"{name} -> {bad}")
    assert not offenders, (
        "oracle(s) emit DuckDB-private output types (the round-8 "
        "driver-red class — wrap the aggregate in CAST(... AS "
        "BIGINT)):\n" + "\n".join(offenders)
    )


def test_arrow_class_compare_catches_hugeint_channel(con):
    """check_oracles' Arrow-level compare must distinguish the exact
    round-8 signature: DuckDB HUGEINT materializes as Arrow
    decimal128(38,0) while Spark emits int64 — equal values, different
    typed cells — which the python-object fetch collapses to int:int.
    """
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracles import arrow_class, arrow_schema_classes

    hugeint = con.sql(
        "SELECT SUM(CAST(o_orderkey AS BIGINT)) AS s FROM orders"
    ).arrow()
    cast_fixed = con.sql(
        "SELECT CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS s "
        "FROM orders"
    ).arrow()
    assert arrow_schema_classes(hugeint.schema) == {"s": "decimal"}
    assert arrow_schema_classes(cast_fixed.schema) == {"s": "int"}
    # the python-object fetch that blinded the round-8 self-check:
    # both sides come back as plain int
    assert isinstance(
        con.sql(
            "SELECT SUM(CAST(o_orderkey AS BIGINT)) AS s FROM orders"
        ).fetchone()[0],
        int,
    )
    # width collapses inside a class; class boundaries don't
    import pyarrow as pa

    assert arrow_class(pa.int32()) == arrow_class(pa.int64()) == "int"
    assert arrow_class(pa.string()) == arrow_class(pa.large_string())
    assert arrow_class(pa.uint32()) == "uint"  # no Spark twin
    assert arrow_class(pa.decimal128(38, 0)) != arrow_class(pa.int64())
    assert arrow_class(pa.float64()) != arrow_class(pa.decimal128(18, 2))


def test_banned_detector_actually_fires(con):
    """Self-test of the lint: an uncast SUM(BIGINT) must trip it."""
    rel = con.sql("SELECT SUM(CAST(o_orderkey AS BIGINT)) AS s FROM orders")
    assert _banned(str(rel.types[0])), "SUM(BIGINT) no longer HUGEINT?"
    rel2 = con.sql(
        "SELECT CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS s "
        "FROM orders"
    )
    assert not _banned(str(rel2.types[0]))
