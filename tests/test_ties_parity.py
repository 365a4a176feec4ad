"""Permanent tie-parity gate: run the ORACLE compare (not just
execution) for the tie-sensitive query families on the adversarial
ties fixture (tools/gen_ties_fixture.py — mass-repeated values,
identical vectors, duplicate texts, exact half-way cents). This is
the regression net for the round-5 finding that
``ROUND(SUM(double), 2)`` diverged across engines on boundary sums
(events_grouping_sets / events_hourly_gapfill, both since repaired
with exact-cents sums).

The full 199-query gate on this fixture runs out-of-band (see
ROBUSTNESS.md); this test pins a ~2-minute subset chosen for tie
pressure: rank/top-k (id tie-breaks carry all ordering), quantile /
percentile (every group is one of 7 values), the two repaired
aggregates, and the pending rank-sensitive entries.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

TIE_SENSITIVE = [
    # repaired in round 5 — the regression the fixture exists for
    "events_grouping_sets",
    "events_hourly_gapfill",
    # rank / top-k under mass score ties
    "knn_single",
    "knn_batch",
    "events_per_user_sample",
    "customers_acctbal_deciles",
    # quantile family where every group holds 7 distinct values
    "events_value_quantile_sketch",
    "lineitem_weighted_median",
    "events_value_mad_outliers",
    # pending lane rank-sensitive entries
    "embeddings_hubness",
    "knn_crossencoder_rerank",
    "events_percentile_rank",
    "events_value_tdigest",
    "dedup_keep_best",
]


@pytest.fixture(scope="module")
def ties_sf(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ties_sf"))
    from tools.gen_ties_fixture import main as gen

    gen(out)
    return out


def test_tie_sensitive_queries_match_oracles(spark, ties_sf):
    import duckdb

    from tools.check_oracles import norm_rows
    from vectorsearchutil_spark import queries as Q

    qs = {**Q.QUERIES, **Q.STAGED_QUERIES}
    oracles = {**Q.ORACLES, **Q.STAGED_ORACLES}
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM '{os.path.join(ties_sf, t)}.parquet'"
        )
    bad = {}
    for name in TIE_SENSITIVE:
        sdf = qs[name](spark, ties_sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if sorted(scols) != sorted(dcols):
            bad[name] = f"cols {sorted(scols)} != {sorted(dcols)}"
            continue
        if len(srows) != len(drows):
            bad[name] = f"rows {len(srows)} != {len(drows)}"
            continue
        a, b = norm_rows(scols, srows), norm_rows(dcols, drows)
        if a != b:
            diffs = [x for x in zip(a, b) if x[0] != x[1]][:2]
            bad[name] = f"values differ: {diffs}"
    assert not bad, f"tie-parity failures: {bad}"
