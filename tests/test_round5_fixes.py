"""Regression tests pinning the round-5 fixes (ADVICE r4): the
scrub's full-corpus stop-gram filter, pack_context_windows numeric-id
enforcement, optimize_ann_index files-per-list semantics, and the
stateful streaming chunk-ordering discipline under a tiny Arrow
batch size (the multi-chunk case the defects hid in)."""

from __future__ import annotations

import pytest


def test_scrub_excludes_stop_gram_runs(spark):
    """A detected pair that ALSO shares a boilerplate run of frequent
    grams (df > max_df) must lose only the rare run the detector
    reported — the stop-gram filter applies to the scrub's gram
    table too, computed over the FULL corpus (ADVICE r4 high)."""
    from vectorsearchutil_spark.operators.dedup import (
        duplicate_spans,
        scrub_duplicate_spans,
    )

    boiler = " ".join(f"b{i}" for i in range(12))   # in 8 docs: df=8
    rare = " ".join(f"r{i}" for i in range(12))     # in 2 docs: df=2
    rows = [
        (1, f"x1 {boiler} {rare} x2"),
        (2, f"y1 {rare} y2 {boiler} y3"),
    ] + [(i, f"z{i}a {boiler} z{i}b") for i in range(3, 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kw = dict(width=4, min_span=12, max_df=5)
    spans = {
        (r["id_a"], r["id_b"]): (r["longest_span"], r["n_spans"])
        for r in duplicate_spans(df, **kw).collect()
    }
    # detector: ONLY the rare run pairs 1-2; boilerplate grams are
    # stop-filtered so the 8 boilerplate carriers produce no pairs
    assert spans == {(1, 2): (12, 1)}

    got = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_duplicate_spans(df, **kw).collect()
    }
    # loser (doc 2) loses exactly the 12 rare tokens — the
    # boilerplate run survives because its grams are stop-filtered
    assert got[2][1] == 12
    assert "b0" in got[2][0] and "b11" in got[2][0]
    assert "r0" not in got[2][0]
    # winner and boilerplate-only docs untouched
    assert got[1][1] == 0
    assert all(got[i][1] == 0 for i in range(3, 9))


def test_pack_context_windows_rejects_non_numeric_ids(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        pack_context_windows,
    )

    bad = spark.createDataFrame(
        [("a", "one two three"), ("b", "four five")],
        "doc_id string, text string",
    )
    with pytest.raises(Exception, match="requires numeric ids"):
        pack_context_windows(bad, capacity=4).collect()


def test_pack_context_windows_numeric_string_ids_order_numerically(
    spark,
):
    """Numeric-string ids pack in NUMERIC order ('9' before '10'),
    matching the block decomposition's arithmetic."""
    from vectorsearchutil_spark.operators.textanalysis import (
        pack_context_windows,
    )

    df = spark.createDataFrame(
        [("10", "t1 t2 t3"), ("9", "u1 u2")],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: (r["start_offset"], r["n_tokens"])
        for r in pack_context_windows(df, capacity=4).collect()
    }
    assert got["9"] == (0, 2)
    assert got["10"] == (2, 3)


def test_optimize_ann_index_files_per_list(spark, tmp_path):
    """target_files_per_list > 1 yields up to that many files per
    centroid partition (split-key controlled), and query results are
    unchanged (ADVICE r4 low: the old repartition(N, key) collapsed
    the whole rewrite into N total partitions)."""
    import glob
    import os
    from collections import Counter

    import numpy as np

    from vectorsearchutil_spark.sources.manifest import ManifestLog
    from vectorsearchutil_spark.store import VectorStore

    rng = np.random.RandomState(23)
    rows = [
        (f"doc {i}", [float(x) for x in rng.randn(8)])
        for i in range(400)
    ]
    vs = VectorStore(spark, acid_path=str(tmp_path / "annstore"))
    vs.set_data(spark.createDataFrame(rows, ["target", "vector"]))
    vs.build_ann_index(n_lists=4)

    qvec = rows[123][1]
    exact = [r["id"] for r in vs.query_ann(qvec, k=5, n_probe=4).collect()]

    n_files = vs.optimize_ann_index(target_files_per_list=2)
    lists = ManifestLog(vs._ivf_path).data_dir
    per_list = Counter(
        os.path.basename(os.path.dirname(p))
        for p in glob.glob(
            os.path.join(lists, "**", "*.parquet"), recursive=True
        )
    )
    assert sum(per_list.values()) == n_files
    assert per_list and all(1 <= c <= 2 for c in per_list.values())
    # with ~100 rows per list, both hash splits are populated
    assert any(c == 2 for c in per_list.values())
    got = [r["id"] for r in vs.query_ann(qvec, k=5, n_probe=4).collect()]
    assert got == exact


@pytest.fixture()
def tiny_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def test_token_budget_multichunk_global_order(
    spark, tmp_path, tiny_arrow_batches
):
    """With Arrow batches of 7 rows and SHUFFLED arrival, one
    source's micro-batch data spans many chunks: admission must
    still follow the GLOBAL order_col order (the per-chunk-sort
    defect, ADVICE r4 medium applied to token budget)."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.streaming.stateful import (
        streaming_token_budget,
    )

    docs = spark.range(100).selectExpr(
        "id AS doc_id",
        "'s0' AS source",
        "pmod(xxhash64(id, 3), 50) + 5 AS n_tokens",
        "id AS _ord",
    )
    budget = {"s0": 900}
    # expected: greedy prefix over _ord order
    rows = sorted(
        ((r["doc_id"], r["n_tokens"]) for r in docs.collect()),
    )
    cum, expected = 0, {}
    for doc_id, n in rows:
        cum += n
        if cum <= budget["s0"]:
            expected[doc_id] = cum

    src = str(tmp_path / "src")
    docs.orderBy(F.expr("xxhash64(doc_id, 9)")).coalesce(1).write.parquet(
        src
    )
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        streaming_token_budget(stream, budget, order_col="_ord")
        .writeStream.format("memory")
        .queryName("tb_multichunk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in spark.table("tb_multichunk").collect()
    }
    assert got == expected


def test_attribution_multichunk_global_order(
    spark, tmp_path, tiny_arrow_batches
):
    """Purchases attribute against the touch-state as of their
    position in GLOBAL (ts, event_id) order even when the user's
    micro-batch data spans many Arrow chunks (ADVICE r4 medium)."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.streaming.stateful import (
        streaming_attribution,
    )

    # one user, alternating touches and purchases; a purchase right
    # after a long gap is 'expired', early ones 'organic'
    events = spark.range(60).selectExpr(
        "id AS event_id",
        "timestamp_micros(cast(1700000000000000 + "
        "  CASE WHEN id < 3 THEN id * 1000000 "
        "       ELSE id * 1000000000 END AS BIGINT)) AS ts",
        "cast(7 AS BIGINT) AS user_id",
        "CASE WHEN pmod(id, 3) = 2 THEN 'purchase' "
        "     WHEN pmod(id, 3) = 1 THEN 'click' "
        "     ELSE 'other' END AS event_type",
        "cast(id AS DOUBLE) AS value",
    )
    # expected via the same semantics computed serially
    rows = sorted(
        (
            (int(r["ts"].timestamp() * 1_000_000), r["event_id"],
             r["event_type"], r["value"])
            for r in events.collect()
        )
    )
    last, expected = None, {}
    for t_us, eid, et, val in rows:
        if et == "purchase":
            if last is None:
                expected[eid] = (None, "organic")
            else:
                dt = t_us / 1e6 - last / 1e6
                expected[eid] = (
                    last, "attributed" if dt <= 3600.0 else "expired"
                )
        if et == "click":
            last = t_us if last is None else max(last, t_us)

    src = str(tmp_path / "src")
    events.orderBy(F.expr("xxhash64(event_id, 5)")).coalesce(
        1
    ).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        streaming_attribution(stream)
        .writeStream.format("memory")
        .queryName("attr_multichunk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["purchase_event_id"]: (r["last_touch_us"], r["attribution"])
        for r in spark.table("attr_multichunk").collect()
    }
    assert got == expected


@pytest.mark.parametrize(
    "max_hamming,n_bands",
    [(1, 2), (1, 4), (3, 4), (3, 8), (7, 8), (7, 16)],
)
def test_ahash_neardup_brute_force_all_band_layouts(
    spark, max_hamming, n_bands
):
    """The verify-before-distinct restructure must stay exact across
    every band layout: pigeonhole completeness is per-layout, and the
    pre-decoded long chunks must reproduce the full 64-bit hamming
    regardless of band width."""
    import itertools
    import random

    from vectorsearchutil_spark.operators.multimodal import (
        ahash_neardup_pairs,
    )

    rng = random.Random(max_hamming * 31 + n_bands)
    hashes = {0: rng.getrandbits(64)}
    for i in range(1, 40):
        v = hashes[rng.randrange(0, i)]
        for _ in range(rng.randint(0, max_hamming + 2)):
            v ^= 1 << rng.randrange(64)
        hashes[i] = v
    df = spark.createDataFrame(
        [(i, format(v, "016x")) for i, v in hashes.items()],
        ["doc_id", "ahash"],
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in ahash_neardup_pairs(
            df, max_hamming=max_hamming, n_bands=n_bands
        ).collect()
    )
    exp = sorted(
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for a, b in itertools.combinations(sorted(hashes), 2)
        if bin(hashes[a] ^ hashes[b]).count("1") <= max_hamming
    )
    assert got == exp


def test_pack_context_windows_matches_brute_force(spark):
    """Offsets equal the single-pass cumulative definition over
    ascending numeric ids — including negative ids (floor-division
    blocks) and ids straddling the 1024 block boundary."""
    import random

    from vectorsearchutil_spark.operators.textanalysis import (
        pack_context_windows,
    )

    rng = random.Random(42)
    ids = rng.sample(range(-3000, 5000), 300)
    rows = [
        (i, " ".join(f"t{j}" for j in range(rng.randint(1, 30))))
        for i in ids
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["start_offset"],
            r["first_window"], r["last_window"], r["n_windows"],
        )
        for r in pack_context_windows(df, capacity=64).collect()
    }
    off = 0
    for i, text in sorted(rows):
        n = len(text.split())
        first, last = off // 64, (off + n - 1) // 64
        assert got[i] == (n, off, first, last, last - first + 1), i
        off += n


def test_mad_zscore_rounding_matches_duckdb_on_boundary(spark, tmp_path):
    """Cross-engine rounding determinism (found by the sf0.1 sweep):
    a z-score landing on a decimal half-way boundary must round the
    same way on Spark and DuckDB. F.round (BigDecimal HALF_UP on the
    exact binary expansion) vs DuckDB ROUND (round of the scaled
    double) flip the last digit on such values; the query's floor-form
    floor(z*1e4+0.5)/1e4 is identical IEEE arithmetic in both."""
    import duckdb

    import __spark_entry__ as entry_mod
    from vectorsearchutil_spark import queries as Q

    # value domain engineered so one z-score sits on a .xxxx5
    # boundary: group median 10.0, MAD 2.0 => z = 0.6745*(v-10)/2.
    # v = 10 + 2*4.15975/0.6745 gives z ≈ 4.15975 (a 5 in the 5th
    # decimal) — beyond the 3.5 cutoff so the row is emitted.
    vals = [10.0] * 3 + [8.0, 12.0] * 5
    vals.append(10.0 + 2 * 4.15975 / 0.6745)
    rows = [(i, "t", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        r["event_id"]: r["robust_z"]
        for r in Q.QUERIES["events_value_mad_outliers"](spark, d).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'"
    )
    sql = entry_mod.oracle_sql()["events_value_mad_outliers"]
    want = {eid: z for eid, _t, _v, z in con.execute(sql).fetchall()}

    assert got == want
    assert len(got) >= 1  # the boundary row actually came out


def test_zeroshot_arrow_strategy_bit_identical(spark, monkeypatch):
    """The size-gated Arrow zeroshot path (the 302s -> 16s fix at
    2M x 100 labels) must produce BIT-IDENTICAL predictions and
    cosine scores to the expression path — the numpy form accumulates
    dot/norm folds one dim at a time in the same order with the same
    two roundings. Softmax probs may differ only by the documented
    Math.exp-vs-libm last ulp (<= 1e-12 relative). A NULL and a
    zero-norm vector get the lowest-index label and NULL scores on
    both paths."""
    from pyspark.sql import functions as F

    from vectorsearchutil_spark import session
    from vectorsearchutil_spark.operators.zeroshot import zeroshot

    emb = spark.range(2000).selectExpr(
        "id",
        "transform(sequence(1, 16), j -> pmod(xxhash64(id, j), 1000)"
        " / 1000.0) AS vector",
    ).unionByName(
        spark.createDataFrame(
            [(2000, None), (2001, [0.0] * 16)],
            "id long, vector array<double>",
        )
    )
    labels = spark.range(5).selectExpr(
        "cast(id AS int) AS label_idx",
        "concat('L', id) AS label",
        "transform(sequence(1, 16), j -> pmod(xxhash64(id + 9, j),"
        " 1000) / 1000.0) AS label_vec",
    )
    def predict(softmax, wall):
        with monkeypatch.context() as m:
            m.setattr(session, "ARROW_MIN_CELLS", wall)
            out = zeroshot(emb, labels, softmax=softmax)
            return out, {r["id"]: r for r in out.collect()}

    for softmax in (False, True):
        expr_df, expr_out = predict(softmax, session.ARROW_MIN_CELLS)
        arrow_df, arrow_out = predict(softmax, 0)
        # the auto gate: 2002 rows × 5 labels × 16 dims stays on the
        # expression plan (no MapInPandas in it); a zero wall flips it
        assert "MapInPandas" not in expr_df._jdf.queryExecution().toString()
        assert "MapInPandas" in arrow_df._jdf.queryExecution().toString()
        assert set(expr_out) == set(arrow_out)
        for i, a in expr_out.items():
            b = arrow_out[i]
            assert a["zeroshot_pred"] == b["zeroshot_pred"]
            assert a["score"] == b["score"]  # exact, not approx
            if softmax and a["prob"] is None:
                assert b["prob"] is None
            elif softmax:
                assert abs(a["prob"] - b["prob"]) <= 1e-12 * abs(a["prob"])
        for i in (2000, 2001):
            assert expr_out[i]["zeroshot_pred"] == "L0"
            assert expr_out[i]["score"] is None
