"""Property-based checks (hypothesis): the JVM-side vector math must
agree with numpy on arbitrary finite inputs, and store dedup must
agree with the reference's pandas semantics
(pd.concat().drop_duplicates(subset='target'), VectorSearchBase.py:124).

Spark job dispatch is slow, so each property batches all generated
cases into ONE DataFrame per example run.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from vectorsearchutil_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_distance,
)

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
vec_pair = st.integers(min_value=2, max_value=16).flatmap(
    lambda d: st.tuples(
        st.lists(finite, min_size=d, max_size=d),
        st.lists(finite, min_size=d, max_size=d),
    )
)


@settings(max_examples=5, deadline=None)
@given(st.lists(vec_pair, min_size=1, max_size=20))
def test_vector_math_matches_numpy(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], ["id", "a", "b"]
    )
    rows = df.select(
        "id",
        dot("a", "b").alias("dot"),
        l2_distance("a", "b").alias("l2"),
        cosine_similarity("a", "b").alias("cos"),
    ).collect()
    def fold_dot(xs, ys):
        # the engine's DOCUMENTED semantics (functions/vector.py):
        # strict left-to-right array-order summation. numpy's `@`
        # uses pairwise/SIMD summation, which legitimately differs
        # under catastrophic cancellation (1e12-scale terms
        # cancelling to 1e3 — hypothesis found such an input), so the
        # reference here is the left fold, checked EXACTLY, with
        # numpy kept only as a loose magnitude sanity bound.
        acc = 0.0
        for x, y in zip(xs, ys):
            acc += x * y
        return acc

    for r in rows:
        pa, pb = pairs[r["id"]]
        a = np.array(pa)
        b = np.array(pb)
        assert r["dot"] == fold_dot(pa, pb)
        scale = max(1.0, float(np.abs(a * b).sum()))
        assert r["dot"] == pytest.approx(float(a @ b), abs=1e-9 * scale)
        fold_l2 = math.sqrt(
            fold_dot([x - y for x, y in zip(pa, pb)],
                     [x - y for x, y in zip(pa, pb)])
        )
        assert r["l2"] == fold_l2
        na = math.sqrt(fold_dot(pa, pa))
        nb = math.sqrt(fold_dot(pb, pb))
        if na > 1e-12 and nb > 1e-12:
            assert r["cos"] == pytest.approx(
                fold_dot(pa, pb) / (na * nb), rel=1e-12, abs=1e-12
            )


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from("abcdef"), st.integers(0, 100)),
        min_size=1,
        max_size=30,
    )
)
def test_first_wins_dedup_matches_pandas(spark, rows):
    import pandas as pd

    from vectorsearchutil_spark.store import VectorStore

    pdf = pd.DataFrame(rows, columns=["target", "val"])
    expected = (
        pdf.drop_duplicates(subset="target")  # keep-first, reference :124
        .set_index("target")["val"]
        .to_dict()
    )
    vs = VectorStore(spark)
    vs.set_data(
        spark.createDataFrame(
            [(t, str(v)) for t, v in rows], ["target", "option1"]
        )
    )
    got = {r["target"]: int(r["option1"]) for r in vs.data.collect()}
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(finite, min_size=4, max_size=4), min_size=1, max_size=20
    )
)
def test_quantize_int8_reconstruction_property(spark, vecs):
    """For any finite vectors: q8 in [-127,127], and |q*scale - v|
    <= scale/2 per component (symmetric quantization contract)."""
    from vectorsearchutil_spark.operators.embeddings import quantize_int8

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    rows = quantize_int8(df).collect()
    for r in rows:
        v = vecs[r["vec_id"]]
        scale = r["scale"]
        if scale is None:  # all-zero vector
            assert all(q == 0 for q in r["q8"])
            continue
        for x, q in zip(v, r["q8"]):
            assert -127 <= q <= 127
            assert abs(q * scale - x) <= scale / 2 + 1e-9


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
             max_size=200, unique=True),
    st.floats(min_value=0.1, max_value=0.9),
)
def test_hash_sample_rate_monotone_and_nested(spark, keys, rate):
    """Hash samples are NESTED: the rate-r sample is a subset of any
    rate-r' sample with r' >= r (same seed) — the property that makes
    deterministic sampling usable for reproducible down-scaling."""
    from vectorsearchutil_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    small = {r["k"] for r in hash_sample(df, rate, "k").collect()}
    big = {r["k"] for r in hash_sample(df, min(1.0, rate + 0.3), "k").collect()}
    assert small <= big


# --- round-2b assembly operators --------------------------------------

word = st.text(alphabet="abcde", min_size=1, max_size=4)
doc = st.lists(word, min_size=0, max_size=40).map(" ".join)


@settings(max_examples=5, deadline=None)
@given(st.lists(doc, min_size=1, max_size=15))
def test_chunk_dedup_invariants(spark, texts):
    """Python-reference equivalence: first-occurrence chunk election
    over (doc_id, chunk_idx) order, any input corpus."""
    from vectorsearchutil_spark.operators.dedup import chunk_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in chunk_dedup(df, chunk_tokens=5).collect()}
    seen: set[str] = set()
    for i, t in enumerate(texts):
        toks = [w for w in t.split(" ") if w]
        chunks = [
            " ".join(toks[j : j + 5]) for j in range(0, len(toks), 5)
        ]
        if not chunks:
            assert i not in rows
            continue
        kept = [c for c in chunks if c not in seen]
        seen.update(chunks)
        assert rows[i]["n_chunks"] == len(chunks)
        assert rows[i]["n_kept"] == len(kept)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(doc, st.sampled_from(["s1", "s2"])),
        min_size=1,
        max_size=15,
    ),
    st.integers(min_value=4, max_value=64),
)
def test_pack_bins_invariants(spark, rows_in, capacity):
    """Bins never exceed capacity (except single oversized docs), bin
    indices are contiguous from 0 per group, id order preserved."""
    from vectorsearchutil_spark.operators.textanalysis import (
        pack_bins_next_fit,
    )

    df = spark.createDataFrame(
        [(i, t, s) for i, (t, s) in enumerate(rows_in)],
        ["doc_id", "text", "source"],
    )
    out = pack_bins_next_fit(df, capacity=capacity).collect()
    by_group: dict[str, list] = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        by_group.setdefault(r["source"], []).append(r)
    for rows in by_group.values():
        fills: dict[int, int] = {}
        sizes = {
            r["doc_id"]: len(
                [w for w in rows_in[r["doc_id"]][0].split(" ") if w]
            )
            for r in rows
        }
        prev_bin = 0
        for r in rows:
            assert 0 <= r["bin_idx"] - prev_bin <= 1  # contiguous
            prev_bin = r["bin_idx"]
            fills[r["bin_idx"]] = fills.get(r["bin_idx"], 0) + sizes[r["doc_id"]]
        for b, fill in fills.items():
            members = [r for r in rows if r["bin_idx"] == b]
            if len(members) > 1:
                assert fill <= capacity


@settings(max_examples=5, deadline=None)
@given(st.lists(doc, min_size=1, max_size=12))
def test_pack_windows_conservation(spark, texts):
    """Window spans tile the concatenated corpus: offsets are the
    exclusive prefix sum and consecutive docs are contiguous."""
    from vectorsearchutil_spark.operators.textanalysis import (
        pack_context_windows,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    rows = sorted(
        pack_context_windows(df, capacity=16).collect(),
        key=lambda r: r["doc_id"],
    )
    expect = 0
    for r in rows:
        assert r["start_offset"] == expect
        expect += r["n_tokens"]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 40)),
        min_size=5,
        max_size=60,
    ),
    st.sampled_from([0.05, 0.1, 0.2]),
)
def test_heavy_hitters_equals_naive_on_arbitrary_data(spark, pairs, phi):
    """Two-pass heavy hitters ≡ naive GROUP BY + threshold for any
    multiset and any φ (complete recall, no false positives)."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.operators.sketches import heavy_hitters_exact

    rows = [(f"v{v}",) for v, cnt in pairs for _ in range(cnt)]
    df = spark.createDataFrame(rows, ["v"]).repartition(7)
    total = len(rows)
    naive = {
        (r["v"], r["c"])
        for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("c")).collect()
        if r["c"] >= phi * total
    }
    got = {
        (r["v"], r["cnt"])
        for r in heavy_hitters_exact(df, "v", phi=phi).collect()
    }
    assert got == naive


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(1, 80), min_size=1, max_size=40),
    st.sampled_from([64, 100]),
)
def test_ffd_packing_valid_for_any_sizes(spark, sizes, cap):
    """FFD invariants on arbitrary inputs: every bin ≤ capacity
    (oversized docs alone in their bin), every doc placed exactly
    once, bins numbered contiguously from 0."""
    from vectorsearchutil_spark.operators.textanalysis import (
        pack_bins_first_fit_decreasing,
    )

    rows = [
        (i, "g", " ".join("w" for _ in range(n)))
        for i, n in enumerate(sizes)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = pack_bins_first_fit_decreasing(df, capacity=cap).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(
        i for i, _ in enumerate(sizes)
    )
    fills: dict[int, int] = {}
    for r in out:
        fills[r["bin_idx"]] = max(fills.get(r["bin_idx"], 0), r["bin_fill"])
    n_docs_in_bin: dict[int, int] = {}
    for r in out:
        n_docs_in_bin[r["bin_idx"]] = n_docs_in_bin.get(r["bin_idx"], 0) + 1
    for b, fill in fills.items():
        assert fill <= cap or n_docs_in_bin[b] == 1  # oversized -> alone
    assert sorted(fills) == list(range(len(fills)))  # contiguous bins


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 30), st.sampled_from(["s0", "s1", "s2"])),
        min_size=1,
        max_size=40,
    ),
    st.integers(10, 120),
)
def test_token_budget_invariants(spark, docs_spec, budget):
    """Token-budget sampling on arbitrary inputs: per-group cumulative
    tokens never exceed the budget, kept docs form a prefix of the
    group's deterministic hash order, and the next doc in that order
    would NOT have fit."""
    from vectorsearchutil_spark.operators.sampling import (
        hash_uniform,
        token_budget_sample,
    )
    import pyspark.sql.functions as F

    rows = [
        (i, "w " * n, src) for i, (n, src) in enumerate(docs_spec)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    budgets = {"s0": budget, "s1": budget, "s2": budget}
    kept = token_budget_sample(docs, budgets).collect()
    by_src: dict[str, list] = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    order = {
        r["doc_id"]: (r["u"], r["doc_id"], r["source"], r["n"])
        for r in docs.select(
            "doc_id",
            "source",
            F.round(
                hash_uniform(F.col("doc_id").cast("string"), "tbudget"),
                12,
            ).alias("u"),
            F.size(F.split(F.trim(F.col("text")), " ")).alias("n"),
        ).collect()
    }
    for src, rs in by_src.items():
        assert max(r["cum_tokens"] for r in rs) <= budget
        # kept set == the longest budget-fitting prefix of hash order
        ordered = sorted(
            (v for v in order.values() if v[2] == src),
        )
        cum, prefix = 0, set()
        for u, did, _, n in ordered:
            if cum + n > budget:
                break
            cum += n
            prefix.add(did)
        assert {r["doc_id"] for r in rs} == prefix


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=30),
        min_size=1,
        max_size=12,
    )
)
def test_segment_dedup_each_segment_survives_once(spark, token_lists):
    """Sub-document dedup on arbitrary corpora: every distinct segment
    value survives exactly once across the corpus, and per-doc
    n_kept ≤ n_segments."""
    from vectorsearchutil_spark.operators.dedup import segment_dedup

    rows = [
        (i, " ".join(toks)) for i, toks in enumerate(token_lists)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = segment_dedup(docs, seg_tokens=4).collect()
    total_kept = sum(r["n_kept"] for r in out)
    distinct_segments = set()
    for i, toks in enumerate(token_lists):
        for lo in range(0, len(toks), 4):
            if toks[lo : lo + 4]:
                distinct_segments.add(" ".join(toks[lo : lo + 4]))
    assert total_kept == len(distinct_segments)
    for r in out:
        assert 0 <= r["n_kept"] <= r["n_segments"]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("xyz"), min_size=1, max_size=20),
        min_size=1,
        max_size=10,
    )
)
def test_token_entropy_bounds(spark, token_lists):
    """0 ≤ H ≤ log2(n_distinct) for any document (to within the
    operator's 4dp output rounding)."""
    import math

    from vectorsearchutil_spark.operators.textanalysis import token_entropy

    rows = [(i, " ".join(t)) for i, t in enumerate(token_lists)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for r in token_entropy(docs).collect():
        hi = math.log2(r["n_distinct"]) + 5e-5
        assert -5e-5 <= r["entropy_bits"] <= hi


wq_rows = st.lists(
    st.tuples(
        st.integers(0, 3),                       # group
        st.floats(-1e6, 1e6, allow_nan=False,
                  allow_infinity=False),         # value (dups likely
                                                 # via small grid too)
        st.integers(1, 9),                       # integer weight
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=8, deadline=None)
@given(wq_rows, st.sampled_from([0.1, 0.5, 0.9, 1.0]))
def test_weighted_quantile_exact_matches_bruteforce(spark, rows, q):
    """Histogram-refinement weighted quantile ≡ the order-statistic
    definition (smallest v with W(≤v) ≥ q·W) on arbitrary grouped
    integer-weighted data — the exactness claim in the docstring,
    checked per group against a python brute force."""
    from vectorsearchutil_spark.operators.sketches import (
        weighted_median_exact,
    )

    df = spark.createDataFrame(
        rows, "g int, v double, w int"
    ).repartition(5)
    got = {
        r["g"]: r["wq"]
        for r in weighted_median_exact(
            df, "g", "v", "w", out_col="wq", quantile=q
        ).collect()
    }

    by_g = {}
    for g, v, w in rows:
        by_g.setdefault(g, []).append((v, w))
    for g, vw in by_g.items():
        tot = sum(w for _, w in vw)
        cum = 0
        want = None
        for v, w in sorted(vw):
            cum += w
            if cum >= q * tot:
                want = v
                break
        assert got[g] == want, (g, q, sorted(vw), got[g], want)


# ---------------------------------------------------------------- round-6 pending wave


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=12),
            min_size=3,
            max_size=15,
        ),
        min_size=2,
        max_size=12,
    )
)
def test_containment_equals_bruteforce(spark, token_lists):
    """containment_pairs (prefix-filtered) vs brute-force set math on
    arbitrary small-vocab corpora: identical pairs AND values —
    completeness of the asymmetric prefix filter, not just
    soundness."""
    from vectorsearchutil_spark.operators.dedup import containment_pairs

    texts = [" ".join(f"w{t}" for t in toks) for toks in token_lists]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, n=2, threshold=0.8).collect()
    }

    def grams(toks):
        return {
            f"w{a}_w{b}" for a, b in zip(toks, toks[1:])
        } if len(toks) >= 2 else set()

    want = {}
    for i in range(len(token_lists)):
        for j in range(i + 1, len(token_lists)):
            A, B = grams(token_lists[i]), grams(token_lists[j])
            if not A or not B:
                continue
            c = len(A & B) / min(len(A), len(B))
            if len(A & B) >= math.ceil(min(len(A), len(B)) * 0.8):
                want[(i, j)] = math.floor(c * 1e6 + 0.5) / 1e6
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(finite, min_size=20, max_size=120),
    st.floats(min_value=0.05, max_value=0.95),
)
def test_tdigest_error_bounded_by_slice_width(spark, values, q):
    """The digest estimate's rank error is bounded by one slice per
    bucket: |rank(est) − q·N| ≤ N/centroids + buckets (slice
    rounding), for arbitrary value distributions."""
    from vectorsearchutil_spark.operators.sketches import (
        tdigest_centroids,
        tdigest_quantiles,
    )

    buckets, cents = 4, 8
    df = spark.createDataFrame(
        list(enumerate(values)), "id long, v double"
    )
    est = tdigest_quantiles(
        tdigest_centroids(
            df, "v", "id", n_buckets=buckets, n_centroids=cents
        ),
        [q],
        round_dp=9,
    ).collect()[0]["est"]
    s = sorted(values)
    n = len(s)
    # rank window of the estimate among the sorted values
    lo_rank = sum(1 for v in s if v < est - 1e-6)
    hi_rank = sum(1 for v in s if v <= est + 1e-6)
    target = q * n
    slack = n / cents + buckets + 1
    assert lo_rank - slack <= target <= hi_rank + slack


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=80,
    )
)
def test_percentile_rank_matches_naive(spark, rows):
    """percentile_rank_enrich vs naive python on the quantized
    values, for arbitrary groups/ties."""
    from vectorsearchutil_spark.operators.sketches import (
        percentile_rank_enrich,
    )

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)],
        "id long, g string, v double",
    )
    got = {
        r["id"]: r["pct_rank"]
        for r in percentile_rank_enrich(df, "v", "g", "id").collect()
    }
    from collections import defaultdict

    groups = defaultdict(list)
    for i, (g, v) in enumerate(rows):
        groups[g].append((i, math.floor(v * 100 + 0.5)))
    want = {}
    for g, members in groups.items():
        n = len(members)
        for i, qv in members:
            if n == 1:
                want[i] = None
                continue
            below = sum(1 for _, o in members if o < qv)
            want[i] = math.floor(below / (n - 1) * 1e6 + 0.5) / 1e6
    assert got == want


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    ),
    st.lists(st.integers(0, 30), min_size=1, max_size=20),
)
def test_fk_audit_matches_naive(spark, child_keys, parent_keys):
    from vectorsearchutil_spark.operators.integrity import fk_orphan_audit

    child = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(child_keys)] or [(0, None)],
        "id long, fk long",
    )
    parents = sorted(set(parent_keys))
    parent = spark.createDataFrame([(p,) for p in parents], "pk long")
    row = fk_orphan_audit(
        [("e", child, "fk", parent, "pk")]
    ).collect()[0]
    ckeys = [k for k, _ in child_keys] if child_keys else [None]
    nonnull = [k for k in ckeys if k is not None]
    orphans = [k for k in nonnull if k not in set(parents)]
    assert row["n_children"] == len(ckeys)
    assert row["n_distinct_keys"] == len(set(nonnull))
    assert row["n_orphan_rows"] == len(orphans)
    assert row["n_orphan_keys"] == len(set(orphans))


# ------------------------------------------------------- two-level ranks
# Round-7 rewrote three rankers onto bucketed two-level forms (no
# global sort, tie collapse). These properties pin them against the
# naive single-machine definitions on arbitrary small inputs —
# including adversarial all-tied and single-bucket distributions that
# unit tests under-sample.

tie_vals = st.lists(
    st.integers(min_value=-3, max_value=3), min_size=1, max_size=40
)


@settings(max_examples=5, deadline=None)
@given(tie_vals)
def test_exact_ntile_matches_naive_definition(spark, vals):
    from vectorsearchutil_spark.operators.analytics import exact_ntile

    rows = [(i + 1, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v double")
    got = {
        r.k: r.bucket
        for r in exact_ntile(
            df, "v", 4, ascending=True, tie_col="k"
        ).collect()
    }
    # naive NTILE(4) OVER (ORDER BY v ASC, k ASC)
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    n, k = len(order), 4
    q, rem = divmod(n, k)
    expect = {}
    pos = 0
    for b in range(1, k + 1):
        size = q + (1 if b <= rem else 0)
        for key, _ in order[pos : pos + size]:
            expect[key] = b
        pos += size
    assert got == expect


@settings(max_examples=5, deadline=None)
@given(tie_vals)
def test_lorenz_matches_naive_rank(spark, vals):
    import datetime as dt

    from vectorsearchutil_spark.operators.analytics import (
        lorenz_curve_by_user,
    )

    rows = [
        (i, dt.datetime(2024, 1, 1, 12), i + 1, "x", float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {
        r.decile: (r.n_users, r.decile_value)
        for r in lorenz_curve_by_user(df).collect()
    }
    # naive: rank users by (total_cents, user_id); decile via floor
    totals = sorted(
        ((round(v * 100), i + 1) for i, v in enumerate(vals)),
    )
    n = len(totals)
    expect = {}
    for rk, (t, _) in enumerate(totals, start=1):
        d = ((rk - 1) * 10) // n + 1
        cnt, s = expect.get(d, (0, 0))
        expect[d] = (cnt + 1, s + t)
    for d, (cnt, s) in expect.items():
        assert got[d][0] == cnt
        assert got[d][1] == pytest.approx(s / 100.0, abs=1e-6)
    assert set(got) == set(expect)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=4), min_size=2, max_size=25
    )
)
def test_theilsen_matches_naive_median(spark, daily_cents):
    import datetime as dt

    from vectorsearchutil_spark.operators.analytics import (
        theil_sen_daily_trend,
    )

    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, float(v))
        for i, v in enumerate(daily_cents)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderdate timestamp, o_custkey long,"
        " o_totalprice double",
    )
    row = theil_sen_daily_trend(df).collect()[0]
    # naive lower median of all pairwise slopes (cents per day)
    cents = [round(v * 100) for v in daily_cents]
    slopes = sorted(
        (cents[j] - cents[i]) / (j - i)
        for i in range(len(cents))
        for j in range(i + 1, len(cents))
    )
    n = len(slopes)
    lower_med = slopes[(n - 1) // 2] if n % 2 else slopes[n // 2 - 1]
    assert row.n_pairs == n
    assert row.slope_per_day == pytest.approx(lower_med / 100.0, abs=1e-6)


@settings(max_examples=12, deadline=None)
@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ).filter(lambda e: e[0] != e[1]).map(
            lambda e: (min(e), max(e))
        ),
        max_size=30,
    )
)
def test_triangle_count_matches_naive(spark, edges):
    """Degree-ordered triangle counting equals the naive O(n^3)
    definition on arbitrary small graphs (incl. hubs, disconnected
    parts, cliques the generator happens to build)."""
    from itertools import combinations

    from vectorsearchutil_spark.operators.graph import triangle_count

    eset = set(edges)
    nodes = sorted({v for e in eset for v in e})
    naive_tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in eset and (a, c) in eset and (b, c) in eset
    )
    deg = {}
    for a, b in eset:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    naive_wedges = sum(d * (d - 1) // 2 for d in deg.values())
    df = spark.createDataFrame(
        [(a, b) for a, b in sorted(eset)] or [],
        "id_a long, id_b long",
    )
    row = triangle_count(df).collect()[0]
    assert row.n_triangles == naive_tri
    assert row.n_wedges == naive_wedges
    assert row.n_edges == len(eset)
    assert row.n_nodes == len(nodes)


@settings(max_examples=10, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),      # user
            st.sampled_from(["view", "click", "purchase", "other"]),
            st.integers(min_value=0, max_value=9),      # minute
        ),
        max_size=40,
    )
)
def test_funnel_matches_naive(spark, events):
    """Strict-ordered funnel equals a pure-python replay on arbitrary
    event streams (duplicate timestamps, missing steps, out-of-order
    users all generated)."""
    import datetime as dt

    from vectorsearchutil_spark.queries import funnel_conversion

    def t(m):
        return dt.datetime(2024, 1, 1, 12, m, 0)

    naive = {1: set(), 2: set(), 3: set()}
    by_user = {}
    for u, e, m in events:
        by_user.setdefault(u, []).append((e, m))
    for u, evs in by_user.items():
        views = [m for e, m in evs if e == "view"]
        if not views:
            continue
        t1 = min(views)
        naive[1].add(u)
        clicks = [m for e, m in evs if e == "click" and m > t1]
        if not clicks:
            continue
        t2 = min(clicks)
        naive[2].add(u)
        if any(e == "purchase" and m > t2 for e, m in evs):
            naive[3].add(u)

    df = spark.createDataFrame(
        [(u, e, t(m)) for u, e, m in events] or [],
        "user_id long, event_type string, ts timestamp",
    )
    rows = {
        r.step: r.users
        for r in funnel_conversion(
            df, ("view", "click", "purchase")
        ).collect()
    }
    assert rows == {k: len(v) for k, v in naive.items()}


@settings(max_examples=10, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),          # user
            st.sampled_from(["a", "b", "c"]),               # type
        ),
        max_size=30,
    )
)
def test_audience_overlap_matches_sets(spark, pairs):
    import datetime as dt

    from vectorsearchutil_spark.queries import audience_overlap

    users = {}
    for u, ty in pairs:
        users.setdefault(ty, set()).add(u)
    df = spark.createDataFrame(
        [
            (u, ty, dt.datetime(2024, 1, 1))
            for u, ty in pairs
        ] or [],
        "user_id long, event_type string, ts timestamp",
    )
    got = {
        (r.type_a, r.type_b): (r.n_both, r.n_a, r.n_b)
        for r in audience_overlap(df).collect()
    }
    types = sorted(users)
    want = {}
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            inter = len(users[a] & users[b])
            if inter:
                want[(a, b)] = (inter, len(users[a]), len(users[b]))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    n_docs=st.integers(min_value=0, max_value=60),
    clusters=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=59),
            min_size=2, max_size=6, unique=True,
        ),
        max_size=4,
    ),
)
def test_split_leakage_matches_naive(spark, n_docs, clusters):
    """The corpus-never-joins rewrite equals a dict-based reference:
    aware split = rep's hash split, leaked = members of clusters
    spanning >1 naive split."""
    import hashlib

    from vectorsearchutil_spark.queries import split_leakage

    def u(key):
        h = int(
            hashlib.md5(f"split:{key}".encode()).hexdigest()[:8], 16
        ) / 2**32
        return "train" if h < 0.8 else ("val" if h < 0.9 else "test")

    docs = list(range(n_docs))
    # disjoint clusters over existing docs, rep = min member
    comp = {}
    seen = set()
    for cl in clusters:
        cl = [d for d in cl if d < n_docs and d not in seen]
        if len(cl) < 2:
            continue
        seen.update(cl)
        rep = min(cl)
        for d in cl:
            comp[d] = rep
    want = {}
    spread = {}
    for d in docs:
        rep = comp.get(d, d)
        spread.setdefault(rep, set()).add(u(d))
    for d in docs:
        rep = comp.get(d, d)
        aware, naive = u(rep), u(d)
        w = want.setdefault(
            aware, {"n_docs": 0, "clusters": set()}
        )
        w["n_docs"] += 1
        w["clusters"].add(rep)
        nv = want.setdefault(
            naive, {"n_docs": 0, "clusters": set()}
        )
        nv.setdefault("naive_docs", 0)
        nv["naive_docs"] = nv.get("naive_docs", 0) + 1
        if len(spread[rep]) > 1:
            nv["leaked"] = nv.get("leaked", 0) + 1

    docs_df = spark.createDataFrame(
        [(d,) for d in docs] or [], "doc_id long"
    )
    comp_df = spark.createDataFrame(
        [(d, r) for d, r in comp.items()] or [],
        "doc_id long, component long",
    )
    got = {
        r.split: (r.n_docs, r.n_clusters, r.naive_docs,
                  r.naive_leaked_docs)
        for r in split_leakage(docs_df, comp_df).collect()
    }
    expect = {
        s: (
            w["n_docs"],
            len(w["clusters"]),
            w.get("naive_docs", 0),
            w.get("leaked", 0),
        )
        for s, w in want.items()
    }
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # label
            st.lists(
                st.floats(
                    min_value=-2, max_value=2,
                    allow_nan=False, allow_infinity=False,
                ),
                min_size=3, max_size=3,
            ),
        ),
        min_size=1, max_size=12,
    )
)
def test_triplet_mining_matches_numpy(spark, vecs):
    """Both paths equal a numpy reference on the shared 1e-6
    quantization grid (anchors = first rows, ids 0..n-1 so every
    vector below 32 anchors). The default Arrow wall keeps these
    inputs on the expression path; a zero wall picks the matrix
    path."""
    from unittest import mock

    from vectorsearchutil_spark import session

    from vectorsearchutil_spark.operators.similarity import triplet_mining

    rows = [
        (i, lbl, v) for i, (lbl, v) in enumerate(vecs)
    ]
    arr = np.array([v for _, _, v in rows], dtype=np.float64)
    lbl = np.array([l for _, l, _ in rows])
    norms = np.linalg.norm(arr, axis=1)
    valid = norms > 0
    margin = 0.05

    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    expect = {}
    vids = [i for i in range(len(rows)) if valid[i]]
    for a in vids:
        pos, negs = None, []
        for b in vids:
            if b == a:
                continue
            c = q6(
                float(arr[a] @ arr[b]) / (norms[a] * norms[b])
            )
            if lbl[b] == lbl[a]:
                pos = c if pos is None else max(pos, c)
            else:
                negs.append(c)
        hardest = max(negs) if negs else None
        if pos is None:
            nh = ns = 0
        else:
            nh = sum(1 for c in negs if c >= pos)
            ns = sum(1 for c in negs if pos - margin <= c < pos)
        expect[a] = (lbl[a], pos, hardest, nh, ns)

    df = spark.createDataFrame(
        [(i, int(l), [float(x) for x in v]) for i, l, v in rows],
        "vec_id long, label int, embedding array<double>",
    )
    for wall in (session.ARROW_MIN_CELLS, 0):
        with mock.patch.object(session, "ARROW_MIN_CELLS", wall):
            mined = triplet_mining(df).collect()
        got = {
            r.vec_id: (
                r.label,
                r.pos_sim,
                r.hardest_neg_sim,
                r.n_hard,
                r.n_semihard,
            )
            for r in mined
        }
        assert set(got) == set(expect)
        for a, (el, ep, eh, enh, ens) in expect.items():
            gl, gp, gh, gnh, gns = got[a]
            assert gl == el
            if ep is None:
                assert gp is None
            else:
                assert gp == pytest.approx(ep, abs=2e-6)
            if eh is None:
                assert gh is None
            else:
                assert gh == pytest.approx(eh, abs=2e-6)
            assert (gnh, gns) == (enh, ens)
