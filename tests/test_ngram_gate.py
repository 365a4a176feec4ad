"""The exact n-gram Jaccard operator's driver path for small inputs.

``dedup.ngram_jaccard_pairs`` pulls an input of at most
``_NGRAM_DRIVER_MAX_DOCS`` rows and computes its pairs in-process.
Pins that path's equality with the prefix-join plan (the gate constant
patched to -1, so that even an empty input takes the plan) in rows and
Arrow schema over thresholds 0 to 1, ``max_df``, NULL texts and ids,
duplicate ids, single tokens and all-duplicate corpora; the shared
tokenizer ``_row_shingles`` against Spark's SQL forms; the numpy
kernel against a per-pair loop over random small corpora; and the
threshold check both paths run before any job."""

from __future__ import annotations

import math
import random
from collections import Counter

import pyarrow as pa
import pytest

from tools.gen_unicode_fixture import FRAGMENTS
from vectorsearchutil_spark.functions.text import shingles_sql, tokens_sql
from vectorsearchutil_spark.operators import dedup as dd
from vectorsearchutil_spark.plans.explain import formatted_plan
from vectorsearchutil_spark.sources.readers import load_table

_THRESHOLDS = (0.0, 0.5, 0.8, 1.0)

_CORPORA = {
    "empty": [],
    "all_null_text": [(1, None), (2, None), (3, None)],
    "single_token": [(1, "a"), (2, "a"), (3, "b"), (4, "a "), (5, "")],
    "all_duplicate": [(i, "the quick brown fox jumps over") for i in range(6)],
    "duplicate_ids": [
        (1, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "quick brown fox jumps over the lazy cat today"),
        (4, "over the lazy dog and far away"),
    ],
    "null_ids": [
        (None, "the quick brown fox jumps over the lazy dog"),
        (None, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (None, None),
        (3, "a b c d e f"),
    ],
    "unicode": [
        (i, f"{FRAGMENTS[i % len(FRAGMENTS)]} "
            f"{FRAGMENTS[(i * 7 + 3) % len(FRAGMENTS)]} d{i % 5}")
        for i in range(40)
    ],
}


def _pairs(df, **kw):
    out = dd.ngram_jaccard_pairs(df, **kw)
    tbl = out.toArrow()
    rows = sorted(tuple(r.values()) for r in tbl.to_pylist())
    return rows, tbl.schema, formatted_plan(out)


def _both_paths(monkeypatch, df, **kw):
    """(rows, Arrow schema) of the driver path and of the plan."""
    *driver, plan = _pairs(df, **kw)
    assert "Exchange" not in plan and "LocalTableScan" in plan, plan
    with monkeypatch.context() as m:
        m.setattr(dd, "_NGRAM_DRIVER_MAX_DOCS", -1)
        *distributed, plan = _pairs(df, **kw)
    assert "Exchange" in plan, plan
    return driver, distributed


@pytest.mark.parametrize(
    "corpus,n",
    [(c, 3) for c in sorted(_CORPORA)] + [("single_token", 1), ("unicode", 1)],
)
def test_driver_path_equals_plan(spark, monkeypatch, corpus, n):
    df = spark.createDataFrame(_CORPORA[corpus], "doc_id long, text string")
    for t in _THRESHOLDS:
        driver, distributed = _both_paths(monkeypatch, df, n=n, threshold=t)
        assert driver == distributed, t


def test_driver_path_equals_plan_on_documents(spark, sf_dir, monkeypatch):
    docs = load_table(spark, sf_dir, "documents")
    found = {}
    for t in _THRESHOLDS:
        driver, distributed = _both_paths(monkeypatch, docs, threshold=t)
        assert driver == distributed, t
        found[t] = len(driver[0])
    assert found[0.8] > 0, found
    for max_df in (1, 3, 10):
        driver, distributed = _both_paths(
            monkeypatch, docs, threshold=0.5, max_df=max_df
        )
        assert driver == distributed, max_df


def test_driver_path_keeps_a_string_id_type(spark, monkeypatch):
    texts = [t for _, t in _CORPORA["duplicate_ids"] + _CORPORA["null_ids"]]
    rows = [(f"d{i % 4}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    driver, distributed = _both_paths(monkeypatch, df, threshold=0.3)
    assert driver == distributed
    assert str(driver[1].field("id_a").type) in ("string", "large_string")


def _loop_reference(ids, texts, n, t, max_df):
    """The driver kernel's ``(id_a, id_b, n_a, n_b, inter)`` rows, one
    prefix-entry pair at a time in plain Python."""
    rows = [(i, dd._row_shingles(x, n)) for i, x in zip(ids, texts)]
    freq = Counter(g for _, grams in rows for g in grams)
    lists = {}
    for i, grams in rows:
        if i is not None:
            lists.setdefault(i, []).extend(
                g for g in grams if max_df is None or freq[g] <= max_df
            )
    prefix = {}
    for i, lst in lists.items():
        lst.sort(key=lambda g: (freq[g], g))
        m = len(lst)
        prefix[i] = list(enumerate(lst[:m - math.ceil(m * t) + 1]))
    out = []
    for a in lists:
        for b in lists:
            na, nb = len(lists[a]), len(lists[b])
            if not a < b or min(na, nb) < max(na, nb) * t:
                continue
            alpha = math.ceil(t / (1.0 + t) * (na + nb) - 1e-9)
            if not any(
                g == h and 1 + min(na - i - 1, nb - j - 1) >= alpha
                for i, g in prefix[a]
                for j, h in prefix[b]
            ):
                continue
            inter = len(set(lists[a]) & set(lists[b]))
            if inter / (na + nb - inter) >= t:
                out.append((a, b, na, nb, inter))
    return sorted(out)


def test_kernel_equals_loop_reference():
    rng = random.Random(5)
    words = "a b c d e f g h".split()
    for _ in range(300):
        size = rng.randint(0, 30)
        ids = [rng.choice([None, *range(12)]) for _ in range(size)]
        texts = [
            rng.choice([None, "", " ".join(
                rng.choice(words) for _ in range(rng.randint(0, 12)))])
            for _ in range(size)
        ]
        n = rng.choice([1, 2, 3])
        t = rng.choice(_THRESHOLDS + (0.3,))
        max_df = rng.choice([None, 1, 2, 5])
        table = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
        })
        got = dd._ngram_pairs_driver(table, "doc_id", "text", n, t, max_df)
        want = _loop_reference(ids, texts, n, t, max_df)
        assert sorted(tuple(r.values()) for r in got.to_pylist()) == want


@pytest.mark.parametrize("threshold", [1.5, -1, -0.5, float("nan")])
def test_threshold_outside_unit_interval_fails_before_any_job(
    spark, monkeypatch, run_jobs, threshold
):
    df = spark.createDataFrame(
        _CORPORA["null_ids"], "doc_id long, text string"
    )
    for gate in (dd._NGRAM_DRIVER_MAX_DOCS, -1):
        monkeypatch.setattr(dd, "_NGRAM_DRIVER_MAX_DOCS", gate)

        def build():
            with pytest.raises(ValueError, match="threshold"):
                dd.ngram_jaccard_pairs(df, threshold=threshold)

        _, jobs = run_jobs(build)
        assert jobs == [], jobs


def test_row_shingles_equal_spark_sql_forms(spark):
    texts = [
        *FRAGMENTS,
        " lead and trail ",
        "doubled  spaces  here   too",
        "  ",
        "one",
        "a b a b a b",
        None,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    for n in (1, 2, 3):
        got = [dd._row_shingles(t, n) for t in texts]
        want = [
            r[0]
            for r in df.selectExpr("i", f"{tokens_sql('text')} AS _t")
            .selectExpr("i", f"{shingles_sql('_t', n)} AS s")
            .orderBy("i")
            .select("s")
            .collect()
        ]
        assert got == want, n
