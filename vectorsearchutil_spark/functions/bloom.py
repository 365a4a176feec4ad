"""Deterministic Bloom-filter semi-join reduction.

The classic 100 TB join pattern: build a compact bit-set over the
small side's join keys, broadcast it, and drop big-side rows that
cannot match BEFORE the shuffle/join. False positives only cost a
little extra work for the exact join that follows; false negatives
are impossible, so the filter is invisible in the result — which is
exactly what the oracle (the plain join) checks.

Spark's own runtime filters do this opportunistically
(InjectRuntimeFilter; ``bloom_filter_agg`` is not SQL-registered in
this build); this module makes the reduction an explicit, portable
operator: two seeded JVM-native ``xxhash64`` hashes combined by
double hashing (bit_i = (h1 + i·h2) mod m, each reduced mod m before
the combine — see the _H1/_H2 note), the filter is an array of 64-bit
words folded with bit_or, and both build and probe are plain SQL
expressions. Result-invariance (not hash replayability) is the oracle
contract: no false negatives means the plain join is the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectorsearchutil_spark.session import local_frame

#: two independent hashes via the JVM-native vectorized xxhash64 —
#: the filter is result-invisible (no false negatives; the exact join
#: follows), so cross-engine hash replayability buys nothing and the
#: hot path gets the cheap hash. An earlier md5/conv/substring probe
#: cost 15x the join it was built to prune (PERF.md round 2c).
#: each hash is reduced mod n_bits BEFORE the double-hash combine:
#: raw 64-bit values would overflow long under ANSI mode (and
#: abs(Long.MIN_VALUE) itself overflows).
_H1 = "pmod(xxhash64({v}, 165), {m})"
_H2 = "pmod(xxhash64({v}, 90), {m})"


def build_bloom(
    df: DataFrame,
    key_col: str,
    n_bits: int = 8192,
    k: int = 3,
    out_col: str = "bloom",
) -> DataFrame:
    """ONE row holding the filter as array<bigint> of ``n_bits/64``
    words. Build is a partial-aggregated bit_or — each task folds its
    keys locally, the shuffle carries one word array per task. Size
    the filter to the small side: ~10 bits/key gives ~1% false
    positives at k=3.

    EAGER: the per-word aggregate is collected and scattered into the
    dense array DRIVER-SIDE at call time (two Spark jobs run here,
    bounded by n_bits/64 words — see the inline comment), so the
    returned one-row DataFrame is a snapshot of ``df`` as of this
    call, not a live plan: callers pay the build even if the result
    is never executed, and a later mutation of the underlying source
    does not refresh the filter."""
    assert n_bits % 64 == 0
    words = n_bits // 64
    h1 = _H1.format(v=key_col, m=n_bits)
    h2 = _H2.format(v=key_col, m=n_bits)
    # per key: k bit positions -> k (word, mask) contributions
    # (build side is the SMALL side; expression cost is irrelevant)
    bits = df.selectExpr(
        f"explode(transform(sequence(0, {k - 1}),"
        f" i -> pmod({h1} + i * {h2}, {n_bits}))) as bit"
    ).selectExpr(
        "cast(bit div 64 as int) as w",
        "shiftleft(cast(1 as bigint), cast(bit % 64 as int)) as mask",
    )
    per_word = bits.groupBy("w").agg(
        F.expr("bit_or(mask)").alias("m")
    )
    # Dense word array (missing words = 0), one row. The scatter runs
    # DRIVER-SIDE over the per-word aggregate — bounded by the filter
    # size itself (n_bits/64 rows), not the key count. The previous
    # SQL form folded collect_list through a full-array transform per
    # entry: O(words²) lambda evaluations, which silently degraded
    # from "instant" at the 8K-bit default to "hung" at the 2^28 bits
    # a 20M-key side asks for (found when the triangle-census wedge
    # join tried edge-set-sized filters; see operators/graph.py).
    spark = df.sparkSession
    arr = [0] * words
    for r in per_word.collect():
        arr[int(r["w"])] = int(r["m"])
    return local_frame(
        spark, [(arr,)], f"{out_col} array<bigint>"
    )


def might_contain(
    bloom_col: str, key_col: str, n_bits: int = 8192, k: int = 3
) -> Column:
    """Probe predicate: every one of the key's k bits is set. Apply
    after a ``crossJoin(broadcast(bloom_row))`` — the filter runs in
    the scan stage, before any shuffle.

    Hot-path shape: an unrolled AND of k bit-tests over native
    xxhash64 — NOT a ``forall`` lambda (drops out of whole-stage
    codegen, re-evaluates hashes per iteration) and NOT md5 (string
    materialization + base-16 parse per row; the two together
    measured 15-20x slower than the join being pruned)."""
    h1 = _H1.format(v=key_col, m=n_bits)
    h2 = _H2.format(v=key_col, m=n_bits)
    tests = []
    for i in range(k):
        bit = f"pmod({h1} + {i} * {h2}, {n_bits})"
        tests.append(
            f"(element_at({bloom_col}, cast({bit} div 64 as int) + 1)"
            f" & shiftleft(cast(1 as bigint), cast({bit} % 64 as int)))"
            " != 0"
        )
    return F.expr(" AND ".join(tests))


def sized_n_bits(n_keys: int, bits_per_key: int = 10) -> int:
    """Filter size for a key count: ~10 bits/key ≈ 1% FP at k=3,
    rounded up to a power of two, floor 8192. An undersized filter
    stays CORRECT (no false negatives possible) but saturates — FP
    rate → 1 and the shuffle reduction silently disappears
    (ADVICE r2), so size from the small side, not a constant."""
    want = max(8192, n_keys * bits_per_key)
    return 1 << (want - 1).bit_length()


def bloom_prefiltered_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_bits: int | None = None,
    k: int = 3,
) -> DataFrame:
    """Equi-join with Bloom semi-join reduction: big-side rows whose
    key cannot be in the small side are dropped at the scan, so the
    join (and any shuffle it needs) sees only plausible rows. The
    result is EXACTLY the plain join — the filter has no false
    negatives and the join remains exact.

    ``n_bits=None`` (default) sizes the filter from the small side's
    key count (one count job over the build side — which the build
    aggregate scans anyway) at ~10 bits/key; pass an explicit size to
    skip the count when the cardinality is known."""
    if n_bits is None:
        n_bits = sized_n_bits(small.count())
    bloom = build_bloom(small.select(key), key, n_bits=n_bits, k=k)
    pruned = (
        big.crossJoin(F.broadcast(bloom))
        .filter(might_contain("bloom", key, n_bits=n_bits, k=k))
        .drop("bloom")
    )
    return pruned.join(small, key)
