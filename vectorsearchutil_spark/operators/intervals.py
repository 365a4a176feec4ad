"""Interval analytics — sessions as time intervals, and a
DISTRIBUTED sweep-line for concurrency ("how many sessions are open
at once"), the load-profile / capacity question every event pipeline
eventually asks.

The naive sweep-line is a running sum over ALL boundaries in one
global time order — a single-partition window that dies at scale.
The distributed form here is the textbook two-level prefix sum:

  1. boundaries (+1 at start, −1 at end) bucket by DAY;
  2. a day-level aggregate (tiny: one row per day) computes each
     day's carry-in as the running total of all PRIOR days' deltas —
     the only single-partition window, bounded by the date span, not
     the data;
  3. within each day, the running sum is a day-partitioned window —
     parallel in the number of days.

Determinism across engines: the running sum uses the ANSI default
RANGE frame, so all boundary rows sharing (ts, delta) are peers and
receive the same cumulative value — no dependence on intra-tie order
— and all arithmetic is integer. At equal timestamps starts sort
before ends (delta DESC): touching sessions count as concurrent and
the running value never dips below the true open count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectorsearchutil_spark.functions.datetime import epoch_seconds


def sessions_from_events(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Gap-based sessionization to INTERVALS: (user, session_id,
    start_ts, end_ts). Same gap semantics as the sessionize query
    (new session when the inactivity gap strictly exceeds ``gap_s``).
    One shuffle on the user key, reused by the lag window, the
    running sum, and the interval aggregate (HashPartitioning(user)
    satisfies the (user, sid) clustering, so the session aggregate
    adds no exchange). Only the three columns the sessionization
    reads enter that shuffle — the events table's payload columns
    (type/value/props) never leave the scan (guide §2.3)."""
    # dict.fromkeys: order_col may name the ts or user column, and a
    # repeated name would make every later reference ambiguous
    events = events.select(*dict.fromkeys([user_col, ts_col, order_col]))
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(order_col).asc()
    )
    gap = epoch_seconds(ts_col) - F.lag(epoch_seconds(ts_col)).over(w)
    marked = events.withColumn(
        "_new", F.when(gap.isNull() | (gap > gap_s), 1).otherwise(0)
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.withColumn("_sid", F.sum("_new").over(cum))
    return sess.groupBy(
        F.col(user_col).alias("user_id"), F.col("_sid").alias("session_id")
    ).agg(
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
    )


def concurrency_by_day(
    intervals: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Per-day peak concurrency over an interval set via the
    two-level distributed sweep-line (module docstring). Output:
    (day, peak_concurrency, n_starts)."""
    # Both boundaries from ONE pass over the intervals: the old
    # starts/ends two-branch union re-ran the entire upstream plan
    # (for session intervals: scan + user-key shuffle + two windows +
    # the session aggregate) once per branch, and levels 1 and 2 below
    # each re-ran the union — FOUR upstream passes per query (guide
    # §2.4). explode emits (+1 at start, −1 at end) in a single pass,
    # and the narrow boundary rows (ts, delta, day — ~16 bytes) are
    # cached within this query's lifetime so the two sweep levels
    # share one materialization. Row order changes (start/end
    # interleaved instead of concatenated) but every consumer is a
    # groupBy or a RANGE-frame window keyed on (ts, delta) — order
    # insensitive by the module's determinism contract.
    b = (
        intervals.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(start_col).alias("_ts"),
                        F.lit(1).alias("_delta"),
                    ),
                    F.struct(
                        F.col(end_col).alias("_ts"),
                        F.lit(-1).alias("_delta"),
                    ),
                )
            ).alias("_b")
        )
        .select("_b._ts", "_b._delta")
        .withColumn("_day", F.to_date("_ts"))
        .cache()
    )

    # level 1: per-day totals (tiny) -> carry-in per day
    day_totals = b.groupBy("_day").agg(F.sum("_delta").alias("_day_sum"))
    carry_w = (
        Window.partitionBy()
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = day_totals.select(
        "_day",
        F.coalesce(F.sum("_day_sum").over(carry_w), F.lit(0)).alias("_carry"),
    )

    # level 2: within-day running sum (ANSI default RANGE frame:
    # (ts, delta) peers share one cumulative value -> deterministic)
    run_w = Window.partitionBy("_day").orderBy(
        F.col("_ts").asc(), F.col("_delta").desc()
    )
    run = b.join(F.broadcast(carries), "_day").withColumn(
        "_open", F.col("_carry") + F.sum("_delta").over(run_w)
    )
    return run.groupBy(F.col("_day").alias("day")).agg(
        F.max("_open").cast("int").alias("peak_concurrency"),
        F.sum(F.when(F.col("_delta") == 1, 1).otherwise(0))
        .cast("int")
        .alias("n_starts"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str = "start_ts",
    left_end: str = "end_ts",
    right_start: str = "start_ts",
    right_end: str = "end_ts",
    bucket_s: int = 3600,
) -> DataFrame:
    """Interval-overlap join WITHOUT a nested loop: pairs where
    [l_start, l_end) ∩ [r_start, r_end) ≠ ∅. Spark plans a bare
    overlap predicate (s_l < e_r AND s_r < e_l) as a
    BroadcastNestedLoopJoin — O(|L|·|R|) and a driver OOM once
    neither side broadcasts. This is the standard time-bucket
    equi-join reduction (DuckDB/Postgres range-join literature):

    1. each interval explodes to the ``bucket_s``-wide buckets it
       covers (rows ∝ span/bucket_s — size the bucket near the
       typical span; a 30× skew cap would go here for pathological
       spans);
    2. pairs equi-join ON BUCKET — a hash join, shuffled by time
       locality;
    3. the exact overlap predicate verifies inside the bucket, and
       the CANONICAL-BUCKET guard (bucket == bucket(max(starts)))
       emits each pair exactly once with NO distinct shuffle — the
       later start of any overlapping pair lies in their first
       common bucket.

    Columns: every left column (prefixed ``l_`` on collision) plus
    every right column; callers project. Timestamps compare as
    epoch-second doubles (NTZ-safe :func:`epoch_seconds`),
    MATERIALIZED once per side before the explode — the naive form
    re-evaluates the timestamp conversion ~6× per row across the
    bucket bounds, the canonical guard and the verify predicate
    (measured 2× on events_incident_overlap_join at sf0.1).
    """
    def buckets(df, s_col, e_col, ss_name, es_name):
        d = df.withColumn(ss_name, epoch_seconds(s_col)).withColumn(
            es_name, epoch_seconds(e_col)
        )
        b0 = F.floor(F.col(ss_name) / F.lit(float(bucket_s))).cast("long")
        # half-open end: an interval ending exactly on a boundary
        # does not cover the next bucket. Clamp to >= b0: for point
        # intervals sitting ON a boundary the end-epsilon lands one
        # bucket below the start, and Spark's sequence(hi, lo) would
        # silently generate a DESCENDING range with a spurious row.
        b1 = F.greatest(
            b0,
            F.floor(
                (F.greatest(F.col(es_name), F.col(ss_name)) - F.lit(1e-9))
                / F.lit(float(bucket_s))
            ).cast("long"),
        )
        return d.withColumn("_bucket", F.explode(F.sequence(b0, b1)))

    lcols = set(left.columns)
    r = right
    for c in right.columns:
        if c in lcols:
            r = r.withColumnRenamed(c, f"r_{c}")
    rs = f"r_{right_start}" if right_start in lcols else right_start
    re_ = f"r_{right_end}" if right_end in lcols else right_end

    lb = buckets(left, left_start, left_end, "_l_ss", "_l_es")
    rb = buckets(r, rs, re_, "_r_ss", "_r_es")
    canonical = F.floor(
        F.greatest(F.col("_l_ss"), F.col("_r_ss")) / F.lit(float(bucket_s))
    ).cast("long")
    return (
        lb.join(rb, "_bucket")
        .filter(
            (F.col("_l_ss") < F.col("_r_es"))
            & (F.col("_r_ss") < F.col("_l_es"))
            & (F.col("_bucket") == canonical)
        )
        .drop("_bucket", "_l_ss", "_l_es", "_r_ss", "_r_es")
    )
