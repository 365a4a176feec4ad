"""Custom stateful streaming — ``applyInPandasWithState``.

The escape hatch when built-in windows/watermarks can't express the
state machine (SURVEY.md §2 Table B [ext]; the prompt's canonical
example). Implemented here: a per-user running profile — event count,
value sum, last-seen timestamp — updated per micro-batch with
GroupState, emitting the updated profile each batch.

State discipline for 100 TB streams: state is keyed by user_id (one
small struct per user), updated incrementally per batch, and the
operator sets a processing-time timeout so abandoned keys age out
instead of accumulating forever.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_seen_epoch", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_seen_epoch", DoubleType()),
    ]
)


def _update_profile(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last = state.get
    else:
        n, total, last = 0, 0.0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last = max(last, float(pdf["ts"].astype("int64").max() / 1e9))
    state.update((n, total, last))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [total],
            "last_seen_epoch": [last],
        }
    )


def streaming_user_profiles(events: DataFrame) -> DataFrame:
    """Per-user incremental profile via applyInPandasWithState.

    Each micro-batch updates each touched user's state and emits the
    new profile row.

    State-expiry note: on a long-lived deployment you would bound
    state with ``GroupStateTimeout.ProcessingTimeTimeout`` +
    ``state.setTimeoutDuration``/``state.remove`` for idle keys; this
    build of Spark crashes the Arrow worker path when that timeout
    mode is enabled (reproduced with the minimal upstream example),
    so the operator runs with ``NoTimeout`` here and the bounded-state
    streaming-dedup story is covered by
    ``dropDuplicatesWithinWatermark`` (streaming/windows.py).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BUDGET_STATE_SCHEMA = StructType(
    [StructField("cum_tokens", LongType())]
)

BUDGET_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("n_tokens", LongType()),
        StructField("cum_tokens", LongType()),
    ]
)


def streaming_token_budget(
    sized_docs: DataFrame,
    budgets: dict[str, int],
    order_col: str = "doc_id",
) -> DataFrame:
    """Streaming admission control on a per-source TOKEN budget — the
    live twin of ``operators.sampling.token_budget_sample`` (the unit
    a pretraining mixture is specified in). As sized docs arrive, each
    source's cumulative token count advances over EVERY doc seen (in
    ``order_col`` order within a batch), and a doc is admitted iff the
    cumulative count including it stays within budget — greedy-prefix
    semantics, identical to the batch operator, so feeding the batch
    operator's hash order through the stream reproduces its output
    exactly (tested).

    Input must already be narrow — (doc_id, source, n_tokens[, order])
    — sized upstream with ``size(tokens(text))`` so text never enters
    the state store. State per source is ONE long (the cumulative
    count): bounded by the number of sources, not the corpus, which is
    the only state discipline that survives an unbounded stream.
    Output rows are the admitted docs with their cumulative position.
    """
    budgets = dict(budgets)

    def _admit(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (source,) = key
        budget = int(budgets.get(source, 0))
        (cum,) = state.get if state.exists else (0,)
        # chunk-ordering discipline (ADVICE r4 medium, both stateful
        # ops): a source whose micro-batch data spans multiple Arrow
        # chunks is NOT globally order_col-ordered chunk-by-chunk,
        # and greedy-prefix admission is order-sensitive — concat the
        # whole group and sort ONCE. The admission itself is a
        # cumsum: cum advances over EVERY doc in order, a doc is
        # admitted iff its inclusive cumulative stays within budget —
        # vectorized (the iterrows form cost 2.6x at the 25x probe).
        out: list[pd.DataFrame] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                order_col, kind="mergesort"
            )
            cums = int(cum) + pdf["n_tokens"].astype("int64").cumsum()
            mask = (cums <= budget).to_numpy()
            if mask.any():
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": pdf["doc_id"].to_numpy()[mask]
                            .astype("int64"),
                            "source": source,
                            "n_tokens": pdf["n_tokens"].to_numpy()[mask]
                            .astype("int64"),
                            "cum_tokens": cums.to_numpy()[mask],
                        }
                    )
                )
            cum = int(cums.iloc[-1])
        state.update((cum,))
        yield from iter(out)

    return sized_docs.groupBy("source").applyInPandasWithState(
        _admit,
        outputStructType=BUDGET_OUTPUT_SCHEMA,
        stateStructType=BUDGET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ATTRIB_STATE_SCHEMA = StructType(
    [StructField("last_touch_us", LongType())]
)

ATTRIB_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_event_id", LongType()),
        StructField("revenue", DoubleType()),
        StructField("last_touch_us", LongType()),
        StructField("attribution", StringType()),
    ]
)


def streaming_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("click", "view"),
    window_s: float = 3600.0,
) -> DataFrame:
    """Live last-touch attribution — the streaming twin of the batch
    ``events_attribution`` window query. State per user is ONE long:
    the microsecond timestamp of the latest prior click/view. Each
    purchase is attributed against the state AS OF its position in
    the (ts, event_id) order, exactly like the batch query's
    rows-preceding conditional MAX window, so replaying the batch
    order through micro-batches reproduces the batch output
    row-for-row (tested; state must carry across batches).

    Numeric parity: the batch query compares
    ``ts.cast(double) − touch.cast(double) ≤ window``; Spark's
    timestamp→double cast is micros/1e6 as ONE double division, so
    the stream stores exact micros and replays the identical float
    expression — no ulp drift at the window boundary.

    Input must be narrow (event_id, ts, user_id, event_type, value).
    Output: attributed purchases; ``last_touch_us`` is the exact
    state (NULL → 'organic'), convertible with timestamp_micros().
    """
    touches = set(touch_types)
    win = float(window_s)

    def _attribute(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        (last_us,) = state.get if state.exists else (None,)
        out: list[tuple] = []
        # ONE concat+sort over the whole micro-batch group: a group
        # whose batch data spans multiple Arrow chunks
        # (maxRecordsPerBatch) is NOT globally ordered chunk-by-chunk,
        # and sorting chunks independently could attribute a purchase
        # against state updated out of event-time order (ADVICE r4
        # medium). Group data is already materialized per key and the
        # state is one long, so the concat adds no asymptotic cost.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            # vectorized replay of the row loop (iterrows cost 3x at
            # the 25x probe): each purchase attributes against the
            # max touch timestamp STRICTLY BEFORE it in (ts,
            # event_id) order, seeded with the carried state. NaN is
            # "no touch yet"; np.fmax treats NaN as identity, so
            # fmax.accumulate IS the running max over touches only,
            # and the shift-by-one keeps same-row purchase/touch
            # mutually exclusive semantics. Timestamps in micros are
            # < 2^53, exact in the float64 lane; the dt expression is
            # the identical two-division float form the batch twin
            # compiles, so the window boundary cannot drift an ulp.
            ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
            et = pdf["event_type"].to_numpy()
            touch_ts = np.where(
                np.isin(et, list(touches)),
                ts_us.astype("float64"),
                np.nan,
            )
            run = np.fmax.accumulate(touch_ts)
            prior = np.concatenate(([np.nan], run[:-1]))
            if last_us is not None:
                prior = np.fmax(prior, float(last_us))
            is_p = et == "purchase"
            if is_p.any():
                pr = prior[is_p]
                t = ts_us[is_p]
                organic = np.isnan(pr)
                dt = t.astype("float64") / 1e6 - pr / 1e6
                label = np.where(
                    organic,
                    "organic",
                    np.where(dt <= win, "attributed", "expired"),
                )
                frame = pd.DataFrame(
                    {
                        "user_id": np.int64(user_id),
                        "purchase_event_id": pdf["event_id"]
                        .to_numpy()[is_p].astype("int64"),
                        "revenue": pdf["value"].to_numpy()[is_p]
                        .astype("float64"),
                        "last_touch_us": pd.Series(pr)
                        .astype("object")
                        .where(~organic, None)
                        .map(lambda v: v if v is None else int(v)),
                        "attribution": label,
                    }
                )
                out.append(frame)
            if not np.isnan(run[-1]):
                t = int(run[-1])
                last_us = t if last_us is None else max(last_us, t)
        state.update((last_us,))
        if out:
            yield pd.concat(out, ignore_index=True)

    return events.groupBy("user_id").applyInPandasWithState(
        _attribute,
        outputStructType=ATTRIB_OUTPUT_SCHEMA,
        stateStructType=ATTRIB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t1_us", LongType()),
        StructField("t2_us", LongType()),
        StructField("t3_us", LongType()),
    ]
)

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("step", LongType()),
        StructField("step_us", LongType()),
    ]
)


def streaming_funnel(
    events: DataFrame,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Live ordered funnel — the streaming twin of the batch
    ``events_funnel_conversion`` (queries.funnel_conversion):
    a user reaches step k only via an event STRICTLY AFTER their
    step-(k−1) time. State per user is three longs (the microsecond
    first-completion time of each step, −1 = not reached). One row
    emits per (user, step) at the micro-batch where the step FIRST
    completes, so per-step row counts over the whole stream equal the
    batch funnel's ``users`` column, and ``step_us`` equals the batch
    stage times row-for-row (tested; replay must preserve (ts,
    event_id) order across batches, the same in-order contract
    ``streaming_attribution`` documents).

    The per-batch update is vectorized and ORDER-FREE given in-order
    batches: step k's candidate time is ``min(ts of step-k events
    with ts > t_{k-1})`` — a value predicate, not a scan position —
    so the cascade t1 → t2 → t3 computes with three masked mins, no
    per-row Python loop (the attribution twin's fmax lesson).
    Timestamps stay exact int64 micros end-to-end; convert with
    ``timestamp_micros()``.

    Input must be narrow: (event_id, ts, user_id, event_type).
    """

    def _advance(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            t1, t2, t3 = state.get
        else:
            t1 = t2 = t3 = -1
        old = (t1, t2, t3)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
            et = pdf["event_type"].to_numpy()

            def first_after(step_name: str, prev_us: int) -> int:
                mask = et == step_name
                if prev_us >= 0:
                    mask = mask & (ts_us > prev_us)
                else:
                    return -1
                return int(ts_us[mask].min()) if mask.any() else -1

            if t1 < 0:
                m1 = et == steps[0]
                if m1.any():
                    t1 = int(ts_us[m1].min())
            if t2 < 0 and t1 >= 0:
                c = first_after(steps[1], t1)
                if c >= 0:
                    t2 = c
            if t3 < 0 and t2 >= 0:
                c = first_after(steps[2], t2)
                if c >= 0:
                    t3 = c
        state.update((int(t1), int(t2), int(t3)))
        new = (t1, t2, t3)
        rows = [
            (int(user_id), k + 1, int(new[k]))
            for k in range(3)
            if old[k] < 0 and new[k] >= 0
        ]
        if rows:
            yield pd.DataFrame(
                rows, columns=["user_id", "step", "step_us"]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        _advance,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
