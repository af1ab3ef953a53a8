"""Custom stateful streaming operator via applyInPandasWithState.

The reference's only 'state' is batch-side (the FEN eval cache and
date-keyed upserts); Spark's arbitrary stateful processing is the
streaming-native generalization. This module implements a running
per-key accumulator — count / sum / min / max / last event time per
user — maintained across micro-batches with a processing-time
timeout, the pattern behind streaming feature stores and
session-state trackers.

Scale notes: state lives in the state store partitioned by the
group key (one shuffle on user_id per micro-batch, same as a
streaming agg); per-key state is O(1) — counters only, never raw
events — so the state store size is bounded by key cardinality.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "n long, sum_value double, min_value double, max_value double, last_ts_sec long"
OUTPUT_SCHEMA = (
    "user_id long, n long, sum_value double, min_value double, "
    "max_value double, last_ts_sec long"
)


def _update_user_stats(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    timeout_ms: int = 0,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        # emit final state on timeout, then drop it
        n, s, mn, mx, last = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n": n,
                    "sum_value": s,
                    "min_value": mn,
                    "max_value": mx,
                    "last_ts_sec": last,
                }
            ]
        )
        return
    n, s, mn, mx, last = state.get if state.exists else (0, None, None, None, None)
    for pdf in pdfs:
        if pdf.empty:
            continue
        # Mirror the batch twin's per-column NULL semantics exactly
        # (the r5 advice: dropna(subset=[value, ts_sec]) diverged on
        # NULL-bearing rows): count(*) counts EVERY row, while
        # sum/min/max(value) and max(ts_sec) each skip only their own
        # column's NULLs — a row may contribute to one aggregate and
        # not another. NaN never enters state (aggregates run on the
        # dropna'd series), so min/max stay well-defined.
        n += len(pdf)
        vals = pdf["value"].dropna()
        if len(vals):
            bs = float(vals.sum())
            bmn = float(vals.min())
            bmx = float(vals.max())
            s = bs if s is None else s + bs
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        ts = pdf["ts_sec"].dropna()
        if len(ts):
            bts = int(ts.max())
            last = bts if last is None else max(last, bts)
    state.update((n, s, mn, mx, last))
    if timeout_ms:
        state.setTimeoutDuration(timeout_ms)  # processing-time state GC
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n": n,
                "sum_value": s,
                "min_value": mn,
                "max_value": mx,
                "last_ts_sec": last,
            }
        ]
    )


_Z_LOOKBACK = 10  # must match plans.timeseries.events_rolling_zscore

ZSCORE_STATE_SCHEMA = "vals array<double>"
ZSCORE_OUTPUT_SCHEMA = (
    "event_id long, user_id long, ts_sec long, value double, "
    "roll_mean double, roll_std double, zscore double"
)


def _fround6(x: float | None) -> float | None:
    import math

    if x is None or (isinstance(x, float) and math.isnan(x)):
        return None
    return math.floor(x * 1e6 + 0.5) / 1e6


def _update_zscore(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import math

    (user_id,) = key
    vals: list[float] = list(state.get[0]) if state.exists else []
    batch = pd.concat(list(pdfs), ignore_index=True)
    # Mirror the batch twin's ROWS-frame semantics exactly (the r4
    # advice: dropna here made the twins diverge on NULL input):
    # a NULL-value row is EMITTED (roll_mean/roll_std from the current
    # frame, zscore NULL) and still occupies one frame slot — stored
    # in state as a NaN sentinel the aggregates skip, because
    # rowsBetween(-10, -1) counts rows, not non-null values. NULL
    # ts_sec rows sort first, matching Spark's asc_nulls_first.
    batch = batch.sort_values(["ts_sec", "event_id"], na_position="first")
    rows = []
    for r in batch.itertuples(index=False):
        present = [v for v in vals[-_Z_LOOKBACK:] if not math.isnan(v)]
        mean = _fround6(sum(present) / len(present)) if present else None
        std = None
        if len(present) >= 2:
            m = sum(present) / len(present)
            std = _fround6(
                math.sqrt(sum((v - m) ** 2 for v in present) / (len(present) - 1))
            )
        v_raw = None if pd.isna(r.value) else float(r.value)
        z = None
        if v_raw is not None and std is not None and std != 0.0 and mean is not None:
            z = _fround6((v_raw - mean) / std)
        rows.append(
            {
                "event_id": int(r.event_id),
                "user_id": user_id,
                "ts_sec": None if pd.isna(r.ts_sec) else int(r.ts_sec),
                "value": None
                if v_raw is None
                else math.floor(v_raw * 100.0 + 0.5) / 100.0,
                "roll_mean": mean,
                "roll_std": std,
                "zscore": z,
            }
        )
        vals.append(float("nan") if v_raw is None else v_raw)
        vals = vals[-_Z_LOOKBACK:]
    state.update((vals,))
    cols = ["event_id", "user_id", "ts_sec", "value", "roll_mean", "roll_std", "zscore"]
    yield pd.DataFrame(rows, columns=cols)


def stream_rolling_zscore(events: DataFrame) -> DataFrame:
    """Streaming twin of plans.timeseries.events_rolling_zscore: the
    trailing-10 per-user anomaly score maintained as custom state (a
    bounded deque of the last 10 values — O(lookback) per key, never
    the event history). Within a micro-batch rows process in
    (ts_sec, event_id) order; cross-batch correctness assumes
    time-ordered arrival (the file-replay case) — out-of-order
    arrivals beyond that need event-time timers
    (transformWithStateInPandas, which needs google.protobuf).
    """
    from chess_pipeline_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(events.sparkSession)
    return (
        events.select("event_id", "user_id", "value", "ts_sec")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_zscore,
            outputStructType=ZSCORE_OUTPUT_SCHEMA,
            stateStructType=ZSCORE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_user_running_stats(
    events: DataFrame, timeout_ms: int = 0
) -> DataFrame:
    """Running per-user stats across micro-batches (custom stateful
    operator — applyInPandasWithState). Each micro-batch emits the
    updated totals for the users it touched; state is O(1) per user.

    ``timeout_ms > 0`` enables processing-time state GC (idle keys
    emit a final row and free their state) — the long-running-
    production setting. Note an enabled timeout keeps an
    availableNow/bounded query alive until the timeouts fire, so
    bounded replays (and the tests) default to no timeout.
    """
    from functools import partial

    from chess_pipeline_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(events.sparkSession)
    return (
        events.select("user_id", "value", "ts_sec")
        .groupBy("user_id")
        .applyInPandasWithState(
            partial(_update_user_stats, timeout_ms=timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_ms
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


DECAY_STATE_SCHEMA = "last_ts_sec long, score double, n long"
DECAY_OUTPUT_SCHEMA = "user_id long, n long, last_ts_sec long, decay_score double"


def _update_decay(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    half_life_s: int = 21600,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    last, score, n = state.get if state.exists else (None, 0.0, 0)
    batch = pd.concat(list(pdfs), ignore_index=True)
    # NULL value/ts rows carry no signal for a decayed counter and are
    # ignored entirely (unlike the z-score twin there is no batch
    # frame contract to mirror — documented in stream_decayed_engagement)
    batch = batch.dropna(subset=["value", "ts_sec"]).sort_values(
        ["ts_sec", "event_id"]
    )
    for r in batch.itertuples(index=False):
        ts = int(r.ts_sec)
        if last is not None and ts > last:
            score *= 0.5 ** ((ts - last) / half_life_s)
        # same-timestamp or out-of-order-within-batch events add at
        # the current anchor without negative decay (monotone state)
        score += float(r.value)
        last = ts if last is None else max(last, ts)
        n += 1
    state.update((last, score, n))
    if last is not None:
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n": n,
                    "last_ts_sec": last,
                    "decay_score": score,
                }
            ]
        )


def stream_decayed_engagement(
    events: DataFrame, half_life_s: int = 21600
) -> DataFrame:
    """Streaming decayed engagement counter (custom stateful op):
    per user, an exponentially decayed sum of event values with a
    6-hour half-life, anchored at the user's latest processed event
    — the classic O(1)-state streaming sketch behind activity scores
    and rate estimators (state is (last_ts, score, n), never the
    event history).

    Relation to the BATCH `events_decay_score` catalog query: the
    batch op floors the half-life index (integer 2^-k weights, exact
    cross-engine arithmetic, anchored once at the final corpus
    state); a stream cannot re-anchor floored indices incrementally
    without retaining every event, so this op uses CONTINUOUS decay
    (score *= 0.5^(dt/hl) per step) — the standard streaming
    formulation. Verified against an ordered Python replay of the
    same stream instead of a SQL oracle. NULL value/ts events are
    ignored. Cross-batch correctness assumes time-ordered arrival,
    as with the z-score twin.
    """
    from functools import partial

    from chess_pipeline_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(events.sparkSession)
    return (
        events.select("event_id", "user_id", "value", "ts_sec")
        .groupBy("user_id")
        .applyInPandasWithState(
            partial(_update_decay, half_life_s=half_life_s),
            outputStructType=DECAY_OUTPUT_SCHEMA,
            stateStructType=DECAY_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
