"""Custom stateful operator — parity with the reference's Processor API.

The reference's ``PurchaseQuantityAlertTrasformer`` (processor/
PurchaseQuantityAlertTrasformer.java:21-122) is a hand-built stateful
operator: per-record state mutation (running sum per (window, key),
:37-50), a timer (punctuator, :33), emission of closed windows over a
threshold (:56-84) and state GC (:85-89).

Spark twin: ``applyInPandasWithState`` — grouped state + timeouts.
(``transformWithState`` maps the Processor API — MapState plus timers —
one to one, but is not used: it needs protobuf in the Python workers
and the RocksDB state store.) Two variants:

- ``windowed_sum_stateful`` — *event-time* (deterministic,
  watermark-driven; the semantics the engine documents as primary).
- ``windowed_sum_punctuated`` — *wall-clock* exact parity with the
  reference's ``PunctuationType.WALL_CLOCK_TIME`` punctuator
  (transformer:33): ``GroupStateTimeout.ProcessingTimeTimeout``;
  data batches only mutate state (``process()``, :37-50), emission
  happens exclusively on the timer callback (``punctuate`` →
  ``sendAlerts``, :56-84) — so an alert fires even when no new data
  arrives for the key, which the event-time variant cannot do.

State schema: parallel arrays (window_start_ms[], sum[]) per key —
the exact information content of the reference's RocksDB store keyed
by ``windowStartMillis ++ productId`` (transformer:103-121), held
per-group by Spark's state store instead of byte-concatenated keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("alert_key", StringType()),
        StructField("window_start_ms", LongType()),
        StructField("total_sum_per_minute", DoubleType()),
    ]
)

STATE_SCHEMA = "starts array<long>, sums array<double>"

WINDOW_MS = 60_000


def _make_handler(threshold: float, window_ms: int):
    def handler(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # load state (parallel arrays -> dict)
        sums: dict[int, float] = {}
        if state.exists:
            starts, vals = state.get
            sums = dict(zip(starts, vals))

        # per-record state mutation (transformer:37-50): floor ts to
        # window, running sum per window
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000).to_numpy()
            win = ts_ms - (ts_ms % window_ms)
            for w, v in zip(win, pdf["value"].to_numpy()):
                sums[int(w)] = sums.get(int(w), 0.0) + float(v)

        # emission: closed windows (end <= watermark), over threshold —
        # the punctuator's range scan (transformer:56-84); GC emitted
        # windows (transformer:85-87)
        wm = state.getCurrentWatermarkMs()
        closed = sorted(w for w in sums if w + window_ms <= wm)
        out = [
            (str(key[0]), w, round(sums[w], 2))
            for w in closed
            if round(sums[w], 2) > threshold
        ]
        for w in closed:
            del sums[w]

        if sums:
            state.update((list(sums.keys()), list(sums.values())))
            # wake up when the earliest open window can close
            state.setTimeoutTimestamp(min(sums) + window_ms)
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(
                out, columns=["alert_key", "window_start_ms", "total_sum_per_minute"]
            )

    return handler


def _make_punctuated_handler(threshold: float, window_ms: int, interval_ms: int):
    def handler(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import time

        sums: dict[int, float] = {}
        if state.exists:
            starts, vals = state.get
            sums = dict(zip(starts, vals))

        if state.hasTimedOut:
            # punctuate() → sendAlerts (transformer:56-84): scan state,
            # emit wall-clock-closed windows over threshold, GC them —
            # regardless of whether new data arrived for this key
            now_ms = int(time.time() * 1000)
            closed = sorted(w for w in sums if w + window_ms <= now_ms)
            out = [
                (str(key[0]), w, round(sums[w], 2))
                for w in closed
                if round(sums[w], 2) > threshold
            ]
            for w in closed:
                del sums[w]
            if sums:
                state.update((list(sums.keys()), list(sums.values())))
                state.setTimeoutDuration(interval_ms)
            else:
                state.remove()
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["alert_key", "window_start_ms", "total_sum_per_minute"],
                )
            return

        # process() (transformer:37-50): mutate state only — NO emission
        # on the data path; the timer is the only emitter
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000).to_numpy()
            win = ts_ms - (ts_ms % window_ms)
            for w, v in zip(win, pdf["value"].to_numpy()):
                sums[int(w)] = sums.get(int(w), 0.0) + float(v)
        if sums:
            state.update((list(sums.keys()), list(sums.values())))
        # schedule the punctuator (context.schedule, transformer:33)
        state.setTimeoutDuration(interval_ms)
        return

    return handler


def windowed_sum_punctuated(
    events_stream: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold: float = 150.0,
    window_ms: int = WINDOW_MS,
    interval_ms: int = 500,
) -> DataFrame:
    """Reference Processor semantics, wall-clock-exact: emission happens
    ONLY on a processing-time timer, never on the data path.

    Windows close against system time (the punctuator's
    ``WALL_CLOCK_TIME``), so results depend on when batches run —
    inherently non-deterministic under replay, which is why the engine
    documents the event-time twin (windowed_sum_stateful) as primary.
    No watermark: state GC is the timer's job, as in the reference
    (transformer:85-89).

    Run under a processing-time trigger (the reference app runs
    forever too); ``trigger(availableNow=True)`` does not terminate
    while processing-time timers are pending — observed empirically,
    pinned by the polling shape of its test.
    """
    stream = events_stream.select(key_col, ts_col, value_col)
    return stream.groupBy(key_col).applyInPandasWithState(
        _make_punctuated_handler(threshold, window_ms, interval_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def windowed_sum_stateful(
    events_stream: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold: float = 150.0,
    watermark_delay: str = "2 minutes",
    window_ms: int = WINDOW_MS,
) -> DataFrame:
    """Reference Processor-variant semantics as a custom stateful op.

    Emits each (key, window) at most once — when the watermark closes
    the window — then deletes its state. Alerts only (sum > threshold),
    exactly like sendAlerts (transformer:63-84).
    """
    stream = events_stream.select(key_col, ts_col, value_col).withWatermark(
        ts_col, watermark_delay
    )
    return stream.groupBy(key_col).applyInPandasWithState(
        _make_handler(threshold, window_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming KMV distinct-count sketch (round 8)
# ---------------------------------------------------------------------------

KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("g", StringType()),
        StructField("n_sketch", LongType()),
        StructField("kmax", DoubleType()),
    ]
)

KMV_STATE_SCHEMA = "mins array<double>"


def _make_kmv_handler(k: int):
    def handler(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # state = the k smallest DISTINCT hash fractions seen so far —
        # the textbook mergeable KMV property: the k smallest of a
        # union are among the union of each side's k smallest, so
        # merging a micro-batch is set-union + sort + slice.
        vals: set[float] = set()
        if state.exists:
            (mins,) = state.get
            vals.update(float(x) for x in mins)
        for pdf in pdfs:
            vals.update(float(x) for x in pdf["u"])
        mins = sorted(vals)[:k]
        state.update((mins,))
        # emit the raw sketch readout (count + k-th minimum); the
        # ESTIMATE is computed JVM-side downstream so rounding is
        # F.round (HALF_UP), identical to the batch twin and oracle —
        # Python's banker's round could differ on .xx5 boundaries
        yield pd.DataFrame(
            {
                "g": [None if key[0] is None else str(key[0])],
                "n_sketch": [len(mins)],
                "kmax": [mins[-1] if mins else None],
            }
        )

    return handler


def kmv_distinct_stateful(
    stream: DataFrame,
    group_col: str = "event_type",
    id_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """KMV distinct-count sketch as a CUSTOM STATEFUL streaming
    operator (applyInPandasWithState) — the streaming twin of
    operators/sketches.kmv_distinct and the U4-escape-hatch proof for
    the sketch family: per-group state is the k smallest distinct
    md5-derived hash fractions (k doubles, bounded, mergeable), each
    micro-batch set-unions its fractions into the state, and the
    current (n_sketch, k-th-min) readout is emitted per trigger
    (update semantics — run_upsert keeps the latest per group).

    The hash fraction is computed JVM-side BEFORE the stateful op
    (identical expression to the batch twin), so the only Python work
    is the bounded set merge; the estimate (k-1)/u_k is derived
    downstream in JVM arithmetic. Engine-portable hashes make the
    whole ESTIMATE oracle-checkable, unlike HLL whose estimate is
    library-specific (streaming_windowed_hll is rows-only for exactly
    that reason).
    """
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )
    hashed = stream.select(F.col(group_col).alias("g"), u.alias("u"))
    return hashed.groupBy("g").applyInPandasWithState(
        _make_kmv_handler(k),
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PH_OUTPUT_SCHEMA = StructType(
    [
        StructField("g", StringType()),
        StructField("n", LongType()),
        StructField("max_ph", DoubleType()),
        StructField("alarm_ts", TimestampType()),
    ]
)

# (count, running raw sum, cum deviation, running min of cum,
#  max excursion, first alarm timestamp)
PH_STATE_SCHEMA = (
    "n bigint, s double, cum double, mn double, maxph double, "
    "alarm_ts timestamp"
)

PH_DELTA = 0.01
PH_LAMBDA = 1000.0  # fixed deployment threshold, shared with the oracle


def _ph_handler(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # Online Page-Hinkley with RUNNING mean (the river/MOA form): for
    # each observation in (ts, event_id) order, m_t = cumsum/n (same
    # association as the oracle's windowed avg — plain left-to-right
    # Python floats, no numpy reassociation), cum += x - m_t - delta,
    # excursion = cum - min(cum so far). Sequential-by-contract: an
    # online detector's state is order-defined, so rows sort by
    # (ts, event_id) within each batch and batches are assumed
    # time-ordered (the file source replays in order; a Kafka source
    # provides per-partition order).
    if state.exists:
        n, s, cum, mn, maxph, alarm_ts = state.get
        alarm = alarm_ts
    else:
        n, s, cum, mn, maxph, alarm = 0, 0.0, 0.0, float("inf"), 0.0, None
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts_v, x in zip(pdf["ts"], pdf["value"]):
            n += 1
            s += float(x)
            m = s / n
            cum += float(x) - m - PH_DELTA
            mn = min(mn, cum)
            ph = cum - mn
            maxph = max(maxph, ph)
            if alarm is None and round(ph + 1e-9, 6) > PH_LAMBDA:
                alarm = ts_v
    state.update((n, s, cum, mn, maxph, alarm))
    yield pd.DataFrame(
        {
            "g": [None if key[0] is None else str(key[0])],
            "n": [n],
            "max_ph": [maxph],
            "alarm_ts": [alarm],
        }
    )


def page_hinkley_stateful(
    stream: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Online Page-Hinkley mean-shift detector as CUSTOM STATEFUL
    streaming state (applyInPandasWithState) — the at-ingest twin of
    the batch page_hinkley_drift (which runs on the closed daily
    grain with the GLOBAL series mean; this one is the genuinely
    online form with the running mean, so it needs no second pass
    and its state is six scalars per group at any volume). Emits the
    latest (n, max excursion, first alarm time) per group per
    trigger; update semantics — run_upsert keeps the final readout.
    """
    return (
        stream.select(
            F.col(group_col).alias("g"),
            F.col(ts_col).alias("ts"),
            F.col("event_id"),
            F.col(value_col).alias("value"),
        )
        .filter(F.col("value").isNotNull())
        .groupBy("g")
        .applyInPandasWithState(
            _ph_handler,
            outputStructType=PH_OUTPUT_SCHEMA,
            stateStructType=PH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


RG_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("admitted", BooleanType()),
    ]
)

# (timestamp, count) pairs for retained distinct microseconds, newest
# FIRST: cnt[0] = min(events at ts[0], K); older pairs kept while the
# cumulative count of pairs after index 0 is < K (each cnt capped at K)
RG_STATE_SCHEMA = "ts array<bigint>, cnt array<int>"

RG_WINDOW_US = 86_400_000_000  # mirror queries.pipeline.RATE_WINDOW_US
RG_MAX_PREV = 3  # mirror queries.pipeline.RATE_MAX_PREV


def _rg_trim(ts: list[int], cnt: list[int]) -> tuple[list[int], list[int]]:
    # Invariant: keep the newest distinct microsecond (count capped at
    # K) plus the newest strictly-older distinct microseconds until
    # their cumulative (capped) count reaches K — ≤ K+1 pairs total.
    # Why this is decision-exact for any future event at t ≥ ts[0]:
    # n_prev = min(K, #events in [t-W, t)). A dropped pair is older
    # than every retained non-newest pair; if it would land in some
    # future window, the ≥K retained strictly-older events land there
    # too, so the capped decision is already "deny". Per-pair capping
    # at K is safe because sum(min(c_i, K)) ≥ min(sum c_i, K).
    out_ts, out_cnt, older = [], [], 0
    for t, c in zip(ts, cnt):
        out_ts.append(t)
        out_cnt.append(min(c, RG_MAX_PREV))
        if out_ts[0] != t:
            older += out_cnt[-1]
            if older >= RG_MAX_PREV:
                break
    return out_ts, out_cnt


def _rate_gate_handler(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # Sliding-window admission with O(K) state and a VECTORIZED
    # decision: rows sort by eps once per batch, so "events strictly
    # before t and within [t-W, t)" inside the batch is a pair of
    # np.searchsorted calls (side='left' excludes same-microsecond
    # peers, matching the RANGE frame's "1 PRECEDING" upper edge —
    # tie-exact, unlike a last-K-timestamps trim, which lets a tie
    # displace an older in-window event). The carried state is
    # (distinct microsecond, count) pairs per _rg_trim, which is
    # decision-exact under ties at any per-key volume.
    import numpy as np

    if state.exists:
        st_ts, st_cnt = list(state.get[0]), list(state.get[1])
    else:
        st_ts, st_cnt = [], []
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values(["eps", "event_id"], ignore_index=True)
    eps = pdf["eps"].to_numpy(dtype="int64")
    lo = eps - RG_WINDOW_US
    n_prev = np.searchsorted(eps, eps, side="left") - np.searchsorted(
        eps, lo, side="left"
    )
    for t, c in zip(st_ts, st_cnt):  # ≤ K+1 retained pairs
        n_prev = n_prev + c * ((t < eps) & (t >= lo))
    admitted = n_prev < RG_MAX_PREV
    # fold the batch into the pair state (batch eps ≥ state eps by
    # replay order; a batch row tying state's newest merges counts)
    u_ts, u_cnt = np.unique(eps, return_counts=True)
    new_ts = u_ts[::-1].tolist()
    new_cnt = u_cnt[::-1].tolist()
    if st_ts and new_ts and new_ts[-1] == st_ts[0]:
        new_cnt[-1] += st_cnt[0]
        st_ts, st_cnt = st_ts[1:], st_cnt[1:]
    st_ts, st_cnt = _rg_trim(new_ts + st_ts, new_cnt + st_cnt)
    state.update((st_ts, st_cnt))
    yield pd.DataFrame(
        {
            "event_id": pdf["event_id"].to_numpy(dtype="int64"),
            "user_id": np.full(len(pdf), key[0], dtype="int64"),
            "admitted": admitted,
        }
    )


FN_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("reached", LongType()),
    ]
)

# greedy funnel times (epoch micros; -1 = step not reached yet)
FN_STATE_SCHEMA = "t1 bigint, t2 bigint, t3 bigint"

FN_GAP_US = 86_400_000_000  # mirror queries.business funnel gap (24 h)
FN_STEPS = ("view", "click", "purchase")


def _funnel_handler(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # Greedy-earliest funnel with 3 scalars of state: t1 = earliest
    # view, t2 = earliest click in [t1, t1+gap], t3 = earliest
    # purchase in [t2, t2+gap] (the batch funnel_steps contract).
    # Each micro-batch is evaluated AS A SET (vectorized mins over the
    # batch's per-type eps arrays), so same-microsecond ties WITHIN a
    # batch resolve exactly like the SQL min-aggregates; replay order
    # is nondecreasing ts, so a later batch can never improve an
    # already-set step time (greedy = first qualifying wins).
    import numpy as np

    t1, t2, t3 = (state.get if state.exists else (-1, -1, -1))
    pdf = pd.concat(list(pdfs), ignore_index=True)
    eps = pdf["eps"].to_numpy(dtype="int64")
    et = pdf["event_type"].to_numpy()

    def _min_in(mask) -> int:
        sel = eps[mask]
        return int(sel.min()) if len(sel) else -1

    if t1 < 0:
        t1 = _min_in(et == FN_STEPS[0])
    if t1 >= 0 and t2 < 0:
        t2 = _min_in(
            (et == FN_STEPS[1]) & (eps >= t1) & (eps <= t1 + FN_GAP_US)
        )
    if t2 >= 0 and t3 < 0:
        t3 = _min_in(
            (et == FN_STEPS[2]) & (eps >= t2) & (eps <= t2 + FN_GAP_US)
        )
    state.update((t1, t2, t3))
    reached = 3 if t3 >= 0 else 2 if t2 >= 0 else 1 if t1 >= 0 else 0
    yield pd.DataFrame({"user_id": [key[0]], "reached": [reached]})


def funnel_stateful(stream: DataFrame) -> DataFrame:
    """Per-user greedy funnel position as CUSTOM STATEFUL streaming
    state (applyInPandasWithState, update mode) — the at-ingest twin
    of the batch ``funnel_steps`` chained-join plan, sharing its
    oracle after the read-side unpivot: state is three epoch-micro
    scalars per user at any volume."""
    return (
        stream.select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("eps"),
        )
        .filter(F.col("event_type").isin(list(FN_STEPS)))
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_handler,
            outputStructType=FN_OUTPUT_SCHEMA,
            stateStructType=FN_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def rate_gate_stateful(stream: DataFrame) -> DataFrame:
    """Online per-user rate gate as CUSTOM STATEFUL streaming state
    (applyInPandasWithState, append mode) — the at-ingest twin of the
    batch ``rate_gate`` RANGE window, sharing its oracle: each event
    is admitted iff its user produced fewer than RG_MAX_PREV events in
    the trailing 24 h, decided from ≤ K+1 retained (microsecond,
    count) pairs per key — tie-exact vs the batch RANGE frame."""
    return (
        stream.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("eps"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _rate_gate_handler,
            outputStructType=RG_OUTPUT_SCHEMA,
            stateStructType=RG_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
