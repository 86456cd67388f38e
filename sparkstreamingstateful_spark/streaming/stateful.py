"""Custom per-key stateful processors (SURVEY.md §2.9, ST7–ST9) — the
``updateStateByKey`` / ``mapWithState``-equivalents of the reference domain,
on both generations of PySpark's Python stateful API (present in 4.1.2):

- ``applyInPandasWithState`` functions (``*_fn``): each is a plain
  ``(key, pdf_iter, state) -> iterator[pdf]`` function plus its
  output/state schemas, so batch twins and streaming tests share one
  definition;
- ``transformWithStateInPandas`` processors: the module-level
  ``StatefulProcessor`` classes ``RunningAgg``, ``ProfileTws`` and
  ``SessionizeTws`` behind the ``*_tws`` keys and the TWS state
  readers — value, list and map state, initial state and event-time
  timers. Each TWS key runs only on this API; its workers need a
  ``google.protobuf`` runtime (see ``compat.ensure_protobuf``).

A semantics served on both APIs has ONE fold — ``_running_fold`` (the
running count+sum) and ``_split_sessions`` (the idle-gap session split)
— and each API only maps it onto its own state, timeout/timer and
emission calls, so the two can never disagree on an answer.

State crosses micro-batch boundaries via the state store (RocksDB
provider configured in session.py); Arrow moves the per-group pandas
frames across the JVM↔Python boundary.

Scale notes: state is partitioned by the grouping key across executors —
per-key state is O(1) here (counters, current-session accumulator, day
set), so total state is O(distinct keys), the same bound the reference
domain's ``mapWithState`` carries. Event-time timeouts (ST8) piggyback on
the watermark, so idle-session cleanup is driven by data progress, not
wall-clock.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap, microseconds
GAP_MS = GAP_US // 1000

# ---------------------------------------------------------------- ST7
RUNNING_AGG_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)
RUNNING_AGG_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("sum_value", T.DoubleType())]
)


def _running_fold(n: int, s: float, pdfs: Iterator[pd.DataFrame]) -> tuple[int, float]:
    """The running count+sum fold of both APIs: per frame, ``sum()`` then
    add — one order, so ``sum_value`` is bit-identical on either API."""
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    return n, s


def running_agg_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Running per-user count+sum, maintained across micro-batches
    (updateStateByKey-equivalent). Emits the updated state each batch."""
    n, s = _running_fold(*(state.get if state.exists else (0, 0.0)), pdf_iter)
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "sum_value": [s]})


# ---------------------------------------------------------------- ST8
SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("sess_start_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)
SESSION_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


def _split_sessions(
    pdfs: Iterator[pd.DataFrame], open_session: tuple | None
) -> tuple[list[tuple], tuple]:
    """The session split of both APIs: fold one key's batch, sorted by
    ``(ts, event_id)``, into ``open_session`` — ``(start_us, last_us, n,
    sum)`` or None. Returns the sessions the batch closed, as ``(start_us,
    n, sum)`` in event order, and the session left open (always one: the
    batch's last row belongs to it). Each API keeps its own idle
    timeout/timer and the inline close of a group behind the watermark."""
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    closed: list[tuple] = []
    if open_session is None:
        start_us = None
    else:
        start_us, last_us, n, s = open_session
    for r in rows.itertuples():
        ts_us = r.ts.value // 1000  # pandas ns → µs
        if start_us is None:
            start_us, last_us, n, s = ts_us, ts_us, 1, float(r.value)
        elif ts_us - last_us >= GAP_US:
            closed.append((start_us, n, s))
            start_us, last_us, n, s = ts_us, ts_us, 1, float(r.value)
        else:
            # max(): a within-watermark LATE row (older than the open
            # session's last event, delivered in a later batch) merges
            # but must not REWIND the idle deadline — a rewound last_us
            # makes the next on-time row see an inflated gap and falsely
            # split the session the globally-sorted oracle keeps whole
            last_us, n, s = max(last_us, ts_us), n + 1, s + float(r.value)
    return closed, (start_us, last_us, n, s)


def sessionize_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Sessionization with 30-min idle timeout (mapWithState+timeout
    equivalent): closed sessions emit (start, n_events, total value); the
    open session lives in keyed state with an event-time timeout at
    last_ts + gap, so the watermark closes idle sessions."""
    if state.hasTimedOut:
        start_us, last_us, n, s = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "sess_start_us": [start_us],
                "n_events": [n],
                "sum_value": [s],
            }
        )
        return

    closed, (start_us, last_us, n, s) = _split_sessions(
        pdf_iter, state.get if state.exists else None
    )
    timeout_ms = last_us // 1000 + GAP_MS
    if timeout_ms <= state.getCurrentWatermarkMs():
        # Late-arriving group (out-of-order file feeds deliver rows older
        # than the watermark to the state function — measured on a
        # non-time-ordered 10× feed): the watermark has already passed
        # this session's idle deadline, so no on-time event can ever
        # extend it. Close it inline — setTimeoutTimestamp would throw
        # INVALID_TIMEOUT_TIMESTAMP for a past timestamp and kill the
        # query.
        closed.append((start_us, n, s))
        if state.exists:
            state.remove()
    else:
        state.update((int(start_us), int(last_us), int(n), float(s)))
        state.setTimeoutTimestamp(timeout_ms)
    yield pd.DataFrame(
        [(key[0], *c) for c in closed],
        columns=["user_id", "sess_start_us", "n_events", "sum_value"],
    )


# ---------------------------------------------------------------- ST9
FIRST_SEEN_OUTPUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("day", T.StringType()),
    ]
)
FIRST_SEEN_STATE = T.StructType([T.StructField("days_csv", T.StringType())])


def first_seen_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Keyed first-seen filter: emit the first event per user per day,
    remembering seen days in state (seen-set dedup with state)."""
    seen = set((state.get[0] or "").split(",")) - {""} if state.exists else set()
    rows = pd.concat(list(pdf_iter), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"])
    out: list[tuple] = []
    for r in rows.itertuples():
        day = str(r.ts.date())
        if day not in seen:
            seen.add(day)
            out.append((int(r.event_id), int(key[0]), day))
    state.update((",".join(sorted(seen)),))
    yield pd.DataFrame(out, columns=["event_id", "user_id", "day"])


# ---------------------------------------------------------------- CDC upsert
LATEST_WINS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("last_eid", T.LongType()),
        T.StructField("last_type", T.StringType()),
        T.StructField("last_value", T.DoubleType()),
        T.StructField("n_changes", T.LongType()),
    ]
)
LATEST_WINS_STATE = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("last_eid", T.LongType()),
        T.StructField("last_type", T.StringType()),
        T.StructField("last_value", T.DoubleType()),
        T.StructField("n_changes", T.LongType()),
    ]
)


def latest_wins_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Streaming latest-wins upsert state (the MERGE-INTO compaction of
    cdc_upsert_latest, maintained incrementally): keyed state holds the
    most recent record by (ts, event_id) plus a change counter; each
    micro-batch folds its rows in and emits the current materialized row.
    Out-of-order arrivals are handled by the (ts, event_id) compare, so
    the final emitted state is order-insensitive across batches."""
    if state.exists:
        last_us, last_eid, last_type, last_value, n = state.get
    else:
        last_us, last_eid, last_type, last_value, n = -1, -1, "", 0.0, 0
    for pdf in pdf_iter:
        for r in pdf.itertuples():
            ts_us = r.ts.value // 1000  # pandas ns → µs
            n += 1
            if (ts_us, int(r.event_id)) > (last_us, last_eid):
                last_us, last_eid = ts_us, int(r.event_id)
                last_type, last_value = str(r.event_type), float(r.value)
    state.update((int(last_us), int(last_eid), last_type, float(last_value), int(n)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_us": [last_us],
            "last_eid": [last_eid],
            "last_type": [last_type],
            "last_value": [last_value],
            "n_changes": [n],
        }
    )


# ---------------------------------------------------------------- ST7 (TWS)
class RunningAgg(StatefulProcessor):
    """Spark-4 ``transformWithStateInPandas`` flavor of the running agg —
    the modern StatefulProcessor API (typed value state via a handle,
    RocksDB-backed). Same semantics and fold as running_agg_fn;
    registered as its own query so both stateful APIs stay covered.

    ST24 runs it with INITIAL STATE — the
    ``transformWithStateInPandas(initialState=...)`` surface that
    migrates a batch-computed table into live streaming state (the
    "start the stream where the backfill left off" handoff every
    lambda-architecture replacement needs). ``handleInitialState`` is
    invoked once per bootstrapped key in the FIRST batch, before that
    key's ``handleInputRows``, and never without an ``initialState``;
    keys absent from the bootstrap skip it (state starts empty), and
    bootstrapped keys that never receive a stream row keep their seeded
    state but emit nothing — the caller's materialization must union
    the bootstrap table for those (see
    queries.stateful_running_agg_tws_bootstrap)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("agg", RUNNING_AGG_STATE)

    def handleInitialState(self, key, initialState, timerValues) -> None:
        # one seed row per key (the bootstrap table is a GROUP BY)
        row = initialState.iloc[0]
        self._state.update((int(row["n"]), float(row["sum_value"])))

    def handleInputRows(self, key, rows, timerValues):
        # every state call is a socket round-trip to the JVM state
        # server, paid PER KEY PER BATCH — get() returns None when
        # absent, so never pay for a separate exists()
        n, s = _running_fold(*(self._state.get() or (0, 0.0)), rows)
        self._state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "sum_value": [s]})


# ------------------------------------------------------------ ST8 (TWS)
SESSION_TWS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("sess_start_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("sess_seq", T.LongType()),
    ]
)

# TWS-specific state layout: the open session PLUS the bookkeeping that
# keeps per-key state-server round-trips minimal — ``timer_ms`` remembers
# the registered timer (so re-arming is one targeted deleteTimer, never a
# listTimers scan) and ``n_closed`` counts closed sessions (the sess_seq
# source on the hot path; the ListState read happens on timer expiry).
# ``start_us = -1`` encodes "no open session" — the record must outlive
# session closes because n_closed spans them.
SESSION_TWS_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("timer_ms", T.LongType()),
        T.StructField("n_closed", T.LongType()),
    ]
)


# ------------------------------------------------------------ profile (TWS)
PROFILE_TWS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


class ProfileTws(StatefulProcessor):
    """``transformWithStateInPandas`` per-user profile on MAP STATE — the
    one TWS state primitive the other processors don't touch: a per-key
    ``event_type → (count, sum)`` attribute map. It carries no TTL:
    Spark only permits a TTL under ``timeMode=ProcessingTime`` —
    EventTime raises STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL
    (measured) — so the auto-expiring-state API runs under
    ProcessingTime in tests/test_streaming.py, on that test's own probe
    processor.

    Round-trip budget (same discipline as SessionizeTws): per key-batch
    the hot path pays ONE streamed ``iterator()`` read of the whole map +
    one ``updateValue`` per event type present in the batch (≤5 here) —
    never per-row calls, never a read-modify-write per type. The snapshot
    emission rides on an event-time TIMER registered once per key at
    ``finalize_ms`` (a data-derived "export the profile at time T"
    deadline — the scheduled-snapshot pattern of a daily profile dump):
    ``handleExpiredTimer`` emits the map contents via ``iterator()`` and
    CLEARS the map, so a re-armed key re-accumulates from zero and the
    materialized SUM of emitted partials equals the batch GROUP BY
    whatever the expiry timing — correctness never depends on the timer
    firing exactly once."""

    def __init__(self, finalize_ms: int) -> None:
        self._finalize_ms = finalize_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._profile = handle.getMapState(
            "profile", "event_type STRING", "n BIGINT, sum_value DOUBLE"
        )

    def handleInputRows(self, key, rows, timerValues):
        data = pd.concat(list(rows), ignore_index=True)
        cur = {k[0]: v for k, v in self._profile.iterator()}
        if not cur:
            # empty map = first sight of this key (or re-accumulation
            # after a snapshot): (re-)arm the finalize timer. A
            # deadline already behind the watermark fires on the next
            # batch — the SUM-merge materialization absorbs the extra
            # snapshot.
            self._handle.registerTimer(self._finalize_ms)
        grp = data.groupby("event_type")["value"].agg(["count", "sum"])
        for etype, row in grp.iterrows():
            n0, s0 = cur.get(etype, (0, 0.0))
            self._profile.updateValue(
                (etype,), (int(n0 + row["count"]), float(s0 + row["sum"]))
            )
        return iter(())  # emission happens only on timer expiry

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        entries = [
            (key[0], k[0], int(v[0]), float(v[1]))
            for k, v in self._profile.iterator()
        ]
        self._profile.clear()
        if entries:
            yield pd.DataFrame(
                entries, columns=["user_id", "event_type", "n", "sum_value"]
            )


class SessionizeTws(StatefulProcessor):
    """``transformWithStateInPandas`` sessionization — the TWS feature-
    coverage twin of ``sessionize_fn`` (same ``_split_sessions`` fold),
    deliberately exercising the parts of the new API the running-agg
    processor cannot: EVENT-TIME TIMERS (``registerTimer`` /
    ``deleteTimer`` + ``handleExpiredTimer`` close idle sessions when the
    watermark passes ``last_ts + gap``) and MULTIPLE STATE VARIABLES per
    key (the open session in a ValueState, the starts of closed sessions
    in a ListState). The ListState is load-bearing, not decorative: each
    emitted session carries ``sess_seq`` — how many sessions this user
    had closed before it — which the DuckDB oracle recomputes as
    ``row_number() - 1`` over session starts, so a broken list append or
    read shows up as a hash mismatch, not just a missing metric.

    Round-trip budget (r6 rework): every state/timer call is a socket
    round-trip to the JVM state server, paid per key per batch — the r6
    bench measured the original 9-call shape at 3.6 ms/key-batch (27 s
    at sf0.1) vs 1.2 ms for the applyInPandasWithState twin. This
    version holds the hot path at get + update + (deleteTimer? +
    registerTimer) + (appendList?): the registered timer and the
    closed-session count ride in the value state, so listTimers scans
    and per-close ListState length reads are gone, and all of a batch's
    closed-session starts go to the ListState in ONE appendList call
    (r19 — per-close appendValue was 95k calls / ~2 ms each at sf0.1,
    two thirds of the operator's in-worker time). The EXPIRY path
    derives sess_seq from the list's length instead of the counter —
    the two bookkeeping sources must agree or the oracle hash
    mismatches, so the list stays load-bearing on the H-checked path
    (every key's final session closes via timer expiry)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._sess = handle.getValueState("sess", SESSION_TWS_STATE)
        self._starts = handle.getListState("closed_starts", "start_us BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        cur = self._sess.get()
        timer_ms, n_closed = cur[4:] if cur else (-1, 0)
        closed, (start_us, last_us, n, s) = _split_sessions(
            rows, tuple(cur[:4]) if cur and cur[0] >= 0 else None
        )
        deadline_ms = last_us // 1000 + GAP_MS
        if deadline_ms <= timerValues.getCurrentWatermarkInMs():
            # watermark already past this session's idle deadline: no
            # on-time event can extend it — close inline (mirror of
            # sessionize_fn's late-group branch). The stale timer (if
            # any) may fire later; handleExpiredTimer sees start_us=-1
            # and ignores it, so no deleteTimer round-trip is owed.
            closed.append((start_us, n, s))
            open_sess = (-1, -1, 0, 0.0, -1)
        else:
            if timer_ms != deadline_ms:
                if timer_ms > 0:
                    self._handle.deleteTimer(timer_ms)
                self._handle.registerTimer(deadline_ms)
            open_sess = (int(start_us), int(last_us), int(n), float(s), int(deadline_ms))
        self._sess.update((*open_sess, int(n_closed + len(closed))))
        if closed:
            # ONE appendList round-trip for the whole batch's closes
            # instead of one appendValue per close (r19, measured:
            # this corpus closes ~a session per event, so per-close
            # appendValue was 95,465 state-server calls ≈ 160 s of
            # 236 s total in-worker time at sf0.1; appendList is one
            # call per key-batch). List contents and order unchanged:
            # closes are appended in event order, and nothing reads
            # the list between closes inside a batch — the expiry
            # path still derives sess_seq from the list's length.
            self._starts.appendList([(int(c[0]),) for c in closed])
        # the i-th close of this batch had n_closed + i closes before it
        yield pd.DataFrame(
            [
                (key[0], int(st), int(k), float(v), int(n_closed + i))
                for i, (st, k, v) in enumerate(closed)
            ],
            columns=SESSION_TWS_OUTPUT.fieldNames(),
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        cur = self._sess.get()
        if not cur or cur[0] < 0:
            return  # stale timer from an inline close
        start_us, last_us, n, s, timer_ms, n_closed = cur
        if expiredTimerInfo.getExpiryTimeInMs() < last_us // 1000 + GAP_MS:
            return  # stale timer for an already-extended session
        # seq from the LIST's length, not the counter: cross-checks
        # the append bookkeeping against the oracle on every key
        seq = sum(1 for _ in self._starts.get())
        self._sess.update((-1, -1, 0, 0.0, -1, int(n_closed) + 1))
        self._starts.appendValue((int(start_us),))
        yield pd.DataFrame(
            [(key[0], int(start_us), int(n), float(s), int(seq))],
            columns=SESSION_TWS_OUTPUT.fieldNames(),
        )


# ---------------------------------------------------------------- ST29
HOLT_OUTPUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("win_start_us", T.LongType()),
        T.StructField("x", T.LongType()),
        T.StructField("l", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)
HOLT_STATE = T.StructType(
    [
        T.StructField("init", T.LongType()),      # 0 until first hour closes
        T.StructField("l", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("pend_hour_us", T.LongType()),
        T.StructField("pend_x", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)

_HOUR_US = 3_600_000_000


def _holt_tdiv2(v: int) -> int:
    """Truncate-toward-zero halving — DuckDB ``// 2`` / Spark ``div``
    semantics on signed fixed-point state (Python ``//`` floors)."""
    return v // 2 if v >= 0 else -((-v) // 2)


def _holt_step(init: int, l: int, b: int, x: int) -> tuple[int, int, int]:
    """One Holt update (alpha = beta = 1/2, integer fixed point) —
    identical recurrence to operators/statistics.events_holt_linear."""
    if not init:
        return 1, x, 0
    nl = _holt_tdiv2(x + l + b)
    nb = _holt_tdiv2(nl - l + b)
    return 1, nl, nb


def holt_fn(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Streaming Holt linear-trend smoothing per event type (ST29): keyed
    state carries (level, trend) plus the OPEN hour's partial sum; a row
    landing in a later hour CLOSES the pending hour (committing the
    recurrence step and emitting the hour's final smoothed row), and each
    batch also emits a PROVISIONAL snapshot of the still-open hour
    (stepped from the committed state WITHOUT committing), so the sink
    always holds the freshest estimate. A monotone per-key ``seq`` (total
    rows processed) lets the reader arg-max to the authoritative row per
    hour — later snapshots of the same hour supersede earlier ones, and
    the closing emission supersedes every snapshot. The feeder's
    file-order == event-time-order contract makes hours close
    monotonically per key, so a committed step is never revisited.

    Per-row values quantize through Decimal ROUND_HALF_UP on the exact
    binary double — bit-identical to Spark's BigDecimal round AND
    DuckDB's round on positives (numpy's round is banker's; floor(x+.5)
    mis-rounds binary-boundary values)."""
    from decimal import ROUND_HALF_UP, Decimal

    init, l, b, pend_h, pend_x, seq = (
        state.get if state.exists else (0, 0, 0, -1, 0, 0)
    )
    out = []
    rows = []
    for pdf in pdf_iter:
        for r in pdf.itertuples():
            us = r.ts.value // 1000  # pandas ns → µs
            x = int(
                Decimal(r.value * 100).quantize(Decimal(1), ROUND_HALF_UP)
            )
            rows.append((us - us % _HOUR_US, us, x))
            seq += 1
    rows.sort(key=lambda t: t[1])
    for hour_us, _, x in rows:
        if pend_h == -1:
            pend_h, pend_x = hour_us, x
        elif hour_us == pend_h:
            pend_x += x
        else:
            init, l, b = _holt_step(init, l, b, pend_x)
            out.append((key[0], pend_h, pend_x, l, b, seq))
            pend_h, pend_x = hour_us, x
    if pend_h != -1:
        # provisional snapshot of the open hour — NOT committed
        _, sl, sb = _holt_step(init, l, b, pend_x)
        out.append((key[0], pend_h, pend_x, sl, sb, seq))
    state.update((init, l, b, pend_h, pend_x, seq))
    yield pd.DataFrame(
        out, columns=["event_type", "win_start_us", "x", "l", "b", "seq"]
    )
