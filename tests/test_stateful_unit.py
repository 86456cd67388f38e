"""Unit pins for the TWS sessionizer's state round-trip shape (r19), and
for the agreement of the two Python stateful APIs on one fold.

The r19 optimization replaced per-close ``appendValue`` (one state-server
round-trip per closed session — 95k calls at sf0.1) with ONE
``appendList`` per key-batch. These tests drive ``handleInputRows`` /
``handleExpiredTimer`` against a fake handle and pin that:

* list contents and ORDER are exactly the emitted sessions' starts,
* at most one appendList round-trip happens per key-batch,
* sess_seq stays continuous across batched closes and timer expiry.

The on-cluster contract is separately H-checked by
``scan_state_tws_variables`` (ListState read back against the oracle).

The agreement tests drive an ``applyInPandasWithState`` function (against
a fake ``GroupState``) and its ``transformWithStateInPandas`` processor
with the same batches, and pin that both emit the same answer and leave
the same open state.
"""

import pandas as pd

from sparkstreamingstateful_spark.streaming import stateful


class FakeValueState:
    def __init__(self):
        self.value = None

    def get(self):
        return self.value

    def update(self, v):
        self.value = tuple(v)


class FakeListState:
    def __init__(self):
        self.rows = []
        self.append_calls = 0
        self.append_list_calls = 0

    def appendValue(self, v):
        self.append_calls += 1
        self.rows.append(tuple(v))

    def appendList(self, vs):
        self.append_list_calls += 1
        self.rows.extend(tuple(v) for v in vs)

    def get(self):
        return iter(self.rows)


class FakeHandle:
    def __init__(self):
        self.value_state = FakeValueState()
        self.list_state = FakeListState()
        self.timers = []

    def getValueState(self, name, schema):
        return self.value_state

    def getListState(self, name, schema):
        return self.list_state

    def registerTimer(self, ms):
        self.timers.append(ms)

    def deleteTimer(self, ms):
        self.timers.remove(ms)


class FakeTimerValues:
    def __init__(self, wm_ms):
        self._wm = wm_ms

    def getCurrentWatermarkInMs(self):
        return self._wm


class FakeExpiredTimerInfo:
    def __init__(self, ms):
        self._ms = ms

    def getExpiryTimeInMs(self):
        return self._ms


class FakeGroupState:
    """The ``applyInPandasWithState`` GroupState surface the ``*_fn``s use."""

    hasTimedOut = False

    def __init__(self, value=None, wm_ms=-1):
        self.value = value
        self.wm_ms = wm_ms
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, v):
        self.value = tuple(v)

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _pdf(ts_us_list):
    return pd.DataFrame(
        {
            "ts": pd.to_datetime([us * 1000 for us in ts_us_list]),
            "event_id": range(len(ts_us_list)),
            "user_id": [7] * len(ts_us_list),
            "event_type": ["view"] * len(ts_us_list),
            "value": [1.0] * len(ts_us_list),
        }
    )


def test_multi_close_batch_is_one_append_list():
    proc = stateful.SessionizeTws()
    h = FakeHandle()
    proc.init(h)
    gap = stateful.GAP_US
    # three gap-separated singleton sessions + one open tail
    ts = [0, gap, 2 * gap, 3 * gap]
    out = list(
        proc.handleInputRows((7,), iter([_pdf(ts)]), FakeTimerValues(-1))
    )
    closed = pd.concat(out, ignore_index=True)
    # first three sessions closed inline, seq 0..2, in event order
    assert list(closed["sess_start_us"]) == [0, gap, 2 * gap]
    assert list(closed["sess_seq"]) == [0, 1, 2]
    # ONE appendList round-trip carried all three starts, in order
    assert h.list_state.append_list_calls == 1
    assert h.list_state.append_calls == 0
    assert h.list_state.rows == [(0,), (gap,), (2 * gap,)]
    # open session for the tail event, timer armed at last + gap
    assert h.value_state.value[0] == 3 * gap
    assert h.timers == [3 * gap // 1000 + stateful.GAP_MS]


def test_expiry_seq_agrees_with_batched_list():
    proc = stateful.SessionizeTws()
    h = FakeHandle()
    proc.init(h)
    gap = stateful.GAP_US
    list(proc.handleInputRows((7,), iter([_pdf([0, gap, 2 * gap])]),
                              FakeTimerValues(-1)))
    deadline_ms = 2 * gap // 1000 + stateful.GAP_MS
    out = list(
        proc.handleExpiredTimer((7,), FakeTimerValues(deadline_ms),
                                FakeExpiredTimerInfo(deadline_ms))
    )
    final = pd.concat(out, ignore_index=True)
    # the expiry-path seq derives from the LIST's length (2 batched
    # closes), cross-checking the appendList bookkeeping
    assert list(final["sess_start_us"]) == [2 * gap]
    assert list(final["sess_seq"]) == [2]
    assert h.list_state.rows == [(0,), (gap,), (2 * gap,)]
    # value state retired with lifetime close count
    assert h.value_state.value[0] == -1
    assert h.value_state.value[5] == 3


def test_no_close_batch_appends_nothing():
    proc = stateful.SessionizeTws()
    h = FakeHandle()
    proc.init(h)
    out = list(
        proc.handleInputRows((7,), iter([_pdf([0, 1000, 2000])]),
                             FakeTimerValues(-1))
    )
    assert pd.concat(out, ignore_index=True).empty
    assert h.list_state.append_list_calls == 0
    assert h.list_state.append_calls == 0


def _rows(key, ts_values):
    """One key's frame of ``(ts_us, value)`` rows."""
    return pd.DataFrame(
        {
            "ts": pd.to_datetime([us * 1000 for us, _ in ts_values]),
            "event_id": range(len(ts_values)),
            "user_id": [key] * len(ts_values),
            "event_type": ["view"] * len(ts_values),
            "value": [v for _, v in ts_values],
        }
    )


def test_sessionize_apis_agree():
    gap = stateful.GAP_US
    minute = 60 * 1_000_000
    last = 2 * gap + 5 * minute - 1
    batches = [
        # key 7: an exact-gap (== GAP_US) split, then an open session
        (-1, {
            7: [(0, 1.0), (gap, 2.0), (gap + minute, 3.0), (gap + 5 * minute, 4.0)],
            8: [(0, 5.0)],
        }),
        # key 7: a late row older than the open session's last event, then
        # one GAP_US - 1 after that last event — it merges only if the late
        # row did not rewind the deadline. Key 8: its session's deadline is
        # behind the watermark, so the batch closes it inline.
        (2 * stateful.GAP_MS, {
            7: [(gap + 2 * minute, 6.0), (last, 7.0)],
            8: [(1000, 8.0)],
        }),
    ]
    states = {k: FakeGroupState() for k in (7, 8)}
    handles = {k: FakeHandle() for k in (7, 8)}
    procs = {k: stateful.SessionizeTws() for k in (7, 8)}
    for k in procs:
        procs[k].init(handles[k])
    fn_out, tws_out = [], []
    for wm_ms, by_key in batches:
        for k, rows in by_key.items():
            states[k].wm_ms = wm_ms
            for pdf in stateful.sessionize_fn((k,), iter([_rows(k, rows)]), states[k]):
                fn_out += pdf.itertuples(index=False, name=None)
            for pdf in procs[k].handleInputRows(
                (k,), iter([_rows(k, rows)]), FakeTimerValues(wm_ms)
            ):
                tws_out += [r[:4] for r in pdf.itertuples(index=False, name=None)]
                assert list(pdf["sess_seq"]) == [0] * len(pdf)
    assert fn_out == tws_out == [(7, 0, 1, 1.0), (8, 0, 2, 13.0)]
    fn_open = {k: s.value for k, s in states.items()}
    tws_open = {
        k: h.value_state.value[:4] if h.value_state.value[0] >= 0 else None
        for k, h in handles.items()
    }
    assert fn_open == tws_open == {7: (gap, last, 5, 22.0), 8: None}


def test_running_agg_apis_agree():
    # values whose float sum depends on the order they are added in
    batches = [
        [_rows(7, [(0, 0.1), (1, 0.2)]), _rows(7, [(2, 0.7)])],
        [_rows(7, [(3, 1e16), (4, 1.0), (5, -1e16)])],
    ]
    for seed in (None, (3, 0.3)):
        state = FakeGroupState(seed)
        h = FakeHandle()
        proc = stateful.RunningAgg()
        proc.init(h)
        if seed is not None:
            proc.handleInitialState(
                (7,),
                pd.DataFrame({"user_id": [7], "n": [seed[0]], "sum_value": [seed[1]]}),
                FakeTimerValues(-1),
            )
        for frames in batches:
            fn = pd.concat(list(stateful.running_agg_fn((7,), iter(frames), state)))
            tws = pd.concat(
                list(proc.handleInputRows((7,), iter(frames), FakeTimerValues(-1)))
            )
            assert fn.to_dict("records") == tws.to_dict("records")
        assert state.value == h.value_state.value
        assert state.value[0] == (seed or (0,))[0] + 6
