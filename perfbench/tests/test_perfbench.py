"""Tests for the benchmark's parsers and its metric map.  No Spark
session: the event log and progress inputs are small recorded fixtures.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(BENCH, "tests", "fixtures")
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import spans  # noqa: E402
from parsers import (  # noqa: E402
    engine_summary,
    parse_event_log,
    summarize_progress,
    task_skew,
    union_ms,
)

TUMBLING = "fx:p1:stream_window_tumbling"
TWS = "fx:p1:stateful_sessionize_tws"


def _spec() -> dict:
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def engine():
    with open(os.path.join(FIXTURES, "eventlog.jsonl")) as f:
        return parse_event_log(json.loads(line) for line in f)


@pytest.fixture(scope="module")
def progress():
    with open(os.path.join(FIXTURES, "progress.json")) as f:
        return json.load(f)


def test_event_log_groups_by_inherited_tag(engine):
    # Streaming jobs carry the query's own description; the inherited tag
    # still assigns them.  The untagged job is dropped.
    assert set(engine) == {TUMBLING, TWS}
    assert engine[TUMBLING]["jobs"] == 2
    assert engine[TWS]["jobs"] == 1
    assert engine[TUMBLING]["stages"] == 4
    assert engine[TWS]["stages"] == 2


def test_event_log_task_totals(engine):
    t = engine[TUMBLING]
    assert t["tasks"] == 10
    assert t["run_s"] == pytest.approx(5.780)
    assert t["cpu_s"] == pytest.approx(1.978306897)
    assert t["gc_s"] == pytest.approx(0.243)
    assert t["shuffle_read_bytes"] == 14885
    assert t["shuffle_write_bytes"] == 14885
    assert t["spill_bytes"] == 0
    assert t["python_bytes"] == 0
    w = engine[TWS]
    assert w["tasks"] == 5
    assert w["run_s"] == pytest.approx(11.717)
    # pythonDataSent + pythonDataReceived; "time to run Python workers"
    # is in the fixture and must not count.
    assert w["python_bytes"] == 37864


def test_driver_gap_and_skew(engine):
    s = engine_summary(engine[TUMBLING], wall_s=3.0)
    # jobs span 2106 ms and 499 ms, disjoint
    assert s["engine.driver_gap_s"] == pytest.approx(3.0 - 2.605)
    assert s["engine.task_skew"] == pytest.approx(355 / 338.5)
    assert engine_summary(engine[TUMBLING], wall_s=1.0)["engine.driver_gap_s"] == 0.0


def test_union_ms():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert union_ms([(30, 40), (0, 100)]) == 100


def test_task_skew_ignores_single_task_stages():
    assert task_skew({1: [500], 2: [10, 10, 40]}) == pytest.approx(4.0)
    assert task_skew({}) == 1.0


def test_progress_tws(progress):
    s = summarize_progress(progress["stateful_sessionize_tws"])
    assert s["runner.batches"] == 3
    assert s["trigger_ms"] == [4074, 1946, 1653]
    assert s["runner.addBatch_ms"] == 4978
    assert s["runner.input_rows"] == 10000
    assert s["state.commit_ms"] == 2230
    assert s["state.rows_updated"] == 9849
    assert s["state.rocksdb_commit_ms"] == 2182
    assert s["state.rocksdb_bytes_written"] == 419178
    assert s["state.tws_calls"] == 7350
    assert s["state.rows_total"] == 300


def test_progress_window_agg(progress):
    s = summarize_progress(progress["stream_window_tumbling"])
    assert s["state.tws_calls"] == 0  # not a transformWithState operator
    assert s["state.commit_ms"] == 1265
    assert s["state.rows_total"] == 1146
    assert summarize_progress([])["runner.batches"] == 0


def test_tracer_self_time(monkeypatch):
    clock = iter(range(100))
    monkeypatch.setattr(spans.time, "perf_counter", lambda: next(clock))
    t = spans.Tracer()
    t.enabled, t.run = True, "p1"
    with t.span("outer"):  # 0 .. 5
        with t.span("inner"):  # 1 .. 2
            pass
        with t.span("inner"):  # 3 .. 4
            pass
    tot = t.totals("p1")
    assert tot["outer"] == {"calls": 1, "total_s": 5, "self_s": 3}
    assert tot["inner"] == {"calls": 2, "total_s": 2, "self_s": 2}
    assert t.totals("other") == {}


def test_patch_everywhere_rebinds_by_name_imports(monkeypatch):
    def original():
        return 1

    owner = types.ModuleType(f"{spans.PACKAGE}._fake_owner")
    user = types.ModuleType(f"{spans.PACKAGE}._fake_user")
    outside = types.ModuleType("_fake_outside")
    owner.fn = user.fn_alias = outside.fn = original
    for m in (owner, user, outside):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    calls = []
    t = spans.Tracer()
    wrapped = t.wrap(original, "fn", after=lambda r, s: calls.append(r))
    assert spans.patch_everywhere(owner, "fn", wrapped) == 2
    assert owner.fn is wrapped and user.fn_alias is wrapped
    assert outside.fn is original
    assert user.fn_alias() == 1 and calls == [1]


def test_layer_map_matches_benchmark_json():
    import run

    spec = _spec()
    with open(os.path.join(BENCH, "layers.json")) as f:
        layers = json.load(f)["layers"]
    per_layer = [m["name"] for m in spec["per_layer"]]
    mapped = [m for layer in layers for m in layer["metrics"]]
    assert sorted(mapped) == sorted(per_layer)  # each metric in one layer
    targets = {m["name"] for m in spec["end_to_end"]} | set(per_layer)
    workloads = set(run.WORKLOADS)
    for layer in layers:
        for claim in layer["moves"] + layer["no_change"]:
            assert claim["metric"] in targets, claim
            assert set(claim["workloads"]) <= workloads, claim


def test_workloads_and_fingerprints_cover_each_other():
    import run

    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    with open(os.path.join(BENCH, "fingerprints.json")) as f:
        prints = json.load(f)
    assert prints["sf"] == run.SF
    assert set(prints["keys"]) == {k for ks in run.WORKLOADS.values() for k in ks}


def test_compare_refuses_different_core_counts():
    env = {"cpus": 4, "sf": "sf0.01", "workload": "llm_dedup"}
    before = {"env": env, "metrics": {"pass_s": {"value": 10.0, "unit": "s"}}}
    after = {"env": env, "metrics": {"pass_s": {"value": 11.0, "unit": "s"}}}
    assert compare.compare(before, after) == [("pass_s", 10.0, 11.0, pytest.approx(0.1))]
    with pytest.raises(ValueError, match="cpus"):
        compare.compare(before, {**after, "env": {**env, "cpus": 32}})
