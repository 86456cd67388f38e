"""bench.py output-contract pins (no Spark session needed).

The driver machine-parses only the LAST stdout line (the summary line);
the top_movers line (VERDICT r18 item 2) sits above it and must stay
under 1 KB so both land inside the driver's 2000-char tail capture.
"""

import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402

FIXTURES = Path(__file__).resolve().parents[1] / "perfbench" / "tests" / "fixtures"


def test_top_movers_payload():
    prev = {"a": 1.0, "b": 2.0, "err_prev": -1.0, "gone": 5.0}
    now = {"a": 1.5, "b": 2.0, "err_prev": 3.0, "err_now": -1.0, "new": 9.9}
    m = bench.top_movers(prev, now)
    # errored keys (either side), non-common keys and unmoved keys are
    # excluded; n_common still counts the unmoved ones
    assert m["n_common"] == 2
    assert m["movers"] == {"a": [1.0, 1.5]}


def test_top_movers_biggest_delta_first():
    m = bench.top_movers({"a": 1.0, "b": 2.0}, {"a": 1.5, "b": 0.5})
    assert list(m["movers"]) == ["b", "a"]


def test_top_movers_empty_prev_is_none():
    assert bench.top_movers({}, {"a": 1.0}) is None
    # nothing moved: no line rather than a list of zero deltas
    assert bench.top_movers({"a": 1.0}, {"a": 1.0}) is None


def test_top_movers_cpu_mismatch_is_none():
    # per-key times taken at different core counts do not compare; a
    # previous table without a recorded count cannot be trusted either
    prev, now = {"a": 1.0}, {"a": 2.0}
    assert bench.top_movers(prev, now, prev_cpus=32, cpus=8) is None
    assert bench.top_movers(prev, now, prev_cpus=None, cpus=8) is None
    assert bench.top_movers(prev, now, prev_cpus=8, cpus=8) is not None


def test_top_movers_line_under_1kb():
    # worst realistic case: 10 movers with long key names
    keys = ["stateful_running_agg_tws_bootstrap_%02d" % i for i in range(40)]
    prev = {k: float(i) for i, k in enumerate(keys)}
    now = {k: float(i) + 123.456 for i, k in enumerate(keys)}
    m = bench.top_movers(prev, now)
    assert len(m["movers"]) == 10
    assert len(json.dumps(m)) < 1000


def test_layer_records_from_recorded_signals(tmp_path):
    # The recorded event log tags its jobs fx:p1:<key>; progress.json holds
    # both keys' batches. Tumbling is fed as if it ran no stream, so its
    # record must carry engine numbers only.
    shutil.copy(FIXTURES / "eventlog.jsonl", tmp_path / "local-1")
    with open(FIXTURES / "progress.json") as f:
        progress = json.load(f)
    runs = {
        "fx:p1:stream_window_tumbling": (2.0, None),
        "fx:p1:stateful_sessionize_tws": (9.0, progress["stateful_sessionize_tws"]),
    }
    recs = bench.layer_records(bench.read_event_log(str(tmp_path)), runs)
    assert set(recs) == set(runs)
    for tag, rec in recs.items():
        assert rec["wall_s"] == runs[tag][0]
        assert rec["engine.jobs"] >= 1 and rec["engine.cpu_s"] > 0
    tumbling = recs["fx:p1:stream_window_tumbling"]
    assert tumbling["engine.jobs"] == 2
    assert not [k for k in tumbling if k.split(".")[0] in ("runner", "state")]
    assert "trigger_ms" not in tumbling
    tws = recs["fx:p1:stateful_sessionize_tws"]
    assert tws["engine.jobs"] == 1
    assert tws["runner.batches"] == len(progress["stateful_sessionize_tws"])
    assert len(tws["trigger_ms"]) == tws["runner.batches"]


class _AnyDF:
    """Stands in for a key's DataFrame: every attribute and call chains,
    so ``.collect()`` and ``.write.format(...).mode(...).save()`` are
    no-ops."""

    def __getattr__(self, name):
        return self

    def __call__(self, *args, **kwargs):
        return self


def test_warm_up_builds_setup_fixtures_before_the_wipe(monkeypatch):
    # warm_up runs the flagship, then exactly the measured keys that
    # build a cached fixture, then wipes the sink caches; a measured key
    # outside WARM_FIRST and a setup key that is not measured never run
    calls = []

    def recorder(key):
        def fn(spark, sf_dir):
            calls.append((key, sf_dir))
            return _AnyDF()

        return fn

    setup = sorted(bench.WARM_FIRST)
    queries = {
        k: recorder(k) for k in ["agg_hash_q1", "stream_window_tumbling", *setup]
    }
    monkeypatch.setattr(
        bench, "wipe_sink_caches", lambda sf_dir: calls.append(("wipe", sf_dir))
    )
    measured = ["stream_window_tumbling", setup[-1], setup[0]]
    bench.warm_up(None, queries, "sf", measured)
    assert calls == [
        ("agg_hash_q1", "sf"),
        (setup[0], "sf"),
        (setup[-1], "sf"),
        ("wipe", "sf"),
    ]


def test_warm_first_names_registered_keys():
    # a renamed key must not silently drop out of the setup set, and
    # every state-store reader's checkpoint build is setup
    from sparkstreamingstateful_spark import registry

    keys = set(registry.collect()[0])
    assert bench.WARM_FIRST <= keys
    assert {k for k in keys if k.startswith("scan_state_")} <= bench.WARM_FIRST


def test_probes_time_only_through_bench():
    # the probe scripts open bench's session and time keys through
    # bench.measure_key alone: no session, clock or timed write of their own
    import ast

    scripts = Path(__file__).resolve().parents[1] / "scripts"
    for name in ("scale_probe.py", "key_probe.py"):
        tree = ast.parse((scripts / name).read_text())
        attrs = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
        names = attrs | {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        imported = {
            alias.name
            for node in ast.walk(tree)
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for alias in node.names
        }
        literals = {
            node.value for node in ast.walk(tree) if isinstance(node, ast.Constant)
        }
        assert not names & {"get_spark", "perf_counter"}, name
        assert not attrs & {"builder", "getOrCreate"}, name
        assert not imported & {"time", "timeit", "get_spark"}, name
        assert "noop" not in literals, name
        assert {"open_session", "warm_up", "measure_key"} <= attrs, name
