"""Tests of the benchmark's own checks: each workload's correctness check
rejects a planted wrong result, and an operation that raises counts as
failed, never as skipped.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import (  # noqa: E402
    batch_catalog, catalog_ksql, common, ksql_script, run, stream_drain,
)


@pytest.fixture(scope="module")
def work():
    w = common.WorkDir()
    yield w
    w.remove()


@pytest.fixture(scope="module")
def spark(work):
    s = common.start_spark(work)
    yield s
    common.stop_spark(s)


def _raise(spark, sf_dir):
    raise RuntimeError("planted failure")


# ------------------------------------------------------------ statistics

def test_tail_keeps_ten_samples_beyond():
    value, pct = common.tail([float(i) for i in range(1, 41)])
    assert value == 30.0 and pct == 75.0
    value, pct = common.tail([1.0] * 10)
    assert value != value and pct != pct


def test_drift_compares_like_with_like():
    # two interleaved identities of very different cost, last third 30 % slower
    ops = [(k, base * (1.3 if rep == 2 else 1.0))
           for rep in range(3) for k, base in (("fast", 0.01), ("slow", 1.0))]
    assert common.drift(ops) == pytest.approx(0.3)
    steady = [(k, base) for _ in range(3) for k, base in (("a", 0.01), ("b", 1.0))]
    assert common.drift(steady) == pytest.approx(0.0)


def test_result_requires_every_metric():
    spec = run.load_spec()
    names = [m["name"] for m in spec["end_to_end"]]
    ok = common.Outcome(True, 10, 0, 0.01, dict.fromkeys(names, 1.0))
    line = run.result_line(spec, False, ok)
    assert line["correct"] is True and set(line["metrics"]) == set(names)
    wrong = common.Outcome(False, 10, 0, 0.01, dict.fromkeys(names, 1.0))
    assert run.result_line(spec, False, wrong)["correct"] is False
    missing = common.Outcome(True, 10, 0, 0.0, dict.fromkeys(names[1:], 1.0))
    with pytest.raises(RuntimeError):
        run.result_line(spec, False, missing)


def test_empty_populations_still_give_a_result_line():
    # every read, every write and every player_stats drain raised
    spec = run.load_spec()
    metrics, _ = catalog_ksql.e2e_metrics([], [], 0.0, 1.0)
    assert all(metrics[k] != metrics[k] for k in
               ("throughput_per_s", "latency_p50_ms", "latency_tail_ms",
                "write_p50_ms", "read_p50_ms"))
    line = run.result_line(spec, False, common.Outcome(False, 12, 12, common.NAN, metrics))
    assert (line["correct"], line["failed"]) == (False, 12)
    metrics, _, n = stream_drain.e2e_metrics({"player_stats": [], "players": []},
                                             {"player_stats": 1, "players": 1}, 1.0)
    assert n == 0 and metrics["latency_p50_ms"] != metrics["latency_p50_ms"]
    assert set(run.result_line(spec, False, common.Outcome(False, 6, 6, common.NAN, metrics))
               ["metrics"]) == {m["name"] for m in spec["end_to_end"]}


# --------------------------------------------------------- batch_catalog

def test_batch_check_rejects_planted_result_and_counts_failures(spark, work):
    sf_dir = common.DATA_DIR
    cat = batch_catalog.Catalog(spark, sf_dir, ["q09_group_count"], seed=3)
    df = cat.fns["q09_group_count"](spark, sf_dir)
    assert batch_catalog.oracle_mismatch(df, cat.oracles["q09_group_count"], sf_dir) is None
    planted = df.limit(df.count() - 1)
    assert batch_catalog.oracle_mismatch(planted, cat.oracles["q09_group_count"], sf_dir)

    cat.run_one("q09_group_count")
    assert not cat.errors
    rows, chk = cat.reference["q09_group_count"]
    cat.reference["q09_group_count"] = (rows, chk + 1)   # planted wrong reference
    assert cat.run_one("q09_group_count") is not None
    assert cat.errors and "!= checked" in cat.errors[-1]

    cat.fns["q09_group_count"] = _raise
    assert cat.run_one("q09_group_count") is None
    assert (cat.attempted, cat.failed) == (3, 1)


# ---------------------------------------------------------- stream_drain

def test_backlogs_are_seeded_windows_of_the_events_fixture():
    a, b, c = stream_drain.backlogs(5), stream_drain.backlogs(5), stream_drain.backlogs(6)
    assert a == b and a[1] != c[1]
    snapshot, events, changelog = a
    assert len(events) == stream_drain.EVENT_FILES * stream_drain.ROWS_PER_FILE
    assert len(changelog) == stream_drain.PLAYER_FILES * stream_drain.ROWS_PER_FILE
    offsets = [e["offset"] for e in events]
    assert offsets == list(range(offsets[0], offsets[0] + len(offsets)))
    players = {p["id"] for p in snapshot}
    assert {e["player_id"] for e in events} <= players


def test_stream_state_check_rejects_planted_state():
    rows = [{"key": "7", "value": '{"NAME":"a","GOALS":1}'},
            {"key": "7", "value": '{"NAME":"b","GOALS":2}'}]
    got = stream_drain.sink_state(rows)
    assert got == {"7": {"name": "b", "goals": 2}}
    assert stream_drain.state_mismatch(got, {"7": {"name": "b", "goals": 2}}) is None
    assert stream_drain.state_mismatch(got, {"7": {"name": "b", "goals": 3}})
    assert stream_drain.state_mismatch(got, {"7": {"name": "b", "goals": 2}, "8": {}})


def test_stream_drain_matches_twin_and_flags_planted_twin(spark, work):
    pipe = stream_drain.Pipeline(spark, work, seed=4)
    assert pipe.drain("players")["ok"] and not pipe.errors
    key = next(iter(pipe.twin["players"]))
    pipe.twin["players"][key] = dict(pipe.twin["players"][key], name="planted")
    assert not pipe.drain("players")["ok"]
    assert pipe.errors and "wrong values" in pipe.errors[-1]


# ----------------------------------------------------------- ksql_script

def test_ksql_model_check_rejects_planted_read():
    model = ksql_script.Model()
    model.apply("event", ("1", "GOAL", "1", True))
    model.apply("event", ("2", "ASSIST", "1", False))
    want = model.player_stats()
    assert want == {"1": ("Lionel Messi", 1, 0.5, 1)}
    assert ksql_script.read_mismatch(dict(want), want) is None
    assert ksql_script.read_mismatch({"1": ("Lionel Messi", 2, 0.5, 1)}, want)


def test_ksql_script_matches_model_and_counts_failures(spark):
    runner = ksql_script.Runner(spark, seed=5)
    runner.statements = runner.statements[:11]
    eng, model = runner.new_engine()
    timeline = runner.run_script(eng, model)
    assert len(timeline) == 11 and not runner.errors

    eng, model = runner.new_engine()
    model.players["1"] = "planted"
    model.events.append(("0", "GOAL", "1", True))
    runner.run_script(eng, model)
    assert runner.errors and "differs from the model" in runner.errors[-1]

    runner.statements = [("event", "INSERT INTO no_such_stream VALUES (1);", ())]
    assert runner.run_script(eng, model) == []
    assert (runner.attempted, runner.failed) == (23, 1)

    # every read raises: each counts as failed, none is skipped
    runner.statements = [("read", "SELECT * FROM no_such_table EMIT CHANGES;", ())] * 3
    assert runner.run_script(eng, model) == []
    assert (runner.attempted, runner.failed) == (26, 4)


def test_raising_ddl_counts_as_failed(spark, monkeypatch):
    runner = ksql_script.Runner(spark, seed=5)
    monkeypatch.setattr(ksql_script, "DDL", "CREATE TABLE broken (;")
    assert runner.new_engine() is None
    assert (runner.attempted, runner.failed) == (1, 1) and runner.errors
