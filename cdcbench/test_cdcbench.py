"""The benchmark's own tests.

    python3 -m pytest cdcbench/test_cdcbench.py -q

The last test starts a Spark session and runs the traced churn
workload twice at a tiny scale (about two minutes on four cores).
"""

from __future__ import annotations

import json
import os
import time

import pytest

from cdcbench import common, gen, run

# ---------------------------------------------------------------- generator


def test_relay_generator_is_deterministic_per_seed():
    a = gen.relay_events(7, 500)
    assert a == gen.relay_events(7, 500)
    assert a != gen.relay_events(8, 500)
    keys = [ev["documentKey"] for ev in a if "documentKey" in ev]
    assert len(keys) == len(set(keys)), "every event needs its own key"


def test_fixture_ops_come_from_the_library_mapping():
    from pymongo_change_stream_reader_spark.sources.simulate import (
        EVENT_TYPE_TO_OP,
    )

    rows = gen.fixture_rows()
    assert len(rows) == 30_000
    assert {r[2] for r in rows} == set(EVENT_TYPE_TO_OP.values())


def test_churn_generator_is_deterministic_and_tracks_live_docs():
    def history(seed):
        g = gen.ChurnGen(seed, 40)
        return [g.load_batch(), g.churn_batch(200), g.churn_batch(200)], g.live

    (batches, live), (again, live2) = history(3), history(3)
    assert batches == again and live == live2
    assert history(4)[0] != batches
    # live equals a last-writer-wins replay of the generated events
    lww: dict[str, str] = {}
    for ev in (e for b in batches for e in b):
        if ev["operationType"] == "drop":
            assert "documentKey" not in ev
        elif ev["operationType"] == "delete":
            lww.pop(ev["documentKey"], None)
        else:
            lww[ev["documentKey"]] = ev["fullDocument"]
    assert lww == live
    ops = {ev["operationType"] for ev in batches[1]}
    assert {"update", "replace", "delete"} <= ops


# ------------------------------------------------------------ span self time


def _span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "name": name, "trace": "t"}


def test_self_time_is_parent_minus_covered_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps child 1: [1, 5] covered once
        _span(3, 0, 7.0, 8.0),
        _span(4, 3, 7.2, 7.7),  # grandchild: only its parent sees it
    ]
    st = common.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(0.5)


def test_tracer_records_parent_and_trace_id():
    tr = common.Tracer(True)
    with tr.span("outer", "w/1"):
        with tr.span("inner", "w/1"):
            time.sleep(0.01)
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["trace"] == outer["trace"] == "w/1"
    assert outer["end"] - outer["start"] >= inner["end"] - inner["start"] > 0
    off = common.Tracer(False)
    with off.span("x", "t"):
        pass
    assert off.spans == []


# --------------------------------------------------------- percentile rule


@pytest.mark.parametrize(
    "n, expect",
    [(50, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0),
     (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expect):
    got = common.tail_percentile(list(range(1, n + 1)))
    if expect is None:
        assert got is None
    else:
        p, value = got
        assert p == expect
        assert n - value >= 10  # at least ten samples lie beyond it


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert common.percentile(vals, 50) == 50
    assert common.percentile(vals, 90) == 90
    assert common.percentile([5.0], 90) == 5.0


# ------------------------------------------------------------ the contract


def test_benchmark_json_matches_what_the_runs_print():
    spec = run.benchmark_spec()
    assert spec["command"] == ["python3", "cdcbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    names = [m["name"] for m in spec["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["better"] == "lower"
               for m in spec["end_to_end"])


# ------------------------------------------------ job counts repeat exactly


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    s = common.get_session(work, "cdcbench-tests")
    yield s
    s.stop()


def test_two_tiny_runs_give_identical_job_counts(spark, tmp_path, monkeypatch):
    from cdcbench import churn

    monkeypatch.setattr(churn, "N_USERS", 60)
    monkeypatch.setattr(churn, "CHURN_EVENTS", 120)
    monkeypatch.setattr(churn, "SNAPSHOT", 200)
    jobs = []
    for i in range(2):
        res = churn.run(spark, 0, 5, str(tmp_path / f"r{i}"),
                        common.Tracer(True), time.monotonic())
        assert res["errors"] == []
        jobs.append({k: v for k, v in res["layer"].items()
                     if k.endswith(".jobs") or k.endswith("jobs_per_trigger")
                     or k.endswith("residual_jobs")})
    assert jobs[0] == jobs[1]
    assert jobs[0]["streaming.composed_relay.residual_jobs"][0] >= 0
    json.dumps(jobs)  # plain numbers only
