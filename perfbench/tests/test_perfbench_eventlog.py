"""The event-log parser on a small captured log: one two-partition
``applyInPandas`` job on ``local[2]`` (tests/data/eventlog_small.jsonl,
trimmed to the events and accumulables the parser reads)."""

import os

import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def _events():
    return eventlog.read_events(LOG)


def _all_time():
    return [(0, 2**62)]


def test_counts_every_task_inside_the_window():
    ev = _events()
    got = eventlog.summarize(ev, _all_time(), cores=2)
    n_tasks = sum(e["Event"] == "SparkListenerTaskEnd" for e in ev)
    assert got["tasks"] == n_tasks > 0
    assert got["jobs"] == sum(e["Event"] == "SparkListenerJobStart" for e in ev)
    assert got["stages"] == sum(e["Event"] == "SparkListenerStageCompleted" for e in ev)


def test_sums_task_metrics():
    ev = _events()
    got = eventlog.summarize(ev, _all_time(), cores=2)
    tasks = [e for e in ev if e["Event"] == "SparkListenerTaskEnd"]
    run_ms = sum(t["Task Metrics"]["Executor Run Time"] for t in tasks)
    assert abs(got["executor_run_s"] - run_ms / 1e3) < 1e-9
    written = sum(t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks)
    assert got["shuffle_write_bytes"] == written > 0
    # the shuffle is read back in full by the grouped-map stage
    assert got["shuffle_read_bytes"] == written
    assert got["python_worker_s"] > 0
    assert 0 < got["core_busy_frac"] <= 1


def test_window_excludes_tasks_launched_outside_it():
    ev = _events()
    launches = sorted(
        e["Task Info"]["Launch Time"] for e in ev if e["Event"] == "SparkListenerTaskEnd"
    )
    first = eventlog.summarize(ev, [(launches[0], launches[0])], cores=2)
    assert first["tasks"] == launches.count(launches[0])
    none = eventlog.summarize(ev, [(0, launches[0] - 1)], cores=2)
    assert none["tasks"] == 0 and none["executor_run_s"] == 0


def test_dispatch_gap_is_window_time_without_tasks():
    assert eventlog._union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    ev = [
        {"Event": "SparkListenerTaskEnd",
         "Task Info": {"Launch Time": 100, "Finish Time": 400, "Accumulables": []},
         "Task Metrics": {}},
    ]
    got = eventlog.summarize(ev, [(0, 1000)], cores=1)
    assert abs(got["dispatch_gap_s"] - 0.7) < 1e-9
    assert abs(got["core_busy_frac"] - 0.3) < 1e-9
