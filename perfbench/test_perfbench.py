"""Self-tests of the benchmark's arithmetic on canned inputs; no Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _ev(**kw):
    return json.dumps(kw)


# A canned event log for two calls, a and b.  Job 0 carries call a's
# group; job 1 carries none (a pool thread) and starts inside call a's
# window; job 2 is call b's sink and lists job 1's stage as skipped.
EVENT_LOG = [
    _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 100_000, "Stage IDs": [0],
                                          "Properties": {"spark.jobGroup.id": "pb:w1:a"}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Info": {"Failed": False},
                                         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 300_000_000,
                                                          "JVM GC Time": 10,
                                                          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                                                   "Local Bytes Read": 2 * spans.MB},
                                                          "Shuffle Write Metrics": {"Shuffle Bytes Written": spans.MB},
                                                          "Disk Bytes Spilled": 0}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Info": {"Failed": True}, "Task Metrics": {}}),
    _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 100_500}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 100_600, "Stage IDs": [1],
                                          "Properties": {}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 100_800}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 101_200, "Stage IDs": [1, 2],
                                          "Properties": {"spark.jobGroup.id": "pb:w1:b"}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Info": {},
                                         "Task Metrics": {"Executor Run Time": 100, "Disk Bytes Spilled": 5}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 101_300}),
    "",
]
WINDOWS = [
    spans.Window("w1:a", "pb:w1:a", 99.9, 100.9, 101.0),
    spans.Window("w1:b", "pb:w1:b", 101.0, 101.1, 101.5),
]
PROGRESS = [
    {"timestamp": "2026-01-01T00:00:00.000Z",
     "durationMs": {"triggerExecution": 900, "queryPlanning": 100, "walCommit": 50, "commitOffsets": 30},
     "stateOperators": [{"commitTimeMs": 200, "numRowsTotal": 7}, {"commitTimeMs": 20, "numRowsTotal": 3}]},
    {"timestamp": "2026-01-01T00:00:01.500Z", "durationMs": {"latestOffset": 1}, "stateOperators": []},
    {"timestamp": "2026-01-01T00:00:02.000Z",
     "durationMs": {"triggerExecution": 100, "walCommit": 10}, "stateOperators": []},
]


def test_event_log_parse_and_task_totals():
    jobs, stages = spans.parse_event_log(EVENT_LOG)
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[0].group == "pb:w1:a" and jobs[1].group is None
    assert jobs[0].submit == 100.0 and jobs[0].end == 100.5
    s0 = stages[0]
    assert (s0.tasks, s0.failed_tasks) == (2, 1)
    assert s0.run_s == 0.4 and abs(s0.cpu_s - 0.3) < 1e-12 and s0.gc_s == 0.01
    assert s0.shuffle_read_bytes == 2 * spans.MB and s0.shuffle_write_bytes == spans.MB
    assert stages[2].spill_disk_bytes == 5
    # stage 1 is listed by job 1 and job 2; it belongs to the first
    assert spans.stage_owner(jobs) == {0: 0, 1: 1, 2: 2}


def test_jobs_attributed_by_window_with_grouped_and_window_only_counts():
    jobs, _ = spans.parse_event_log(EVENT_LOG)
    attr = spans.attribute_jobs(jobs, WINDOWS)
    assert attr[0] == spans.Attribution("w1:a", "build", True)
    # no group: attributed by its submission time inside call a's window
    assert attr[1] == spans.Attribution("w1:a", "build", False)
    assert attr[2] == spans.Attribution("w1:b", "sink", True)
    grouped = sum(a.grouped for a in attr.values())
    assert (grouped, len(attr) - grouped) == (2, 1)


def test_job_outside_every_window_is_not_attributed():
    jobs = {7: spans.Job(7, 50.0, 50.1, None, [])}
    assert spans.attribute_jobs(jobs, WINDOWS) == {}


def test_streaming_totals_skip_idle_triggers():
    tot = spans.streaming_totals(PROGRESS)
    assert tot["batches"] == 2
    assert abs(tot["trigger_s"] - 1.0) < 1e-12
    assert abs(tot["planning_s"] - 0.1) < 1e-12
    assert abs(tot["wal_commit_s"] - 0.09) < 1e-12
    assert abs(tot["state_commit_s"] - 0.22) < 1e-12
    assert tot["state_rows"] == 10
    assert spans.progress_epoch(PROGRESS[1]) - spans.progress_epoch(PROGRESS[0]) == 1.5


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    p, v, n, beyond = spans.tail_percentile(xs)
    assert (p, v, n, beyond) == (90, 90, 100, 10)
    assert spans.tail_percentile(range(10)) is None  # nobody has 10 beyond
    p, v, n, beyond = spans.tail_percentile(range(11))
    assert (p, beyond) == (9, 10) and v == 0
    assert spans.tail_percentile(range(1000))[:2] == (99, 989)


def test_self_time_and_union():
    kids = [(1.0, 4.0), (3.0, 5.0), (9.0, 12.0)]
    # children cover [1,5] and [9,10] inside the parent [0,10]: 5 s
    assert spans.union_length(kids, 0.0, 10.0) == 5.0
    assert spans.union_length(kids) == 7.0
    assert spans.self_time(0.0, 10.0, kids) == 5.0
    assert spans.self_time(0.0, 10.0, []) == 10.0


def _calls():
    # one cold pass (query a pays 1 s extra there) and two warm passes
    calls = []
    for label, t0, extra in (("c1", 0.0, 1.0), ("w1", 10.0, 0.0), ("w2", 20.0, 0.0)):
        calls.append({"pass": label, "query": "a", "group": f"pb:{label}:a",
                      "start": t0, "build_end": t0 + 1.0 + extra, "end": t0 + 1.5 + extra})
        t0 += extra
        calls.append({"pass": label, "query": "b", "group": f"pb:{label}:b",
                      "start": t0 + 1.5, "build_end": t0 + 2.5, "end": t0 + 3.0})
    passes = {"c1": (0.0, 4.2), "w1": (10.0, 13.2), "w2": (20.0, 23.2)}
    return calls, passes


class _Fn:
    def __init__(self, module):
        self.__module__ = module


def test_unattributed_is_pass_minus_build_and_sink():
    calls, passes = _calls()
    wl = {"queries": ["a", "b"]}
    fns = {"a": _Fn("bigdata_assigment3_spark.operators.webservice"),
           "b": _Fn("bigdata_assigment3_spark.streaming.queries")}
    jobs = {0: spans.Job(0, 10.2, 10.8, "pb:w1:a", [0]), 1: spans.Job(1, 12.6, 12.9, None, [1])}
    stages = {0: spans.StageTotals(tasks=4, run_s=2.0), 1: spans.StageTotals(tasks=1, run_s=0.5)}
    setup = {"import_s": 0.1, "get_spark_s": 4.0, "query_fns_s": 0.1, "warmup_s": 1.0, "total_s": 5.2}
    out, specific = run.per_layer(wl, fns, setup, passes, calls, [(10.0, 10.1)], jobs, stages, [],
                                  {"a": 2, "b": 1}, {}, cores=4)
    assert abs(out["trace.warm_pass_s"] - 3.2) < 1e-9
    assert abs(out["query.build_s"] - 2.0) < 1e-9
    assert abs(out["query.sink_s"] - 1.0) < 1e-9
    assert abs(out["unattributed_s"] - 0.2) < 1e-9
    # layers plus remainder add up to the pass
    assert abs(out["query.build_s"] + out["query.sink_s"] + out["unattributed_s"] - out["trace.warm_pass_s"]) < 1e-9
    # medians over w1 (0.6 s of build jobs, 1 sink job) and w2 (none)
    assert abs(out["query.build_driver_s"] - (2.0 - 0.3)) < 1e-9
    assert out["query.window_jobs"] == 0.5 and out["query.grouped_jobs"] == 0.5
    assert out["plans.shuffle_exchanges"] == 3
    # per-module and streaming figures only for the workload's own modules
    assert abs(specific["webservice.warm_s"] - 1.5) < 1e-9 and abs(specific["streaming.cold_s"] - 1.5) < 1e-9
    assert specific["streaming.batches"] == 0 and "similarity.warm_s" not in specific
    assert not any(k.startswith(("webservice.", "streaming.")) for k in out)
    assert abs(out["spark.util"] - 2.5 / (3.2 * 4) / 2) < 1e-9  # w1 util, median with w2's 0
    assert abs(out["memo.cold_extra_s"] - 1.0) < 1e-9 and out["memo.cold_extra_jobs"] == -1.0


def test_end_to_end_medians_split_cold_and_warm_passes():
    calls, passes = _calls()
    m, info = run.end_to_end({"total_s": 20.0}, passes, calls)
    want = {"setup_s": 20.0, "cold_pass_s": 4.2, "warm_pass_s": 3.2, "query_p50_s": 1.5}
    assert m.keys() == want.keys() and all(abs(m[k] - v) < 1e-9 for k, v in want.items())
    assert info == {"query_tail": None}  # four warm calls: no percentile has ten beyond


def test_failed_frac_base_counts_calls_and_checks():
    calls, passes = _calls()
    failures = [{"query": "a", "pass": "w1"}, {"query": "a", "pass": "check"}]
    attempted, failed = run.failure_counts(calls, ["a", "b"], failures)
    assert (attempted, failed) == (8, 2)


def test_generator_is_deterministic_and_seed_sensitive():
    a = gen.make_tables(0.001, 3)
    b = gen.make_tables(0.001, 3)
    c = gen.make_tables(0.001, 4)
    assert set(a) == set(gen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000


def test_sentinel_ratio_only_on_the_calibrated_box():
    import host

    fp = dict(host.CALIBRATION["fingerprint"])
    assert host.sentinel_ratio(2 * host.CALIBRATION["sentinel_s"], fp) == 2.0
    fp["nproc"] = 32
    assert host.sentinel_ratio(0.01, fp) is None


def test_scratch_pick_counts_as_inside_only_below_the_run_dir(tmp_path):
    run_dir = tmp_path / "run"
    (run_dir / "tmp").mkdir(parents=True)
    (tmp_path / "run2").mkdir()
    assert run.inside(str(run_dir / "tmp"), str(run_dir))
    assert not run.inside(str(tmp_path / "run2"), str(run_dir))
    assert not run.inside(str(run_dir), str(run_dir))
