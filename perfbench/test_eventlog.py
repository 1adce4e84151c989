"""Self-test of the event-log fold on a tiny hand-written log.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import json

from pytest import approx

from eventlog import fold, union_s


def _task(stage, cpu_ns, gc_ms, remote, local, written, mem_spill=0, disk_spill=0, peak=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Executor Run Time": 10,
            "JVM GC Time": gc_ms,
            "Peak Execution Memory": peak,
            "Memory Bytes Spilled": mem_spill,
            "Disk Bytes Spilled": disk_spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op:0:q1"}},
    _task(0, 2_000_000_000, 100, 0, 0, 3 * 2**20),
    _task(1, 500_000_000, 50, 2**20, 2**20, 0, mem_spill=2**20, peak=4 * 2**20),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3_000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2_500,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "op:0:q1"}},
    _task(2, 1_000_000_000, 0, 0, 0, 0, disk_spill=2**20, peak=2 * 2**20),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4_000},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5_000,
     "Stage IDs": [3], "Properties": {}},
    _task(3, 7_000_000_000, 700, 0, 0, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 6_000},
]


def test_fold_per_group():
    groups = fold(json.dumps(ev) for ev in LOG)
    g = groups["op:0:q1"]
    assert g["tasks"] == 3
    assert g["executor_cpu_s"] == approx(3.5)
    assert g["gc_s"] == approx(0.15)
    assert g["shuffle_read_mb"] == 2.0
    assert g["shuffle_write_mb"] == 3.0
    assert g["spill_mb"] == 2.0
    assert g["peak_exec_mem_mb"] == 4.0
    assert sorted(g["jobs"]) == [(1.0, 3.0), (2.5, 4.0)]
    untagged = groups[None]
    assert untagged["tasks"] == 1
    assert untagged["executor_cpu_s"] == approx(7.0)
    assert untagged["gc_s"] == approx(0.7)


def test_union_clips_and_merges_overlaps():
    jobs = [(1.0, 3.0), (2.5, 4.0), (5.0, 6.0)]
    assert union_s(jobs, 0.0, 10.0) == approx(4.0)
    assert union_s(jobs, 2.0, 5.5) == approx(2.5)
    assert union_s([], 0.0, 1.0) == 0.0
