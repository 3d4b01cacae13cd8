import json
import os

import pytest

from eventlog import event_files, fold, fold_dir, read_events

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_tiny.jsonl")


def test_fold_recorded_log_per_job_group():
    """A log recorded with two job groups: a shuffle aggregation (two
    jobs, map stage + AQE result stage) and a mapInPandas job."""
    out = fold(read_events([DATA]))
    assert set(out) == {"g-agg", "g-py"}
    agg, py = out["g-agg"], out["g-py"]
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (2, 2, 3)
    assert agg["executor_run_s"] == pytest.approx((519 + 64) / 1000)
    assert agg["shuffle_write_bytes"] == 266 and agg["shuffle_read_bytes"] == 266
    assert agg["shuffle_bytes"] == 532
    assert agg["python_stages"] == 0 and agg["python_s"] == 0
    assert agg["job_wall_s"] == pytest.approx((552 + 123) / 1000)
    assert (py["jobs"], py["stages"], py["tasks"]) == (1, 1, 2)
    assert py["python_stages"] == 1
    assert py["python_s"] == pytest.approx(4.242)
    assert py["spill_bytes"] == 0


def test_jobs_without_group_fold_under_empty_name():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 0, "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 4, "Accumulables": [
            {"Name": "internal.metrics.jvmGCTime", "Value": 30},
            {"Name": "internal.metrics.diskBytesSpilled", "Value": 10},
            {"Name": "internal.metrics.memoryBytesSpilled", "Value": 5},
            {"Name": "number of output rows", "Value": "not-a-number"},
        ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    ]
    out = fold(events)
    assert out[""]["tasks"] == 4
    assert out[""]["gc_s"] == pytest.approx(0.03)
    assert out[""]["spill_bytes"] == 15
    assert out[""]["job_wall_s"] == pytest.approx(2.0)


def test_overlapping_jobs_count_wall_time_once():
    events = []
    for jid, (s, e) in enumerate([(0, 1000), (500, 1500), (3000, 3500)]):
        events.append({"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": s, "Stage IDs": [],
                       "Properties": {"spark.jobGroup.id": "g"}})
        events.append({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": e})
    assert fold(events)["g"]["job_wall_s"] == pytest.approx(2.0)


def test_rolling_log_directory_is_read_in_part_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = open(DATA, encoding="utf-8").read().splitlines()
    (d / "events_2_local-1").write_text("\n".join(lines[6:]) + "\n")
    (d / "events_1_local-1").write_text("\n".join(lines[:6]) + "\n")
    (d / "appstatus_local-1").write_text("")
    (d / ".events_1_local-1.crc").write_text("x")
    assert [os.path.basename(p) for p in event_files(str(tmp_path))] == ["events_1_local-1", "events_2_local-1"]
    assert fold_dir(str(tmp_path)) == fold(read_events([DATA]))


def test_fixture_is_uncompressed_json_lines():
    with open(DATA, encoding="utf-8") as f:
        first = json.loads(f.readline())
    assert first["Event"] == "SparkListenerLogStart"
