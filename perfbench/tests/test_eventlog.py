import json
import os

import pytest

from perfbench.eventlog import by_group, covered_ms, log_files, read_events

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def groups():
    return by_group(read_events(log_files(os.path.join(DATA, "eventlog"))))


def test_rolling_log_parts_are_found():
    files = log_files(os.path.join(DATA, "eventlog"))
    assert files and all(os.path.basename(f).startswith("events_") for f in files)


def test_jobs_per_group_match_the_status_tracker(groups):
    with open(os.path.join(DATA, "eventlog_expected.json")) as f:
        expect = json.load(f)
    for g, n in expect.items():
        assert groups[g].jobs == n
        assert len(groups[g].job_spans_ms) == n


def test_task_counters_are_summed(groups):
    for g in ("plain", "udf"):
        s = groups[g]
        assert s.stages >= 2  # a shuffle map stage and its reducer
        assert s.tasks == len(s.task_ms) > 0
        assert s.run_ms > 0 and s.cpu_ns > 0
        assert s.shuffle_write_bytes > 0 and s.shuffle_read_bytes > 0


def test_python_boundary_only_where_a_udf_ran(groups):
    assert groups["plain"].py_sent_bytes == groups["plain"].py_recv_bytes == 0
    assert groups["plain"].py_stage_run_ms == 0
    udf = groups["udf"]
    assert udf.py_sent_bytes > 0 and udf.py_recv_bytes > 0
    assert 0 < udf.py_stage_run_ms <= udf.run_ms


def test_compressed_log_is_refused(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        log_files(str(tmp_path))


def test_single_file_layout(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10,
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 25},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = by_group(read_events(log_files(str(tmp_path))))["g"]
    assert g.jobs == 1 and g.job_spans_ms == [(10, 25)]


def test_covered_ms_merges_overlaps_and_clips():
    assert covered_ms([], 0, 100) == 0
    assert covered_ms([(10, 20), (15, 30), (50, 60)], 0, 100) == 30
    assert covered_ms([(0, 40), (35, 200)], 20, 100) == 80
    assert covered_ms([(120, 130)], 0, 100) == 0
