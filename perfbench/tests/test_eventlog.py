"""The event-log parser against a hand-written log with known totals."""

from pathlib import Path

import pytest

import eventlog

FIXTURE = Path(__file__).parent / "fixtures" / "tiny_eventlog.jsonl"


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse_file(str(FIXTURE))


def test_groups_and_jobs(groups):
    assert set(groups) == {"r0/encoding", "r0/blocking.fps", None}
    assert groups["r0/encoding"].jobs == 2
    assert groups["r0/blocking.fps"].jobs == 1
    assert groups[None].jobs == 1


def test_task_totals_follow_the_stage_group(groups):
    enc = groups["r0/encoding"]
    assert enc.tasks == 4
    assert enc.task_ms == 640
    assert enc.task_cpu_ns == 320_000_000
    assert enc.python_ms == 480
    assert enc.python_bytes == 9_000
    assert enc.shuffle_write_bytes == 4_000_000
    fps = groups["r0/blocking.fps"]
    assert (fps.tasks, fps.task_ms, fps.fetch_wait_ms) == (2, 120, 12)
    assert fps.spill_disk_bytes == 1_000_000
    assert groups[None].task_ms == 10


def test_layer_metrics_driver_gap_and_skew(groups):
    m = eventlog.layer_metrics(groups["r0/encoding"], [(1000, 2000)])
    assert m["wall_s"] == pytest.approx(1.0)
    # overlapping jobs [1100, 1500] and [1200, 1700] cover 600 ms
    assert m["driver_gap_s"] == pytest.approx(0.4)
    assert m["task_s"] == pytest.approx(0.64)
    assert m["task_cpu_s"] == pytest.approx(0.32)
    assert m["python_s"] == pytest.approx(0.48)
    assert m["python_mb"] == pytest.approx(0.009)
    assert m["shuffle_mb"] == pytest.approx(4.0)
    # largest stage runs tasks of 100, 300 and 200 ms
    assert m["task_skew"] == pytest.approx(1.5)

    f = eventlog.layer_metrics(groups["r0/blocking.fps"], [(2000, 2250), (2250, 2500)])
    assert f["wall_s"] == pytest.approx(0.5)
    assert f["driver_gap_s"] == pytest.approx(0.2)
    assert f["fetch_wait_s"] == pytest.approx(0.012)
    assert f["spill_mb"] == pytest.approx(1.0)
    assert f["task_skew"] == pytest.approx(1.0)


def test_layer_without_jobs_is_all_gap():
    m = eventlog.layer_metrics(None, [(0, 250)])
    assert m["jobs"] == 0
    assert m["driver_gap_s"] == pytest.approx(0.25)
