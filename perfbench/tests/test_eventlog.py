"""Event-log reader on a small log captured from Spark 4.1.2.

The fixture is a real ``local[2]`` log trimmed to the events the reader
uses (plus one task event it must skip), and split into two rolling
parts: job 0 is tagged ``span-1`` (a ``read_clustered`` call), job 1
``span-2`` (``featurize_fast``, which runs Python workers), and jobs 2-3
(a grouped count with a shuffle) carry no job group.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_rolling_parts_are_read_in_order():
    files = eventlog.log_files(DATA)
    assert [os.path.basename(f).split("_")[1] for f in files] == ["1", "2"]


def test_jobs_map_to_job_groups():
    log = eventlog.read(DATA)
    groups = {j.job_id: j.group for j in log.jobs}
    assert groups == {0: "span-1", 1: "span-2", 2: None, 3: None}
    assert all(j.end_ms is not None and j.end_ms >= j.start_ms for j in log.jobs)
    assert [j.job_id for j in log.jobs_in({"span-2"})] == [1]


def test_stage_totals_sum_accumulables_per_group():
    log = eventlog.read(DATA)
    py = log.stage_totals({"span-2"})
    assert py["executor_run_ms"] == 7049
    assert py["scan_ms"] == 832
    assert py["sort_ms"] == 67
    assert py["input_bytes"] == 10923
    assert py["py_sent_bytes"] == 3064872
    assert py["py_returned_bytes"] == 3683288
    assert py["py_run_ms"] == 5954
    assert py["shuffle_write_bytes"] == 0

    untagged = log.stage_totals({None})
    assert untagged["shuffle_write_bytes"] == 2368
    assert untagged["shuffle_read_bytes"] == 2368
    assert untagged["executor_run_ms"] == 491 + 63


def test_unknown_group_sums_to_zero():
    log = eventlog.read(DATA)
    assert set(log.stage_totals({"nope"}).values()) == {0.0}


def test_app_ids_restart_per_application(tmp_path):
    """Two applications reuse job and stage ids; each resolves its own."""
    src = eventlog.log_files(DATA)
    for app in ("eventlog_v2_a", "eventlog_v2_b"):
        d = tmp_path / app
        d.mkdir()
        for f in src:
            (d / os.path.basename(f)).write_text(open(f).read())
    log = eventlog.read(str(tmp_path))
    assert len(log.jobs) == 8
    assert log.stage_totals({"span-2"})["executor_run_ms"] == 2 * 7049
