"""The event-log reader on a small checked-in log."""

from pathlib import Path

import eventlog

FIXTURE = Path(__file__).resolve().parent / "fixtures" / "eventlog-small.jsonl"


def test_rollup_per_job_group():
    groups = eventlog.rollup(FIXTURE)
    assert set(groups) == {"extract", "materialize.merge", None}

    ex = groups["extract"]
    assert (ex.jobs, ex.stages, ex.kernel_stages, ex.tasks) == (1, 2, 1, 3)
    assert ex.shuffle_write_bytes == 2 << 20
    assert ex.shuffle_read_bytes == 2 << 20
    assert (ex.memory_spill_bytes, ex.disk_spill_bytes) == (4096, 2048)
    assert ex.executor_cpu_s == 0.17
    assert ex.executor_run_s == 0.23
    assert ex.gc_s == 0.008

    # stage 1 was skipped in job 1 (it belongs to extract); stage 2's failed
    # attempt counts once and its task without metrics is not summed
    merge = groups["materialize.merge"]
    assert (merge.jobs, merge.stages, merge.kernel_stages, merge.tasks) == (1, 1, 0, 1)
    assert (merge.executor_run_ms, merge.gc_ms) == (50, 10)

    ungrouped = groups[None]
    assert (ungrouped.jobs, ungrouped.stages, ungrouped.executor_run_ms) == (1, 1, 7)


def test_reads_a_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = FIXTURE.read_text().splitlines(keepends=True)
    (d / "events_1_local-1").write_text("".join(lines[:9]))
    (d / "events_2_local-1").write_text("".join(lines[9:]))
    (d / ".appstatus_local-1").write_text("")
    assert eventlog.rollup(d)["extract"].tasks == 3
    assert eventlog.rollup(d)[None].jobs == 1
