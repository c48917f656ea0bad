"""The event-log reader on a tiny captured Spark 4.1 log (trimmed to the
fields the reader uses): two job groups, one skipped stage, one Arrow
Python stage."""

import os
import shutil
import subprocess

import pytest

from kgbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")


def _check(trace):
    g1 = trace.totals(trace.jobs_in({"g1"}))
    # job 1 lists stages 1 and 2 but stage 1 was skipped (never submitted)
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (2, 2, 3)
    assert g1["run_ms"] == 4394
    assert g1["shuffle_write_bytes"] == g1["shuffle_read_bytes"] == 8050
    assert g1["pyworker_bytes_sent"] == 8608
    assert g1["pyworker_bytes_returned"] == 8352
    assert g1["pyworker_run_ms"] == 3622

    g2 = trace.totals(trace.jobs_in({"g2"}))
    assert (g2["jobs"], g2["stages"], g2["tasks"]) == (2, 2, 3)
    assert g2["pyworker_run_ms"] == 0

    both = trace.totals(trace.jobs_in({"g1", "g2"}))
    assert both["tasks"] == g1["tasks"] + g2["tasks"]
    assert trace.totals([])["jobs"] == 0


def test_reads_plain_log():
    _check(eventlog.read_trace(DATA))


def test_busy_time_is_union_of_job_intervals():
    trace = eventlog.read_trace(DATA)
    jobs = trace.jobs_in({"g1"})
    # job 0: 408256..410778, job 1: 410972..411203 (disjoint)
    assert trace.busy_ms(jobs, 0, 1e15) == (410778 - 408256) + (411203 - 410972)
    # clipped to a window that starts inside job 0
    assert trace.busy_ms(jobs, 1792174410000, 1792174411000) == 778 + 28


@pytest.mark.skipif(shutil.which("zstd") is None, reason="zstd binary not on PATH")
def test_reads_zstd_rolling_log(tmp_path):
    roll = tmp_path / "eventlog_v2_local-tiny"
    roll.mkdir()
    src = os.path.join(DATA, "events_1_local-tiny")
    subprocess.run(["zstd", "-q", src, "-o", str(roll / "events_1_local-tiny.zstd")],
                   check=True)
    (roll / "appstatus_local-tiny").write_text("")
    _check(eventlog.read_trace(str(tmp_path)))
