"""Self-tests of the benchmark's helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import eventlog
from perfbench.measure import _PAGE, _TICK, py_worker_cpu_s, read_procs, tail, tree_rss_mb


# ---- tail percentile rule ----------------------------------------------


@pytest.mark.parametrize("n", [0, 1, 10, 19])
def test_tail_needs_ten_samples_beyond_a_median_or_higher(n):
    assert tail([float(i) for i in range(n)]) is None


@pytest.mark.parametrize("n,pct", [(20, 50), (21, 52), (100, 90), (1000, 99), (5000, 99)])
def test_tail_is_highest_percentile_leaving_ten_beyond(n, pct):
    xs = [float(i) for i in range(n, 0, -1)]  # order must not matter
    value, p, count = tail(xs)
    assert (p, count) == (pct, n)
    assert sum(x > value for x in xs) >= 10
    rank = -(-(p + 1) * n // 100)  # one percentile higher leaves too few
    assert p == 99 or n - rank < 10
    assert value == sorted(xs)[-(-p * n // 100) - 1]


# ---- event-log aggregation ---------------------------------------------


def _task(stage, run_ms, cpu_ns, gc_ms=0, shuffle=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
        },
    }


def _job(job, stages, desc=None):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": props}


def _stage(stage, desc=None):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
            "Properties": props}


def _write(path, events):
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in events) + "\n")


def test_eventlog_rolling_dir_aggregates_by_description(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    mb = 1024 * 1024
    # parts sort numerically (2 before 10); the status marker is not a part
    _write(app / "events_2_local-1", [
        _job(0, [0, 1], "wand.topk"), _stage(0, "wand.topk"),
        _task(0, 1000, 2_000_000_000, gc_ms=100, read=3 * mb),
    ])
    _write(app / "events_10_local-1", [
        # stage 1 is listed by job 0 but submitted by job 1: the submitter wins
        _job(1, [1], "dsl.topk"), _stage(1, "dsl.topk"),
        _task(1, 500, 1_000_000_000, shuffle=2 * mb),
        _job(2, [2]), _stage(2), _task(2, 250, 0),
    ])
    (app / "appstatus_local-1.inprogress").write_text("")
    files = eventlog.log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == ["events_2_local-1", "events_10_local-1"]

    agg = eventlog.aggregate(eventlog.read_events(str(tmp_path)))
    assert agg["wand.topk"]["jobs"] == 1 and agg["wand.topk"]["tasks"] == 1
    assert agg["wand.topk"]["task_run_s"] == pytest.approx(1.0)
    assert agg["wand.topk"]["jvm_cpu_s"] == pytest.approx(2.0)
    assert agg["wand.topk"]["gc_s"] == pytest.approx(0.1)
    assert agg["wand.topk"]["input_mb"] == pytest.approx(3.0)
    assert agg["dsl.topk"]["tasks"] == 1
    assert agg["dsl.topk"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert agg[None]["jobs"] == 1 and agg[None]["task_run_s"] == pytest.approx(0.25)


def test_eventlog_reads_a_plain_log_file(tmp_path):
    _write(tmp_path / "local-2", [_job(0, [0], "index.build"), _task(0, 10, 0)])
    agg = eventlog.aggregate(eventlog.read_events(str(tmp_path)))
    assert agg["index.build"]["tasks"] == 1


# ---- /proc accounting for Python workers --------------------------------


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0, rss_pages=0):
    vsize = pid * 4096  # distinct: no process shares its parent's address space
    f = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 5 + [vsize, rss_pages]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in f) + "\n"


def test_py_worker_cpu_counts_live_and_reaped_workers(tmp_path):
    tree = {
        100: ("python3", 1, 50, 0, 0, 0),        # the driver: not a worker
        200: ("java", 100, 900, 0, 30, 5),        # JVM: reaped daemon time only
        300: ("python3", 200, 10, 2, 40, 8),      # daemon: own + reaped workers
        301: ("python3", 300, 20, 3, 0, 0),       # live worker
        302: ("python3) (x", 300, 1, 1, 0, 0),    # comm with ') (' in it
        400: ("python3", 1, 999, 999, 999, 999),  # outside the tree
    }
    for pid, (comm, ppid, *times) in tree.items():
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(_stat(pid, comm, ppid, *times, rss_pages=10))
    (tmp_path / "self").mkdir()
    procs = read_procs(str(tmp_path))
    assert procs[302].comm == "python3) (x" and procs[302].ppid == 300
    ticks = (30 + 5) + (10 + 2 + 40 + 8) + (20 + 3) + (1 + 1)
    assert py_worker_cpu_s(procs, 100) == pytest.approx(ticks / _TICK)
    total, workers = tree_rss_mb(procs, 100)
    assert total == pytest.approx(5 * workers / 3)


def test_rss_skips_a_child_sharing_its_parents_address_space(tmp_path):
    for pid, text in {
        100: _stat(100, "python3", 1, 0, 0, rss_pages=10),
        200: _stat(200, "java", 100, 0, 0, rss_pages=1000),
        # cloned by a JVM thread, not yet exec'd: same vsize as the JVM
        201: _stat(201, "process reaper", 200, 0, 0, rss_pages=1000).replace(
            str(201 * 4096), str(200 * 4096)),
    }.items():
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(text)
    total, _ = tree_rss_mb(read_procs(str(tmp_path)), 100)
    assert total == pytest.approx(1010 * _PAGE / 2**20)


_FORK_AND_REAP = """
import os, sys, time
pid = os.fork()
if pid == 0:
    t = time.process_time()
    while time.process_time() - t < 0.4:
        pass
    os._exit(0)
os.waitpid(pid, 0)
sys.stdout.write("reaped\\n"); sys.stdout.flush()
time.sleep(30)
"""


def test_py_worker_cpu_includes_reaped_grandchild_on_live_proc():
    before = py_worker_cpu_s(read_procs(), os.getpid())
    child = subprocess.Popen(
        [sys.executable, "-c", _FORK_AND_REAP], stdout=subprocess.PIPE, text=True
    )
    try:
        assert child.stdout.readline().strip() == "reaped"
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            procs = read_procs()
            if procs.get(child.pid) and procs[child.pid].child_cpu_s >= 0.3:
                break
            time.sleep(0.05)
        assert procs[child.pid].child_cpu_s >= 0.3
        assert py_worker_cpu_s(procs, os.getpid()) - before >= 0.3
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None
