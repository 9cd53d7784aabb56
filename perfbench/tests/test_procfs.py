"""The /proc samplers, on a fake /proc tree and on live processes."""

import os
import subprocess
import sys
import time

import pytest

import procfs


def _fake_proc(root, procs, steal=0, load="0.50"):
    """procs: pid -> (comm, ppid, utime, stime, cutime, cstime, rss_pages)."""
    for pid, (comm, ppid, ut, st, cut, cst, rss) in procs.items():
        d = root / str(pid)
        d.mkdir()
        # fields after comm: state ppid pgrp session tty tpgid flags minflt
        # cminflt majflt cmajflt utime stime cutime cstime ...
        rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, ut, st, cut, cst, 20, 0]
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, rest)))
        (d / "statm").write_text(f"1000 {rss} 10 1 0 50 0\n")
    (root / "stat").write_text(
        f"cpu  10 0 20 300 4 0 1 {steal} 0 0\ncpu0 5 0 10 150 2 0 1 0 0 0\n"
    )
    (root / "loadavg").write_text(f"{load} 0.40 0.30 1/100 999\n")
    (root / "self").mkdir()  # non-numeric entries are skipped


def test_parse_stat_comm_with_spaces_and_parens():
    line = "42 (java (x) y) S 7 1 1 0 -1 0 0 0 0 0 11 22 33 44 20 0"
    assert procfs.parse_stat(line) == (7, 11 + 22 + 33 + 44)


def test_parse_steal_ticks():
    assert procfs.parse_steal_ticks("cpu  1 2 3 4 5 6 7 89 0 0\n") == 89
    with pytest.raises(ValueError):
        procfs.parse_steal_ticks("intr 1 2 3\n")


def test_tree_of_follows_descendants_only():
    parents = {1: 0, 10: 1, 11: 10, 12: 11, 20: 1, 21: 20}
    assert procfs.tree_of(10, parents) == {10, 11, 12}
    assert procfs.tree_of(12, parents) == {12}


def test_tree_cpu_rss_steal_load_on_fake_proc(tmp_path):
    tck, page = procfs.CLK_TCK, procfs.PAGE_SIZE
    _fake_proc(
        tmp_path,
        {
            100: ("python3", 1, 100, 50, 0, 0, 10),
            101: ("java", 100, 1000, 200, 30, 20, 1000),
            102: ("python -m daemon", 101, 5, 5, 0, 0, 100),
            200: ("other", 1, 9999, 9999, 0, 0, 5000),  # not in the tree
        },
        steal=3 * tck,
        load="2.25",
    )
    proc = str(tmp_path)
    assert procfs.tree_pids(100, proc) == {100, 101, 102}
    want_ticks = (100 + 50) + (1000 + 200 + 30 + 20) + (5 + 5)
    assert procfs.tree_cpu_s(100, proc) == pytest.approx(want_ticks / tck)
    pids = procfs.tree_pids(100, proc)
    assert procfs.tree_rss_bytes(pids, proc) == (10 + 1000 + 100) * page
    assert procfs.steal_s(proc) == pytest.approx(3.0)
    assert procfs.load1(proc) == 2.25


def test_vanished_pid_is_skipped(tmp_path):
    _fake_proc(tmp_path, {100: ("python3", 1, 1, 1, 0, 0, 1)})
    assert procfs.tree_rss_bytes({100, 4242}, str(tmp_path)) == procfs.PAGE_SIZE


def test_op_sampler_counts_a_busy_child():
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\n"
    with procfs.OpSampler(interval=0.05) as s:
        subprocess.run([sys.executable, "-c", busy], check=True)
        time.sleep(0.1)
    w = s.window
    # the child was reaped by this process, so its CPU lands in cutime
    assert w.cpu_s >= 0.5
    assert w.peak_rss_mb > 0
    assert w.steal_s >= 0
    assert w.load1 >= 0


def test_live_tree_contains_self_and_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert {os.getpid(), child.pid} <= procfs.tree_pids()
    finally:
        child.kill()
        child.wait()
