"""Unit tests for the benchmark's /proc process-tree accounting.

Run: python -m pytest perfbench/tests -q
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procfs  # noqa: E402

TICKS = os.sysconf("SC_CLK_TCK")


def _stat_line(pid, comm, ppid, utime, stime, cutime, cstime):
    # fields 3..13, then 14..17 = utime stime cutime cstime, then the rest
    mid = " ".join(["0"] * 9)
    return f"{pid} ({comm}) S {ppid} {mid} {utime} {stime} {cutime} {cstime} 20 0 1 0\n"


def _fake_proc(tmp_path, rows):
    for pid, comm, ppid, ticks, hwm_kb in rows:
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat_line(pid, comm, ppid, *ticks))
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_parse_stat_handles_parens_and_spaces_in_comm():
    st = procfs.parse_stat(_stat_line(42, "odd) name (x", 7, 1, 2, 3, 4))
    assert (st.pid, st.ppid, st.comm, st.cpu_ticks) == (42, 7, "odd) name (x", 10)


def test_tree_sums_descendants_and_reaped_children_only(tmp_path):
    # 10 driver -> 11 java -> 12 python daemon (cutime/cstime = reaped
    # workers) -> 13 live python worker; 20 is an unrelated process.
    proc = _fake_proc(tmp_path, [
        (10, "python3", 1, (100, 10, 5, 5), 1024),
        (11, "java", 10, (300, 30, 0, 0), 4096),
        (12, "python", 11, (10, 0, 40, 10), 2048),
        (13, "python", 12, (20, 5, 0, 0), 2048),
        (20, "python", 1, (9999, 0, 0, 0), 9999),
    ])
    u = procfs.tree_usage(10, proc)
    assert u.cpu_s * TICKS == 120 + 330 + 60 + 25
    assert u.py_cpu_s * TICKS == 60 + 25  # the driver itself is not a worker
    assert procfs.tree_peak_rss_mb(10, proc) == (1024 + 4096 + 2048 + 2048) / 1024


def test_forked_and_reaped_worker_cpu_still_counts():
    before = procfs.tree_usage()
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass\n"
    child = subprocess.Popen([sys.executable, "-c", burn])
    seen_live = False
    deadline = time.time() + 30
    while child.poll() is None and time.time() < deadline:
        live = procfs.tree_usage()
        seen_live = seen_live or live.py_cpu_s > before.py_cpu_s
        time.sleep(0.05)
    assert child.wait(timeout=30) == 0  # reaped: CPU moves into our cutime
    after = procfs.tree_usage()
    assert after.cpu_s - before.cpu_s >= 0.25
    assert os.getpid() not in procfs.descendants(procfs.snapshot(), os.getpid())
    assert seen_live  # while alive it was a Python descendant


def test_wait_ended_waits_for_exit_and_kills_stragglers():
    quick = subprocess.Popen([sys.executable, "-c", "pass"])
    stuck = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    t0 = time.monotonic()
    killed = procfs.wait_ended([quick.pid, stuck.pid], timeout_s=1.0)
    assert killed == [stuck.pid]
    assert time.monotonic() - t0 < 10
    # both have ended (exited or killed); only the zombies are left to reap
    assert not procfs.alive(quick.pid) and not procfs.alive(stuck.pid)
    assert quick.wait() == 0 and stuck.wait() == -9
