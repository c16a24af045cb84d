"""Process-tree accounting from ``/proc`` (Linux only).

The benchmark's throttle-resistant counters come from here:

* CPU-seconds of the driver and every descendant (the JVM, the pyspark
  daemon and its forked Python workers). Each process contributes
  ``utime + stime + cutime + cstime``: a worker that was forked and reaped
  during the run no longer has a ``/proc`` entry, but its CPU time was
  folded into its parent's ``cutime``/``cstime`` when it was waited for, so
  it still counts. A live process's ``cutime`` only holds children that are
  gone, so nothing is counted twice.
* The Python-worker share of that CPU: descendants (not the driver itself)
  whose command name is a Python interpreter.
* The summed ``VmHWM`` (peak resident set) of the live tree.
"""

from __future__ import annotations

import os
import signal
import time
from dataclasses import dataclass

_TICKS = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    cpu_ticks: int  # utime + stime + cutime + cstime


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` sits in parentheses
    and may itself contain spaces or ')', so split at the LAST ')'."""
    lpar, rpar = text.index("("), text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1 : rpar]
    rest = text[rpar + 2 :].split()
    # rest[0] is field 3 (state); fields 14..17 are utime stime cutime cstime
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ProcStat(pid, ppid, comm, utime + stime + cutime + cstime)


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process exited between listing and reading


def snapshot(proc: str = "/proc") -> dict[int, ProcStat]:
    """Every readable process on the host, by pid."""
    out: dict[int, ProcStat] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        text = _read(os.path.join(proc, name, "stat"))
        if text:
            st = parse_stat(text)
            out[st.pid] = st
    return out


def descendants(procs: dict[int, ProcStat], root: int) -> list[int]:
    """Pids of ``root``'s descendants (``root`` excluded)."""
    children: dict[int, list[int]] = {}
    for st in procs.values():
        children.setdefault(st.ppid, []).append(st.pid)
    out: list[int] = []
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def _is_python(comm: str) -> bool:
    return comm.startswith("python")


@dataclass(frozen=True)
class TreeUsage:
    cpu_s: float  # whole tree, driver included
    py_cpu_s: float  # Python worker descendants only


def tree_usage(root: int | None = None, proc: str = "/proc") -> TreeUsage:
    """Cumulative CPU-seconds of ``root`` (default: this process) and its
    descendants. Take two readings and subtract to cover an interval."""
    root = os.getpid() if root is None else root
    procs = snapshot(proc)
    kids = descendants(procs, root)
    total = sum(procs[p].cpu_ticks for p in kids)
    if root in procs:
        total += procs[root].cpu_ticks
    py = sum(procs[p].cpu_ticks for p in kids if _is_python(procs[p].comm))
    return TreeUsage(total / _TICKS, py / _TICKS)


def vm_hwm_kb(status_text: str) -> int:
    """``VmHWM`` in kB from a ``/proc/<pid>/status`` text (0 if absent,
    as for kernel threads)."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def tree_peak_rss_mb(root: int | None = None, proc: str = "/proc") -> float:
    """Summed peak resident set (``VmHWM``) of ``root`` and its live
    descendants, in MiB."""
    root = os.getpid() if root is None else root
    pids = [root] + descendants(snapshot(proc), root)
    kb = 0
    for pid in pids:
        text = _read(os.path.join(proc, str(pid), "status"))
        if text:
            kb += vm_hwm_kb(text)
    return kb / 1024.0


def process_age_s(pid: int | None = None, proc: str = "/proc") -> float:
    """Seconds since ``pid`` (default: this process) was started."""
    pid = os.getpid() if pid is None else pid
    with open(os.path.join(proc, str(pid), "stat")) as f:
        text = f.read()
    starttime = int(text[text.rindex(")") + 2 :].split()[19])  # field 22
    with open(os.path.join(proc, "uptime")) as f:
        uptime = float(f.read().split()[0])
    return uptime - starttime / _TICKS


def alive(pid: int, proc: str = "/proc") -> bool:
    """Whether ``pid`` is running (an exited, unreaped zombie is not)."""
    text = _read(os.path.join(proc, str(pid), "stat"))
    return text is not None and text[text.rindex(")") + 2] != "Z"


def wait_ended(pids: list[int], timeout_s: float, proc: str = "/proc") -> list[int]:
    """Wait until every pid in ``pids`` has ended; SIGKILL those still
    running after ``timeout_s`` and wait for them too. Returns the killed
    pids."""
    deadline = time.monotonic() + timeout_s
    while any(alive(p, proc) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    killed = [p for p in pids if alive(p, proc)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(alive(p, proc) for p in killed):
        time.sleep(0.05)
    return killed
