"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark's process tree is the Python driver, the Spark JVM it
launches and the pyspark worker processes the JVM forks. Spark's own
``executorCpuTime`` leaves out the Python workers, so the tree is read
directly: ``/proc/<pid>/stat`` for user+system CPU ticks and
``/proc/<pid>/status`` for the peak resident set ``VmHWM``. The JVM's
JIT compiler threads are read apart, from ``/proc/<pid>/task``: their
CPU is warm-up work whose amount and timing vary from run to run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PROC = "/proc"
# HotSpot's "C1 CompilerThread0", "C2 CompilerThread1", ... as the
# kernel keeps them (the first 15 bytes).
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


@dataclass(frozen=True)
class ProcSample:
    pid: int
    ppid: int
    cmdline: str
    cpu_s: float    # user + system CPU seconds so far
    hwm_kb: int     # peak resident set over the process's life


def parse_stat(text: str) -> tuple[int, float]:
    """``(ppid, cpu_s)`` from the contents of ``/proc/<pid>/stat``.

    The command name (field 2) is parenthesised and may hold spaces or
    parentheses, so fields are counted after the LAST ``)``.
    """
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); ppid is field 4, utime/stime 14/15
    return int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICK


def parse_comm(text: str) -> str:
    """The command (thread) name in a ``stat`` file."""
    return text[text.index("(") + 1:text.rindex(")")]


def jit_threads_cpu(pid: int, proc: str = _PROC) -> dict[int, float]:
    """CPU seconds of each JIT compiler thread of process ``pid``."""
    out = {}
    try:
        tids = os.listdir(f"{proc}/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        stat = _read(f"{proc}/{pid}/task/{tid}/stat")
        if stat is not None and parse_comm(stat).startswith(_JIT_THREADS):
            out[int(tid)] = parse_stat(stat)[1]
    return out


def parse_status_kb(text: str, key: str) -> int:
    """The ``kB`` value of ``key`` (e.g. ``VmRSS``) in a ``status`` file,
    0 when absent (kernel threads, zombies)."""
    for line in text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def parse_host_steal(text: str) -> tuple[int, int]:
    """``(steal, total)`` jiffies of the machine's aggregate ``cpu`` line
    in ``/proc/stat``. Steal is time a virtual CPU wanted to run but its
    host ran another guest; it inflates every wall and CPU time."""
    fields = text.splitlines()[0].split()
    if fields[0] != "cpu":
        raise ValueError("no aggregate cpu line")
    ticks = [int(x) for x in fields[1:9]]  # user .. steal; guest is in user
    return ticks[7], sum(ticks)


def host_steal(proc: str = _PROC) -> tuple[int, int]:
    text = _read(f"{proc}/stat")
    return parse_host_steal(text) if text else (0, 0)


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:  # the process exited between listing and reading
        return None


def sample(pid: int, proc: str = _PROC) -> ProcSample | None:
    stat = _read(f"{proc}/{pid}/stat")
    status = _read(f"{proc}/{pid}/status")
    if stat is None or status is None:
        return None
    cmd = (_read(f"{proc}/{pid}/cmdline") or "").replace("\0", " ").strip()
    ppid, cpu = parse_stat(stat)
    return ProcSample(pid, ppid, cmd, cpu, parse_status_kb(status, "VmHWM"))


def tree(root: int, proc: str = _PROC) -> list[ProcSample]:
    """Samples of ``root`` and every live descendant."""
    by_parent: dict[int, list[ProcSample]] = {}
    for name in os.listdir(proc):
        if name.isdigit():
            s = sample(int(name), proc)
            if s is not None:
                by_parent.setdefault(s.ppid, []).append(s)
    top = sample(root, proc)
    if top is None:
        return []
    out, todo = [top], [root]
    while todo:
        for child in by_parent.get(todo.pop(), ()):
            out.append(child)
            todo.append(child.pid)
    return out


def is_jvm(s: ProcSample) -> bool:
    return os.path.basename(s.cmdline.split(" ", 1)[0]) == "java"


def is_python_worker(s: ProcSample) -> bool:
    """pyspark's worker daemon and the workers it forks."""
    return "pyspark.daemon" in s.cmdline or "pyspark.worker" in s.cmdline


class TreeMeter:
    """Cumulative CPU and peak RSS of a process tree across samples.

    Processes come and go (pyspark workers are forked on demand and
    reaped when idle), so CPU is accumulated per pid: a process's last
    seen CPU time stays counted after it exits. Call :meth:`poll` at
    every boundary the caller wants to attribute CPU to.
    """

    def __init__(self, root: int | None = None, proc: str = _PROC) -> None:
        self.root = os.getpid() if root is None else root
        self.proc = proc
        self._cpu: dict[int, float] = {}
        self._py: set[int] = set()
        self._jit: dict[tuple[int, int], float] = {}
        self.peak_rss_kb = 0
        self.poll()

    def poll(self) -> None:
        procs = tree(self.root, self.proc)
        for s in procs:
            self._cpu[s.pid] = max(self._cpu.get(s.pid, 0.0), s.cpu_s)
            if is_python_worker(s):
                self._py.add(s.pid)
            if is_jvm(s):
                for tid, cpu in jit_threads_cpu(s.pid, self.proc).items():
                    key = (s.pid, tid)
                    self._jit[key] = max(self._jit.get(key, 0.0), cpu)
        # sum of the live processes' own peaks: exact for the JVM, which
        # dominates, and an upper bound for the tree as a whole
        self.peak_rss_kb = max(self.peak_rss_kb, sum(s.hwm_kb for s in procs))

    def cpu_s(self) -> float:
        """CPU seconds of every process seen so far."""
        return sum(self._cpu.values())

    def python_cpu_s(self) -> float:
        """CPU seconds of the pyspark worker processes seen so far."""
        return sum(self._cpu[p] for p in self._py)

    def jit_cpu_s(self) -> float:
        """CPU seconds of the JVM JIT compiler threads seen so far (part
        of :meth:`cpu_s`)."""
        return sum(self._jit.values())
