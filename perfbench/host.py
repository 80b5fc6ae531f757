"""Host diagnostics: CPU steal, peak resident memory, and the framework-free
kernel control (the same decode kernels ``bench.hardware_control`` times,
run in a plain process pool with no Spark)."""

from __future__ import annotations

import ctypes
import multiprocessing as mp
import os
import signal
import time

from bench import _control_work  # the kernel loop bench.hardware_control times


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted inside user/nice
    return steal, sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    kids = []
    for tid in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else []:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """Running (an exited, unreaped zombie does not count)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; SIGKILL whatever outlives timeout."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def become_subreaper() -> None:
    """Have orphaned descendants (the JVM launcher's helpers, Python
    workers whose JVM has gone) re-parented to this process instead of
    init, so ``end_descendants`` can find and reap every one of them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> bool:
    """Reap exited children; True once this process has none left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def end_descendants(timeout: float = 30) -> None:
    """Last step at exit: end whatever this process started that is still
    running (a JVM launched just before a SIGTERM, say), SIGKILL what
    outlives ``timeout``, and reap every exited descendant."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while not _reap():
        for pid in (p for p in descendants(os.getpid()) if _alive(p)):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_pids(jvm: int) -> list[int]:
    return [p for p in descendants(jvm) if "python" in _cmdline(p)]


class Control:
    """Pages/s of the decode kernels over a fixed seeded payload set, in a
    pool of ``procs`` processes (created once per run).

    The pool forks, as ``bench.hardware_control``'s does, and must be
    created before the session starts any thread.  A spawn pool would
    start multiprocessing's resource tracker, a process that outlives
    this one by design."""

    def __init__(self, payloads: list[bytes], procs: int):
        self.chunks = [payloads[i::procs] for i in range(procs)]
        self.pool = mp.get_context("fork").Pool(procs)
        self.pool.map(_control_work, [c[:8] for c in self.chunks])  # import

    def measure(self) -> float:
        t0 = time.perf_counter()
        n = sum(self.pool.map(_control_work, self.chunks))
        return n / (time.perf_counter() - t0)

    def close(self) -> None:
        self.pool.close()
        self.pool.join()
