"""CPU and memory of a process tree, read from /proc."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat. Steal
    is time the hypervisor ran something else while a vCPU wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def descendants(root: int) -> list[int]:
    """root and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """user+sys CPU of the processes, including their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None and fields[0] != "Z":
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: resident memory with each page
    shared between processes (forked Python workers) counted once."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    init, so that reap_descendants finds every one of them: the PySpark
    daemon moves to its own process group and outlives the JVM that
    started it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_descendants(timeout: float = 30.0) -> None:
    """Kill every process below this one and wait until each has ended."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        others = alive([pid for pid in descendants(me) if pid != me])
        for pid in others:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            if not others:
                return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {others} did not end")
        time.sleep(0.05)


def alive(pids: list[int]) -> list[int]:
    out = []
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None and fields[0] != "Z":
            out.append(pid)
    return out


class TreeSampler:
    """Samples a process tree every ``interval`` seconds: the peak of its
    summed PSS, and its CPU seconds over time. Re-lists the tree every
    second."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self.cpu: list[tuple[float, float]] = []  # (wall time, CPU seconds)
        self.pids = [root]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        listed = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed >= 1.0:
                self.pids = descendants(self.root)
                listed = now
            self.peak = max(self.peak, pss_bytes(self.pids))
            self.cpu.append((time.time(), cpu_seconds(self.pids)))
            self._stop.wait(self.interval)

    def cpu_at(self, t: float) -> float:
        """CPU seconds of the tree at wall time t, interpolated."""
        before = max((s for s in self.cpu if s[0] <= t), default=self.cpu[0])
        after = min((s for s in self.cpu if s[0] >= t), default=self.cpu[-1])
        if after[0] == before[0]:
            return before[1]
        return before[1] + (after[1] - before[1]) * (t - before[0]) / (after[0] - before[0])

    def tree(self) -> list[int]:
        self.pids = descendants(self.root)
        return self.pids

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
