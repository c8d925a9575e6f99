"""Process-tree bookkeeping from ``/proc``: peak resident memory of the
benchmark's processes (this driver, the Spark JVM it launches, the
Python workers the JVM forks), and reaping them at exit."""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        # the command name may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status(pid: int) -> tuple[str, int]:
    """(command name, VmHWM in kB) of a live process; ("", 0) if gone."""
    name, hwm = "", 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except OSError:
        pass
    return name, hwm


class PeakRss:
    """Samples every process in the tree at a fixed interval and keeps
    each one's resident high-water mark (VmHWM). The peak is the sum of
    those marks over the processes seen in at least two samples, so it
    does not depend on when a sample lands. Processes that live shorter
    than one interval are left out: the JVM's spawn helpers and shell
    commands share the JVM's address space until they exec, so their
    mark would count the JVM twice."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._hwm: dict[int, int] = {}
        self._name: dict[int, str] = {}
        self._seen: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        for pid in [me, *descendants(me)]:
            name, kb = _status(pid)
            self._seen[pid] = self._seen.get(pid, 0) + 1
            if kb > self._hwm.get(pid, 0):
                self._hwm[pid] = kb
                self._name[pid] = name

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; peak resident memory of the tree in MB."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return sum(self._lasting().values()) / 1024.0

    def _lasting(self) -> dict[int, int]:
        return {pid: kb for pid, kb in self._hwm.items() if self._seen[pid] >= 2}

    def by_command(self) -> dict[str, float]:
        """Peak MB summed per command name (java, python3, ...)."""
        out: dict[str, float] = {}
        for pid, kb in self._lasting().items():
            out[self._name[pid]] = out.get(self._name[pid], 0.0) + kb / 1024.0
        return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def reap(timeout: float = 30.0) -> None:
    """Wait for every descendant of this process to exit; SIGKILL the
    ones still alive after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} survived SIGKILL")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5.0
        for pid in left:  # collect our own zombies
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
