"""Standard-library samplers: the RSS of a process session from ``/proc``
and the on-disk size of a directory tree.

A background thread polls both every ``interval`` seconds and keeps the
peaks. Nothing here needs ``psutil``.
"""

from __future__ import annotations

import os
import threading


def _proc_table() -> dict[int, tuple[int, int]]:
    """``pid -> (ppid, session id)`` of every process alive right now."""
    table: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listdir and open
        # the command name may hold spaces or parens: the fields after the
        # last ')' are state, ppid, pgrp, session
        fields = stat[stat.rindex(b")") + 2 :].split()
        table[int(name)] = (int(fields[1]), int(fields[3]))
    return table


def session_pids(sid: int) -> list[int]:
    """Every process alive right now in session ``sid``, and their
    descendants. A process whose parent has exited is re-parented to
    init but keeps its session, so this also finds the JVM and Python
    workers that outlive the process that started them."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out: list[int] = []
    todo = [pid for pid, (_, s) in table.items() if s == sid]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def session_rss_bytes(sid: int) -> int:
    return sum(rss_bytes(p) for p in session_pids(sid))


def dir_bytes(path: str) -> int:
    """Allocated bytes under ``path`` (``st_blocks``, like ``du``)."""
    total = 0
    stack = [path]
    while stack:
        try:
            with os.scandir(stack.pop()) as it:
                for e in it:
                    try:
                        if e.is_dir(follow_symlinks=False):
                            stack.append(e.path)
                        else:
                            total += e.stat(follow_symlinks=False).st_blocks * 512
                    except OSError:
                        continue  # removed while we walked
        except OSError:
            continue
    return total


class PeakSampler:
    """Polls the RSS of a process session and the size of a directory,
    keeping the peak of each, until :meth:`stop`."""

    def __init__(self, sid: int, watch_dir: str, interval: float = 0.2) -> None:
        self.sid = sid
        self.watch_dir = watch_dir
        self.interval = interval
        self.peak_rss = 0
        self.peak_dir = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        tick = 0
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, session_rss_bytes(self.sid))
            # walking the directory costs more than reading /proc: poll it
            # at a fifth of the rate
            if tick % 5 == 0:
                self.peak_dir = max(self.peak_dir, dir_bytes(self.watch_dir))
            tick += 1
            self._stop.wait(self.interval)

    def start(self) -> "PeakSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
