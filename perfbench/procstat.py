"""Process-tree memory sampling from /proc and on-disk byte counts."""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (JVM, Python
    workers), each page shared between them counted once: the sum of their
    proportional set sizes. Summing plain RSS would count a forked Python
    worker's pages shared with its parent twice."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended while we sampled it
            continue
    return total


class RssSampler:
    """Polls the memory of this process's tree on a thread; ``peak`` is the max.
    A poll reads the JVM's page tables for about 20 ms, so it polls seldom."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def file_sizes(path: str) -> dict[tuple[int, int], int]:
    """(device, inode) -> size of every file under ``path``. Keyed by inode
    so a hard link to an existing file does not count as bytes written."""
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(base, f))
            except OSError:  # removed while we walked
                continue
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def dir_bytes(path: str) -> int:
    """Bytes stored under ``path`` (0 when it does not exist)."""
    return sum(file_sizes(path).values())


def bytes_written(path: str, before: dict[tuple[int, int], int]) -> int:
    """Bytes of files under ``path`` that were not there in ``before``."""
    return sum(n for key, n in file_sizes(path).items() if key not in before)
