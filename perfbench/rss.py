"""Peak resident memory of a whole process tree, sampled from outside the
program: this process (the Python driver) plus every descendant — the
driver JVM, the PySpark worker daemon and its workers.

Each process contributes its proportional set size (Pss): PySpark workers
are forked from one daemon, and summing plain RSS would count the pages
they share once per worker."""

from __future__ import annotations

import os
import threading


def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited since the listing
    return 0


def tree_pss_bytes(root: int) -> int:
    kids = children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        total += _pss_bytes(pid)
    return total


class TreeMemory:
    """Context manager: samples the tree every `interval` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.samples.append(tree_pss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "TreeMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
