"""Small measurement helpers: percentile reporting and peak memory sampling."""

from __future__ import annotations

import os
import statistics
import threading


def median_report(name: str, values, unit: str) -> str:
    """``name p50=<median> <unit> (n=<samples>)``: the sample count is
    always stated."""
    vals = list(values)
    if not vals:
        return f"{name} p50=n/a {unit} (n=0)"
    return f"{name} p50={statistics.median(vals):.4f} {unit} (n={len(vals)})"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue                     # process ended while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants (here: the
    driver, the JVM it launched, the Python daemon and its workers). PSS
    splits each shared page among the processes that map it, so a forked
    child that has not yet exec'd does not count its parent's memory twice,
    as summed RSS would."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass                         # process ended while walking
    return total


# reading a multi-GB JVM's page tables takes tens of milliseconds
SAMPLE_INTERVAL_S = 1.0


class PeakMemory:
    """Samples the process tree's PSS on a daemon thread until stopped."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
