"""Process-tree CPU, peak RSS and host steal, read from /proc.

Pass CPU comes from ``bench.tree_cpu_snapshot``/``tree_cpu_delta`` (per-pid
deltas over this process and every descendant: python, the local-mode JVM
and the Python workers).  Peak RSS is sampled over the same tree, found
with ``tree_cpu_snapshot``, by a background thread.
"""

from __future__ import annotations

import os
import threading

from bench import tree_cpu_snapshot

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes() -> int:
    """Resident bytes of this process and every live descendant."""
    total = 0
    for pid in tree_cpu_snapshot():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the aggregate /proc/stat line."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


class RssSampler:
    """Samples the tree's RSS every ``interval`` seconds until ``stop``;
    ``peak`` holds the largest sample in bytes."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
