"""Process-level readings from /proc: peak memory of the benchmark's process
tree, and CPU time spent by everything else on the machine (the noisy-run
sentinel)."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(pid))
    return kids


def tree(roots: list[int], kids: dict[int, list[int]] | None = None) -> set[int]:
    """``roots`` and all their descendants."""
    kids = _children_map() if kids is None else kids
    seen: set[int] = set()
    todo = [r for r in roots if r]
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo.extend(kids.get(p, ()))
    return seen


def _mem_mb(pid: int) -> float:
    """Proportional set size (shared pages split among their users, so
    Postgres' shared buffers count once), falling back to RSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


class PeakMemory:
    """Samples the summed memory of the process trees under ``roots()``
    every ``interval`` seconds on a background thread."""

    def __init__(self, roots, interval: float = 0.5):
        self._roots = roots
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_mb = 0.0

    def sample(self) -> None:
        total = sum(_mem_mb(p) for p in tree(self._roots()))
        self.peak_mb = max(self.peak_mb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def stop(self) -> None:
        """Takes a last sample and stops sampling; later calls do nothing."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()

    def __exit__(self, *exc) -> None:
        self.stop()


class MachineLoad:
    """CPU seconds used by processes outside the benchmark's trees between
    ``start()`` and ``stop()``, CPU time the hypervisor stole from this
    machine, and the 1-minute load average at both ends for reference (it
    also counts the benchmark's own load, and that of a run just before).
    A run is flagged noisy when other processes kept more than half a core
    busy on average, or when more than 5% of the cores' time was stolen."""

    def __init__(self, roots):
        self._roots = roots
        self._ours: set[int] = set()

    def _others_cpu_s(self) -> float:
        kids = _children_map()
        self._ours |= tree(self._roots(), kids)
        total = 0
        for pid in os.listdir("/proc"):
            if pid.isdigit() and int(pid) not in self._ours:
                fields = _stat_fields(pid)
                if fields is not None:
                    total += int(fields[11]) + int(fields[12])
        return total / _TICK

    @staticmethod
    def _steal_s() -> float:
        with open("/proc/stat") as f:
            fields = f.readline().split()  # cpu user nice system idle ... steal
        return int(fields[8]) / _TICK if len(fields) > 8 else 0.0

    @staticmethod
    def _loadavg() -> float:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])

    def start(self) -> None:
        self._t0 = time.monotonic()
        self._cpu0 = self._others_cpu_s()
        self._steal0 = self._steal_s()
        self.load_before = self._loadavg()

    def stop(self) -> dict:
        wall = time.monotonic() - self._t0
        # processes that exited during the run take their CPU time with them,
        # so this undercounts short-lived neighbours; never negative
        other = max(self._others_cpu_s() - self._cpu0, 0.0)
        steal = self._steal_s() - self._steal0
        load_after = self._loadavg()
        busy = other / wall if wall > 0 else 0.0
        stolen = steal / (wall * len(os.sched_getaffinity(0))) if wall > 0 else 0.0
        return {
            "loadavg_before": self.load_before,
            "loadavg_after": load_after,
            "other_cpu_s": round(other, 3),
            "other_busy_cores": round(busy, 3),
            "steal_s": round(steal, 3),
            "noisy": busy > 0.5 or stolen > 0.05,
        }
