"""Host facts recorded with every run so host drift is visible: core
count, load average at start and end, a fixed-work calibration timing,
and the peak resident memory of this process plus its JVM."""

from __future__ import annotations

import os
import time

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def calibration_ms() -> float:
    """Median of five timings of a fixed numpy + pure-Python workload."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal((192, 192))
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        b = a
        for _ in range(20):
            b = np.tanh(b @ a)
        total = 0
        for i in range(200_000):
            total += i * i
        times.append((time.perf_counter() - t0) * 1000.0)
    return float(np.median(times))


def _hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid`` in KiB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendant_pids(pid: int, comm: str | None = None) -> list[int]:
    """Live descendants of ``pid``, only those whose command name is
    ``comm`` when given."""
    kids: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
        names[int(entry)] = name
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        if comm is None or names.get(p) == comm:
            out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this process plus every JVM it started, in MiB."""
    pids = [os.getpid(), *descendant_pids(os.getpid(), "java")]
    return sum(_hwm_kb(p) for p in pids) / 1024.0


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid in ``pids`` has exited; terminate stragglers
    once ``timeout`` passes."""
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        if live:
            time.sleep(0.05)
    for p in live:
        try:
            os.kill(p, 15)
        except ProcessLookupError:
            pass
