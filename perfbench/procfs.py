"""Process-tree CPU, memory and host-noise readings from /proc (Linux)."""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree(pid: int | None = None) -> list[int]:
    """``pid`` and all its live descendants: the Python driver, the JVM it
    launched, and the Python worker daemon and workers under the JVM."""
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def tree_cpu_s() -> float:
    """User + system CPU seconds of the whole process tree. A worker that
    exited and was reaped is counted in its parent's cutime/cstime, so
    summing all four fields over the live tree counts every process once."""
    total = 0
    for p in tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (field 3): utime..cstime are fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of per-process high-water RSS (VmHWM) over the live tree."""
    total = 0
    for p in tree():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


def stat_counters() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat. ``total`` sums user..steal
    only: guest time is already inside user/nice."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    ds, dt = after[0] - before[0], after[1] - before[1]
    return 100.0 * ds / dt if dt > 0 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _start_time(pid: int) -> int | None:
    """Start time (field 22) of a live, non-zombie ``pid``; None otherwise."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else int(fields[19])


def descendants() -> dict[int, int]:
    """Live descendants of this process as ``{pid: start time}``; the start
    time tells a descendant from a later process that reuses its pid."""
    out = {}
    for p in tree()[1:]:
        st = _start_time(p)
        if st is not None:
            out[p] = st
    return out


def end_all(procs: dict[int, int], grace_s: float = 10.0) -> None:
    """Wait for every process of ``procs`` (from :func:`descendants`) to end:
    SIGTERM to those still alive after ``grace_s``, SIGKILL to those alive
    after another ``grace_s``. Returns when none of them is left."""
    def alive():
        return [p for p, st in procs.items() if _start_time(p) == st]

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        left = alive()
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + grace_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = alive()
        if not left:
            return
