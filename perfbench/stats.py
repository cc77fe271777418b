"""Arithmetic the metrics rest on: percentiles, open-loop freshness,
the rollup trigger that covers a rotation, and memory read from
/proc. Pure functions, so perfbench/tests can pin them without Spark.
"""

from __future__ import annotations

import bisect
import os
from datetime import datetime


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty
    sample; 0.0 for an empty one, so a layer that did no work reads 0."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def freshness(scheduled: dict[int, float], delivered: dict[int, float]) -> list[float]:
    """Open-loop freshness per rotation: delivery time minus the time
    the rotation was *due* to close (not when the generator got to
    it), so a stall also charges the rotations queued behind it.
    Rotations never delivered are left out; the caller counts them
    as failures."""
    return [delivered[r] - t for r, t in sorted(scheduled.items()) if r in delivered]


def covering_trigger_ends(
    rotation_rows: list[int], progress: list[tuple[int, float]], base_rows: int = 0
) -> list[float | None]:
    """For each rotation (in close order, with `rotation_rows[i]` rows)
    the end time of the first trigger whose cumulative input rows
    reach the rows closed through that rotation; `progress` is
    (numInputRows, trigger end) per trigger in batch order, and
    `base_rows` the rows closed before the first listed rotation. A
    file is never split across triggers and every trigger takes all
    closed files, so cumulative counts identify the covering trigger
    without extra jobs. None where no trigger covered the rotation."""
    cum, ends, acc = [], [], 0
    for n, end in progress:
        acc += n
        cum.append(acc)
        ends.append(end)
    out: list[float | None] = []
    need = base_rows
    for n in rotation_rows:
        need += n
        i = bisect.bisect_left(cum, need)
        out.append(ends[i] if i < len(cum) else None)
    return out


def progress_end(p: dict) -> float:
    """Epoch seconds at which a StreamingQueryProgress trigger ended:
    its start timestamp plus `durationMs.triggerExecution`."""
    start = datetime.fromisoformat(p["timestamp"]).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _stat_fields(path: str) -> list[str]:
    """The fields of a /proc stat file after the parenthesised name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the process's JIT compiler threads (named
    "C1 CompilerThread<n>" / "C2 CompilerThread<n>" by HotSpot)."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by a process and its
    descendants, less the JVM's JIT compiler threads.

    Descendants are the live ones and the ended ones their parent has
    reaped (a stopped SparkContext's Python workers, say), so the
    figure never drops. JIT compilation is the JVM warming up, not
    work the program does: in a short run it takes a third of a
    window's CPU, and a different amount each run. The launcher keeps
    compiler threads alive for the JVM's life
    (-XX:-UseDynamicNumberOfCompilerThreads), so none leaves its CPU
    behind uncounted. The guest kernel does not charge hypervisor
    steal to a task, so this cost holds still when the host is busy
    and wall times stretch."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree(pid or os.getpid()):
        try:
            fields = _stat_fields(f"/proc/{p}/stat")
        except OSError:
            continue  # the process ended meanwhile
        total += sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime
        total -= _jit_ticks(p)
    return total / tick


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum of peak resident set sizes (VmHWM) over a process and all
    its live descendants — this process, its JVM and the Python
    workers — in MiB, read from /proc so no psutil is needed."""
    return sum(_status_kb(p, "VmHWM") for p in _tree(pid or os.getpid())) / 1024.0


def cpu_times() -> list[int]:
    """The aggregate `cpu` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0
