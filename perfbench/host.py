"""Host drift stamp and process-tree accounting, read from ``/proc``.

The stamp is recorded with every run and never gated: it says on what
host a number was measured (cores, load, CPU steal, driver heap, and
the time of a fixed single-thread DuckDB calibration query), so two
runs can be compared only when their stamps agree.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

CALIBRATION_SQL = """
SELECT sum(hash(i) % 1000) AS s, count(DISTINCT i % 100003) AS d
FROM range(1000000) t(i)
"""


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks its Python
    workers from threads other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants (the JVM and Python workers)."""
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rfind(")") + 2 :].split()


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU of the tree, including its reaped children."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:  # fields 14-17 of stat: utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:  # field 24 of stat: rss in pages
            total += int(f[21]) * _PAGE
    return total


class TreeSampler:
    """Background sampler of the process tree's resident memory.

    Tracks the peak of the summed RSS; sampling stops on ``close``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(process_tree())
            self.peak_rss = max(self.peak_rss, rss)
            self._stop.wait(self.interval_s)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def calibration_s(repeats: int = 3) -> float:
    """Median time of a fixed single-thread DuckDB query."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            con.execute(CALIBRATION_SQL).fetchall()
            times.append(time.perf_counter() - t0)
    finally:
        con.close()
    return sorted(times)[len(times) // 2]


class DriftStamp:
    """Open at the start of a run, ``finish`` at the end."""

    def __init__(self, driver_heap: str):
        self.driver_heap = driver_heap
        self.load_before = os.getloadavg()
        self._cpu0 = _cpu_times()
        self.calibration_before_s = calibration_s()

    def finish(self) -> dict:
        steal1, total1 = _cpu_times()
        d_total = max(1, total1 - self._cpu0[1])
        return {
            "nproc": os.cpu_count(),
            "load_before": [round(x, 2) for x in self.load_before],
            "load_after": [round(x, 2) for x in os.getloadavg()],
            "cpu_steal_share": round((steal1 - self._cpu0[0]) / d_total, 5),
            "driver_heap": self.driver_heap,
            "calibration_s": [round(self.calibration_before_s, 5), round(calibration_s(), 5)],
        }
