"""Closed-loop operation log, percentiles and on-disk byte accounting."""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from collections.abc import Callable


class OpLog:
    """Times operations and counts failures.  An operation fails when it
    raises or when its output check reports a problem; failed operations
    count against ``attempted`` but give no latency sample."""

    def __init__(self):
        self.times: list[float] = []
        self.labels: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, op: Callable[[], object], check: Callable[[object], list[str]] | None = None,
            label: int = 0):
        """Run ``op`` (timed), then ``check`` on its result (untimed).
        ``check`` returns a list of problems; empty means correct.  A
        successful operation's time is kept with its ``label``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = op()
        except Exception:
            self._fail(traceback.format_exc())
            return None
        elapsed = time.perf_counter() - t0
        try:
            problems = check(result) if check else []
        except Exception:
            problems = [traceback.format_exc()]
        if problems:
            self._fail("; ".join(problems))
            return None
        self.times.append(elapsed)
        self.labels.append(label)
        return result

    def record_check(self, problems: list[str]) -> None:
        """Count a check made outside any timed operation (the set-up's
        output check) as one attempted operation."""
        self.attempted += 1
        if problems:
            self._fail("; ".join(problems))

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.problems.append(why)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


MAX_CONSECUTIVE_FAILURES = 3


def closed_loop(log: OpLog, next_op: Callable[[int], tuple], seconds: float) -> None:
    """One client: issue operation ``i`` only after ``i - 1`` completed,
    until ``seconds`` have passed and at least one operation ran, or until
    three operations in a row failed.  ``next_op(i)`` prepares the
    operation (untimed) and returns ``(op, check)``."""
    deadline = time.perf_counter() + seconds
    i = streak = 0
    while i == 0 or time.perf_counter() < deadline:
        op, check = next_op(i)
        failed_before = log.failed
        log.run(op, check, label=i)
        streak = streak + 1 if log.failed > failed_before else 0
        if streak >= MAX_CONSECUTIVE_FAILURES:
            break
        i += 1


def tail(values: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest percentile with at least ten
    samples above it; with ten samples or fewer, the maximum (p100)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1], n
    rank = n - 10  # 1-based nearest rank; ten samples sit above it
    return 100.0 * rank / n, xs[rank - 1], n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def snapshot(*roots: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> int:
    """Bytes of files that are new or rewritten between two snapshots."""
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


def dir_bytes(*roots: str) -> int:
    return sum(size for size, _ in snapshot(*roots).values())


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident set of this process plus the JVM, in MB."""
    import resource

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0
