"""Sample statistics, failure accounting, memory sampling and child-process
clean-up for the benchmark.

Everything here is pure Python with no Spark dependency, so the helpers
are unit-tested on their own (``perfbench/tests``).
"""

from __future__ import annotations

import ctypes
import math
import os
import signal
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

# samples a reported percentile must leave above it
MIN_BEYOND = 10
MEMORY_SAMPLE_S = 0.1  # interval of the process-tree memory sampler
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not samples:
        raise ValueError("percentile of an empty sample")
    xs = sorted(samples)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the ``q``-th percentile."""
    return n - math.ceil(n * q / 100.0)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it, as ``(q, value)``; None when even p50 has too few."""
    for q in TAIL_CANDIDATES:
        if samples_beyond(len(samples), q) >= MIN_BEYOND:
            return q, percentile(samples, q)
    return None


@dataclass
class Outcomes:
    """Operations attempted and failed. An operation fails when it raises
    or when any of its correctness checks reports a problem."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{label}: {p}" for p in problems)

    def run(self, label: str, fn, check):
        """Run ``fn()``, then ``check(result)``, which returns one list of
        problems per operation the result covers; record every outcome.
        Returns the result, or None when ``fn`` raised."""
        try:
            result = fn()
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.record(label, ["raised " + traceback.format_exc(limit=1).strip()])
            return None
        try:
            per_op = check(result)
        except Exception:  # noqa: BLE001 - a crashing check fails its operation
            traceback.print_exc(file=sys.stderr)
            per_op = [["check raised " + traceback.format_exc(limit=1).strip()]]
        for problems in per_op:
            self.record(label, problems)
        return result

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# -- process-tree memory ------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces: the ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes sharing it (so forked Python workers count once)."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and its descendants."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue  # exited while sampling
    return total


class PeakMemory:
    """Background sampler of the process tree's summed PSS; use as a
    context manager around the timed phase and read ``peak_bytes``."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(MEMORY_SAMPLE_S):
            self._sample()

    def __enter__(self) -> "PeakMemory":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# -- child processes ----------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def become_subreaper() -> None:
    """Adopt every orphaned descendant, such as the Python workers of a JVM
    that has already exited, so that :func:`reap_children` waits for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_children(timeout_s: float) -> None:
    """Wait until every child process has exited and been reaped; kill the
    ones still running after ``timeout_s`` (their own children are then
    adopted and killed in turn)."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _children_map().get(os.getpid(), []):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
