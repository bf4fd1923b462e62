"""Pure helpers shared by the workloads: percentiles, the backlog rule,
metric-name validation and the driver-process memory sampler.

Nothing here imports Spark, so the benchmark's own tests run without a JVM.
"""

from __future__ import annotations

import os
import re
import statistics
import threading

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# A tail needs this many samples strictly beyond it (choosing-metrics §1).
TAIL_BEYOND = 10


def check_name(name: str) -> str:
    """Return ``name`` if it is a legal metric name, else raise ValueError."""
    if len(name) > 64 or not NAME_RE.fullmatch(name) or not name[0].isalnum():
        raise ValueError(f"illegal metric name {name!r}")
    return name


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Returns ``(value, percentile, n)``. The value is the order statistic with
    exactly ``TAIL_BEYOND`` samples above it, i.e. percentile
    ``100 * (n - TAIL_BEYOND) / n``. Needs ``n > TAIL_BEYOND`` samples; the
    workloads size their windows so that every tail stands above its median.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"a tail needs more than {TAIL_BEYOND} samples, got {n}")
    k = n - TAIL_BEYOND - 1
    return float(xs[k]), 100.0 * (k + 1) / n, n


def backlog_series(due: list[float], done: list[float], times: list[float]) -> list[int]:
    """Files outstanding at each instant of ``times``: due at or before the
    instant and not yet committed (``done`` is the commit time per file)."""
    return [sum(1 for d, c in zip(due, done) if d <= t < c) for t in times]


def backlog_grows(samples: list[int], slack: int = 1) -> bool:
    """The no-growing-backlog rule behind ``stream.sustained_rps``.

    ``samples`` is the backlog at evenly spaced instants over one offered-rate
    stage. Micro-batching makes a steady backlog a sawtooth, so the rule
    compares the mean of the last quarter against the *peak* of the first
    half: a stage whose backlog ends above everything it reached early on
    (plus ``slack`` files) is one the engine did not keep up with.
    """
    n = len(samples)
    if n < 4:
        raise ValueError("need at least four backlog samples per stage")
    early_peak = max(samples[: n // 2])
    late = samples[n - n // 4 :]
    return sum(late) / len(late) > early_peak + slack


class RssSampler:
    """Peak resident memory of the Python driver plus its direct children,
    which is the driver JVM, sampled from /proc.

    The JVM's own children are left out: it forks short-lived helpers
    (``chmod`` for local file permissions) whose resident size until ``exec``
    is the whole copy-on-write JVM. Sampling reads ``statm``, which is cheap;
    ``smaps_rollup`` would walk the JVM's page tables on every sample."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        me = os.getpid()
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in [me, *_children(me)]))


def _children(pid: int) -> list[int]:
    kids = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                kids.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return kids


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0
