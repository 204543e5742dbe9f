"""Measurement core, independent of Spark: spans, the closed loop,
percentiles and process-tree memory.

Nothing here imports Spark or the program under test, so the
self-checks in ``test_perfbench.py`` run without either.
"""

from __future__ import annotations

import math
import os
import signal
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

#: percentile reported as the tail (nearest rank, see :func:`tail`)
TAIL_PCT = 90.0


@dataclass(frozen=True)
class Op:
    """One step of a workload's fixed per-pass sequence."""

    name: str  # op type, e.g. "pu.traditional_lr" or "q1_pricing_summary"
    kind: str  # group used by workload metrics, e.g. "commit" / "read"
    fn: Callable[[], object]


@dataclass
class Sample:
    name: str
    kind: str
    pass_no: int
    start: float  # time.time(), comparable with Spark's job timestamps
    seconds: float
    error: str | None = None

    @property
    def latency(self) -> float:
        """Seconds, with a failed op counted as missing every limit."""
        return math.inf if self.error else self.seconds


class Workload:
    """Interface of a workload; the hooks after :meth:`check` default to
    doing nothing."""

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self, round_dir: str) -> None:
        """One set-up round: make the inputs from the seed."""
        raise NotImplementedError

    def warmup_streams(self) -> list[list[Op]]:
        """Op sequences run side by side, once, during set-up; together
        they call every op type once.  Side by side, one sequence's
        one-off costs (first jobs, class loading, Python worker start-up)
        overlap another's."""
        raise NotImplementedError

    def ops(self) -> list[Op]:
        """The fixed op sequence of one measured pass."""
        raise NotImplementedError

    def check(self) -> list[str]:
        """Output problems found (empty when correct); Spark is still up."""
        raise NotImplementedError

    def metrics(self, samples: list) -> dict:
        """The workload's own end-to-end metrics."""
        return {}

    def instrument(self, tracer: "Tracer") -> None:
        """Traced run only: patch this workload's layer functions."""

    def after_op(self, sample: "Sample") -> None:
        """After each measured op, outside its timing."""

    def after_pass(self) -> None:
        """After each measured pass, outside its timing."""

    def layer_metrics(self, tracer: "Tracer", samples: list, jobs: list) -> dict:
        return {}


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p`` %
    of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values, p: float = TAIL_PCT) -> tuple[float, float, int, int]:
    """``(value, percentile, n, beyond)``: the nearest-rank ``p``
    percentile of ``values``, their count, and how many lie strictly
    above it.  The percentile is fixed rather than picked by sample
    count, so runs that fit one pass more or less report the same
    quantile."""
    xs = sorted(values)
    v = percentile(xs, p)
    return v, p, len(xs), sum(1 for x in xs if x > v)


def run_loop(ops: list[Op], seconds: float, on_op=None) -> list[Sample]:
    """Closed loop with one client: run the whole ``ops`` sequence, pass
    after pass, while another pass as long as the last one still fits in
    ``seconds`` (so every run holds whole passes, at least one).  An op
    that raises is recorded as failed and the loop goes on.
    ``on_op(op, sample)`` runs after each op, outside its timing."""
    samples: list[Sample] = []
    t0 = time.perf_counter()
    pass_no = 0
    while True:
        t_pass = time.perf_counter()
        for op in ops:
            wall = time.time()
            s = time.perf_counter()
            err = None
            try:
                op.fn()
            except Exception as exc:  # boundary: count it and keep going
                err = f"{type(exc).__name__}: {exc}"[:300]
                traceback.print_exc(file=sys.stderr)
            sample = Sample(op.name, op.kind, pass_no, wall, time.perf_counter() - s, err)
            samples.append(sample)
            if on_op is not None:
                on_op(op, sample)
        pass_no += 1
        now = time.perf_counter()
        if now - t0 + (now - t_pass) > seconds:
            return samples


def failure_counts(samples: list[Sample]) -> tuple[int, int]:
    """``(attempted, failed)`` ops."""
    return len(samples), sum(1 for s in samples if s.error)


def op_medians(samples: list[Sample]) -> dict[str, float]:
    """Median latency of each op type.  A median per type is not moved
    by one slow call, and it weighs every type once whatever the number
    of passes."""
    by_name: dict[str, list[float]] = defaultdict(list)
    for s in samples:
        by_name[s.name].append(s.latency)
    return {k: statistics.median(v) for k, v in by_name.items()}


def pass_seconds(samples: list[Sample]) -> float:
    """Seconds of one typical pass: each op type's median, summed."""
    return sum(op_medians(samples).values())


def latency_summary(samples: list[Sample], prefix: str) -> dict[str, float]:
    """``<prefix>_p50`` (the median op type's median latency),
    ``<prefix>_tail`` (:func:`tail` over every sample) and the tail's
    percentile, sample count and samples beyond it."""
    v, p, n, beyond = tail([s.latency for s in samples])
    return {
        f"{prefix}_p50": statistics.median(op_medians(samples).values()),
        f"{prefix}_tail": v,
        f"{prefix}_tail_pct": p,
        f"{prefix}_tail_n": n,
        f"{prefix}_tail_beyond": beyond,
    }


# -- spans ---------------------------------------------------------------


SPAN_FIELDS = ("name", "start", "end", "parent", "op")


class Tracer:
    """Spans kept in memory: ``[name, start, end, parent index, op id]``,
    times in epoch seconds so they line up with Spark's job timestamps.

    A disabled tracer records nothing, so the untraced run pays one
    attribute test per span site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._undo: list[Callable[[], None]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.time(), None, parent, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.time()
            self._stack.pop()

    def patch(self, owner, attr: str, span_name: str, on_return=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span
        (``on_return(result)`` sees each result); undone by
        :meth:`unpatch_all`."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(span_name):
                out = original(*args, **kwargs)
            if on_return is not None:
                on_return(out)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append(lambda: setattr(owner, attr, original))

    def unpatch_all(self) -> None:
        while self._undo:
            self._undo.pop()()

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name: duration minus the time its
        child spans cover (children are nested and sequential)."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent, _ in self.spans:
            if parent is not None and e is not None:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (name, s, e, _, _) in enumerate(self.spans):
            if e is not None:
                out[name] += (e - s) - child[i]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _, _ in self.spans if n == name and e is not None]

    def count(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)


# -- memory --------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(b")") + 2 :].split()
        out[int(d)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, parent in _ppid_map().items():
        kids[parent].append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the Python
    driver, the JVM it launched and the JVM's Python workers), each
    shared page split between the processes that map it (``Pss``).
    Plain RSS counts a page once per process: the forked Python workers
    and a JVM caught mid-spawn (a second copy of its whole heap) put
    30-40 % of noise into the peak."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def reap_children(timeout: float) -> list[int]:
    """Wait up to ``timeout`` seconds for every descendant process to
    end, then kill what is left; returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = descendants(os.getpid())
        if not left:
            return []
        time.sleep(0.2)
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return left


class RssSampler:
    """Background thread recording the peak of :func:`tree_rss_bytes`."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
