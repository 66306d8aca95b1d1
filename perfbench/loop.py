"""Closed-loop call recorder and the summary statistics the benchmark reports.

One client: each engine call starts only after the previous one returned
and its answer was checked. The call itself is timed; the answer check
runs after the clock stops. An exception or a wrong answer both count as
a failed call.

The host this runs on is shared, and its speed drifts by tens of percent
between runs. So a fixed few-millisecond slice of interpreter and numpy
work (``host_probe_ms``) is timed before each set-up phase and before
each call, never right after one, and the run's times are also reported
scaled by one factor for the whole run: ``REF_PROBE_MS`` over the median
probe. A call's own time never feeds the probe that scales it alone.
Background work a call leaves running when it returns slows the next
probe only if it also overlaps the next timed call. The raw times are
kept beside the scaled ones.
"""

from __future__ import annotations

import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np


# the probe's median time on this benchmark's reference host (4 vCPUs,
# otherwise idle)
REF_PROBE_MS = 4.0


@dataclass
class Call:
    kind: str
    seconds: float
    ok: bool
    error: str = ""
    timed: bool = True  # False for a check of set-up work, not a timed call


@dataclass
class Recorder:
    """Times engine calls and checks their answers.

    ``tracer`` (spans.Tracer), when set, wraps each call in a span named
    after the call's kind."""

    tracer: object = None
    calls: list[Call] = field(default_factory=list)
    probes: list[float] = field(default_factory=list)  # host_probe_ms samples

    def probe(self) -> None:
        self.probes.append(host_probe_ms())

    @property
    def scale(self) -> float:
        """Factor that scales this run's times to the reference host."""
        return REF_PROBE_MS / statistics.median(self.probes)

    def call(self, kind: str, fn, check=None):
        """Run ``fn()`` timed, then ``check(result)`` untimed.

        ``check`` returns True for a right answer; False or an exception
        marks the call failed. Returns fn's result (None when it raised)."""
        span = self.tracer.span(kind) if self.tracer is not None else nullcontext()
        error = ""
        out = None
        self.probe()
        t0 = time.perf_counter()
        try:
            with span:
                out = fn()
        except Exception:
            error = _last_line()
        seconds = time.perf_counter() - t0
        if not error and check is not None:
            error = _check(check, out)
        self.calls.append(Call(kind, seconds, not error, error))
        return out

    def verify(self, kind: str, check) -> None:
        """Check untimed set-up work (``check()`` returns True when it is
        right); a wrong result counts as a failed, untimed call."""
        error = _check(lambda _: check(), None)
        self.calls.append(Call(kind, 0.0, not error, error, timed=False))

    # ------------------------------------------------------------ summaries
    def seconds(self, kind: str | None = None, scaled: bool = False) -> list[float]:
        f = self.scale if scaled else 1.0
        return [
            c.seconds * f
            for c in self.calls
            if c.timed and (kind is None or c.kind == kind)
        ]

    @property
    def attempted(self) -> int:
        return len(self.calls)

    @property
    def failed(self) -> int:
        return sum(not c.ok for c in self.calls)

    def failures(self) -> list[str]:
        return [f"{c.kind}: {c.error}" for c in self.calls if not c.ok]


def _last_line() -> str:
    return traceback.format_exc(limit=2).strip().splitlines()[-1]


def _check(check, out) -> str:
    """'' when ``check(out)`` is true, else why it failed."""
    try:
        return "" if check(out) else "wrong answer"
    except Exception:
        return "check raised: " + _last_line()


_PROBE_DATA = np.random.default_rng(0).random(20_000)


def host_probe_ms() -> float:
    """Wall time of a fixed slice of interpreter and numpy work: how fast
    this host runs right now."""
    t0 = time.perf_counter()
    x = 0
    for i in range(50_000):
        x += i * i
    np.sort(_PROBE_DATA)
    return 1000.0 * (time.perf_counter() - t0)


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, n) or None when there are 10 samples or
    fewer (no percentile has 10 samples above it)."""
    n = len(values)
    if n <= 10:
        return None
    s = sorted(values)
    return s[n - 11], 100.0 * (n - 10) / n, n
