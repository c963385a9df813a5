"""Pure measurement helpers: medians, the tail rule and open- and
closed-loop timing. No Spark, no I/O, so the tests cover them
directly."""

from __future__ import annotations

import math
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

# A timing's tail is the highest percentile with at least this many
# samples beyond it.
TAIL_BEYOND = 10


def p50(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail(values: list[float], failures: int = 0) -> dict | None:
    """Highest percentile of ``values`` with at least
    :data:`TAIL_BEYOND` samples beyond it. Each failure is one more
    sample at +inf, because a failed or refused operation misses every
    latency limit. Returns ``None`` when the samples cannot support
    any such percentile."""
    xs = sorted(values) + [math.inf] * failures
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    i = n - TAIL_BEYOND - 1
    return {
        "value": xs[i],
        "percentile": round(100.0 * (i + 1) / n, 2),
        "samples": n,
    }


@dataclass
class Outcome:
    """One open- or closed-loop operation. ``due`` is when the schedule
    wanted it sent, ``sent`` when a worker picked it up, ``done`` when
    its reply arrived; all on the ``time.perf_counter`` clock."""

    index: int
    due: float
    sent: float
    done: float
    ok: bool
    result: object = None

    @property
    def latency(self) -> float:
        """Time from due, not from sent: a stall delays every later
        request, and that wait is part of what a user sees."""
        return self.done - self.due

    @property
    def late(self) -> float:
        return self.sent - self.due


def due_times(start: float, rate: float, count: int) -> list[float]:
    """Fixed-rate schedule: operation ``i`` is due at start + i/rate."""
    return [start + i / rate for i in range(count)]


def run_open_loop(
    op: Callable[[int], object],
    rate: float,
    seconds: float,
    workers: int,
) -> list[Outcome]:
    """Issue ``op(i)`` at ``rate`` per second for ``seconds``, whether or
    not earlier operations have finished, on at most ``workers``
    concurrent workers. An operation that finds every worker busy
    waits for one, and that wait counts in its latency. ``op`` returns
    its result or raises; a raise is a failure."""
    clock = time.perf_counter
    count = max(1, int(round(rate * seconds)))
    start = clock() + 0.05
    schedule = due_times(start, rate, count)
    out: list[Outcome] = []
    lock = threading.Lock()

    def run(i: int, due: float) -> None:
        sent = clock()
        try:
            res, ok = op(i), True
        except Exception as e:  # counted, never retried
            res, ok = repr(e), False
        done = clock()
        with lock:
            out.append(Outcome(i, due, sent, done, ok, res))

    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = []
        for i, due in enumerate(schedule):
            wait = due - clock()
            if wait > 0:
                time.sleep(wait)
            futures.append(pool.submit(run, i, due))
        for f in futures:
            f.result()
    return sorted(out, key=lambda o: o.index)


def run_closed_loop(
    op: Callable[[int], object],
    seconds: float,
    clients: int,
) -> tuple[list[Outcome], float]:
    """``clients`` callers that each send their next operation when the
    previous reply arrives, until ``seconds`` have passed. Returns the
    outcomes and the elapsed wall time up to the last reply."""
    clock = time.perf_counter
    counter = iter(range(1 << 62))
    lock = threading.Lock()
    out: list[Outcome] = []
    start = clock()
    stop = start + seconds

    def client() -> None:
        while clock() < stop:
            with lock:
                i = next(counter)
            sent = clock()
            try:
                res, ok = op(i), True
            except Exception as e:
                res, ok = repr(e), False
            done = clock()
            with lock:
                out.append(Outcome(i, sent, sent, done, ok, res))

    with ThreadPoolExecutor(max_workers=clients) as pool:
        for f in [pool.submit(client) for _ in range(clients)]:
            f.result()
    elapsed = max((o.done for o in out), default=clock()) - start
    return sorted(out, key=lambda o: o.index), elapsed
