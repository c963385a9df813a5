"""What every workload shares: the run context, the result record and
small helpers over the store directory."""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import Tracer

# Stand-in for an infinite timing in JSON output: a latency statistic
# that failures push to +inf reads as this many ms.
INF_MS = 1e9


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    nproc: int
    jvm_start_s: float
    probe: object
    tracer: Tracer | None = None
    phases: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        """A path under the run's work directory, parents made."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the run's work directory, made."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


@dataclass
class Result:
    """What a workload hands back to ``run.py``.

    ``e2e`` holds the contract's end-to-end metrics, ``named`` the same
    run under the metric names of the workload's own description
    (``query_p50_ms``, ``freshness_tail_ms``, ...), ``layers`` the
    traced run's per-layer metrics, ``checks`` every correctness check
    with its outcome."""

    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    checks: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(c["ok"] for c in self.checks.values())

    def check(self, name: str, ok: bool, **detail) -> None:
        self.checks[name] = {"ok": bool(ok), **detail}


def ms(x: float | None) -> float | None:
    if x is None:
        return None
    return INF_MS if math.isinf(x) else x * 1000.0


def timing(prefix: str, seconds: list[float], failures: int = 0) -> dict:
    """``<prefix>_p50_ms`` and ``<prefix>_tail_ms`` (with its percentile
    and sample count) of a list of durations in seconds, failures
    entering both as +inf."""
    xs = list(seconds) + [math.inf] * failures
    out = {f"{prefix}_p50_ms": {"value": ms(stats.p50(xs)), "unit": "ms",
                                "samples": len(xs)}}
    t = stats.tail(seconds, failures)
    out[f"{prefix}_tail_ms"] = (
        {"value": ms(t["value"]), "unit": "ms", "percentile": t["percentile"],
         "samples": t["samples"]}
        if t else {"value": None, "unit": "ms", "samples": len(xs),
                   "note": f"fewer than {stats.TAIL_BEYOND + 1} samples"}
    )
    return out


def store_stats(view_dir: str) -> dict:
    files = bytes_ = 0
    parts = set()
    for root, _, names in os.walk(view_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                bytes_ += os.path.getsize(os.path.join(root, n))
                parts.add(root)
    return {"files": files, "bytes": bytes_, "partitions": len(parts)}


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
