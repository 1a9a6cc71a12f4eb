"""Shared pieces of the workloads: the run context, the measured loops
and the result record."""

from __future__ import annotations

import statistics
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np

from perfbench.tracing import Layers, NoPhase, Phase


def ts_literal(ms: int) -> str:
    """epoch ms → naive-UTC SQL timestamp literal (ms precision)."""
    dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    s = dt.strftime("%Y-%m-%d %H:%M:%S")
    return s + (f".{ms % 1000:03d}" if ms % 1000 else "")


def where(table: str, s: int, e: int) -> str:
    return f"FROM {table} WHERE ts >= '{ts_literal(s)}' AND ts < '{ts_literal(e)}'"


def quantile(values, q: float) -> float:
    return float(np.quantile(np.asarray(values, dtype=float), q))


@dataclass
class Result:
    """What a workload measured and checked."""

    setup_s: float = 0.0
    #: the samples the latency median is taken over (ms)
    latency_ms: list = field(default_factory=list)
    throughput: float = 0.0
    #: the per-sample values the throughput estimate is taken over
    throughput_values: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    #: (check name, passed, detail)
    checks: list = field(default_factory=list)
    #: traceback of the first failed operation, if any
    first_error: str = ""

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    @property
    def correct(self) -> bool:
        return all(ok for _, ok, _ in self.checks) and bool(self.checks)


@dataclass
class Ctx:
    """Everything a workload gets from the runner."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    work: str  # per-run scratch directory (git-ignored, removed at exit)
    layers: Layers = field(default_factory=Layers)
    #: per-phase counter values, phase name → {field: value}
    phases: dict = field(default_factory=dict)
    #: callables run at exit, last registered first
    cleanup: list = field(default_factory=list)

    def phase(self, name: str):
        if not self.trace:
            return NoPhase()
        ph = Phase(self.spark, name)
        self.phases[name] = ph
        return ph

    def deadline(self, share: float) -> float:
        return time.perf_counter() + self.seconds * share


def attempt(res: Result, fn, *args):
    """Run one measured operation; a raised error counts as failed.
    Returns (ok, value, seconds)."""
    res.attempted += 1
    t0 = time.perf_counter()
    try:
        v = fn(*args)
    except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
        res.failed += 1
        if not res.first_error:
            res.first_error = traceback.format_exc()
        return False, None, time.perf_counter() - t0
    return True, v, time.perf_counter() - t0


def overhead_pct(untraced: float, traced: float, better: str) -> float:
    """Traced minus untraced as % of untraced, positive = tracing cost."""
    if not untraced:
        return 0.0
    d = (traced - untraced) if better == "lower" else (untraced - traced)
    return 100.0 * d / untraced


def median(xs) -> float:
    return float(statistics.median(xs)) if len(xs) else 0.0
