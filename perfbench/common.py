"""Shared pieces of the benchmark workloads: the run context, op records
and order statistics."""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass, field
from typing import Any

@dataclass
class Op:
    """One timed operation of a closed-loop workload."""

    kind: str
    seconds: float
    ok: bool
    t0_epoch: float = 0.0
    t1_epoch: float = 0.0
    note: str = ""


@dataclass
class RunContext:
    spark: Any
    sf_dir: str
    work_dir: str
    seed: int
    seconds: float
    process_t0: float
    master: str = ""
    default_parallelism: int = 0
    tracer: Any = None
    wrong_expected: bool = False
    ops: list[Op] = field(default_factory=list)
    # checks made outside the timers; a False entry fails the run
    checks: dict[str, bool] = field(default_factory=dict)
    setup_s: float = 0.0
    # per-layer metrics the workload reports for the traced run
    layer: dict[str, float] = field(default_factory=dict)

    def timed(self, kind: str, fn, check=None) -> Any:
        """Run ``fn`` as one op; ``check(result)`` runs after the timer
        stops and returns True, or False or a reason string for a wrong
        output. An exception or a wrong output marks the op failed."""
        e0 = time.time()
        t0 = time.perf_counter()
        ok, out, note = True, None, ""
        try:
            if self.tracer is None:
                out = fn()
            else:
                with self.tracer.span("op", kind):
                    out = fn()
        except Exception as exc:  # noqa: BLE001 — counted as a failed op
            ok, note = False, f"{type(exc).__name__}: {exc}"[:300]
        t1 = time.perf_counter()
        e1 = time.time()
        if ok and check is not None:
            try:
                verdict = check(out)
                ok = verdict is True
                note = "" if ok else str(verdict or "")
            except Exception as exc:  # noqa: BLE001
                ok, note = False, f"check raised {type(exc).__name__}: {exc}"[:300]
            if not ok and not note:
                note = "wrong output"
        self.ops.append(Op(kind, t1 - t0, ok, e0, e1, note))
        return out

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.process_t0

    def units(self, fixed: int | None, minimum: int):
        """Indices of the timed units (rounds, batches): exactly ``fixed``
        when given, else whole units until ``seconds`` have passed and at
        least ``minimum`` ran."""
        t_start = time.perf_counter()
        n = 0
        while n < (fixed or minimum) or (
            not fixed and time.perf_counter() - t_start < self.seconds
        ):
            yield n
            n += 1


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
