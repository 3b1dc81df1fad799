"""Spark-free core of the benchmark: pass runner, statistics, host
counters and the result line.

Everything here works on plain callables, so the benchmark's own
tests exercise it without starting a JVM.
"""

from __future__ import annotations

import json
import random
import re
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Iterable, Optional

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@dataclass
class Op:
    """One timed operation of a workload.

    ``run`` executes the operation to completion (a query ends in the
    ``noop`` sink) and returns a value the check may look at.
    ``check``, if set, validates that value outside the timed region
    and raises ``AssertionError`` on a mismatch.
    """
    name: str
    run: Callable[[], object]
    check: Optional[Callable[[object], None]] = None


@dataclass
class PassResult:
    wall_s: float
    op_s: dict[str, float] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    check_s: float = 0.0


class Tally:
    """Operations attempted and failed over one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded permutation of ``names`` for one pass.

    The seed and the pass number pick the order; the multiset of
    operations never changes.
    """
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def run_pass(ops: Iterable[Op], tally: Optional[Tally] = None,
             clock: Callable[[], float] = time.perf_counter) -> PassResult:
    """Run ``ops`` in order, timing each one and the whole pass.

    A raising operation is recorded as failed and the pass goes on.
    Checks run after the operation's timer stops, and their time is
    taken out of the pass's wall time.
    """
    res = PassResult(wall_s=0.0)
    t_pass = clock()
    for op in ops:
        t = clock()
        try:
            out = op.run()
            ok = True
        except Exception:  # a failing op is a measured outcome
            out = None
            ok = False
            res.failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
        dt = clock() - t
        if ok:
            res.op_s[op.name] = dt
        if tally is not None:
            tally.add(ok, op.name)
        if ok and op.check is not None:
            t = clock()
            try:
                op.check(out)
                passed = True
            except AssertionError as e:
                passed = False
                res.failures.append(f"{op.name} check: {e}")
            res.check_s += clock() - t
            if tally is not None:
                tally.add(passed, f"{op.name} check")
    res.wall_s = clock() - t_pass - res.check_s
    return res


def percentile(values: list[float], q: float) -> Optional[float]:
    """The upper ``q`` quantile (0.5 < q < 1), or None unless at least
    ten samples lie above it."""
    if not 0.5 < q < 1.0:
        raise ValueError("an upper-tail quantile lies strictly between 0.5 and 1")
    n = len(values)
    if round(n * (1.0 - q), 9) < 10:
        return None
    s = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def read_cpu_times(path: str = "/proc/stat") -> Optional[tuple[int, int]]:
    """(steal, total) jiffies of the aggregate cpu line, or None where
    the file does not exist."""
    try:
        with open(path) as f:
            fields = f.readline().split()
    except OSError:
        return None
    vals = [int(x) for x in fields[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    total = sum(vals[:8])
    steal = vals[7] if len(vals) > 7 else 0
    return steal, total


def steal_pct(before: Optional[tuple[int, int]],
              after: Optional[tuple[int, int]]) -> float:
    if before is None or after is None or after[1] <= before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def check_names(names: Iterable[str]) -> None:
    for n in names:
        if not NAME_RE.match(n):
            raise ValueError(f"bad metric or workload name: {n!r}")


def result_line(attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    """The benchmark's last stdout line."""
    check_names(metrics)
    if attempted < 1:
        raise ValueError("a run attempts at least one operation")
    return json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
