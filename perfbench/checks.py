"""Correctness gate: every write step, read step and check is one
operation; the run's ``failed`` / ``attempted`` come from here."""

from __future__ import annotations

import math
import sys
import traceback

import numpy as np

QS = (0.01, 0.1, 0.5, 0.9, 0.99)
# published-bound tolerances, as the kernels' own tests assert them:
# HLL within 3 standard errors 1.04/sqrt(m); KLL (k=200) and t-digest
# (delta=200) within 0.02 normalized rank
HLL_SIGMAS = 3.0
RANK_BOUND = 0.02
RECALL_FLOOR = 0.95  # LSH b=32, r=2 misses a J=0.5 pair with p=(3/4)^32


def hll_bound(p: int) -> float:
    return HLL_SIGMAS * 1.04 / math.sqrt(1 << p)


def rank_error(sorted_vals: np.ndarray, estimate: float, q: float) -> float:
    """Distance from ``q`` to the exact rank interval of ``estimate``
    (ties in integer data make the exact rank an interval)."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, estimate, side="left") / n
    hi = np.searchsorted(sorted_vals, estimate, side="right") / n
    return float(max(lo - q, q - hi, 0.0))


class OperationFailed(Exception):
    """A write or read step raised; :meth:`Gate.run` has already counted
    and printed it, so whoever ends the run must not count it again."""


class Gate:
    """Counts operations and failures. A failed check never raises: it
    is recorded (and printed to stderr) so the run still reports."""

    def __init__(self, verbose: bool = True):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.verbose = verbose

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
            if self.verbose:
                print(f"[perfbench] check failed: {name}: {detail}", file=sys.stderr)
        return bool(ok)

    def equal(self, name: str, got, want) -> bool:
        return self.check(name, got == want, f"got {got!r}, want {want!r}")

    def within(self, name: str, err: float, bound: float) -> bool:
        return self.check(name, err <= bound, f"error {err:.6g} > bound {bound:.6g}")

    def run(self, name: str, fn, *args, **kwargs):
        """Run one operation (a write or read step). An exception counts
        as a failed operation and ends the pass loop as
        :class:`OperationFailed`."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            print(f"[perfbench] operation failed: {name}", file=sys.stderr)
            traceback.print_exc()
            raise OperationFailed(name) from exc

    @property
    def correct(self) -> bool:
        return self.failed == 0

    def self_check(self) -> None:
        """Feed a deliberately wrong expected value to a private gate; the
        gate is only trusted if it records that as a failure."""
        probe = Gate(verbose=False)
        probe.equal("self-check", 41, 42)
        probe.within("self-check", 0.5, 0.1)
        self.check(
            "gate self-check", probe.failed == 2 and not probe.correct,
            f"a wrong expected value was not counted (failed={probe.failed})",
        )
