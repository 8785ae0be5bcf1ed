"""Operation accounting shared by the workloads."""

from __future__ import annotations

import sys
import time
import traceback

def measuring(seconds: float, min_cycles: int):
    """Yield once per measured cycle: whole cycles until ``seconds`` have
    passed, and at least ``min_cycles``. A workload's minimum spans more
    than ``run_seconds``, so every run's medians rest on the same number of
    samples."""
    t_start = time.perf_counter()
    n = 0
    while n < min_cycles or time.perf_counter() - t_start < seconds:
        yield n
        n += 1


class Ops:
    """Counts attempted and failed operations. An operation that raises, or
    whose output fails its check, counts as failed; neither stops the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wrong = 0

    def run(self, label: str, fn):
        """``(fn(), seconds)``, or ``(None, None)`` when ``fn`` raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception:
            self.failed += 1
            print(f"vbench: {label} failed", file=sys.stderr)
            traceback.print_exc()
            return None, None
        return value, time.perf_counter() - t0

    def check(self, label: str, problem: str | None) -> None:
        """Record the outcome of an output check (``problem`` None = correct)."""
        if problem is not None:
            self.failed += 1
            self.wrong += 1
            print(f"vbench: wrong output from {label}: {problem}", file=sys.stderr)

    def result(self, metrics: dict) -> dict:
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
