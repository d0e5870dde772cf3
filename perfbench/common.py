"""Run state shared by the workloads: timed operations, untimed work,
request ids and the latency summaries."""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager

from spans import Tracer


class Run:
    def __init__(self, seed: int, seconds: int, tracer: Tracer, workdir: str):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.workdir = workdir
        self.ops: list[dict] = []
        self.untimed_s = 0.0
        self.info: dict = {}
        self._rid = 0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def next_rid(self) -> int:
        self._rid += 1
        return self._rid

    @contextmanager
    def op(self, kind: str):
        """One timed operation. An exception inside counts it as failed
        and is not re-raised, so the closed loop goes on."""
        rec = {"kind": kind, "ok": True}
        t = time.perf_counter()
        try:
            yield rec
        except Exception as e:  # noqa: BLE001 - every failure is counted
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
        finally:
            rec["s"] = time.perf_counter() - t
            self.ops.append(rec)

    @staticmethod
    def fail(rec: dict, why: str) -> None:
        if rec["ok"]:
            rec["ok"] = False
            rec["error"] = f"output check: {why}"[:400]

    @contextmanager
    def untimed(self):
        """Checks and oracles: kept out of setup_s and of every op."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t

    def of_kind(self, kind: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind]


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it, never below the median (with 20 samples or fewer the
    tail is the median)."""
    if n <= 0:
        return 50
    return max(50, math.floor(100 * (1 - 10 / n)))


def nearest_rank(values: list[float], pct: int) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]


def latency_summary(values: list[float]) -> dict:
    pct = tail_percentile(len(values))
    return {
        "latency_p50_s": statistics.median(values) if values else 0.0,
        "latency_tail_s": nearest_rank(values, pct) if values else 0.0,
        "tail_pct": pct,
        "samples": len(values),
    }
