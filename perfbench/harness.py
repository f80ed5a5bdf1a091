"""Closed-loop operation runner, failure attribution, statistics and the
result line.

One client in one process issues operations back to back: each starts only
after the previous one has finished. Every operation is wrapped, so an
exception is recorded against the workload and operation that raised it
instead of ending the run; output checks run after the timed region and mark
the operation they check as failed when its output is wrong.
"""

from __future__ import annotations

import json
import math
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

# End-to-end metrics every workload reports with tracing off: name -> unit.
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "op/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}

TAIL_SAMPLES = 10  # samples a reported percentile needs beyond it


class JvmDied(RuntimeError):
    """The Spark JVM stopped answering while an operation ran."""


def _jvm_gone(exc: BaseException) -> bool:
    """True for the errors py4j raises once the gateway's JVM is dead."""
    names = {type(e).__name__ for e in _chain(exc)}
    return bool(names & {"Py4JNetworkError", "ConnectionRefusedError",
                         "ConnectionResetError", "BrokenPipeError"})


def _chain(exc: BaseException):
    while exc is not None:
        yield exc
        exc = exc.__cause__ or exc.__context__


@dataclass
class Op:
    op_id: str
    kind: str
    seconds: float
    error: str | None = None  # exception class, or "WrongResult: ..."


@dataclass
class Loop:
    """Runs and records the operations of one workload run."""

    workload: str
    tracer: object
    ops: list[Op] = field(default_factory=list)

    def run(self, kind: str, fn: Callable[[], object]) -> tuple[Op, object]:
        """Run one timed operation; returns its record and its value (None
        when it raised). A dead JVM ends the run with ``JvmDied``."""
        op = Op(f"{self.workload}:{len(self.ops)}:{kind}", kind, 0.0)
        self.ops.append(op)
        value = None
        self.tracer.begin_op(op.op_id)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                value = fn()
        except Exception as exc:  # noqa: BLE001 - every failure is attributed
            op.error = type(exc).__name__
            if _jvm_gone(exc):
                op.seconds = time.perf_counter() - t0
                raise JvmDied(op.op_id) from exc
        op.seconds = time.perf_counter() - t0
        self.tracer.end_op(op.op_id)
        return op, value

    def mark_wrong(self, op: Op, reason: str) -> None:
        """Record a failed output check against ``op`` (first reason wins)."""
        if op.error is None:
            op.error = f"WrongResult: {reason}"

    @property
    def failed(self) -> list[Op]:
        return [o for o in self.ops if o.error is not None]


def run_for(seconds: float, step: Callable[[], None]) -> float:
    """Call ``step`` (one whole pass or round of operations) until
    ``seconds`` of wall time have passed, at least once; returns the wall
    time of the timed region. Whole steps keep the mix of operations the
    same in every run."""
    t0 = time.perf_counter()
    while True:
        step()
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            return elapsed


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile (0 < q < 1): a weighted
    mean of all order statistics with Beta((n+1)q, (n+1)(1-q)) weights.

    A run holds a few dozen operations of a dozen kinds whose latencies form
    clusters; the plain sample quantile jumps between clusters from run to
    run, while this estimate moves smoothly with them."""
    xs = np.sort(np.asarray(values, dtype=np.float64))
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    a, b = q * (n + 1), (1 - q) * (n + 1)
    # Beta CDF at i/n, i = 0..n, by the midpoint rule on a fine grid (the
    # density may be infinite at 0 or 1 but is integrable there)
    steps = 2000
    t = (np.arange(steps * n) + 0.5) / (steps * n)
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])[::steps]
    return float(np.diff(cdf / cdf[-1]) @ xs)


def samples_beyond(n: int, q: float) -> int:
    """Samples that lie beyond the ``q`` quantile of ``n`` samples."""
    return n - math.ceil(q * n - 1e-9)


def supported(n: int, q: float) -> bool:
    """A percentile is supported when at least ``TAIL_SAMPLES`` samples lie
    beyond it: p90 needs 100 samples."""
    return samples_beyond(n, q) >= TAIL_SAMPLES


def rss_peak_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def summarize(loop: Loop, wall_s: float, setup_s: float, rss_mb: float) -> dict:
    """End-to-end metric values plus the accounting printed beside them."""
    lat = [o.seconds for o in loop.ops]
    failed = loop.failed
    done = len(lat) - len(failed)
    return {
        "metrics": {
            "setup_s": setup_s,
            "ops_per_s": done / wall_s,
            "latency_p50_s": percentile(lat, 0.5),
            "latency_p90_s": percentile(lat, 0.9),
            "peak_rss_mb": rss_mb,
        },
        # an operation that raised is as wrong as one whose output is wrong
        "correct": not failed,
        "attempted": len(lat),
        "failed": len(failed),
        "error_rate": len(failed) / len(lat),
        "p90_samples": len(lat),
        "p90_samples_beyond": samples_beyond(len(lat), 0.9),
        "p90_supported": supported(len(lat), 0.9),
        "mean_s_by_kind": {
            k: sum(o.seconds for o in loop.ops if o.kind == k)
            / sum(1 for o in loop.ops if o.kind == k)
            for k in dict.fromkeys(o.kind for o in loop.ops)
        },
        "failures": [
            {"workload": loop.workload, "op": o.op_id, "error": o.error}
            for o in failed
        ],
    }


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, float], units: dict[str, str]) -> str:
    """The last stdout line: exactly correct/attempted/failed/metrics."""
    missing = set(units) - set(metrics)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(metrics[name]), "unit": units[name]}
            for name in units
        },
    })


def dir_bytes(root: str) -> int:
    """Bytes of the data files under ``root`` (hidden files excluded)."""
    total = 0
    for base, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(base, f))
    return total


def data_files(root: str) -> int:
    """Number of parquet data files under ``root``."""
    return sum(
        1 for _b, _d, files in os.walk(root)
        for f in files if f.endswith(".parquet")
    )
