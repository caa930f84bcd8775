"""Closed-loop measurement: one client runs whole units until the
window is used, timing every op and checking its output."""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass

import proc
import stats

# a run never measures past this, whatever the window (the benchmark
# must exit within 180 s)
HARD_STOP_S = 110.0


@dataclass
class OpRecord:
    unit: int
    name: str
    latency_s: float
    cpu_s: float
    ok: bool
    error: str | None = None
    cpu_roles: dict | None = None


def measure(workload, tracer, seconds: float, run=None) -> list[OpRecord]:
    """Run units ``0, 1, ...``. Another unit starts
    only while it is expected to end within half a unit of the window,
    so every run measures a whole number of units (the same op
    multiset) as close to ``seconds`` as units allow. ``run`` replaces
    :func:`run_op` (the traced window wraps it)."""
    run = run or run_op
    records: list[OpRecord] = []
    t0 = time.monotonic()
    k = 0
    while True:
        for op in workload.unit(k):
            records.append(run(op, k, tracer))
        k += 1
        elapsed = time.monotonic() - t0
        mean_unit = elapsed / k
        if elapsed + mean_unit / 2 > seconds or elapsed + mean_unit > HARD_STOP_S:
            return records


def run_op(op, unit: int, tracer) -> OpRecord:
    """Time ``op.run`` (and its process-tree CPU), then check its result
    outside the timing. An exception or a wrong result fails the op."""
    tracer.op = tracer.op + 1 if tracer.op is not None else 0
    cpu0 = proc.cpu_by_role()
    t0 = time.monotonic()
    try:
        with tracer.span("op"):
            result = op.run()
    except Exception as e:  # noqa: BLE001 - a failing op is a measured outcome
        return OpRecord(unit, op.name, time.monotonic() - t0, 0.0, False,
                        "".join(traceback.format_exception_only(e)).strip()[-500:])
    latency = time.monotonic() - t0
    cpu = {k: v - cpu0.get(k, 0.0) for k, v in proc.cpu_by_role().items()}
    try:
        ok = bool(op.check(result))
        err = None if ok else "output differs from the expected result"
    except Exception as e:  # noqa: BLE001
        ok, err = False, "".join(traceback.format_exception_only(e)).strip()[-500:]
    return OpRecord(unit, op.name, latency, sum(cpu.values()), ok, err, cpu)


def end_to_end(records: list[OpRecord], setup_s: float, peak_rss: int) -> dict:
    """The user-visible metrics of one window. Failed ops count in
    ``attempted``/``failed`` and are left out of the latencies, which
    are None when every op failed."""
    good = [r.latency_s for r in records if r.ok]
    pct, tail = stats.tail(good) if good else (None, None)
    busy = sum(r.latency_s for r in records)
    return {
        "setup_s": setup_s,
        "throughput_ops_per_min": 60.0 * len(good) / busy,
        "latency_p50_s": stats.median(good) if good else None,
        "latency_tail_s": tail,
        "cpu_s_per_op": sum(r.cpu_s for r in records) / len(records),
        "peak_rss_mb": peak_rss / 2**20,
        "tail_percentile": pct,
    }
