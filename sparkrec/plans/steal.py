"""Hypervisor-steal sampling for benchmark windows.

On a shared virtual machine the dominant noise is hypervisor steal,
invisible to loadavg, and it taxes wide phases harder than narrow ones
(CLAUDE.md "Measurement gotchas"). A benchmark record that carries its
own steal trace explains its outliers; the scaling bench also gates its
trials on it (jobs/bench_scaling.py).
"""

from __future__ import annotations

import os
import threading
import time


def _steal_jiffies() -> int:
    """Stolen jiffies of the aggregate cpu line of /proc/stat (field 8)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class StealSampler(threading.Thread):
    """Stolen-vCPU trace (one sample per ``period`` seconds) for one
    window: ``start()`` opens it, ``stop()`` closes it and summarizes."""

    def __init__(self, period: float = 1.0):
        super().__init__(daemon=True)
        self.period = period
        self.trace: list[float] = []
        self._halt = threading.Event()
        self._hz = os.sysconf("SC_CLK_TCK")

    def run(self):
        prev_j, prev_t = _steal_jiffies(), time.monotonic()
        while not self._halt.wait(self.period):
            j, t = _steal_jiffies(), time.monotonic()
            if t > prev_t:
                self.trace.append((j - prev_j) / self._hz / (t - prev_t))
            prev_j, prev_t = j, t

    def stop(self) -> dict:
        self._halt.set()
        self.join(timeout=5)
        tr = self.trace or [0.0]
        # burst = worst 10-sample rolling mean: a single stolen second in
        # a 15-minute window is noise a best-of-N wall shrugs off, but a
        # SUSTAINED multi-vCPU burst is exactly what skews wide phases —
        # gate on the sustained figure, record the raw 1 s peak too.
        win = min(10, len(tr))
        roll = max(
            sum(tr[i:i + win]) / win for i in range(len(tr) - win + 1)
        )
        return {
            "steal_mean_vcpu": round(sum(tr) / len(tr), 3),
            "steal_peak_vcpu": round(max(tr), 3),
            "steal_burst10_vcpu": round(roll, 3),
            "steal_trace": [round(x, 2) for x in tr],
        }
