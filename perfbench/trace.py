"""Outside-in tracing: spans recorded around calls into the engine's
public functions, from the benchmark's own files.

A span carries name, start, end, parent span and request id. Spans are
kept in memory and written out when the run ends. Wrapping patches a
module or class attribute for the duration of the traced run and
restores it afterwards; a wrap target that no longer exists is recorded
as a missing span instead of failing the run.
"""

from __future__ import annotations

import importlib
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return 1000.0 * (self.end - self.start)


class Tracer:
    """Single-threaded span recorder (the benchmark is one closed-loop
    client). ``active`` gates recording, so one window can interleave
    traced and untraced operations to measure the tracing overhead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.request: str | None = None
        self.missing: list[str] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None,
                  request=self.request, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def request_scope(self, request: str, traced: bool = True):
        prev = (self.request, self.active)
        self.request, self.active = request, traced
        try:
            yield
        finally:
            self.request, self.active = prev

    def wrap(self, target: str, name: str, on_call=None) -> bool:
        """Patch ``"pkg.module:attr"`` or ``"pkg.module:Class.attr"`` so
        each call records a span ``name``. ``on_call(span, args, kwargs)``
        may attach counts. Returns False (and records ``name`` as
        missing) when the target does not exist."""
        mod_name, _, path = target.partition(":")
        try:
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            orig = getattr(owner, attr)
        except (ImportError, AttributeError):
            self.missing.append(name)
            return False
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name) as sp:
                if on_call is not None:
                    on_call(sp, args, kwargs)
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))
        return True

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- queries over recorded spans ---------------------------------------

    def by_request(self, name: str) -> dict[str, float]:
        """request id → Σ ms of spans called ``name`` in that request."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.name == name and sp.request is not None:
                out[sp.request] = out.get(sp.request, 0.0) + sp.ms
        return out

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"name": s.name, "start_ms": round(1000 * (s.start - t0), 3),
             "end_ms": round(1000 * (s.end - t0), 3), "parent": s.parent,
             "request": s.request, **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Host: hypervisor steal and process memory
# ---------------------------------------------------------------------------

def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class StealSampler(threading.Thread):
    """Stolen vCPUs sampled from /proc/stat (aggregate cpu line, field 8)
    across the whole run. Steal is this box's dominant noise source and
    is invisible to load average; a record that carries it explains its
    own outliers."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.trace: list[float] = []
        self._halt = threading.Event()
        self._hz = os.sysconf("SC_CLK_TCK")

    def run(self) -> None:
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
        return {"steal_vcpu_mean": sum(tr) / len(tr),
                "steal_vcpu_max": max(tr), "steal_samples": len(self.trace)}


def peak_rss_mb(pid: int | str = "self") -> float | None:
    """VmHWM (peak resident set) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def jvm_pid(spark) -> int | None:
    """PID of the driver JVM that pyspark launched (spark-submit execs
    into java, so the launcher's child is the JVM itself)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)
