"""StealSampler turns /proc/stat steal jiffies into stolen vCPUs per
sample and summarizes a window (mean, 1-sample peak, worst 10-sample
rolling mean). No Spark session."""

from __future__ import annotations

import itertools
import types

from sparkrec.plans import steal


def test_sampler_converts_jiffies_and_summarizes(monkeypatch):
    sampler = steal.StealSampler(period=0.001)
    hz = sampler._hz
    # stolen vCPUs per 1 s sample: 11 quiet samples, then a 4-vCPU burst
    # of 10 samples, then 9 quiet ones
    per_sample = [0.0] * 11 + [4.0] * 10 + [0.0] * 9
    jiffies = list(itertools.accumulate([0] + [int(v * hz) for v in per_sample]))
    clock = itertools.count(100.0, 1.0)  # each reading is 1 s after the last
    reads = iter(jiffies)

    def fake_jiffies():
        j = next(reads)
        if j == jiffies[-1] and len(sampler.trace) == len(per_sample) - 1:
            sampler._halt.set()  # the last reading closes the window
        return j

    monkeypatch.setattr(steal, "_steal_jiffies", fake_jiffies)
    monkeypatch.setattr(steal, "time",
                        types.SimpleNamespace(monotonic=lambda: next(clock)))
    sampler.start()
    sampler.join(timeout=10)
    assert not sampler.is_alive()
    out = sampler.stop()

    assert sampler.trace == per_sample
    assert out["steal_mean_vcpu"] == round(40.0 / 30, 3)
    assert out["steal_peak_vcpu"] == 4.0
    assert out["steal_burst10_vcpu"] == 4.0
    assert out["steal_trace"] == per_sample


def test_sampler_with_no_sample_reports_zero():
    sampler = steal.StealSampler(period=60.0)
    sampler.start()
    out = sampler.stop()
    assert out["steal_mean_vcpu"] == out["steal_peak_vcpu"] == 0.0
    assert out["steal_trace"] == [0.0]


def test_proc_stat_reading_is_a_count():
    assert steal._steal_jiffies() >= 0
