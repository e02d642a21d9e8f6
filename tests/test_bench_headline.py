"""The bench.py headline is an honest sum: ``value`` counts each
top-level step once, and the build's stage walls — parts of
``index_build`` — are reported under ``layers`` only. Pure function, no
Spark session."""

from __future__ import annotations

from bench import headline


def test_value_is_the_sum_of_top_level_steps():
    timings = {"index_build": 6.25, "index_warm": 0.5, "wand_batch": 1.125,
               "wand_point_10": 0.03, "text_quality": 2.0}
    layers = {"index_stage_docs": 2.5, "index_stage_stats": 0.25,
              "index_stage_postings": 2.75, "index_stage_lexicon": 0.5}
    out = headline(timings, layers)
    assert out["value"] == round(sum(timings.values()), 3) == 9.905
    assert out["value_legacy"] == round(out["value"] + 6.0, 3)
    assert out["layers"] == layers
    assert not set(layers) & set(timings)


def test_steal_rides_in_layers_not_value():
    """The run's steal sits under ``layers``; neither ``value`` nor
    ``value_legacy`` sums it."""
    timings = {"index_build": 6.25, "wand_batch": 1.125}
    stages = {"index_stage_docs": 2.5, "index_stage_postings": 2.75}
    layers = {**stages, "steal_mean_vcpu": 0.5, "steal_peak_vcpu": 3.0}
    out = headline(timings, layers)
    assert out["value"] == 7.375
    assert out["value_legacy"] == round(7.375 + 5.25, 3)
    assert out["layers"] == layers
