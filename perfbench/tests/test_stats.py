"""Self-tests of the benchmark's arithmetic and failure accounting.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import run as bench_run  # noqa: E402
from perfbench.inputs import point_queries  # noqa: E402
from perfbench.stats import (Tally, percentile, ratio_of_sums,  # noqa: E402
                             supported_percentile, tail)
from perfbench.workloads import (Reads, Run, answers_match,  # noqa: E402
                                 check_answers, closed_loop, point_layers,
                                 point_read)
from perfbench import inputs  # noqa: E402


# -- percentile rule ----------------------------------------------------------

def test_p95_needs_ten_samples_beyond_it():
    assert percentile(list(range(199)), 95) is None
    vals = list(range(1, 201))           # 200 samples: 10 lie beyond p95
    assert percentile(vals, 95) == 190
    assert sum(v > 190 for v in vals) == 10


def test_supported_percentile_is_the_highest_with_ten_beyond():
    assert supported_percentile(200) == 95
    assert supported_percentile(100) == 90
    assert supported_percentile(40) == 75
    assert supported_percentile(19) is None   # not even a median
    for n in (20, 37, 64, 150, 1000):
        p = supported_percentile(n)
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10


def test_tail_of_small_sample_reports_nothing():
    assert tail([1.0] * 5) == (None, None)
    p, v = tail([float(i) for i in range(1, 41)])
    assert (p, v) == (75, 30.0)


# -- throughput ---------------------------------------------------------------

def test_ratio_of_sums_weights_by_wall():
    # 100 items in 1 s, then 1 item in 9 s: 101 items in 10 s is 10.1/s;
    # averaging the two per-op rates would claim ~50/s
    items, walls = [100, 1], [1.0, 9.0]
    assert ratio_of_sums(items, walls) == pytest.approx(10.1)
    mean_of_rates = (100 / 1.0 + 1 / 9.0) / 2
    assert ratio_of_sums(items, walls) != pytest.approx(mean_of_rates)


def test_ratio_of_sums_rejects_bad_input():
    with pytest.raises(ValueError):
        ratio_of_sums([1], [1.0, 2.0])
    with pytest.raises(ValueError):
        ratio_of_sums([1], [0.0])


# -- failure counting ---------------------------------------------------------

def test_tally_counts_failures_against_attempts():
    t = Tally()
    assert not t.correct                  # nothing attempted is not correct
    t.record(True)
    t.record(False, "bad")
    t.record(True)
    assert (t.attempted, t.failed, t.correct) == (3, 1, False)
    assert t.failures == ["bad"]


def _run():
    return Run(workload="serve", seed=0, seconds=1.0, traced=False,
               sizes=inputs.TINY)


class _Ref:
    def __init__(self, ok):
        self.ok = ok
        self.doc_of_conv = {"conv-00000005": 5, "conv-00000007": 7}

    def matches(self, text, rows):
        return self.ok


def test_mismatched_answer_is_a_failed_operation():
    run = _run()
    run.answers = [(0, "q1", "a", [(1, 2.0)], None),
                   (0, "q2", "b", [(2, 1.0)], None),
                   (1, "q3", "c", [(2, 1.0)], None)]
    check_answers(run, _Ref(False), 0)
    assert (run.tally.attempted, run.tally.failed) == (2, 2)


def test_read_your_writes_miss_is_a_failed_operation():
    run = _run()
    run.answers = [(1, "w0-0", "uniq", [(5, 3.0)], 5),
                   (1, "w0-1", "uniq", [(6, 3.0)], 7)]
    check_answers(run, _Ref(True), 1)
    assert (run.tally.attempted, run.tally.failed) == (2, 1)


def test_failed_batch_is_one_failed_operation():
    import pandas as pd

    run = _run()
    pdf = pd.DataFrame({"query_id": ["b1"], "rank": [1], "doc_id": [3],
                        "score": [1.0]})
    run.batches = [(0, [("b1", "x"), ("b2", "y")], pdf)]
    check_answers(run, _Ref(False), 0)
    assert (run.tally.attempted, run.tally.failed) == (1, 1)


def test_exception_is_a_failed_operation():
    run = _run()
    reads = Reads()
    point_read(run, None, ("q1", "term0001"), reads, 0, traced=False)
    assert (run.tally.attempted, run.tally.failed) == (1, 1)
    assert reads.walls == [] and run.answers == []


# -- answer comparison --------------------------------------------------------

def test_answers_match_ids_in_order_and_scores_within_tolerance():
    want = [(3, 2.0), (1, 1.5), (2, 1.0)]
    assert answers_match([(3, 2.0), (1, 1.5 * (1 + 1e-12))], want, 2)
    assert not answers_match([(1, 1.5), (3, 2.0)], want, 2)
    assert not answers_match([(3, 2.0), (1, 1.5 * (1 + 1e-6))], want, 2)
    assert not answers_match([(3, 2.0)], want, 2)       # short answer


def test_answers_match_tie_group_straddling_k():
    want = [(1, 2.0), (4, 1.0), (7, 1.0)]
    assert answers_match([(1, 2.0), (7, 1.0)], want, 2)
    assert not answers_match([(1, 2.0), (9, 1.0)], want, 2)


# -- window and inputs ---------------------------------------------------------

def test_closed_loop_stops_before_overrunning(monkeypatch):
    clock = {"t": 0.0}
    monkeypatch.setattr("perfbench.workloads.time.perf_counter",
                        lambda: clock["t"])
    done = []

    def op(i, wall):
        clock["t"] += wall
        done.append(i)

    window = closed_loop(10.0, [4.0, 4.0, 4.0, 4.0], op)
    assert done == [0, 1]          # a third 4 s op would end at 12 s
    assert window == 8.0
    done.clear()
    closed_loop(1.0, [5.0, 5.0], op)
    assert done == [0]             # at least one op always runs


def test_layout_takes_the_shortest_run_reaching_each_budget():
    sizes = inputs.TINY           # 800 base turns, then a 200-turn delta
    turns = [100] * 7 + [150, 60, 50, 100, 100, 200, 10]
    parts = inputs.layout(turns, sizes, 2)
    assert parts == [(0, 8), (8, 11)]
    for (lo, hi), budget in zip(parts, [800, 200]):
        assert sum(turns[lo:hi]) >= budget > sum(turns[lo:hi - 1])
    assert inputs.layout(turns, sizes, 1) == [(0, 8)]
    with pytest.raises(ValueError):
        inputs.layout(turns[:10], sizes, 2)


# -- fingerprint guard ----------------------------------------------------------

def test_every_seed_maps_onto_a_pinned_corpus():
    table = inputs.load_fingerprints()
    assert table["sizes"] == inputs._sizes_key(inputs.FULL)
    assert set(table["seeds"]) == {str(s) for s in range(inputs.PINNED_SEEDS)}
    for seed in (0, 7, 99, 100, 12345, 2 ** 40 + 3):
        assert str(inputs.corpus_seed(seed)) in table["seeds"]
    assert inputs.corpus_seed(12345) == 45


def test_fingerprint_mismatch_is_reported(monkeypatch, tmp_path):
    pinned = inputs.load_fingerprints()["seeds"]["45"]
    assert inputs.check_fingerprint(12345, inputs.FULL, pinned) is None
    assert inputs.check_fingerprint(45, inputs.FULL, pinned[:1]) is None
    changed = [list(p) for p in pinned]
    changed[1][3] += 1                         # one byte more text in the delta
    assert "differ from" in inputs.check_fingerprint(45, inputs.FULL, changed)
    assert "other sizes" in inputs.check_fingerprint(45, inputs.TINY, pinned)
    table = tmp_path / "fp.json"
    table.write_text(json.dumps({"sizes": inputs._sizes_key(inputs.FULL),
                                 "seeds": {}}))
    monkeypatch.setattr(inputs, "FINGERPRINTS", str(table))
    assert "no pinned" in inputs.check_fingerprint(45, inputs.FULL, pinned)


def test_queries_are_seeded_unique_and_distinct():
    a = point_queries(7, 300, 400)
    assert a == point_queries(7, 300, 400)
    assert a != point_queries(8, 300, 400)
    assert len({q for q, _ in a}) == 300
    assert len({tuple(sorted(t.split())) for _, t in a}) == 300
    share = sum("uniq" in t for _, t in a) / len(a)
    assert 0.2 < share < 0.4


# -- tracing -------------------------------------------------------------------

def test_missing_wrap_target_is_recorded_not_raised():
    from perfbench.trace import Tracer

    t = Tracer()
    assert not t.wrap("sparkrec.operators.scorer:no_such_fn", "x.gone")
    assert not t.wrap("no_such_module:fn", "y.gone")
    assert t.missing == ["x.gone", "y.gone"]


def test_wrap_records_spans_only_when_active():
    import json as mod
    from perfbench.trace import Tracer

    t = Tracer()
    orig = mod.dumps
    assert t.wrap("json:dumps", "json.dumps")
    try:
        mod.dumps([1])
        assert t.spans == []
        with t.request_scope("r1"):
            with t.span("outer"):
                mod.dumps([2])
        assert [s.name for s in t.spans] == ["outer", "json.dumps"]
        assert t.spans[1].parent == 0 and t.spans[1].request == "r1"
    finally:
        t.unwrap_all()
    assert mod.dumps is orig


# -- output selection ---------------------------------------------------------

def test_select_metrics_marks_unmeasured_and_requires_e2e():
    spec = [{"name": "scorer.kernel_ms", "unit": "ms"},
            {"name": "ingest.merge_first_s", "unit": "s"}]
    out = bench_run.select_metrics(spec, {"ingest.merge_first_s": 7}, False)
    assert out["scorer.kernel_ms"] == {"value": -1.0, "unit": "ms"}
    assert out["ingest.merge_first_s"] == {"value": 7.0, "unit": "s"}
    with pytest.raises(RuntimeError):
        bench_run.select_metrics([{"name": "setup_s", "unit": "s"}], {}, True)


class _Tracker:
    def getJobIdsForGroup(self, group):
        return [1]


class _Spark:
    class sparkContext:
        @staticmethod
        def statusTracker():
            return _Tracker()


def _traced_reads(run, spans_of):
    """Two traced reads; ``spans_of[qid]`` lists the spans each records."""
    reads = Reads()
    for qid, names in spans_of.items():
        with run.tracer.request_scope(qid):
            for name in names:
                with run.tracer.span(name) as sp:
                    sp.attrs["blocks"] = 4
        reads.traced.append((qid, 0.1))
    return reads


def test_point_layers_need_a_kernel_span_on_every_read():
    run = _run()
    run.spark = _Spark()
    every = ["textprep.py_tokenize", "scorer.wand_topk",
             "codec.decode_postings_many"]
    point_layers(run, _traced_reads(run, {"a": every, "b": every}))
    assert {"scorer.kernel_ms", "fetch.self_ms", "codec.decode_ms",
            "scorer.decoded_block_share"} <= set(run.layers)
    assert run.layers["fetch.spark_jobs_per_query"] == 1.0

    run = _run()
    run.spark = _Spark()
    point_layers(run, _traced_reads(run, {"a": every,
                                          "b": ["textprep.py_tokenize"]}))
    for name in ("scorer.kernel_ms", "fetch.self_ms", "fetch.blocks_per_query",
                 "scorer.decoded_block_share"):
        assert name not in run.layers          # reported as MISSING
    assert "textprep.tokenize_ms" in run.layers
    assert run.notes["unspanned_reads"]["scorer.wand_topk"] == 1
