#!/usr/bin/env python
"""Headline benchmark — one JSON line on stdout.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Steps mirror BASELINE.json's metric:
indexing throughput (turns/sec) over the synthetic transcripts table,
BM25 query latency (batch throughput + per-query p50/p99) on the
compressed block-max index, plus the training-data-pipeline operators
(dedup / ANN / text-quality) over the driver's documents+embeddings
tables.

Scaling-efficiency evidence (local[8] vs local[32]) is produced by
jobs/bench_scaling.py and recorded in BENCH.md — this script is the
single-configuration per-round probe.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
POINT_PROBES = 200  # distinct point queries behind query_p50/p99_ms
INDEX_ROOT = os.environ.get(
    "SPARKREC_BENCH_ROOT", f"/tmp/sparkrec_bench_{os.path.basename(SF_DIR)}"
)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def headline(timings: dict[str, float], layers: dict[str, float]) -> dict:
    """The headline fields. ``value`` sums the disjoint top-level steps in
    ``timings``; ``layers`` holds parts of those steps (the build's
    ``index_stage_*`` walls inside ``index_build``) and the run's steal
    (``steal_*``), so it is reported, not summed. ``value_legacy`` is the
    old sum that counted the stage walls twice, kept so the earlier
    BENCH_r0*.json headlines stay comparable."""
    value = round(sum(timings.values()), 3)
    stages = sum(v for k, v in layers.items() if k.startswith("index_stage_"))
    return {
        "value": value,
        "value_legacy": round(value + stages, 3),
        "layers": layers,
    }


def main() -> None:
    sf = _sf_from_dir(SF_DIR)
    n_convs = max(200, int(20000 * sf))

    from pyspark.sql import functions as F

    from sparkrec.datagen import gen_point_queries, gen_queries, transcripts_df
    from sparkrec.operators.indexer import Index, IndexConfig, build_index
    from sparkrec.operators.scorer import bm25_query_topk
    from sparkrec.plans.steal import StealSampler
    from sparkrec.session import get_spark

    import __spark_entry__ as entry

    steal = StealSampler()  # the whole run, session start included
    steal.start()
    spark = get_spark(
        app_name="sparkrec-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
    )
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    # Every step is best-of-N wall-clock (default 2): this box shows
    # co-tenant bursts that inflate identical work up to 3x (BENCH.md
    # variance table), and min-of-N is the steady-state estimator the
    # scaling harness already uses. One-shot behavior: SPARKREC_BENCH_TRIALS=1.
    trials_default = int(os.environ.get("SPARKREC_BENCH_TRIALS", "2"))

    def step(name: str, fn, trials: int = trials_default, between=None):
        best = float("inf")
        out = None
        for i in range(trials):
            if i and between is not None:
                between()
            t0 = time.monotonic()
            out = fn()
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)
        return out

    # -- 1. index build over transcripts (headline: turns/sec) -------------
    t = transcripts_df(spark, n_convs).cache()
    n_turns = t.count()

    from sparkrec.plans.manifest import MetricsLog

    best_build, best_metrics = float("inf"), None
    for _ in range(trials_default):
        shutil.rmtree(INDEX_ROOT, ignore_errors=True)
        metrics = MetricsLog(INDEX_ROOT)
        t0 = time.monotonic()
        build_index(
            spark, t, INDEX_ROOT, IndexConfig(), overwrite=True, metrics=metrics
        )
        wall = time.monotonic() - t0
        if wall < best_build:
            best_build, best_metrics = wall, metrics
    timings["index_build"] = round(best_build, 3)
    extra["bench_trials"] = trials_default
    extra["turns_indexed"] = n_turns
    extra["turns_per_sec"] = round(n_turns / timings["index_build"], 1)
    layers = {f"index_stage_{s['stage']}": s["wall_sec"]
              for s in best_metrics.stages if s["status"] == "completed"}

    idx = Index.load(spark, INDEX_ROOT)
    step("index_warm", lambda: idx.warm(spark), trials=1)  # fill driver copies
    qset = [
        (r["query_id"], r["query_text"])
        for _, r in gen_queries(n_convs).iterrows()
    ]

    # -- 2. WAND query batch throughput + per-query latency ----------------
    step(
        "wand_batch",
        lambda: bm25_query_topk(spark, idx, qset, 10).count(),
    )
    extra["queries_per_sec"] = round(len(qset) / timings["wand_batch"], 2)

    # Point-query serving runs on the LOCAL scatter-gather path (the
    # warmed lexicon/postings feed the same exact WAND kernel driver-side;
    # scorer.bm25_query_topk_local). The distributed per-query path exists
    # for batch work and is sampled separately below — its latency is Spark
    # job-scheduling overhead, not the serving design.
    from sparkrec.operators.scorer import bm25_query_topk_local

    # Latency percentiles come from POINT_PROBES distinct queries: the
    # fixture set, then seeded distinct Zipf draws (with only the first
    # 10 fixture queries, "p99" was their maximum). Each probe is
    # best-of-trials; wand_point_10 stays the sum over the first 10, so
    # the headline formula does not shift.
    probes = qset + gen_point_queries(
        POINT_PROBES - len(qset), exclude={text for _, text in qset}
    )
    lat = [float("inf")] * len(probes)
    for _ in range(trials_default):
        for i, (qid, qtext) in enumerate(probes):
            t0 = time.monotonic()
            bm25_query_topk_local(spark, idx, [(qid, qtext)], 10)
            lat[i] = min(lat[i], time.monotonic() - t0)
    timings["wand_point_10"] = round(sum(lat[:10]), 3)
    lat.sort()

    def pct(p: float) -> float:  # nearest-rank percentile, ms
        return round(1000 * lat[max(0, math.ceil(p * len(lat)) - 1)], 1)

    extra["query_probes"] = len(lat)
    extra["query_p50_ms"] = pct(0.50)
    extra["query_p99_ms"] = pct(0.99)
    extra["query_local_p50_ms"] = extra["query_p50_ms"]  # same path by design

    # distributed point-query sample (coverage of the cluster path)
    lat_d = [float("inf")] * 3
    for _ in range(trials_default):
        for i, (qid, qtext) in enumerate(qset[:3]):
            t0 = time.monotonic()
            bm25_query_topk(spark, idx, [(qid, qtext)], 10).collect()
            lat_d[i] = min(lat_d[i], time.monotonic() - t0)
    lat_d.sort()
    timings["wand_dist_3"] = round(sum(lat_d), 3)
    extra["query_dist_p50_ms"] = round(1000 * lat_d[len(lat_d) // 2], 1)

    # -- 3. DataFrame-only BM25 over the driver documents table ------------
    step(
        "bm25_dataframe",
        lambda: entry.q_bm25_topk_batch(spark, SF_DIR).count(),
    )

    # -- 4. dedup ladder over documents -------------------------------------
    from sparkrec.session import release_caches

    # between trials: drop the scoped caches so every trial pays the full
    # cold dedup cost (otherwise min-of-N would measure a cache hit)
    step("minhash_lsh_dedup",
         lambda: entry.q_minhash_pairs(spark, SF_DIR).count(),
         between=release_caches)
    release_caches()
    step("simhash_near", lambda: entry.q_simhash_near(spark, SF_DIR).count(),
         between=release_caches)
    release_caches()  # dedup intermediates are consumed; drop them

    # -- 5. ANN over embeddings ---------------------------------------------
    step("cosine_topk", lambda: entry.q_cosine_topk(spark, SF_DIR).count())
    step("lsh_cosine_topk", lambda: entry.q_lsh_cosine_topk(spark, SF_DIR).count())

    # -- 6. text-quality single pass ----------------------------------------
    step(
        "text_quality",
        lambda: entry.q_quality(spark, SF_DIR)
        .join(entry.q_lang_id(spark, SF_DIR), "doc_id")
        .join(entry.q_fingerprints(spark, SF_DIR), "doc_id")
        .count(),
    )

    host = steal.stop()
    layers["steal_mean_vcpu"] = host["steal_mean_vcpu"]
    layers["steal_peak_vcpu"] = host["steal_peak_vcpu"]
    print(
        json.dumps(
            {
                "metric": "sparkrec headline (index build + BM25 WAND query + "
                "dedup/ANN/quality)",
                **headline(timings, layers),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                **extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
