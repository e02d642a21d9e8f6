#!/usr/bin/env python
"""Regenerate PLANS.md: the physical plans of the engine's headline
queries, annotated with what each plan must show (the same invariants
tests/test_plans.py asserts). Run after any operator change:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def main() -> None:
    import tempfile

    from sparkrec.datagen import transcripts_df
    from sparkrec.operators.bm25 import (
        bm25_topk, corpus_stats, doc_freqs, query_terms_df, term_freqs,
        tokenize_docs,
    )
    from sparkrec.operators.docs import assemble_docs, assign_doc_ids
    from sparkrec.operators.indexer import (
        Index, IndexConfig, build_index, postings_blocks,
    )
    from sparkrec.operators.scorer import (
        bm25_query_topk, bm25_query_topk_scan,
    )
    from sparkrec.session import get_spark

    spark = get_spark(app_name="dump-plans", master="local[4]",
                      shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="plans_idx_")
    t = transcripts_df(spark, 80)
    cfg = IndexConfig(block_range=32, docs_per_shard=256, n_term_buckets=4)
    build_index(spark, t, root, cfg)
    idx = Index.load(spark, root)

    docs = tokenize_docs(assign_doc_ids(assemble_docs(t))).cache()
    tf = term_freqs(docs)
    n, avgdl = corpus_stats(docs)
    q = query_terms_df(spark, [("q", "term0001 term0007")])

    sections = [
        (
            "WAND query: pruned posting fetch",
            "Must show: `PartitionFilters` on `term_bucket` (partition "
            "pruning — the query touches only its terms' buckets) and "
            "`PushedFilters` containing the term In-set (reaches the "
            "parquet reader). The scoring kernel is a single "
            "`FlatMapGroupsInPandas` (Arrow), never `BatchEvalPython`. "
            "SERVING CONTRACT: this distributed path is BATCH-ONLY — its "
            "per-query latency is Spark job-scheduling overhead (two "
            "stages: pruned scan → grouped kernel), amortized away at "
            "batch sizes but many times the interactive path on a single "
            "query. "
            "Interactive point queries are served by "
            "`scorer.bm25_query_topk_local` (same exact kernel, run on "
            "the driver) with ZERO Spark jobs for its blocks: after "
            "`Index.warm` with postings they come from the driver-resident "
            "postings copy; without that copy, from a driver-side Arrow "
            "read of the pinned commit's files (`Commit.read_arrow`: the "
            "same bucket pruning and term filter). Only under an Iceberg catalog does it collect "
            "this pruned scan (one job, zero shuffles). The warm "
            "driver-resident lexicon "
            "map supplies idf+bucket lookups job-free on every path "
            "(indexer.Index.warm). Nothing is cached on executors, so a "
            "warm handle's batch plan is this plan too.",
            plan(bm25_query_topk(spark, idx, [("q", "term0001 term0007")], 5)),
        ),
        (
            "Scan-mode batch scoring (query-count-independent shuffle)",
            "Must show: the SAME pruned/pushed postings scan, NO join of "
            "a query side at all (queries ship to the data in the UDF "
            "closure), and exactly one corpus-sized Exchange — "
            "`hashpartitioning(_range)` — feeding one "
            "`FlatMapGroupsInPandas`; the second, tiny exchange is the "
            "per-query top-k window merge. Each posting block crosses "
            "the exchange ONCE regardless of batch size, vs once per "
            "query in the group path — the batch-analytics shape for "
            "corpus-scale postings (BENCH.md \"Query-batch redundancy\" "
            "for the A/B; group mode stays the default at small posting "
            "volumes).",
            plan(bm25_query_topk_scan(
                spark, idx,
                [("q1", "term0001 term0007"), ("q2", "term0003")], 5)),
        ),
        (
            "DataFrame-only BM25 batch top-k",
            "Must show: `BroadcastHashJoin` with the tiny (query-terms ⋈ "
            "df ⋈ idf) side broadcast against the streaming tf relation — "
            "no SortMergeJoin, no shuffle of tf for the join; then "
            "partial+final `HashAggregate` by (query_id, doc_id) and a "
            "window top-k.",
            plan(bm25_topk(tf, doc_freqs(tf), n, avgdl, q, k=5)),
        ),
        (
            "Doc assembly (turn ordering invariant)",
            "Must show: `ObjectHashAggregate` with `collect_list` + "
            "`array_sort` INSIDE the aggregation (partial then final "
            "around one Exchange) — the per-conversation turn sort never "
            "becomes a global Sort node.",
            plan(assemble_docs(t).select("conv_id", "text"), "simple"),
        ),
        (
            "Posting blocks: partial encode + the one block reducer",
            "Must show: a `MapInPandas` partial encode (TF counted in-row, "
            "blocks varint-encoded map-side), exactly ONE Exchange — "
            "`hashpartitioning(term, shard)` — carrying the encoded "
            "partials into an `ObjectHashAggregate` (`collect_list` + "
            "`array_sort`), and the reducer's `MapInPandas`. The full "
            "build and the streaming delta merge write this plan; "
            "`compact_postings` runs the same reducer over the stored "
            "postings scan (tests/test_plans.py).",
            plan(postings_blocks(idx.docs(spark), cfg), "simple"),
        ),
        (
            "TF aggregation (DataFrame BM25 path)",
            "Must show: `partial_count` (map-side combine) before the "
            "exchange; the tokenize expression fuses into the projection "
            "(JVM, no Python eval).",
            plan(term_freqs(docs), "simple"),
        ),
    ]

    # TF-IDF more-like-this: broadcast query side into the sparse vectors
    from sparkrec.operators.embeddings import tfidf_cosine_topk, tfidf_vectors

    toks = docs.select("doc_id", "tokens")
    sections.append(
        (
            "TF-IDF cosine recommendations (A7)",
            "Must show: `BroadcastHashJoin` of the |queries|·terms side "
            "into the corpus vector relation; no cartesian/NL join; the "
            "only corpus-sized shuffles are the tf/df/norm aggregations.",
            plan(tfidf_cosine_topk(tfidf_vectors(toks), [0], 5), "simple"),
        )
    )

    # Wikilink negative sampling: Range scan + left-anti, zero Python
    from sparkrec.operators.wikilink_nn import (
        negative_sample_pairs, wikilink_pairs,
    )

    corpus = spark.createDataFrame(
        [(0, ["a", "b"]), (1, ["a"]), (2, ["a", "b"])],
        "doc_id long, wikilinks array<string>",
    )
    pos = wikilink_pairs(corpus, min_count=2)
    sections.append(
        (
            "Wikilink negative sampling (J5)",
            "Must show: a `Range` scan generating the seeded candidate "
            "stream (the quadratic mixer is pure Catalyst arithmetic), "
            "one left-anti join against distinct positives, no Python "
            "eval node anywhere.",
            plan(negative_sample_pairs(spark, pos, 3, 2, k=4, seed=1),
                 "simple"),
        )
    )

    out = [
        "# PLANS — physical-plan record of the headline queries",
        "",
        "Generated by `python tools/dump_plans.py` (tiny fixture corpus; "
        "plan SHAPE is scale-independent). The inline invariants are "
        "enforced by `tests/test_plans.py`.",
        "",
    ]
    for title, why, p in sections:
        out += [f"## {title}", "", why, "", "```", p.strip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
