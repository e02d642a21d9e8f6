#!/usr/bin/env python
"""spark-submit entry: serve a BM25 query batch against a built index.

Local smoke run (after jobs/build_index.py --index-root /tmp/idx ...):
    python jobs/run_queries.py --index-root /tmp/idx --fixture-convs 2000

Cluster run:
    spark-submit --py-files sparkrec.zip jobs/run_queries.py \
        --index-root my_catalog.warehouse.bm25_index \
        --queries    queries.tsv --k 10 --out results.parquet

--queries is a TSV of ``query_id<TAB>query_text``; --fixture-convs uses
the deterministic seeded fixture set instead. --score-partitions > 1
splits each query's scoring across doc-id ranges (exact; use ~executor
cores for fat analytical queries, keep 1 for interactive latency).
Prints one JSON line with batch throughput and per-query p50/p99.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--queries", help="TSV file: query_id\\tquery_text")
    src.add_argument(
        "--fixture-convs", type=int,
        help="use the seeded fixture query set sized for N conversations",
    )
    p.add_argument("--index-root", required=True)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--master", default=None)
    p.add_argument("--score-partitions", type=int, default=None,
                   help="group mode only: doc-range splits per query"
                        " (default 1)")
    p.add_argument("--mode", choices=["group", "scan"], default="group",
                   help="group: per-query WAND groups (selective batches);"
                        " scan: doc-range groups with queries shipped to"
                        " the data — query-count-independent shuffle for"
                        " large analytical batches (identical results)")
    p.add_argument("--out", default=None, help="optional parquet output path")
    p.add_argument("--no-warm", action="store_true",
                   help="skip pinning lexicon+postings in memory first")
    p.add_argument("--latency-probes", type=int, default=10,
                   help="how many queries to also run one-at-a-time for p50/p99")
    return p.parse_args(argv)


def main(argv=None) -> dict:
    args = parse_args(argv)
    if args.mode == "scan" and args.score_partitions is not None:
        print("warning: --mode scan ignores --score-partitions (scan mode"
              " splits by doc range on its own)", file=sys.stderr)

    from sparkrec.datagen import gen_queries
    from sparkrec.operators.indexer import Index
    from sparkrec.operators.scorer import bm25_query_topk
    from sparkrec.session import get_spark

    spark = get_spark(app_name="sparkrec-run-queries", master=args.master)

    if args.queries:
        qset = []
        with open(args.queries) as f:
            for line in f:
                line = line.rstrip("\n")
                if line:
                    qid, qtext = line.split("\t", 1)
                    qset.append((qid, qtext))
    else:
        qset = [
            (r["query_id"], r["query_text"])
            for _, r in gen_queries(args.fixture_convs).iterrows()
        ]

    idx = Index.load(spark, args.index_root)
    t_warm = time.monotonic()
    if not args.no_warm:
        idx.warm(spark)
    warm_sec = time.monotonic() - t_warm

    t0 = time.monotonic()
    if args.mode == "scan":
        from sparkrec.operators.scorer import bm25_query_topk_scan

        out = bm25_query_topk_scan(spark, idx, qset, args.k)
    else:
        out = bm25_query_topk(
            spark, idx, qset, args.k,
            n_score_partitions=args.score_partitions,
        )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        n_rows = spark.read.parquet(args.out).count()
    else:
        n_rows = out.count()
    batch_sec = time.monotonic() - t0

    lat = []
    for qid, qtext in qset[: args.latency_probes]:
        t1 = time.monotonic()
        bm25_query_topk(spark, idx, [(qid, qtext)], args.k).collect()
        lat.append(time.monotonic() - t1)
    lat.sort()

    summary = {
        "index_root": args.index_root,
        "n_queries": len(qset),
        "k": args.k,
        "result_rows": n_rows,
        "warm_sec": round(warm_sec, 3),
        "batch_sec": round(batch_sec, 3),
        "queries_per_sec": round(len(qset) / batch_sec, 2),
        "query_p50_ms": round(1000 * lat[len(lat) // 2], 1) if lat else None,
        "query_p99_ms": round(
            1000 * lat[min(len(lat) - 1, int(len(lat) * 0.99))], 1
        ) if lat else None,
    }
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main()
