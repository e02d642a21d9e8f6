#!/usr/bin/env python
"""Offline postings-compaction job (spark-submit --py-files friendly):

    spark-submit --py-files sparkrec.zip jobs/compact_postings.py \
        --index-root /data/indexes/transcripts

Merges per-merge file accretion back to one row per (term, block_id),
and the merges' docs segments into one — run after a burst of streaming
merges to restore scan locality. The rewritten tables land in new
segments that one commit publishes, so
a crash mid-run leaves the index as it was. Answers are invariant
(tests/test_compaction.py); handles loaded before the run fail
``check_fresh`` and must Index.refresh().
"""

from __future__ import annotations

import argparse
import json


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--index-root", required=True)
    p.add_argument("--master", default=None)
    args = p.parse_args()

    from sparkrec.operators.compaction import compact_postings
    from sparkrec.session import get_spark

    spark = get_spark(app_name="compact-postings", master=args.master)
    out = compact_postings(spark, args.index_root)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
