"""Incremental index refresh: a merged index must answer queries
rank-identical (ids AND scores) to a from-scratch rebuild over the union
corpus; replays are skipped; partial-update batches are rejected."""

from __future__ import annotations

import pandas as pd
import pytest

from sparkrec.datagen import transcripts_df
from sparkrec.operators.indexer import (
    Index,
    IndexConfig,
    StaleIndexError,
    build_index,
)
from sparkrec.operators.scorer import bm25_query_topk, bm25_query_topk_local
from sparkrec.streaming.ingest import merge_index_delta, stream_index

CFG = IndexConfig(block_range=16, docs_per_shard=64, n_term_buckets=4)
QUERIES = [
    ("hot", "term0000 term0001"),
    ("mid", "term0700 term0900"),
    ("mix", "term0002 term2500"),
]


def _topk(spark, root, k=10, idx=None):
    """Per query: ranked (conv_id, score). doc_id ASSIGNMENT differs
    between an incremental index (batch-local ids + offset) and a full
    rebuild (union-wide ids), so identity is compared on conv_id — the
    stable key — and exact scores. At equal scores the doc_id tie-break
    may legitimately pick different orderings, so ties are normalized by
    re-sorting equal-score runs on conv_id."""
    idx = idx or Index.load(spark, root)
    out = bm25_query_topk(spark, idx, QUERIES, k)
    docs = idx.docs(spark).select("doc_id", "conv_id")
    rows = out.join(docs, "doc_id").collect()
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (-round(r["score"], 9), r["conv_id"])
        )
    return {q: sorted(v) for q, v in by_q.items()}


def test_merge_matches_full_rebuild(spark, tmp_path):
    """build(A) + merge(B) ≡ build(A ∪ B), bit-exact scores."""
    inc_root = str(tmp_path / "inc")
    full_root = str(tmp_path / "full")

    batch_a = transcripts_df(spark, 40, conv_start=0)
    batch_b = transcripts_df(spark, 30, conv_start=40)

    build_index(spark, batch_a, inc_root, CFG)
    out = merge_index_delta(spark, batch_b, inc_root, CFG)
    assert out["docs_added"] == 30

    build_index(spark, batch_a.unionByName(batch_b), full_root, CFG)

    inc_idx = Index.load(spark, inc_root)
    full_idx = Index.load(spark, full_root)
    # exact long counters merged → identical stats
    assert inc_idx.n_docs == full_idx.n_docs == 70
    assert inc_idx.total_len == full_idx.total_len
    assert inc_idx.avgdl == full_idx.avgdl

    inc = _topk(spark, inc_root)
    full = _topk(spark, full_root)
    assert inc == full
    assert len(inc) > 0

    # doc_id ranges: merged ids are offset-disjoint from batch A's
    a_docs = inc_idx.docs(spark)
    assert a_docs.count() == 70
    assert a_docs.select("doc_id").distinct().count() == 70


def test_warm_handle_poisoned_by_merge(spark, tmp_path):
    """A handle warmed BEFORE a merge must fail loudly on its next query
    (its pinned lexicon map, cached postings, and frozen n_docs/avgdl all
    describe the pre-merge index — serving them would silently mis-score);
    ``refresh()`` hands over a re-warmed handle whose answers match a
    from-scratch rebuild over the union, ids AND scores."""
    root = str(tmp_path / "idx")
    full_root = str(tmp_path / "full")
    batch_a = transcripts_df(spark, 40, conv_start=0)
    batch_b = transcripts_df(spark, 30, conv_start=40)
    build_index(spark, batch_a, root, CFG)

    idx = Index.load(spark, root).warm(spark)
    assert idx._lexicon_map is not None
    pre = bm25_query_topk(spark, idx, QUERIES, 10)
    assert pre.count() > 0  # warm handle serves fine before the merge

    out = merge_index_delta(spark, batch_b, root, CFG)
    assert out["docs_added"] == 30
    assert out["index_epoch"] > idx.epoch

    # both query paths refuse the stale handle
    with pytest.raises(StaleIndexError, match="epoch"):
        bm25_query_topk(spark, idx, QUERIES, 10)
    with pytest.raises(StaleIndexError, match="epoch"):
        bm25_query_topk_local(spark, idx, QUERIES, 10)

    # replay-skipped merges change nothing and must NOT poison handles
    fresh = idx.refresh(spark)
    assert fresh.epoch == out["index_epoch"]
    assert fresh._lexicon_map is not None  # re-warmed to the same level
    replay = merge_index_delta(spark, batch_b, root, CFG)
    assert replay.get("skipped_replay")
    fresh.check_fresh()  # still serving

    build_index(spark, batch_a.unionByName(batch_b), full_root, CFG)
    assert _topk(spark, root, idx=fresh) == _topk(spark, full_root)


def test_refresh_refills_driver_postings_after_merge(spark, tmp_path):
    """The driver postings copy belongs to its handle's epoch: after a
    merge, ``refresh()`` drops the old copy and refills one that serves
    the merged state — the same answers, ids and bit-equal scores, as
    the pruned scan on a cold handle at the new epoch."""
    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, 40, conv_start=0), root, CFG)
    idx = Index.load(spark, root).warm(spark)
    old = idx._driver_postings
    assert old is not None

    merge_index_delta(spark, transcripts_df(spark, 30, conv_start=40), root, CFG)
    fresh = idx.refresh(spark)
    try:
        assert idx._driver_postings is None
        assert fresh._driver_postings is not None
        assert len(fresh._driver_postings) > len(old)  # the delta's blocks
        want = bm25_query_topk_local(spark, Index.load(spark, root), QUERIES, 10)
        got = bm25_query_topk_local(spark, fresh, QUERIES, 10)
        assert len(want) > 0
        pd.testing.assert_frame_equal(got, want, check_exact=True)
    finally:
        fresh._postings_cached.unpersist()
        fresh._lexicon_cached.unpersist()


def test_merge_replay_skipped_and_partial_rejected(spark, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, 40, conv_start=0), root, CFG)
    batch_b = transcripts_df(spark, 20, conv_start=40)

    assert merge_index_delta(spark, batch_b, root, CFG)["docs_added"] == 20
    # full replay of the same epoch → no-op
    replay = merge_index_delta(spark, batch_b, root, CFG)
    assert replay.get("skipped_replay") and replay["docs_added"] == 0
    # partial overlap = an update attempt → hard error
    overlap = transcripts_df(spark, 20, conv_start=50)
    with pytest.raises(ValueError, match="append-only"):
        merge_index_delta(spark, overlap, root, CFG)


def test_structured_streaming_ingest(spark, tmp_path):
    """readStream → foreachBatch merge drains a directory of batches and
    converges to the same index as a batch rebuild."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "stream_idx")
    full_root = str(tmp_path / "stream_full")

    build_index(spark, transcripts_df(spark, 30, conv_start=0), root, CFG)

    b1 = transcripts_df(spark, 15, conv_start=30)
    b2 = transcripts_df(spark, 15, conv_start=45)
    b1.write.parquet(str(src / "b1"))
    b2.write.parquet(str(src / "b2"))

    q = stream_index(spark, str(src) + "/*", root, ckpt, CFG,
                     available_now=True)
    q.awaitTermination(300)

    build_index(
        spark,
        transcripts_df(spark, 60, conv_start=0),
        full_root,
        CFG,
    )
    assert _topk(spark, root) == _topk(spark, full_root)
    assert Index.load(spark, root).n_docs == 60
