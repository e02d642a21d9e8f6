"""Incremental index refresh: a merged index must answer queries
rank-identical (ids AND scores) to a from-scratch rebuild over the union
corpus; replays are skipped; partial-update batches are rejected; a merge
is all-or-nothing for crashes and for readers."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import DataFrameWriter

from sparkrec.datagen import transcripts_df
from sparkrec.operators.indexer import (
    Index,
    IndexConfig,
    StaleIndexError,
    build_index,
)
from sparkrec.operators.scorer import bm25_query_topk, bm25_query_topk_local
from sparkrec.sources.tables import Commit
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
    (its driver lexicon map and postings copy and frozen n_docs/avgdl all
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
    assert idx._driver_postings is None
    assert fresh._driver_postings is not None
    # the copy holds exactly the new commit's rows: the delta's blocks too
    assert len(fresh._driver_postings) == fresh.postings(spark).count()
    assert len(fresh._driver_postings) > len(old)
    want = bm25_query_topk_local(spark, Index.load(spark, root), QUERIES, 10)
    got = bm25_query_topk_local(spark, fresh, QUERIES, 10)
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


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


MERGE_TABLES = ("docs", "postings", "lexicon", "stats")


def _after_write(monkeypatch, root, fn):
    """Call ``fn(table)`` right after each table write under ``root``
    has landed its files (before anything can publish them)."""
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        out = parquet(self, path, *args, **kwargs)
        for name in MERGE_TABLES:
            if path.startswith(os.path.join(root, name)):
                fn(name)
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)


def test_crash_mid_merge_leaves_pre_merge_index(spark, tmp_path, monkeypatch):
    """A crash right after any one of the merge's table writes leaves
    ``Index.load`` on the pre-merge state; the replay of the batch then
    really merges (no skipped_replay), later merges keep doc ids distinct,
    and the answers equal a rebuild over the union."""
    root = str(tmp_path / "idx")
    full_root = str(tmp_path / "full")
    batch_a = transcripts_df(spark, 40, conv_start=0)
    batch_b = transcripts_df(spark, 30, conv_start=40)
    batch_c = transcripts_df(spark, 20, conv_start=70)
    build_index(spark, batch_a, root, CFG)
    pre = _topk(spark, root)

    for crash_at in MERGE_TABLES:
        def crash(name, crash_at=crash_at):
            if name == crash_at:
                raise RuntimeError(f"injected crash after the {name} write")

        _after_write(monkeypatch, root, crash)
        with pytest.raises(RuntimeError, match="injected"):
            merge_index_delta(spark, batch_b, root, CFG)
        monkeypatch.undo()
        idx = Index.load(spark, root)
        assert idx.n_docs == idx.docs(spark).count() == 40, crash_at
        assert _topk(spark, root, idx=idx) == pre, crash_at

    replay = merge_index_delta(spark, batch_b, root, CFG)
    assert not replay.get("skipped_replay") and replay["docs_added"] == 30
    assert merge_index_delta(spark, batch_c, root, CFG)["docs_added"] == 20

    idx = Index.load(spark, root)
    docs = idx.docs(spark)
    assert idx.n_docs == docs.count() == docs.select("doc_id").distinct().count() == 90
    build_index(spark, batch_a.unionByName(batch_b).unionByName(batch_c),
                full_root, CFG)
    assert _topk(spark, root, idx=idx) == _topk(spark, full_root)


def test_handle_loaded_mid_merge_answers_pre_merge(spark, tmp_path, monkeypatch):
    """A cold handle loaded while a merge is writing — after each of its
    table writes, before the commit — answers exactly like the pre-merge
    index's driver copy (ids and scores) and turns stale once the merge
    commits. Its blocks come from the direct read of its commit's files,
    which never sees the merge's uncommitted postings segment on disk."""
    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, 40, conv_start=0), root, CFG)
    pre = bm25_query_topk_local(spark, Index.load(spark, root).warm(spark),
                                QUERIES, 10)
    assert len(pre) > 0
    mid, uncommitted, direct = {}, {}, []
    read_arrow = Commit.read_arrow

    def spy(self, *args, **kwargs):
        out = read_arrow(self, *args, **kwargs)
        direct.append(out is not None)
        return out

    def load_and_query(name):
        mid[name] = Index.load(spark, root)
        committed = mid[name]._commit.tables["postings"]["segments"]
        uncommitted[name] = (
            set(os.listdir(os.path.join(root, "postings"))) - set(committed))
        got = bm25_query_topk_local(spark, mid[name], QUERIES, 10)
        pd.testing.assert_frame_equal(got, pre, check_exact=True)

    monkeypatch.setattr(Commit, "read_arrow", spy)
    _after_write(monkeypatch, root, load_and_query)
    merge_index_delta(spark, transcripts_df(spark, 30, conv_start=40), root, CFG)
    monkeypatch.undo()
    assert set(mid) == set(MERGE_TABLES)
    assert len(direct) == len(MERGE_TABLES) and all(direct)
    assert uncommitted["postings"] and uncommitted["stats"]
    with pytest.raises(StaleIndexError, match="epoch"):
        bm25_query_topk_local(spark, mid["stats"], QUERIES, 10)


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
