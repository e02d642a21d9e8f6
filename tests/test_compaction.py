"""Postings compaction: answers bit-exact before == after == rebuild,
one row per (term, block_id) after, file count shrinks, stale handles
are epoch-poisoned, a crash mid-compaction changes nothing, the
compacted table is byte-identical to a rebuild over the merged docs, and
the docs segments fold into one."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from sparkrec.datagen import transcripts_df
from sparkrec.operators.compaction import compact_postings
from sparkrec.operators.indexer import (
    Index,
    IndexConfig,
    StaleIndexError,
    build_index,
    build_index_from_docs,
)
from sparkrec.operators.scorer import bm25_query_topk, bm25_query_topk_local
from sparkrec.sources.tables import Commit, current, read_table
from sparkrec.streaming.ingest import merge_index_delta

CFG = IndexConfig(block_range=16, docs_per_shard=64, n_term_buckets=4)
QUERIES = [
    ("hot", "term0000 term0001"),
    ("mid", "term0700 term0900"),
    ("mix", "term0002 term2500"),
]


def _topk(spark, root, k=20):
    idx = Index.load(spark, root)
    out = bm25_query_topk(spark, idx, QUERIES, k)
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
        for r in out.collect()
    )


def test_compaction_is_answer_invariant_and_merges_rows(spark, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, 40, conv_start=0), root, CFG)
    # two merges → per-bucket file accretion + multi-row (term, block_id)
    merge_index_delta(spark, transcripts_df(spark, 25, conv_start=40), root, CFG)
    merge_index_delta(spark, transcripts_df(spark, 25, conv_start=65), root, CFG)

    before = _topk(spark, root)
    idx_pre = Index.load(spark, root)

    post = idx_pre.postings(spark)
    multi_before = (
        post.groupBy("term", "block_id").count().filter(F.col("count") > 1)
    ).count()
    assert multi_before > 0, "fixture must actually exercise multi-row blocks"
    # materialize BEFORE the swap: the pre-compaction DataFrame's file
    # listing dies with the replaced directory
    mass_before = post.agg(F.sum("n")).collect()[0][0]

    out = compact_postings(spark, root)
    assert out["rows_after"] < out["rows_before"]
    assert out["files_after"] < out["files_before"]

    # exactly one row per (term, block_id) now
    post2 = Index.load(spark, root).postings(spark)
    assert (
        post2.groupBy("term", "block_id").count().filter(F.col("count") > 1)
    ).count() == 0
    # same postings mass after the merge-rewrite
    assert post2.agg(F.sum("n")).collect()[0][0] == mass_before

    # answers: ids AND scores bit-exact
    assert _topk(spark, root) == before

    # a handle loaded before compaction is poisoned (files were replaced)
    with pytest.raises(StaleIndexError, match="epoch"):
        bm25_query_topk(spark, idx_pre, QUERIES, 5)

    # compaction == rebuild over the union corpus (conv-level identity is
    # covered by the streaming suite; here doc_ids are already aligned
    # because compaction never reassigns them)
    assert _topk(spark, root) == before


def test_epoch_chaos_warm_handle_through_compaction(spark, tmp_path):
    """Serving-handle lifecycle under compaction (VERDICT r4 #7): a WARMED
    handle is poisoned when compaction bumps the epoch, and ``refresh``
    hands back a handle re-warmed to the same level at the new epoch —
    its driver postings copy holds the compacted rows — whose answers
    are bit-identical to pre-compaction on the batch and local paths."""
    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, 40, conv_start=0), root, CFG)
    merge_index_delta(spark, transcripts_df(spark, 25, conv_start=40), root, CFG)

    before = _topk(spark, root)
    local_before = bm25_query_topk_local(spark, Index.load(spark, root),
                                         QUERIES, 20)

    idx = Index.load(spark, root).warm(spark, postings=True)
    rows_pre = len(idx._driver_postings)
    # handle serves correctly before the chaos
    assert sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
        for r in bm25_query_topk(spark, idx, QUERIES, 20).collect()
    ) == before

    compact_postings(spark, root)

    with pytest.raises(StaleIndexError, match="epoch"):
        bm25_query_topk(spark, idx, QUERIES, 5)

    fresh = idx.refresh(spark)
    assert fresh.epoch > idx.epoch
    # refresh re-warms to the same level: the copy holds the compacted rows
    assert fresh._lexicon_map is not None
    assert len(fresh._driver_postings) == fresh.postings(spark).count()
    assert len(fresh._driver_postings) < rows_pre  # boundary blocks merged
    assert sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
        for r in bm25_query_topk(spark, fresh, QUERIES, 20).collect()
    ) == before
    pd.testing.assert_frame_equal(
        bm25_query_topk_local(spark, fresh, QUERIES, 20), local_before,
        check_exact=True)


def test_build_merge_compact_equals_rebuild_of_merged_docs(spark, tmp_path):
    """One canonical block form across all three writers of the postings
    table: build_index(A) + merge_index_delta(B) + compact_postings is
    byte-identical — shard, term_bucket and the binary columns included —
    to build_index_from_docs over that index's own docs table (same
    doc_ids), and so are its lexicon and stats. The compaction also folds
    the build's and the merge's docs segments into one, rows unchanged."""
    root = str(tmp_path / "idx")
    ref = str(tmp_path / "ref")
    build_index(spark, transcripts_df(spark, 40, conv_start=0), root, CFG)
    merge_index_delta(spark, transcripts_df(spark, 25, conv_start=40), root, CFG)

    def snapshot(r, name):
        return sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                  for v in row)
            for row in read_table(spark, r, name).collect()
        )

    docs_before = snapshot(root, "docs")
    assert len(current(root).tables["docs"]["segments"]) == 2
    out = compact_postings(spark, root)
    assert out["rows_after"] < out["rows_before"]  # boundary blocks merged
    assert len(current(root).tables["docs"]["segments"]) == 1
    # the return dict reports the fold, and counts the committed files
    assert (out["docs_segments_before"], out["docs_segments_after"]) == (2, 1)
    assert out["files_after"] == len(current(root).files("postings")) > 0
    assert snapshot(root, "docs") == docs_before

    build_index_from_docs(spark, read_table(spark, root, "docs"), ref, CFG)

    for name in ("postings", "lexicon", "stats"):
        got, want = snapshot(root, name), snapshot(ref, name)
        assert len(want) > 0, name
        assert got == want, name


def _direct_reads(monkeypatch) -> list[bool]:
    """Spy on ``Commit.read_arrow``: the returned list gets one entry per
    call, True when it served a table (a direct read, no Spark job)."""
    calls = []
    read_arrow = Commit.read_arrow

    def spy(self, *args, **kwargs):
        out = read_arrow(self, *args, **kwargs)
        calls.append(out is not None)
        return out

    monkeypatch.setattr(Commit, "read_arrow", spy)
    return calls


def test_point_sources_agree_built_merged_compacted(spark, tmp_path,
                                                    monkeypatch):
    """The local path's three block sources — the driver postings copy,
    the direct Arrow read of the commit's files and the Spark scan — give
    bit-equal ids and scores on one index as built, after a delta merge
    (two postings segments, multi-row blocks) and after compaction."""
    root = str(tmp_path / "idx")

    def agree(n_segments):
        assert len(current(root).tables["postings"]["segments"]) == n_segments
        resident = bm25_query_topk_local(
            spark, Index.load(spark, root).warm(spark), QUERIES, 20)
        cold = Index.load(spark, root).warm(spark, postings=False)
        direct_calls = _direct_reads(monkeypatch)
        direct = bm25_query_topk_local(spark, cold, QUERIES, 20)
        monkeypatch.setattr(Commit, "read_arrow", lambda self, *a, **kw: None)
        scan = bm25_query_topk_local(spark, cold, QUERIES, 20)
        monkeypatch.undo()
        assert direct_calls == [True]
        assert len(resident) > 0
        pd.testing.assert_frame_equal(direct, resident, check_exact=True)
        pd.testing.assert_frame_equal(scan, resident, check_exact=True)

    build_index(spark, transcripts_df(spark, 40, conv_start=0), root, CFG)
    agree(1)
    merge_index_delta(spark, transcripts_df(spark, 25, conv_start=40), root, CFG)
    agree(2)
    compact_postings(spark, root)
    agree(1)


def test_compaction_committed_mid_direct_read_raises_stale(spark, tmp_path,
                                                           monkeypatch):
    """A compaction that commits after a cold handle's freshness check
    but before its direct read deletes the segments the handle pins: the
    read lists no files, so it must raise StaleIndexError rather than
    answer from an empty table."""
    from sparkrec.operators import scorer

    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, 40, conv_start=0), root, CFG)
    merge_index_delta(spark, transcripts_df(spark, 25, conv_start=40), root, CFG)
    cold = Index.load(spark, root)
    pinned = cold._commit.tables["postings"]["segments"]
    lex_lookup = scorer._lex_lookup

    def lookup_then_compact(*args):
        out = lex_lookup(*args)
        compact_postings(spark, root)
        return out

    monkeypatch.setattr(scorer, "_lex_lookup", lookup_then_compact)
    with pytest.raises(StaleIndexError):
        bm25_query_topk_local(spark, cold, QUERIES, 20)
    assert not set(pinned) & set(os.listdir(os.path.join(root, "postings")))


def _parquet_files(path):
    return sorted(os.path.relpath(os.path.join(d, f), path)
                  for d, _, files in os.walk(path)
                  for f in files if f.endswith(".parquet"))


def test_crash_mid_compaction_leaves_pre_compaction_index(spark, tmp_path,
                                                          monkeypatch):
    """A crash inside ``compact_postings`` after its rewrite landed leaves
    the pre-compaction answers and generation; the next compaction
    succeeds, and then every table directory holds exactly the parquet
    files of its committed segments (superseded and crashed ones gone)."""
    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, 40, conv_start=0), root, CFG)
    merge_index_delta(spark, transcripts_df(spark, 25, conv_start=40), root, CFG)
    before, generation = _topk(spark, root), current(root).generation
    local_before = bm25_query_topk_local(
        spark, Index.load(spark, root).warm(spark), QUERIES, 20)

    parquet = DataFrameWriter.parquet

    def crash_after_write(self, path, *args, **kwargs):
        parquet(self, path, *args, **kwargs)
        raise RuntimeError("injected crash after the postings rewrite")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_after_write)
    with pytest.raises(RuntimeError, match="injected"):
        compact_postings(spark, root)
    monkeypatch.undo()
    assert current(root).generation == generation
    assert _topk(spark, root) == before
    # the crashed rewrite's segment sits on disk, uncommitted: a cold
    # handle's direct read lists only its commit's segments, so it
    # answers bit-equal to the pre-compaction index
    cold = Index.load(spark, root)
    committed = cold._commit.tables["postings"]["segments"]
    assert set(os.listdir(os.path.join(root, "postings"))) - set(committed)
    direct = _direct_reads(monkeypatch)
    pd.testing.assert_frame_equal(
        bm25_query_topk_local(spark, cold, QUERIES, 20), local_before,
        check_exact=True)
    monkeypatch.undo()
    assert direct and all(direct)
    # and compaction counts the committed files only, not the leftover's
    n_committed = len(cold._commit.files("postings"))
    assert len(_parquet_files(os.path.join(root, "postings"))) > n_committed

    out = compact_postings(spark, root)
    assert out["files_before"] == n_committed
    assert _topk(spark, root) == before
    for name, table in current(root).tables.items():
        committed = sorted(
            os.path.join(seg, f) for seg in table["segments"]
            for f in _parquet_files(os.path.join(root, name, seg)))
        assert committed, name
        assert _parquet_files(os.path.join(root, name)) == committed, name
