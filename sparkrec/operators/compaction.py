"""Postings compaction: merge per-merge file accretion back into one row
per (term, block_id).

Every ``merge_index_delta`` appends a fresh file set per term_bucket
(streaming/ingest.py): at the 10^12-turn tier with daily merges the
postings table accretes small parquet files and boundary-split block
rows, degrading the pruned scan the whole serving design leans on (more
row groups to open per probe, more rows per (term, block) to decode).
The scorer tolerates multi-row blocks exactly (ingest.py module notes),
so compaction is pure plumbing: it NEVER changes query answers — tested
bit-exact (ids AND scores) in tests/test_compaction.py.

Plan shape: compaction IS the build's block reduce — ``reduce_blocks``
(operators/indexer.py) over the stored rows: one shuffle keyed (term,
shard) with in-agg sort on (block_id, doc_lo), single-row blocks passed
through, multi-row blocks decoded, concatenated (append ranges are
doc-id-disjoint) and re-encoded in Arrow-batched numpy, then a
partition-by term_bucket rewrite. The result is byte-identical to a
rebuild over the merged docs table (tests/test_compaction.py). With an
Iceberg catalog this would be a per-partition RewriteDataFiles action
under snapshot isolation; the parquet fallback writes one new postings
segment and commits ``postings = [that segment]`` (sources/tables.py),
which deletes the old segments. Each merge also appends a docs segment,
so when the docs table has more than one, the same commit replaces them
with one rewritten segment (same rows): the docs read's file count stays
bounded under a continuous ``stream_index``. Answers are unchanged but
the files moved, so handles loaded before it fail ``check_fresh`` and
must reload (the same handoff as a merge).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from sparkrec.operators.indexer import reduce_blocks
from sparkrec.sources.tables import current, write_tables


def _layout(commit) -> tuple[int, int]:
    """(postings data files, docs segments) the commit names; (0, 0)
    under a catalog, which keeps no file list."""
    if commit.tables is None:
        return 0, 0
    return len(commit.files("postings")), len(commit.tables["docs"]["segments"])


def compact_postings(spark: SparkSession, index_root: str) -> dict:
    """Rewrite the postings table with one row per (term, block_id), and
    fold a docs table of several segments (one per merge) into one, in
    the same commit.

    Returns {files_before, files_after, rows_before, rows_after,
    docs_segments_before, docs_segments_after, index_epoch}; the file and
    row counts are the postings table's, the files those of the commit's
    own segments (``Commit.files``: a crashed write's leftovers on disk
    are not counted). Safe to run any time — answers are invariant;
    handles loaded before the compaction fail ``check_fresh`` because
    their pinned segments are gone.
    """
    commit = current(index_root)
    files_before, docs_before = _layout(commit)
    post = commit.read(spark, "postings")
    rows_before = post.count()

    # every stored row is a partial of its block: the build/merge reducer
    # joins them, keeping each row's stored term_bucket
    writes = [("postings", reduce_blocks(post), ["term_bucket"], "overwrite")]
    if docs_before > 1:
        writes.append(("docs", commit.read(spark, "docs"), None, "overwrite"))
    epoch = write_tables(index_root, writes)
    after = current(index_root)
    rows_after = after.read(spark, "postings").count()
    files_after, docs_after = _layout(after)

    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "files_before": files_before,
        "files_after": files_after,
        "docs_segments_before": docs_before,
        "docs_segments_after": docs_after,
        "index_epoch": epoch,
    }
