"""Incremental index refresh: batch merge + Structured Streaming ingest.

The reference is strictly batch — its only "refresh" is delete-the-pickle
and rerun (memoize-on-existence, reference data_utils.py:302/457,
model.py:178). A 10^12-turn corpus cannot rebuild per day, so the engine
supports appending new conversations to a live index:

- ``merge_index_delta(spark, new_transcripts, index_root)`` — one batch:
  assemble + tokenize the new conversations, assign doc_ids in a fresh
  range above the current ``n_docs``, APPEND their posting blocks (built
  by the same partial encode + ``reduce_blocks`` as the full build),
  merge document frequencies — ``sum(n)`` per term over those blocks,
  as the build's lexicon takes them — into the lexicon, and update
  corpus stats from exact long counters. Old posting blocks are never
  rewritten; ``compact_postings`` later folds boundary blocks back into
  one row with the same reducer, and the docs segments the merges
  appended into one.
- ``stream_index(...)`` — wraps the merge in a Structured Streaming
  ``foreachBatch`` sink over a file/table source (use
  ``trigger(availableNow=True)`` for catch-up runs; checkpointing makes
  the merge exactly-once per epoch at the source level).

Why appending stays EXACT (a merged index answers queries identically to
a from-scratch rebuild over the union — tested in
tests/test_streaming_ingest.py):

1. **Stats**: ``stats`` keeps exact long ``(n_docs, total_len)``;
   ``avgdl = total_len / n_docs`` computed from the merged longs is
   bit-identical to the rebuild's.
2. **Lexicon**: df counts add exactly (full-outer merge on term); idf is
   a pure function of (N, df) recomputed on write.
3. **Postings**: new docs occupy a disjoint doc-id range, so their blocks
   are disjoint from old ones except possibly one boundary block id,
   where the scorer already accepts multiple rows per (term, block) —
   per-doc scores come from exactly one row, and the segment upper bound
   (a sum over rows) stays a valid bound. Every block is in the one
   canonical form (operators/indexer.py ``_blocks_frame``), so after
   ``compact_postings`` the table is byte-identical to a rebuild over
   the merged docs table.
4. **WAND bounds**: blocks store ``(max_tf, min_dl)`` and the scorer
   recomputes the bound under the CURRENT avgdl (monotonicity argument in
   operators/scorer.py) — old blocks never hold a stale bound.

Atomicity: the merge writes its docs and postings appends and its new
lexicon and stats as fresh segments and publishes all four in one commit
(sources/tables.py). A crash at any point before that commit leaves the
pre-merge index in force — the replay then merges in full — and a handle
loaded mid-merge answers from the pre-merge state.

Contract: each batch carries COMPLETE conversations. A late turn for an
already-indexed conv_id is rejected (it would change that conversation's
document, i.e. an update, not an append — at the Iceberg tier you would
tombstone the doc_id and re-append; out of scope here and asserted
against instead of silently corrupting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkrec.operators.bm25 import tokenize_docs
from sparkrec.operators.docs import assemble_docs, assign_doc_ids
from sparkrec.operators.indexer import (
    IndexConfig,
    lexicon_rows,
    postings_blocks,
    stats_frame,
)
from sparkrec.sources.tables import read_table, write_tables


def merge_index_delta(
    spark: SparkSession,
    new_transcripts: DataFrame,
    index_root: str,
    cfg: IndexConfig | None = None,
) -> dict:
    """Append one batch of complete conversations to an existing index.

    Returns a metrics dict (docs/terms added, new corpus size).
    """
    cfg = cfg or IndexConfig()

    stats = read_table(spark, index_root, "stats").collect()[0]
    n_old, total_old = int(stats["n_docs"]), int(stats["total_len"])

    from pyspark import StorageLevel

    # every persisted relation goes through _hold so the finally block
    # releases them on EVERY exit path (replay-skip, partial-overlap
    # reject, empty batch, success) — a continuous stream_index run would
    # otherwise accumulate cache entries per epoch without bound
    held: list[DataFrame] = []

    def _hold(df: DataFrame) -> DataFrame:
        held.append(df)
        return df

    # persist assembly before assign_doc_ids' bucket-count action (same
    # double-compute hazard as the batch build, operators/indexer.py)
    assembled = _hold(
        assemble_docs(new_transcripts).persist(StorageLevel.MEMORY_AND_DISK)
    )
    new_docs = _hold(
        tokenize_docs(
            assign_doc_ids(assembled),
            min_token_len=cfg.min_token_len,
            remove_numeric=cfg.remove_numeric,
        ).withColumn("doc_id", F.col("doc_id") + F.lit(n_old)).cache()
    )
    try:
        return _merge_locked(spark, index_root, cfg, new_docs, _hold,
                             n_old, total_old)
    finally:
        for df in held:
            df.unpersist()


def _merge_locked(
    spark: SparkSession,
    index_root: str,
    cfg: IndexConfig,
    new_docs: DataFrame,
    _hold,
    n_old: int,
    total_old: int,
) -> dict:

    # Replay/idempotency handling: foreachBatch is at-least-once, so a
    # crashed epoch can be re-delivered. A batch whose conversations are
    # ALL already indexed is a replay of a merge that committed → skip. A
    # PARTIAL overlap is a real update attempt → reject (see module
    # contract). A merge that crashed before its commit left nothing
    # visible, so its replay merges in full.
    batch_convs = _hold(new_docs.select("conv_id").distinct().cache())
    n_batch_convs = batch_convs.count()
    old_docs = read_table(spark, index_root, "docs")
    clash = batch_convs.join(old_docs.select("conv_id"), "conv_id",
                             "left_semi").count()
    if clash == n_batch_convs and n_batch_convs > 0:
        return {"docs_added": 0, "n_docs": n_old, "skipped_replay": True}
    if clash:
        raise ValueError(
            f"{clash}/{n_batch_convs} conversations in the batch already "
            "indexed — incremental merge is append-only (updates need "
            "tombstoning)"
        )

    row = new_docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_len").cast("long").alias("total"),
    ).collect()[0]
    n_new, total_new = int(row["n"]), int(row["total"] or 0)
    if n_new == 0:
        return {"docs_added": 0, "n_docs": n_old}

    n_docs = n_old + n_new
    total_len = total_old + total_new

    # the delta's blocks: same partial encode + reducer as the full build.
    # The shard is a pure function of doc_id (partial_blocks), so they get
    # the exact shard a from-scratch rebuild would assign. Cached — they
    # are delta-sized — because the write and df_delta both read them.
    blocks = _hold(postings_blocks(new_docs, cfg).cache())
    df_delta = blocks.groupBy("term").agg(F.sum("n").cast("long").alias("df_new"))

    # lexicon merge: df adds; idf recomputed for every term under new N
    old_lex = read_table(spark, index_root, "lexicon").select("term", "df")
    merged = lexicon_rows(
        old_lex.join(df_delta, "term", "full_outer").select(
            "term",
            (
                F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("df_new"), F.lit(0))
            ).alias("df"),
        ),
        n_docs,
        cfg,
    )

    merged_rows = _hold(merged.cache())
    n_terms = merged_rows.count()  # the write reuses this evaluation

    # all four tables land in ONE commit: a crash before it leaves the
    # pre-merge index, and handles loaded before it stay on that state
    # until check_fresh sees the new generation
    epoch = write_tables(index_root, [
        ("docs", new_docs.select(*old_docs.columns), None, "append"),
        ("postings", blocks, ["term_bucket"], "append"),
        ("lexicon", merged_rows, None, "overwrite"),
        ("stats", stats_frame(spark, n_docs, total_len, cfg), None, "overwrite"),
    ])
    return {
        "docs_added": n_new,
        "turns_tokens_added": total_new,
        "n_docs": n_docs,
        "n_terms": n_terms,
        "index_epoch": epoch,
    }


def stream_index(
    spark: SparkSession,
    source_path: str,
    index_root: str,
    checkpoint_dir: str,
    cfg: IndexConfig | None = None,
    available_now: bool = True,
):
    """Structured Streaming ingest: parquet file source → foreachBatch
    merge. Returns the StreamingQuery (caller awaits termination).

    ``available_now=True`` drains everything present then stops — the
    catch-up/backfill mode; ``False`` runs continuously on new files.
    """
    from sparkrec.datagen import TRANSCRIPTS_SCHEMA

    src = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_path)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        merge_index_delta(batch_df.sparkSession, batch_df, index_root, cfg)

    writer = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
