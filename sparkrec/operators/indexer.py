"""Inverted-index build: transcripts → docs/lexicon/stats/postings tables.

This is the engine's analogue of ``gen_embeddings("tfidf", …)``
(model.py:166-170) — but instead of a dense doc-term matrix and an N×N
similarity materialization (model.py:280-285, the 5-10 GB pickles the
reference ships), it builds a compressed, sharded inverted index that
queries prune at run time.

Scale design (SURVEY.md §4.2):

- **Hot-term skew defusal** (§4.2.1): posting assembly groups by
  ``(term, shard)``, where ``shard`` is derived from the *doc-id range*,
  sized per term from its document frequency: a stopword-like term with
  10^9 postings becomes ``df / docs_per_shard`` independent groups, so no
  single aggregation buffer or task ever holds more than
  ``docs_per_shard`` postings. Rare terms keep one group. AQE skew-join
  handling alone cannot do this — the ``collect_list`` state itself is
  the bottleneck being split.
- **Doc-aligned blocks**: inside a shard, postings are cut into blocks at
  fixed doc-id boundaries (``doc_id // block_range``), identical across
  ALL terms. Aligned blocks make every block-id segment score-complete
  (all terms' postings for those docs live in same-id blocks), which is
  what lets the WAND scorer prune whole segments by upper bound and stop
  early while staying exact (operators/scorer.py).
- **Partition pruning**: the postings table is written partitioned by
  ``term_bucket = pmod(xxhash64(term), n_buckets)`` — a query touches
  only the buckets of its own terms; the term equality predicate pushes
  down into the parquet/Iceberg scan.
- Encoding runs in ``mapInPandas`` with the batched numpy codec — one
  vectorized call per Arrow batch, not per posting (operators/codec.py).
- **Two-phase assembly** (§4.2.1): TF is counted in-row and partial
  blocks are varint-encoded map-side (``partial_blocks``), so the single
  corpus exchange carries ~5 B/posting of compressed bytes. One reducer
  (``reduce_blocks``) merges split blocks with a canonical re-encode
  (``_blocks_frame``, the only builder of block rows); the full build,
  the streaming delta merge and compaction all write through it, so a
  table's bytes do not depend on which of them produced it.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkrec import BM25_B, BM25_K1
from sparkrec.operators.bm25 import tokenize_docs
from sparkrec.operators.codec import decode_postings_many, encode_postings_many
from sparkrec.operators.docs import assemble_docs, assign_doc_ids
from sparkrec.sources.tables import (
    Commit,
    current,
    read_table,
    table_exists,
    write_table,
)


class StaleIndexError(RuntimeError):
    """Raised when a loaded/warmed Index handle is queried after the
    on-disk index moved to a newer commit (e.g. a streaming merge rewrote
    lexicon/stats and appended postings). The handle's driver copies and
    frozen (n_docs, avgdl) would silently mis-score — reload via
    ``Index.load`` or ``Index.refresh`` instead."""

POSTINGS_SCHEMA = (
    "term string, shard int, block_id long, n int, doc_lo long, doc_hi long, "
    "max_tf int, min_dl int, "
    "docs_enc binary, tfs_enc binary, dls_enc binary"
)


@dataclass
class IndexConfig:
    k1: float = BM25_K1
    b: float = BM25_B
    min_token_len: int = 2
    remove_numeric: bool = True
    block_range: int = 4096        # doc ids per block (aligned across terms)
    # max postings per assembly group — a HARD cap by construction ONLY
    # when docs_per_shard >= block_range (validated in __post_init__):
    # the shard is the doc-id block group, which spans at most
    # max(1, docs_per_shard // block_range) blocks (partial_blocks
    # docstring), so a smaller docs_per_shard would silently bound at
    # block_range instead.
    # Sized for task balance, not memory:
    # measured at 2M turns, 64k-posting groups make the encode stage
    # straggler-bound (hot-term groups pin whole tasks; 8-core encode wall
    # 71 s) while 16k groups smooth the distribution (50 s at 8 cores,
    # fastest measured at 2 cores too). Re-confirmed at 32 cores by the
    # round-4 steal-gated A/B (BENCH.md "Round-4 docs_per_shard A/B"):
    # 16k won the clean-trial build wall 12.9 s vs
    # 17.8 s. Block CONTENTS and query results
    # are identical for any value here (blocks are cut at block_range
    # boundaries inside any grouping) — but the stored `shard` column
    # values and shard counts DO change with it, so treat a retune as a
    # content-neutral but not byte-neutral change.
    docs_per_shard: int = 16384
    n_term_buckets: int = 16       # postings partition count (↑ on clusters)

    def __post_init__(self):
        if self.docs_per_shard < self.block_range:
            raise ValueError(
                f"docs_per_shard ({self.docs_per_shard}) must be >= "
                f"block_range ({self.block_range}): the per-group state "
                "bound is max(docs_per_shard, block_range), so a smaller "
                "value would not tighten the cap, only mislead"
            )


def _term_bucket(cfg: IndexConfig):
    """The postings/lexicon partition column: pmod(xxhash64(term), n)."""
    return F.pmod(F.xxhash64("term"), F.lit(cfg.n_term_buckets)).cast("int")


def _blocks_frame(head: pd.DataFrame, doc_lists, tf_lists, dl_lists) -> pd.DataFrame:
    """The one builder of POSTINGS_SCHEMA rows from posting lists.

    ``head`` holds one row of key columns per block (term, shard,
    block_id, plus any carried column); the lists hold that block's
    doc-sorted (doc_id, tf, doc_len) arrays. One batched encode, then the
    block metadata reductions. The codec is a deterministic function of
    the sorted content, so equal lists give equal bytes: the canonical
    block form every writer (build, delta merge, compaction) shares.
    """
    docs_enc, tfs_enc, dls_enc = encode_postings_many(doc_lists, tf_lists, dl_lists)
    lens = np.fromiter(map(len, doc_lists), dtype=np.int64, count=len(doc_lists))
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    flat_doc = np.concatenate(doc_lists).astype(np.int64)
    flat_tf = np.concatenate(tf_lists)
    flat_dl = np.concatenate(dl_lists)
    return head.reset_index(drop=True).assign(
        n=lens.astype(np.int32),
        doc_lo=flat_doc[starts],
        doc_hi=flat_doc[starts + lens - 1],
        max_tf=np.maximum.reduceat(flat_tf, starts).astype(np.int32),
        # (max_tf, min_dl) make the block upper bound recomputable at
        # query time under the CURRENT avgdl: bm25_weight is ↑ in tf and
        # ↓ in dl, so f(max_tf, min_dl, avgdl_now) ≥ f(tf_i, dl_i,
        # avgdl_now) for every posting — the WAND bound stays safe after
        # incremental merges shift corpus stats (streaming/ingest.py). A
        # build-time max_weight would bake the old avgdl in, so none is
        # stored.
        min_dl=np.minimum.reduceat(flat_dl, starts).astype(np.int32),
        docs_enc=docs_enc,
        tfs_enc=tfs_enc,
        dls_enc=dls_enc,
    )


def partial_blocks(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """docs (doc_id, doc_len, tokens, …) → partial posting blocks, map-only
    (phase 1 of the SURVEY §4.2.1 two-phase layout).

    TF needs no cross-row aggregation — a doc's tokens live entirely in
    its own row — so each Arrow batch counts TF in-row with a factorize +
    lexsort run-length kernel (int codes, not interpreted HOF lambdas —
    the 1.6×-slower per-element HOF variant in BENCH.md "tried and
    rejected" is a different animal), cuts the batch's posting lists at
    ``block_range`` doc-id boundaries, and varint-encodes them at once.
    A block whose docs span several map batches leaves one partial per
    batch; ``reduce_blocks`` joins them.

    The shard is the doc-id block GROUP (``doc_id // block_range //
    blocks_per_group``) — a pure function of doc_id, needing no term
    statistics. A group spans at most ``blocks_per_group`` blocks of
    ``block_range`` doc ids, so per-group reduce state is hard-capped at
    ``docs_per_shard`` postings no matter how hot the term; and because
    the value is df-independent, a streaming merge (ingest.py) assigns
    appended blocks the exact shard a from-scratch rebuild would. df is
    aggregated from the block rows after assembly (build_index_from_docs),
    not joined in before it.
    """
    blocks_per_group = max(1, cfg.docs_per_shard // cfg.block_range)
    block_range = cfg.block_range

    def partial_encode(batches):
        for pdf in batches:
            tok_lists = pdf["tokens"]
            n_rows = len(tok_lists)
            if n_rows == 0:
                continue
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            doc_lens = pdf["doc_len"].to_numpy(dtype=np.int64)
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=n_rows
            )
            total = int(lens.sum())
            if total == 0:
                continue
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in tok_lists if len(t)]
            )
            codes, uniques = pd.factorize(flat)
            docx = np.repeat(np.arange(n_rows), lens)
            # TF in-row: sort (doc, code) pairs, run-length the runs
            order = np.lexsort((codes, docx))
            dc, cc = docx[order], codes[order]
            newrun = np.empty(len(dc), dtype=bool)
            newrun[0] = True
            newrun[1:] = (dc[1:] != dc[:-1]) | (cc[1:] != cc[:-1])
            run_starts = np.flatnonzero(newrun)
            run_tf = np.diff(np.append(run_starts, len(dc)))
            run_code = cc[run_starts]
            run_docid = doc_ids[dc[run_starts]]
            run_dl = doc_lens[dc[run_starts]]
            # partial blocks: sort runs by (term code, doc_id); block is
            # monotone in doc_id so (code, doc_id) order groups blocks
            order2 = np.lexsort((run_docid, run_code))
            g_code = run_code[order2]
            g_docid = run_docid[order2]
            g_tf = run_tf[order2]
            g_dl = run_dl[order2]
            g_block = g_docid // block_range
            cut = (
                np.flatnonzero(
                    (g_code[1:] != g_code[:-1]) | (g_block[1:] != g_block[:-1])
                )
                + 1
            )
            starts = np.concatenate(([0], cut))
            spans = list(zip(starts, np.append(cut, len(g_code))))
            block_ids = g_block[starts]
            head = pd.DataFrame({
                "term": uniques[g_code[starts]],
                "shard": (block_ids // blocks_per_group).astype(np.int32),
                "block_id": block_ids,
            })
            yield _blocks_frame(
                head,
                [g_docid[s:e] for s, e in spans],
                [g_tf[s:e] for s, e in spans],
                [g_dl[s:e] for s, e in spans],
            )

    return docs.select("doc_id", "doc_len", "tokens").mapInPandas(
        partial_encode, schema=POSTINGS_SCHEMA
    )


_BLOCK_COLUMNS = [f.split()[0] for f in POSTINGS_SCHEMA.split(", ")]
# per-partial fields in reduce sort order: (block_id, doc_lo) leads
_PART_FIELDS = ("block_id", "doc_lo", "doc_hi", "n", "max_tf", "min_dl",
                "docs_enc", "tfs_enc", "dls_enc")


def reduce_blocks(parts: DataFrame) -> DataFrame:
    """Partial block rows → one canonical row per (term, block_id): the
    single block reducer behind the full build, the delta merge and
    compaction (phase 2 of SURVEY §4.2.1).

    ``parts`` has POSTINGS_SCHEMA columns, optionally plus
    ``term_bucket`` — a function of the term, carried through unchanged
    (compaction keeps each row's stored bucket). The one exchange is
    keyed (term, shard) and carries encoded bytes (~5 B/posting); group
    state is hard-capped at ``docs_per_shard`` postings, in encoded form.
    Blocks with a single partial pass through untouched (their bytes
    already are the canonical encode of the full sorted list); blocks
    with several are decoded, merge-sorted by doc_id and re-encoded by
    ``_blocks_frame``. So a table's bytes do not depend on how its
    postings were split into partials — map batching, delta appends or
    compaction order (tests/test_index_query.py and
    tests/test_streaming_ingest.py assert full-table equality).
    """
    carry = ["term_bucket"] if "term_bucket" in parts.columns else []
    keys = ["term", "shard", *carry]
    cols = [*_BLOCK_COLUMNS, *carry]
    # struct sorts by field order, so (block_id, doc_lo) leads — within a
    # group, partials arrive block-grouped and doc_lo-ordered. (block_id,
    # doc_lo) is unique per group: a (doc, term) posting lives in exactly
    # one partial, so two partials of one block can't share doc_lo.
    grouped = parts.groupBy("term", "shard").agg(
        *[F.min(c).alias(c) for c in carry],
        F.array_sort(F.collect_list(F.struct(*_PART_FIELDS))).alias("parts"),
    )

    def merge(batches):
        for pdf in batches:
            whole, split = [], []  # (group row, partials of one block)
            for g, group in enumerate(pdf["parts"]):
                for _, run in itertools.groupby(group, lambda p: p["block_id"]):
                    run = list(run)
                    (whole if len(run) == 1 else split).append((g, run))
            if whole:
                out = pdf[keys].iloc[[g for g, _ in whole]].reset_index(drop=True)
                for f in _PART_FIELDS:
                    out[f] = [run[0][f] for _, run in whole]
                yield out[cols]
            if not split:
                continue
            dd, tt, ll = decode_postings_many(*(
                [p[f] for _, run in split for p in run]
                for f in ("docs_enc", "tfs_enc", "dls_enc")
            ))
            doc_lists, tf_lists, dl_lists = [], [], []
            ends = np.cumsum([len(run) for _, run in split])
            for lo, hi in zip(np.concatenate(([0], ends[:-1])), ends):
                d, t, dl = (np.concatenate(x[lo:hi]) for x in (dd, tt, ll))
                # partials may hold interleaved doc ranges (map batches
                # are arbitrary row ranges) — merge-sort when needed;
                # (doc, term) is unique, so no tie order to worry about
                if not np.all(d[1:] > d[:-1]):
                    o = np.argsort(d, kind="stable")
                    d, t, dl = d[o], t[o], dl[o]
                doc_lists.append(d)
                tf_lists.append(t)
                dl_lists.append(dl)
            head = pdf[keys].iloc[[g for g, _ in split]].assign(
                block_id=[run[0]["block_id"] for _, run in split]
            )
            yield _blocks_frame(head, doc_lists, tf_lists, dl_lists)[cols]

    schema = POSTINGS_SCHEMA + "".join(f", {c} int" for c in carry)
    return grouped.mapInPandas(merge, schema=schema)


def postings_blocks(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """docs → postings table rows (POSTINGS_SCHEMA + term_bucket): the
    map-side partial encode, then ``reduce_blocks``. The full build and
    the delta merge both write through here."""
    return reduce_blocks(partial_blocks(docs, cfg)).withColumn(
        "term_bucket", _term_bucket(cfg)
    )


def lexicon_rows(dfs: DataFrame, n_docs: int, cfg: IndexConfig) -> DataFrame:
    """(term, df) → lexicon rows: + Lucene idf under ``n_docs`` and the
    term's postings bucket."""
    return dfs.withColumn(
        "idf",
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
    ).withColumn("term_bucket", _term_bucket(cfg))


def stats_frame(spark: SparkSession, n_docs: int, total_len: int,
                 cfg: IndexConfig) -> DataFrame:
    """The one-row stats table. avgdl is derived from exact longs: an
    incremental merge that adds (n', total') reproduces the identical
    double, so scores after a merge match a rebuild bit-for-bit."""
    avgdl = total_len / n_docs if n_docs else 0.0
    return spark.createDataFrame(
        [(n_docs, total_len, avgdl, cfg.k1, cfg.b, cfg.block_range)],
        "n_docs long, total_len long, avgdl double, "
        "k1 double, b double, block_range int",
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    cfg: IndexConfig | None = None,
    overwrite: bool = False,
    metrics=None,
) -> None:
    """Full build from transcripts: docs → stats → lexicon → postings,
    each a resumable stage (skip-if-table-exists — the reference's
    memoize-on-existence semantics, data_utils.py:302/457, model.py:178)."""
    from sparkrec.plans.manifest import Stage

    cfg = cfg or IndexConfig()

    with Stage("docs", index_root, overwrite, metrics) as st:
        if st.needed:
            from pyspark import StorageLevel

            # assign_doc_ids runs a bucket-count ACTION before the final
            # write — without a persist the whole assembly shuffle would
            # execute twice (measured ~2x the docs-stage cost)
            assembled = assemble_docs(transcripts).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            docs = tokenize_docs(
                assign_doc_ids(assembled),
                min_token_len=cfg.min_token_len,
                remove_numeric=cfg.remove_numeric,
            )
            write_table(
                docs.select(
                    "doc_id", "conv_id", "turn_lo", "turn_hi", "n_turns",
                    "ts_lo", "ts_hi", "doc_len", "tokens",
                ),
                index_root,
                "docs",
            )
            assembled.unpersist(blocking=True)

    build_index_from_docs(spark, None, index_root, cfg, overwrite, metrics)


def build_index_from_docs(
    spark: SparkSession,
    docs: DataFrame | None,
    index_root: str,
    cfg: IndexConfig | None = None,
    overwrite: bool = False,
    metrics=None,
) -> None:
    """Index build over an already-tokenized docs table.

    ``docs`` needs (doc_id long, tokens array<string>, doc_len int) plus
    any metadata columns; pass None to resume from an existing ``docs``
    table under ``index_root``. This is the generic entry point — any
    corpus with stable integer doc ids (e.g. the driver's ``documents``
    parquet) indexes through here; transcripts go through
    ``build_index`` which adds assembly + id assignment first.
    """
    from sparkrec.plans.manifest import Stage

    cfg = cfg or IndexConfig()

    # build_index records its own docs stage and passes None here: only a
    # passed frame is a docs stage of this call
    if docs is not None:
        with Stage("docs", index_root, overwrite, metrics) as st:
            if st.needed:
                write_table(docs, index_root, "docs")
    elif not table_exists(spark, index_root, "docs"):
        raise ValueError("docs DataFrame required: no docs table at root")

    docs = read_table(spark, index_root, "docs")

    with Stage("stats", index_root, overwrite, metrics) as st:
        if st.needed:
            row = docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_len").cast("long").alias("total"),
            ).collect()[0]
            write_table(
                stats_frame(spark, int(row["n"]), int(row["total"] or 0), cfg),
                index_root,
                "stats",
            )

    n_docs = int(read_table(spark, index_root, "stats").collect()[0]["n_docs"])

    # One corpus-sized pass total: TF flows straight into posting
    # assembly (the shard is a pure function of doc_id — see
    # partial_blocks), and the lexicon's df is then aggregated from the
    # written block rows (sum of per-block counts == document frequency,
    # since each (doc, term) posting lands in exactly one block). The
    # old layout ran doc_freqs over TF, wrote the lexicon, and joined it
    # back into TF — two corpus-sized shuffles plus a join and a TF
    # persist; the per-stage scaling run (BENCH_SCALING.md) showed that
    # combined pass pair was the bulk of the build wall.

    with Stage("postings", index_root, overwrite, metrics) as st:
        if st.needed:
            write_table(postings_blocks(docs, cfg), index_root, "postings",
                        partition_by=["term_bucket"])

    with Stage("lexicon", index_root, overwrite, metrics) as st:
        if st.needed:
            dfs = read_table(spark, index_root, "postings").groupBy("term").agg(
                F.sum("n").cast("long").alias("df")
            )
            write_table(lexicon_rows(dfs, n_docs, cfg), index_root, "lexicon")


class _DriverLexicon:
    """Compact driver-resident term → (idf, term_bucket) map.

    One str→row dict plus two parallel numpy arrays — ~100 MB per 1M
    terms, vs ~500 MB for a plain dict of (float, int) tuples (the dict
    slot + tuple + boxed-float overhead dominates). Duck-typed like a
    mapping for the two ops the scorer uses (``in``, ``[term]``).
    """

    __slots__ = ("_row", "_idf", "_bucket")

    def __init__(self, terms, idf, bucket):
        self._row = {t: i for i, t in enumerate(terms)}
        self._idf = np.asarray(idf, dtype=np.float64)
        self._bucket = np.asarray(bucket, dtype=np.int32)

    def __contains__(self, term) -> bool:
        return term in self._row

    def __len__(self) -> int:
        return len(self._row)

    def __getitem__(self, term):
        i = self._row[term]
        return float(self._idf[i]), int(self._bucket[i])


class _DriverPostings:
    """Driver-resident copy of the committed posting blocks.

    One pandas frame of (term, block_id, max_tf, min_dl, docs_enc,
    tfs_enc, dls_enc) sorted by (term, block_id) — the blocks stay
    varint-encoded, so the copy costs about the stored column bytes —
    plus a term → (start, end) row-range dict. A query's blocks are the
    ``iloc`` slices of its terms: no Spark job.
    """

    __slots__ = ("_frame", "_rows")

    COLUMNS = ("term", "block_id", "max_tf", "min_dl",
               "docs_enc", "tfs_enc", "dls_enc")

    def __init__(self, frame: pd.DataFrame):
        frame = frame.sort_values(["term", "block_id"], ignore_index=True)
        terms = frame["term"].to_numpy(dtype=object)
        starts = np.flatnonzero(
            np.concatenate(([len(terms) > 0], terms[1:] != terms[:-1]))
        )
        ends = np.append(starts[1:], len(terms))
        self._rows = {terms[s]: (int(s), int(e)) for s, e in zip(starts, ends)}
        self._frame = frame

    def __len__(self) -> int:
        return len(self._frame)

    def blocks(self, terms) -> pd.DataFrame:
        """Every block of ``terms`` (terms without postings add none)."""
        parts = [self._frame.iloc[slice(*self._rows[t])]
                 for t in terms if t in self._rows]
        return pd.concat(parts) if parts else self._frame.iloc[:0]


@dataclass
class Index:
    root: str
    n_docs: int
    total_len: int
    avgdl: float
    k1: float
    b: float
    block_range: int
    #: the commit this handle pinned at load: every table read it makes
    #: uses only that commit's segments
    _commit: Commit

    @property
    def epoch(self) -> int:
        """Generation of the pinned commit; compared against the one in
        force before serving, so a handle held across a merge, compaction
        or rebuild fails loudly (StaleIndexError)."""
        return self._commit.generation

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "Index":
        commit = current(root)
        stats = commit.read(spark, "stats").collect()[0]
        return cls(
            root=root,
            n_docs=int(stats["n_docs"]),
            total_len=int(stats["total_len"]),
            avgdl=float(stats["avgdl"]),
            k1=float(stats["k1"]),
            b=float(stats["b"]),
            block_range=int(stats["block_range"]),
            _commit=commit,
        )

    _lexicon_map: _DriverLexicon | None = None
    #: driver copy of the committed postings; filled by ``warm`` only,
    #: never on read
    _driver_postings: _DriverPostings | None = None
    #: the ``postings`` argument of the last ``warm`` (None: never
    #: warmed); ``refresh`` re-warms the new handle to the same level
    _warmed_postings: bool | None = None

    #: build the driver-resident lexicon only below this vocabulary size.
    #: The standard serving design keeps the lexicon in RAM (it is the
    #: index's "dimension table"); 1M entries ≈ 100 MB in the compact
    #: _DriverLexicon layout — bounded on the 8g driver. Above the cap,
    #: query paths fall back to a term-filtered lexicon scan — nothing
    #: breaks, one extra Spark job per query.
    LEX_DRIVER_CACHE_MAX = 1_000_000

    #: fill the driver-resident postings copy only below this many
    #: encoded block bytes (docs_enc + tfs_enc + dls_enc). Measured on
    #: the perfbench serve index, 0.65 MB of blocks (5.2k rows) raised
    #: driver peak RSS by 3.9 MB — ~6× the encoded bytes, collect-time
    #: transients included — so the cap bounds a fill near 0.4 GB on
    #: the 8g driver. Above it, warm point queries read their blocks
    #: straight from the commit's files (``Commit.read_arrow``) — nothing
    #: breaks, still no Spark job.
    POST_DRIVER_CACHE_MAX_BYTES = 64 << 20

    def check_fresh(self) -> None:
        """Raise StaleIndexError if a newer commit replaced this handle's.
        A driver-side read of the small commit file — no Spark job —
        called by every query path, so stale driver copies / frozen
        corpus stats can never silently mis-score after a streaming
        merge."""
        cur = current(self.root).generation
        if cur != self.epoch:
            raise StaleIndexError(
                f"index at {self.root} is at epoch {cur}, this handle "
                f"was loaded at epoch {self.epoch} — a merge, compaction "
                "or rebuild committed; reload with Index.load / Index.refresh"
            )

    def refresh(self, spark: SparkSession) -> "Index":
        """Drop this handle's driver copies and return a fresh handle at
        the current epoch, re-warmed to the same level (the post-merge
        serving handoff: old handle poisoned, new one takes over)."""
        self._lexicon_map = None
        self._driver_postings = None
        idx = Index.load(spark, self.root)
        if self._warmed_postings is not None:
            idx.warm(spark, postings=self._warmed_postings)
        return idx

    def postings(self, spark: SparkSession) -> DataFrame:
        return self._commit.read(spark, "postings")

    def driver_blocks(self, terms, buckets, limit: int) -> pd.DataFrame | None:
        """The posting blocks (``_DriverPostings.COLUMNS``) of ``terms``
        with no Spark job: from the driver copy when ``warm`` filled it,
        else read straight from the pinned commit's files — only the
        ``buckets`` directories, at most ``limit`` rows
        (``Commit.read_arrow``). None under a catalog, where only a Spark
        scan reads the table.

        The direct read checks freshness again once it is done (or has
        failed): a commit deletes the segments it supersedes only after
        publishing itself, so an unchanged generation proves every file
        read was there. Without it, a compaction committed mid-query
        would leave a listing with no files — an empty answer, no error.
        """
        if self._driver_postings is not None:
            return self._driver_postings.blocks(terms)
        try:
            direct = self._commit.read_arrow(
                "postings", _DriverPostings.COLUMNS, terms, buckets, limit)
        finally:
            self.check_fresh()
        return None if direct is None else direct.to_pandas()

    def lexicon(self, spark: SparkSession) -> DataFrame:
        return self._commit.read(spark, "lexicon")

    def warm(self, spark: SparkSession, postings: bool = True) -> "Index":
        """Fill this handle's driver-resident copies (the search-server
        warm-up), read from its commit's parquet. Nothing is cached on
        executors: every batch path scans the pruned parquet whether or
        not the handle is warm.

        The lexicon map (``_DriverLexicon``) is built when the vocabulary
        is at most ``LEX_DRIVER_CACHE_MAX`` terms; query paths then look
        up idf and buckets with no Spark job. With ``postings=True`` the
        posting blocks are copied into the driver (``_DriverPostings``)
        when their encoded bytes, summed by one job, are below
        ``POST_DRIVER_CACHE_MAX_BYTES``; ``bm25_query_topk_local`` then
        serves point queries from memory. Above the postings cap, and on
        ``postings=False`` handles, it reads the query's blocks straight
        from the commit's files on the driver — no Spark job either —
        while above the lexicon cap every path scans the pruned lexicon
        (one job). The copies are never filled on read;
        they belong to this handle's epoch, and ``refresh`` refills them
        on the new handle."""
        lex = self.lexicon(spark)
        self._lexicon_map = None
        if lex.count() <= self.LEX_DRIVER_CACHE_MAX:
            pdf = lex.select("term", "idf", "term_bucket").toPandas()
            self._lexicon_map = _DriverLexicon(
                pdf["term"].tolist(), pdf["idf"], pdf["term_bucket"]
            )
        self._driver_postings = None
        if postings:
            post = self.postings(spark)
            enc_bytes = post.agg(F.sum(
                F.length("docs_enc") + F.length("tfs_enc") + F.length("dls_enc")
            )).collect()[0][0] or 0
            if enc_bytes < self.POST_DRIVER_CACHE_MAX_BYTES:
                self._driver_postings = _DriverPostings(
                    post.select(*_DriverPostings.COLUMNS).toPandas()
                )
        self._warmed_postings = postings
        return self

    def docs(self, spark: SparkSession) -> DataFrame:
        return self._commit.read(spark, "docs")
