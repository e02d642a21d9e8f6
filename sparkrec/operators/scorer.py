"""Query-time BM25 scoring: exact document-at-a-time with block-max pruning.

Replaces the reference's dense N×N similarity lookup + sort
(model.py:280-285 + 372-383) with index-time pruning (SURVEY.md §4.2.3).

The numpy kernel (``wand_topk``) is an exact block-max WAND variant over
*doc-aligned* blocks (operators/indexer.py): because every term's blocks
are cut at the same doc-id boundaries, a block id ``g`` denotes a
score-complete doc segment — decoding all query-term blocks with id ``g``
yields final scores for every doc in the segment. The kernel therefore:

1. computes a per-segment upper bound
   UB(g) = Σ_t qtf·idf_t·bm25_weight(max_tf(t,g), min_dl(t,g), avgdl_now)
   — derived at query time from the stored (max_tf, min_dl) block
   metadata under the CURRENT corpus avgdl (see ``wand_topk`` docstring)
2. visits segments in descending UB order, chunk-at-a-time, maintaining a
   running top-k threshold θ,
3. stops as soon as the next segment's UB < θ (or ≤ θ with a full heap and
   no possible tie improvement) — never decoding the skipped blocks.

Everything is vectorized: decode is the batched varint codec; per-segment
accumulation is sort + reduceat. Exactness is tested against both the
exhaustive DataFrame path and the pure-Python oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkrec.operators.codec import bm25_weight, decode_postings_many
from sparkrec.operators.indexer import Index

TOPK_SCHEMA = "query_id string, rank int, doc_id long, score double"
_EMPTY = pd.DataFrame({"query_id": [], "rank": [], "doc_id": [], "score": []})


def _accumulate_topk(
    docs: np.ndarray,
    w: np.ndarray,
    k: int,
    prev: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc sums of the posting weights ``w`` merged with the ``prev``
    (doc_ids, scores) candidates, trimmed to the top k (unordered).

    Sums follow row order (stable sort by doc, then reduceat), so callers
    that feed rows in the canonical term-major order get bit-identical
    scores. The trim keeps every candidate tied with the k-th score, so
    the final (score desc, doc_id asc) order stays exact across calls."""
    srt = np.argsort(docs, kind="stable")
    sd, sw = docs[srt], w[srt]
    starts = np.flatnonzero(np.concatenate(([True], sd[1:] != sd[:-1])))
    doc_ids, scores = sd[starts], np.add.reduceat(sw, starts)
    if prev is not None:
        doc_ids = np.concatenate((prev[0], doc_ids))
        scores = np.concatenate((prev[1], scores))
    if len(scores) > k:
        thr = np.partition(-scores, k - 1)[k - 1]
        keep = np.flatnonzero(-scores <= thr)
        doc_ids, scores = doc_ids[keep], scores[keep]
    return doc_ids, scores


def _topk_frame(
    qid: str, doc_ids: np.ndarray, scores: np.ndarray
) -> pd.DataFrame:
    """One query's ranked (query_id, rank, doc_id, score) rows."""
    return pd.DataFrame(
        {
            "query_id": qid,
            "rank": np.arange(1, len(doc_ids) + 1, dtype=np.int32),
            "doc_id": doc_ids,
            "score": scores,
        }
    )


def wand_topk(
    blocks: pd.DataFrame,
    term_meta: dict[str, tuple[float, int]],
    k: int,
    avgdl: float,
    k1: float,
    b: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k over one query's posting blocks.

    ``blocks``: columns term, block_id, max_tf, min_dl, docs_enc, tfs_enc,
    dls_enc (all blocks of all query terms). ``term_meta``: term →
    (idf, qtf). Returns (doc_ids, scores) sorted (score desc, doc_id asc).

    The per-block upper bound is computed HERE from (max_tf, min_dl) and
    the *current* corpus avgdl — bm25_weight is monotone ↑ in tf, ↓ in
    dl, so f(max_tf, min_dl) dominates every posting in the block. Unlike
    a build-time max_weight, this bound stays safe after incremental
    merges move avgdl (streaming/ingest.py).
    """
    if len(blocks) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)

    # canonical row order: per-doc float accumulation below follows row
    # order (stable argsort), so without this sort the last bits of a
    # multi-term doc's score would depend on Spark's group-row arrival
    # order. Sorting by (term, block_id) makes scores a pure function of
    # the query + index at ANY parallelism/arrival order, and is the
    # same per-doc term-major order the scan path uses
    # (bm25_query_topk_scan) — the two paths agree bit-for-bit.
    blocks = blocks.sort_values(
        ["term", "block_id"], kind="mergesort", ignore_index=True
    )

    factor = np.array(
        [term_meta[t][0] * term_meta[t][1] for t in blocks["term"]], dtype=np.float64
    )
    gids = blocks["block_id"].to_numpy(dtype=np.int64)
    ub_weight = bm25_weight(
        blocks["max_tf"].to_numpy(dtype=np.int64),
        blocks["min_dl"].to_numpy(dtype=np.int64),
        avgdl, k1, b,
    )
    ub_contrib = factor * ub_weight

    # per-segment upper bounds
    seg_ids, seg_inv = np.unique(gids, return_inverse=True)
    seg_ub = np.zeros(len(seg_ids), dtype=np.float64)
    np.add.at(seg_ub, seg_inv, ub_contrib)

    order = np.argsort(-seg_ub, kind="stable")  # segments by UB desc

    top_docs = np.zeros(0, dtype=np.int64)
    top_scores = np.zeros(0, dtype=np.float64)
    theta = -np.inf
    visited = 0
    chunk = max(8, 2 * k)

    docs_enc = blocks["docs_enc"].to_numpy(dtype=object)
    tfs_enc = blocks["tfs_enc"].to_numpy(dtype=object)
    dls_enc = blocks["dls_enc"].to_numpy(dtype=object)

    while visited < len(order):
        take = order[visited : visited + chunk]
        # early exit: all remaining segments bounded below current θ
        if len(top_scores) >= k and seg_ub[take[0]] < theta:
            break
        take = take[(seg_ub[take] >= theta) | (len(top_scores) < k)]
        if len(take) == 0:
            break
        visited += chunk

        sel = np.isin(seg_inv, take)
        idx = np.flatnonzero(sel)
        if len(idx) == 0:
            continue
        d_lists, t_lists, l_lists = decode_postings_many(
            [docs_enc[i] for i in idx],
            [tfs_enc[i] for i in idx],
            [dls_enc[i] for i in idx],
        )
        lens = np.array([len(x) for x in d_lists], dtype=np.int64)
        flat_docs = np.concatenate(d_lists).astype(np.int64)
        flat_tf = np.concatenate(t_lists)
        flat_dl = np.concatenate(l_lists)
        w = bm25_weight(flat_tf, flat_dl, avgdl, k1, b)
        w *= np.repeat(factor[idx], lens)
        top_docs, top_scores = _accumulate_topk(
            flat_docs, w, k, (top_docs, top_scores)
        )
        if len(top_scores) >= k:
            theta = -np.partition(-top_scores, k - 1)[k - 1]

    # final exact ordering: score desc, doc_id asc
    order = np.lexsort((top_docs, -top_scores))[:k]
    return top_docs[order], top_scores[order]


def _query_term_rows(
    queries: list[tuple[str, str]], min_token_len: int, remove_numeric: bool
) -> list[tuple[str, str, int]]:
    """Driver-side tokenization of the (tiny) query set — the same clean
    semantics as the corpus pipeline; no Spark job. Every query path
    starts here, so this is where a batch that repeats a query_id is
    rejected: paths keyed by id would otherwise merge (group: sum twice)
    or overwrite (local, scan) the repeated queries' terms."""
    from collections import Counter

    from sparkrec.functions.textprep import py_tokenize

    dups = sorted(q for q, c in Counter(q for q, _ in queries).items() if c > 1)
    if dups:
        raise ValueError(f"duplicate query_id(s) in one batch: {dups[:5]}")
    rows: list[tuple[str, str, int]] = []
    for qid, qtext in queries:
        toks = py_tokenize(
            qtext, min_token_len=min_token_len, remove_numeric=remove_numeric
        )
        for t, c in sorted(Counter(toks).items()):
            rows.append((qid, t, c))
    return rows


def _lex_lookup(
    spark: SparkSession, index: Index, terms: list[str]
) -> tuple[dict[str, float], list[int]]:
    """term → idf plus the term-bucket list for partition pruning.

    Served from the warm driver-resident lexicon map when the vocabulary
    fits ``Index.LEX_DRIVER_CACHE_MAX`` (zero Spark jobs — the serving
    design keeps the lexicon in RAM); otherwise one pruned lexicon scan.
    """
    m = index._lexicon_map
    if m is not None:
        idf_map = {t: m[t][0] for t in terms if t in m}
        buckets = sorted({m[t][1] for t in idf_map})
        return idf_map, buckets
    lex_rows = (
        index.lexicon(spark)
        .filter(F.col("term").isin(terms))
        .select("term", "idf", "term_bucket")
        .collect()
    )
    return (
        {r["term"]: float(r["idf"]) for r in lex_rows},
        sorted({r["term_bucket"] for r in lex_rows}),
    )


def bm25_query_topk_local(
    spark: SparkSession,
    index: Index,
    queries: list[tuple[str, str]],
    k: int,
    min_token_len: int = 2,
    remove_numeric: bool = True,
    max_blocks: int = 100_000,
) -> pd.DataFrame:
    """Interactive single-digit-latency path: the SAME exact WAND kernel
    runs in-process on the driver over the query terms' posting blocks.
    Returns a pandas DataFrame (query_id, rank, doc_id, score), identical
    values to ``bm25_query_topk``.

    Where the blocks come from:

    - a handle warmed with postings whose driver copy covers the query's
      term_buckets (``Index.warm``) serves them from driver memory — zero
      Spark jobs;
    - otherwise (``warm(postings=False)``, a cold handle, a bucket-subset
      warm that misses the query's buckets, or an index above the driver
      copy's byte cap) the partition-pruned, term-filtered blocks are
      collected from a scan — one fetch job, zero shuffles (a scan that
      misses the executor cache also pays Spark's parquet schema
      inference).

    Right for interactive point queries whose terms' posting volume is
    bounded (WAND needs block metadata + the blocks it actually decodes).
    Above ``max_blocks`` blocks this raises on either source, and the
    caller should use the distributed path.
    """
    index.check_fresh()
    qrows = _query_term_rows(queries, min_token_len, remove_numeric)
    terms = sorted({t for _, t, _ in qrows})
    if not terms:
        return _EMPTY.copy()

    idf_map, buckets = _lex_lookup(spark, index, terms)
    if not idf_map:
        return _EMPTY.copy()

    resident = index.driver_postings_for(buckets)
    if resident is not None:
        blocks = resident.blocks(sorted(idf_map))
    else:
        blocks = (
            index.postings_for(spark, buckets)
            .filter(
                F.col("term_bucket").isin(buckets)
                & F.col("term").isin(sorted(idf_map))
            )
            .select("term", "block_id", "max_tf", "min_dl",
                    "docs_enc", "tfs_enc", "dls_enc")
            .limit(max_blocks + 1)
            .toPandas()
        )
    if len(blocks) > max_blocks:
        raise ValueError(
            f"query touches > {max_blocks} posting blocks — use the "
            "distributed bm25_query_topk path"
        )

    out = []
    for qid in dict.fromkeys(q for q, _, _ in qrows):
        meta = {
            t: (idf_map[t], qtf)
            for q2, t, qtf in qrows
            if q2 == qid and t in idf_map
        }
        if not meta:
            continue
        qb = blocks[blocks["term"].isin(meta.keys())]
        out.append(_topk_frame(
            qid, *wand_topk(qb, meta, k, index.avgdl, index.k1, index.b)
        ))
    return pd.concat(out, ignore_index=True) if out else _EMPTY.copy()


def _dedup_reps(
    queries: list[tuple[str, str]],
    qrows: list[tuple[str, str, int]],
) -> tuple[list[tuple[str, str, int]], dict[str, str], bool]:
    """Batch dedup bookkeeping: one representative query_id per distinct
    post-tokenize term vector (qrows pairs are term-sorted, so the tuple
    is canonical; the rep is the first occurrence in caller order —
    deterministic). Returns (qrows restricted to reps, qid→rep map,
    whether any fan-out is needed)."""
    pairs_by_qid: dict[str, list[tuple[str, int]]] = {}
    for qid, t, qtf in qrows:
        pairs_by_qid.setdefault(qid, []).append((t, qtf))
    rep_of_sig: dict[tuple, str] = {}
    rep_for_qid: dict[str, str] = {}
    for qid, _qtext in queries:
        sig = tuple(pairs_by_qid.get(qid, ()))
        rep_for_qid[qid] = rep_of_sig.setdefault(sig, qid)
    fan_out = any(rep != qid for qid, rep in rep_for_qid.items())
    if fan_out:
        reps = set(rep_of_sig.values())
        qrows = [row for row in qrows if row[0] in reps]
    return qrows, rep_for_qid, fan_out


def _fan_out_result(
    spark: SparkSession, result: DataFrame, rep_for_qid: dict[str, str]
) -> DataFrame:
    """Broadcast-join per-representative top-k back to every query_id
    (exact: the kernel is a pure function of the term vector + index)."""
    mapping = spark.createDataFrame(
        sorted((rep, qid) for qid, rep in rep_for_qid.items()),
        "rep string, query_id string",
    )
    return (
        result.withColumnRenamed("query_id", "rep")
        .join(F.broadcast(mapping), "rep")
        .select("query_id", "rank", "doc_id", "score")
    )


def bm25_query_topk(
    spark: SparkSession,
    index: Index,
    queries: list[tuple[str, str]],
    k: int,
    min_token_len: int = 2,
    remove_numeric: bool = True,
    n_score_partitions: int | None = None,
) -> DataFrame:
    """Batch top-k for a list of (query_id, text) against a built index.

    Plan: driver-side query tokenization (queries are tiny, no Spark job)
    → lexicon lookup filtered by term (+ its term_bucket for partition
    pruning) → partition-pruned posting-block scan → ``applyInPandas``
    groups running the exact WAND kernel → (query_id, rank, doc_id, score).

    ``n_score_partitions`` controls intra-query scoring parallelism: by
    default each query is ONE kernel group (lowest overhead, maximal WAND
    pruning — right for interactive latency at moderate posting volume).
    With P > 1 the doc-id space is split into P aligned ranges scored in
    parallel (blocks are doc-aligned across terms, so every range is
    score-complete); per-range top-k candidates are then merged by a
    global window. Exactness is unaffected — only the shared θ threshold
    is weaker, trading some pruning for P-way parallelism on hot terms.
    At the 100 TB tier P ≈ number of executor cores is the right setting
    for fat analytical queries; interactive point queries keep P = 1.

    Textually identical queries (same post-tokenize term multiset) are
    scored ONCE and fanned back out to every query_id with a broadcast
    join: group-by-query scoring replicates each shared posting block
    across the exchange once per query_id, so B duplicates would cost
    B× the shuffle bytes for bit-identical kernel output (the kernel is
    a pure function of the term vector and the index — measured on a
    96k-conv index: an 80×-tiled batch is shuffle-bandwidth-bound,
    BENCH.md "Query-batch redundancy"). All-distinct batches take the
    original path unchanged.
    """
    index.check_fresh()
    qrows = _query_term_rows(queries, min_token_len, remove_numeric)
    terms = sorted({t for _, t, _ in qrows})
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)

    qrows, rep_for_qid, fan_out = _dedup_reps(queries, qrows)

    idf_map, buckets = _lex_lookup(spark, index, terms)
    live_terms = sorted(idf_map)
    if not live_terms:
        return spark.createDataFrame([], TOPK_SCHEMA)

    blocks = index.postings_for(spark, buckets).filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(live_terms)
    )
    q_with_idf = spark.createDataFrame(
        [(qid, t, qtf, idf_map[t]) for qid, t, qtf in qrows if t in idf_map],
        "query_id string, term string, qtf int, idf double",
    )
    joined = blocks.join(F.broadcast(q_with_idf), "term").select(
        "query_id", "term", "qtf", "idf", "block_id", "max_tf", "min_dl",
        "docs_enc", "tfs_enc", "dls_enc",
    )

    avgdl, k1, b = index.avgdl, index.k1, index.b

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        meta = {}
        for t, idf, qtf in zip(pdf["term"], pdf["idf"], pdf["qtf"]):
            meta[t] = (float(idf), int(qtf))
        return _topk_frame(qid, *wand_topk(pdf, meta, k, avgdl, k1, b))

    if not n_score_partitions or n_score_partitions <= 1:
        result = joined.groupBy("query_id").applyInPandas(
            score_group, schema=TOPK_SCHEMA
        )
    else:
        # parallel mode: doc-aligned range split → per-range exact top-k →
        # global merge (re-rank) per query
        max_block = max(1, index.n_docs // index.block_range)
        blocks_per_part = max(
            1, (max_block + n_score_partitions) // n_score_partitions
        )
        ranged = joined.withColumn(
            "_range", (F.col("block_id") / F.lit(blocks_per_part)).cast("long")
        )
        partial = ranged.groupBy("query_id", "_range").applyInPandas(
            score_group, schema=TOPK_SCHEMA
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        result = (
            partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )

    if fan_out:
        result = _fan_out_result(spark, result, rep_for_qid)
    return result


def bm25_query_topk_scan(
    spark: SparkSession,
    index: Index,
    queries: list[tuple[str, str]],
    k: int,
    min_token_len: int = 2,
    remove_numeric: bool = True,
    n_ranges: int | None = None,
) -> DataFrame:
    """Batch-analytic top-k: corpus-proportional (query-count-independent)
    shuffle for LARGE query batches.

    ``bm25_query_topk`` joins blocks×queries and groups by query_id, so
    every posting block crosses the exchange once PER query that touches
    its term — right for small/selective batches where block-max WAND
    skips most of the corpus, but for B analytical queries sharing hot
    terms the exchange carries B× the bytes (measured shuffle-bandwidth-
    bound at 10k queries, BENCH.md "Query-batch redundancy"). This path
    inverts the movement: queries (tiny) ship to the data in the UDF
    closure, blocks group by doc-range only — each block row crosses the
    exchange exactly ONCE regardless of batch size — and every query is
    scored inside the range group from once-decoded arrays (exhaustive
    per range, no WAND pruning: an analytical batch touches most blocks
    anyway, so there is nothing to skip). Blocks are doc-aligned across
    terms (operators/indexer.py), so each range is score-complete and
    the exact global top-k is the windowed merge of per-range top-k
    candidates — the same merge the ``n_score_partitions`` mode uses.
    Results are identical (ids AND scores) to ``bm25_query_topk``.

    At the 100 TB tier this is the map-side-join shape: a doc-range-
    partitioned postings layout would make the single exchange a
    partition-local read; with the shipped term_bucket layout it is one
    corpus-sized shuffle, amortized over the whole batch.

    NOT the default: the measured A/B at sf0.1-scale (96k docs, 10k
    distinct 3-term queries — BENCH.md "Query-batch redundancy") has the
    group path 1.1–1.7× FASTER at 2/8 cores: postings there total tens
    of MB, so B× replication never saturates anything, while this path
    pays a per-query numpy loop in every range group. The crossover is
    postings volume: use scan mode when (batch size × shared posting
    bytes) outgrows what the cluster can shuffle — the same
    bandwidth-vs-CPU trade, in the same direction, as the two-phase
    postings encode (jobs/run_queries.py ``--mode scan``).
    """
    index.check_fresh()
    qrows = _query_term_rows(queries, min_token_len, remove_numeric)
    terms = sorted({t for _, t, _ in qrows})
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    qrows, rep_for_qid, fan_out = _dedup_reps(queries, qrows)

    idf_map, buckets = _lex_lookup(spark, index, terms)
    qmeta: dict[str, dict[str, tuple[float, int]]] = {}
    for qid, t, qtf in qrows:
        if t in idf_map:
            qmeta.setdefault(qid, {})[t] = (float(idf_map[t]), int(qtf))
    qmeta = {q: m for q, m in qmeta.items() if m}
    if not qmeta:
        return spark.createDataFrame([], TOPK_SCHEMA)
    live_terms = sorted({t for m in qmeta.values() for t in m})
    q_items = sorted(qmeta.items())

    blocks = (
        index.postings_for(spark, buckets)
        .filter(
            F.col("term_bucket").isin(buckets)
            & F.col("term").isin(live_terms)
        )
        .select("term", "block_id", "docs_enc", "tfs_enc", "dls_enc")
    )
    max_block = max(1, index.n_docs // index.block_range)
    n_ranges = n_ranges or spark.sparkContext.defaultParallelism * 4
    blocks_per_part = max(1, (max_block + n_ranges) // n_ranges)
    ranged = blocks.withColumn(
        "_range", (F.col("block_id") / F.lit(blocks_per_part)).cast("long")
    )

    avgdl, k1, b = index.avgdl, index.k1, index.b

    def score_range(pdf: pd.DataFrame) -> pd.DataFrame:
        # canonical row order, then decode every block ONCE; per-posting
        # bm25 weights are query-independent, so they are computed once
        # too — per query only its factor-scaled gather+reduce remains
        pdf = pdf.sort_values(
            ["term", "block_id"], kind="mergesort", ignore_index=True
        )
        d_lists, t_lists, l_lists = decode_postings_many(
            list(pdf["docs_enc"]), list(pdf["tfs_enc"]), list(pdf["dls_enc"])
        )
        term_dw: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        term_vals = list(pdf["term"])
        i = 0
        while i < len(term_vals):
            j = i
            while j < len(term_vals) and term_vals[j] == term_vals[i]:
                j += 1
            docs = np.concatenate(d_lists[i:j]).astype(np.int64)
            tfs = np.concatenate(t_lists[i:j])
            dls = np.concatenate(l_lists[i:j])
            term_dw[term_vals[i]] = (docs, bm25_weight(tfs, dls, avgdl, k1, b))
            i = j
        out = []
        for qid, meta in q_items:
            hit = [t for t in sorted(meta) if t in term_dw]
            if not hit:
                continue
            doc_ids, scores = _accumulate_topk(
                np.concatenate([term_dw[t][0] for t in hit]),
                np.concatenate(
                    [term_dw[t][1] * (meta[t][0] * meta[t][1]) for t in hit]
                ),
                k,
            )
            order = np.lexsort((doc_ids, -scores))[:k]
            out.append(_topk_frame(qid, doc_ids[order], scores[order]))
        return pd.concat(out, ignore_index=True) if out else _EMPTY.copy()

    partial = ranged.groupBy("_range").applyInPandas(
        score_range, schema=TOPK_SCHEMA
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    result = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
    if fan_out:
        result = _fan_out_result(spark, result, rep_for_qid)
    return result
