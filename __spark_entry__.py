"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-k on sf0.001.
``queries()`` — one entry per implemented operator family (SURVEY.md §2 +
the training-data-pipeline ladder: dedup / similarity search / text
analysis / multimodal plumbing).
``oracle_sql()`` — DuckDB twins. Float-bearing outputs are rounded (4
decimals for BM25 sums, 6 for ratios/cosines) on BOTH sides, and every
ranking orders by the ROUNDED value with an id tie-break, so cross-engine
value-hash comparison is stable. The MinHash-LSH and SimHash entries run
the md5_60 hash family (dedup.py module notes) and the ANN multiprobe
entry replays its hyperplane projections/flip order in SQL, so those full
pipelines verify in DuckDB; truly SQL-inexpressible operators (iterative
ML fits, multimodal decode fakes) have no oracle entry → driver records
rows-only checks.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkrec.functions.sqltok import MIN_TOKEN_LEN, NUMERIC_RE, TOKEN_RE, duck_tokenize, sql_tokenize_expr
from sparkrec.functions.textstats import (
    FP_BASE,
    FP_MOD,
    LANG_STOPWORDS,
    char_fingerprint_expr,
    lang_id_expr,
    quality_features,
)
from sparkrec import BM25_B, BM25_K1

# Fixed query set over the driver's `documents` table (vocab is the small
# OLAP-word pool seen in the synthetic corpus).
Q_SINGLE = [("q1", "merge sort join")]
Q_BATCH = [
    ("q1", "merge sort join"),
    ("q2", "vector stream batch"),
    ("q3", "customer query filter"),
]
TOP_K = 10
FOLD_RATINGS = [8.0, 6.0]
BIGRAM_MIN_COUNT = 10
JACCARD_THRESHOLD = 0.15
COS_DUP_THRESHOLD = 0.42
FUZZY_MISSED = "steel plate"
# clean() contract params (A2 + min_tokens + truncate; canonical shape of
# reference examples/rec_books.ipynb cell 14 scaled to the synthetic vocab)
CLEAN_MIN_FREQ = 5
CLEAN_MIN_LEN = 3
CLEAN_MIN_TOKENS = 10
# seeded exact-size sample
SAMPLE_K = 77
SAMPLE_SEED = 7
# banded-LSH embedding near-dup
ND_PLANES = 4
ND_TABLES = 4
EMB_DIM = 64
# composed recommend()
REC_INPUTS = ["doc 42", "doc 7"]
REC_RATINGS = [8.0, 6.0]
REC_MISSED = "doc 9x7"
# wikilink training pairs: links synthesized as tokens of length >= 6
# (deterministic, SQL-expressible), reference >=4 count cutoff
WL_LINK_LEN = 6
WL_MIN_COUNT = 4
WL_NEG_K = 100
WL_NEG_SEED = 11
# wikixml roundtrip: tokens of length >= 8 become [[links]] in the dump
XML_LINK_LEN = 8
# tfidf more-like-this
TFIDF_QUERY_DOC = 42


# ---------------------------------------------------------------------------
# shared Spark-side building blocks
# ---------------------------------------------------------------------------

_WIDE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _read_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table, widening a too-narrow scan to the session's
    parallelism. The small-sf parquet files are single-row-group → Spark
    plans ONE input partition and every downstream op runs on one core;
    worse, expressions can collapse below a round-robin repartition into
    that single pre-shuffle task. So narrow scans are repartitioned,
    cached, and MATERIALIZED once per session — every consumer then reads
    a 32-partition in-memory relation. At production scale the scan has
    thousands of splits and this is a pass-through (the widening only
    fires when partitions < cores/2, and caching raw inputs is exactly
    what a bench/serving session would do)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key in _WIDE_CACHE:
        return _WIDE_CACHE[key]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 < target:
        df = df.repartition(target).cache()
        df.count()
        _WIDE_CACHE[key] = df
    return df


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_wide(spark, sf_dir, "documents")


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _documents(spark, sf_dir).select(
        "doc_id", sql_tokenize_expr(F.col("text")).alias("tokens")
    )


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_tokens(spark, sf_dir).withColumn("doc_len", F.size("tokens"))


def _bm25_scores(spark: SparkSession, sf_dir: str,
                 queries: list[tuple[str, str]]) -> DataFrame:
    """(query_id, doc_id, score) exact BM25 via the DataFrame-only path."""
    from sparkrec.operators.bm25 import (
        bm25_contrib_expr, corpus_stats, doc_freqs, idf_expr, query_terms_df,
        term_freqs,
    )

    tokenized = _tokenized(spark, sf_dir)
    tf = term_freqs(tokenized)
    dfr = doc_freqs(tf)
    n_docs, avgdl = corpus_stats(tokenized)
    qterms = query_terms_df(spark, queries)
    q_idf = qterms.join(dfr, "term").withColumn("idf", idf_expr(F.col("df"), n_docs))
    contrib = tf.join(F.broadcast(q_idf), "term").select(
        "query_id",
        "doc_id",
        bm25_contrib_expr(
            F.col("tf"), F.col("doc_len"), F.col("idf"), F.col("qtf"), avgdl
        ).alias("contrib"),
    )
    return contrib.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score")
    )


def _ranked(scores: DataFrame, k: int, per_query: bool) -> DataFrame:
    """Round → rank by rounded score (id tie-break) → limit k."""
    r = scores.withColumn("score", F.round("score", 4))
    keys = ["query_id"] if per_query else []
    w = Window.partitionBy(*keys).orderBy(F.desc("score"), F.asc("doc_id"))
    out = r.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    cols = (["query_id"] if per_query else []) + ["rank", "doc_id", "score"]
    return out.select(*cols)


#: IndexConfig for every entry-contract index build (documents AND
#: transcripts) — part of the cache fingerprint below.
_ENTRY_IDX_CFG = dict(block_range=64, docs_per_shard=4096, n_term_buckets=8)


def _index_cache_fingerprint() -> str:
    """Content fingerprint folded into the /tmp index-cache root names:
    any change to datagen, tokenization, doc assembly, the codec, the
    index layout, or the entry IndexConfig renames the root and forces a
    fresh skip-if-exists build (ADVICE r3: previously a forgotten manual
    version bump would let BOTH engines verify a stale on-disk index and
    'pass' without exercising current code)."""
    import sparkrec.datagen
    import sparkrec.functions.sqltok
    import sparkrec.functions.textprep
    import sparkrec.operators.bm25
    import sparkrec.operators.codec
    import sparkrec.operators.docs
    import sparkrec.operators.indexer
    import sparkrec.sources.tables

    h = hashlib.md5(repr(sorted(_ENTRY_IDX_CFG.items())).encode())
    for mod in (
        sparkrec.datagen,
        sparkrec.functions.sqltok,
        sparkrec.functions.textprep,
        sparkrec.operators.bm25,
        sparkrec.operators.codec,
        sparkrec.operators.docs,
        sparkrec.operators.indexer,
        sparkrec.sources.tables,
    ):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


_IDX_FP = _index_cache_fingerprint()
#: directory of the entry-contract index roots
_ENTRY_IDX_BASE = "/tmp"
_ENTRY_IDX_PREFIX = "sparkrec_entry_idx_"
#: a root of another fingerprint is deleted once untouched this long: a
#: contract check of another commit may still be reading its roots
_STALE_ROOT_S = 3600


def _entry_index_root(sf_dir: str) -> str:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(_ENTRY_IDX_BASE, f"{_ENTRY_IDX_PREFIX}{_IDX_FP}_{tag}")


def _prune_stale_index_roots() -> None:
    """Delete the entry index roots of other fingerprints that have not
    been touched for ``_STALE_ROOT_S``: every change to a fingerprinted
    source builds new roots, and nothing else removes the old ones."""
    cutoff = time.time() - _STALE_ROOT_S
    for name in os.listdir(_ENTRY_IDX_BASE):
        if (not name.startswith(_ENTRY_IDX_PREFIX)
                or name.startswith(f"{_ENTRY_IDX_PREFIX}{_IDX_FP}_")):
            continue
        path = os.path.join(_ENTRY_IDX_BASE, name)
        try:
            stale = os.path.getmtime(path) < cutoff
        except FileNotFoundError:  # another process pruned it first
            continue
        if stale:
            shutil.rmtree(path, ignore_errors=True)


def _docs_index(spark: SparkSession, sf_dir: str):
    """Compressed block-max index over the documents table (cached on disk,
    skip-if-exists — same memoization semantics as the build stages)."""
    from sparkrec.operators.indexer import Index, IndexConfig, build_index_from_docs

    root = _entry_index_root(sf_dir)
    if not os.path.exists(root):
        _prune_stale_index_roots()
    cfg = IndexConfig(**_ENTRY_IDX_CFG)
    docs = _tokenized(spark, sf_dir)
    build_index_from_docs(spark, docs, root, cfg)
    return Index.load(spark, root)


# ---------------------------------------------------------------------------
# queries()
# ---------------------------------------------------------------------------

def q_doc_tf(spark, sf_dir):
    from sparkrec.operators.bm25 import term_freqs

    return term_freqs(_tokenized(spark, sf_dir)).select("doc_id", "term", "tf")


def q_doc_df(spark, sf_dir):
    from sparkrec.operators.bm25 import doc_freqs, term_freqs

    return doc_freqs(term_freqs(_tokenized(spark, sf_dir)))


def q_corpus_stats(spark, sf_dir):
    return _tokenized(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_len"), 6).alias("avgdl"),
    )


def q_bm25_topk(spark, sf_dir):
    return _ranked(_bm25_scores(spark, sf_dir, Q_SINGLE), TOP_K, False).drop(
        "query_id"
    )


def q_bm25_topk_batch(spark, sf_dir):
    return _ranked(_bm25_scores(spark, sf_dir, Q_BATCH), TOP_K, True)


def q_bm25_wand_topk(spark, sf_dir):
    from sparkrec.operators.scorer import bm25_query_topk

    idx = _docs_index(spark, sf_dir)
    out = bm25_query_topk(spark, idx, Q_SINGLE, TOP_K)
    # re-rank on the rounded score so tie handling matches the SQL oracle
    return _ranked(out.select("query_id", "doc_id", "score"), TOP_K, False).drop(
        "query_id"
    )


def q_bm25_scan_topk(spark, sf_dir):
    """Scan-mode batch scoring (scorer.bm25_query_topk_scan): postings
    grouped by doc-range only (query-count-independent exchange), the
    query set shipped in the UDF closure, exhaustive per-range scoring
    from once-decoded arrays, exact per-query window merge. Bit-identical
    to the WAND group path (tests/test_index_query.py), so it shares the
    same from-first-principles DuckDB BM25 twin as `bm25_wand_topk`."""
    from sparkrec.operators.scorer import bm25_query_topk_scan

    idx = _docs_index(spark, sf_dir)
    out = bm25_query_topk_scan(spark, idx, Q_SINGLE, TOP_K)
    return _ranked(out.select("query_id", "doc_id", "score"), TOP_K, False).drop(
        "query_id"
    )


def q_multi_input_fold(spark, sf_dir):
    from sparkrec.operators.recommend import fold_multi_input_scores

    # per-input scores rounded to 4 BEFORE the fold — the SQL twin folds
    # the rounded `scored` CTE, so both engines fold identical doubles
    scores = _bm25_scores(spark, sf_dir, Q_BATCH[:2]).withColumn(
        "score", F.round("score", 4)
    )
    per_input = [
        scores.filter(F.col("query_id") == qid).select("doc_id", "score")
        for qid, _ in Q_BATCH[:2]
    ]
    folded = fold_multi_input_scores(per_input, FOLD_RATINGS)
    return folded.select("doc_id", F.round("score", 4).alias("score"))


def q_bigram_counts(spark, sf_dir):
    from sparkrec.operators.dedup import ngrams_expr

    return (
        _doc_tokens(spark, sf_dir)
        .select(F.explode(ngrams_expr(F.col("tokens"), 2)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= BIGRAM_MIN_COUNT)
    )


PHRASE_MIN_COUNT = 20
PHRASE_THRESHOLD = 1e-4
# gensim connector_words, as the reference passes its stopword list to
# both Phrases passes (data_utils.py:823/:830); deterministic English
# function-word list shared verbatim by the Spark entries and the
# DuckDB twins ('a'/'the' occur in the synthetic corpus, so
# connector-spanning spans are actually exercised).
PHRASE_CONNECTORS = [
    "a", "an", "the", "of", "and", "or", "in", "on", "at", "to",
    "for", "with", "by", "from", "as", "is", "are", "was", "were", "be",
]


def _promoted_phrases(spark, sf_dir):
    from sparkrec.operators.phrases import mine_bigrams

    return mine_bigrams(
        _doc_tokens(spark, sf_dir),
        min_count=PHRASE_MIN_COUNT,
        threshold=PHRASE_THRESHOLD,
        connector_words=PHRASE_CONNECTORS,
    )


def q_phrase_mine(spark, sf_dir):
    return _promoted_phrases(spark, sf_dir)


def q_phrase_rewrite(spark, sf_dir):
    """Greedy non-overlapping bigram rewrite (gensim transform semantics
    with connector words, reference prepend order): prepended one-``_``
    stream tokens listed in final order."""
    from sparkrec.operators.phrases import rewrite_with_phrases

    toks = _doc_tokens(spark, sf_dir)
    out = rewrite_with_phrases(
        toks, _promoted_phrases(spark, sf_dir),
        connector_words=PHRASE_CONNECTORS,
    )
    return out.select(
        "doc_id",
        F.size("tokens").alias("total_len"),
        F.array_join(
            F.filter("tokens", lambda t: t.contains("_")), ","
        ).alias("phrases"),
    )


def q_trigram_mine(spark, sf_dir):
    """Second Phrases pass (same connectors): promoted spans of the
    greedily bigram-transformed stream whose joined form is a true
    trigram (exactly two ``_``)."""
    from sparkrec.operators.phrases import mine_trigrams

    return mine_trigrams(
        _doc_tokens(spark, sf_dir),
        _promoted_phrases(spark, sf_dir),
        min_count=PHRASE_MIN_COUNT,
        threshold=PHRASE_THRESHOLD,
        connector_words=PHRASE_CONNECTORS,
    )


def q_clean_pipeline(spark, sf_dir):
    """clean() stages 6-7 (A2 min-token-freq + min-len, STRICT min_tokens,
    -1 truncation) via the composed operator; all docs reported with a
    kept flag. Phrase/stem stages are oracled/tested separately."""
    from sparkrec.operators.clean import CleanConfig, clean_tokens

    toks = _doc_tokens(spark, sf_dir)
    cfg = CleanConfig(
        language="und",  # stem leg exercised by the rows-only `stemmed` entry
        min_token_freq=CLEAN_MIN_FREQ, min_token_len=CLEAN_MIN_LEN,
        min_tokens=CLEAN_MIN_TOKENS, max_token_index=-1,
        mine_phrases=False, remove_stopwords=False,
    )
    cleaned = clean_tokens(toks, cfg)
    return (
        toks.select("doc_id")
        .join(cleaned.select("doc_id", "tokens"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("tokens").isNotNull().cast("int").alias("kept"),
            F.coalesce(F.size("tokens"), F.lit(0)).alias("final_len"),
            F.coalesce(F.array_join("tokens", " "), F.lit("")).alias(
                "final_text"
            ),
        )
    )


def q_clean_pipeline_en(spark, sf_dir):
    """clean() with the FULL English chain — Snowball stemming (stage 5)
    feeding the A2 min-freq/min-len filter and the -1 truncation — so
    the oracled contract exercises the stem leg end-to-end (the DuckDB
    twin joins the same driver-built stem dictionary as ``stemmed``)."""
    from sparkrec.operators.clean import CleanConfig, clean_tokens

    toks = _doc_tokens(spark, sf_dir)
    cfg = CleanConfig(
        language="en",
        min_token_freq=CLEAN_MIN_FREQ, min_token_len=CLEAN_MIN_LEN,
        min_tokens=CLEAN_MIN_TOKENS, max_token_index=-1,
        mine_phrases=False, remove_stopwords=False,
    )
    cleaned = clean_tokens(toks, cfg)
    return (
        toks.select("doc_id")
        .join(cleaned.select("doc_id", "tokens"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("tokens").isNotNull().cast("int").alias("kept"),
            F.coalesce(F.size("tokens"), F.lit(0)).alias("final_len"),
            F.coalesce(F.array_join("tokens", " "), F.lit("")).alias(
                "final_text"
            ),
        )
    )


def q_stemmed(spark, sf_dir):
    """Snowball English stem over every document. Oracled: DuckDB has no
    stemmer, so the twin joins a corpus-vocabulary (term, stem) dictionary
    built driver-side with the Python twin (see ``_stem_dict``); the
    algorithm itself is spec/fuzz-verified in tests/test_stem.py."""
    from sparkrec.functions.stem import stem_tokens

    return stem_tokens(_doc_tokens(spark, sf_dir), "tokens").select(
        "doc_id", F.array_join("tokens", " ").alias("stemmed_text")
    )


def q_sample_seeded(spark, sf_dir):
    from sparkrec.operators.sample import seeded_sample

    return seeded_sample(
        _documents(spark, sf_dir), SAMPLE_K, seed=SAMPLE_SEED
    ).select("doc_id")


def q_events_daily(spark, sf_dir):
    # averages via EXACT sums (decimal for doubles, long for ints) divided
    # last: float-sum order differences otherwise land avg on a
    # round-half knife edge where Spark (HALF_UP) and DuckDB (half-even)
    # disagree in the 6th decimal — observed once per ~150 groups
    events = _read_wide(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    vsum = F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
    ksum = F.sum(F.get_json_object("props", "$.k").cast("long"))
    return events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        n.alias("n"),
        F.round(vsum / n, 6).alias("avg_value"),
        F.round(ksum.cast("double") / n, 6).alias("avg_k"),
    )


def q_events_window(spark, sf_dir):
    """Sliding 1-day/12-hour windows over ts (epoch-aligned, UTC) —
    exercises the timestamp surface beyond daily truncation."""
    events = _read_wide(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    vsum = F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
    return (
        events.groupBy(
            F.window("ts", "1 day", "12 hours").alias("w"), "event_type"
        )
        .agg(n.alias("n"), F.round(vsum / n, 6).alias("avg_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("w_start"),
            "event_type", "n", "avg_value",
        )
    )


def q_sample_deterministic(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    return (
        docs.select("doc_id", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(50)
    )


def q_exact_dup_groups(spark, sf_dir):
    from sparkrec.operators.dedup import exact_dup_groups

    return exact_dup_groups(_documents(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    from sparkrec.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _documents(spark, sf_dir), n=2, threshold=JACCARD_THRESHOLD,
        max_shingle_df=10**9,
    )


def q_lang_id(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id", lang_id_expr(sql_tokenize_expr(F.col("text"))).alias("lang_pred")
    )


def q_quality(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars"].cast("int").alias("n_chars"),
        feats["n_tokens"].cast("int").alias("n_tokens"),
        F.round(feats["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(feats["mean_token_len"], 6).alias("mean_token_len"),
    )


def q_fingerprints(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        char_fingerprint_expr(sql_tokenize_expr(F.col("text"))).alias("fp"),
    )


def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def q_cosine_topk(spark, sf_dir):
    from sparkrec.operators.simsearch import cosine_topk

    emb = _read_wide(spark, sf_dir, "embeddings")
    return cosine_topk(emb, _query_vec(spark, sf_dir), TOP_K)


def q_embedding_near_dup(spark, sf_dir):
    """Banded multi-table LSH near-dup — the 100 TB path (no crossJoin,
    plan-asserted in tests/test_plans.py). The DuckDB twin computes the
    SAME bucketing from the same hyperplane literals, so the comparison
    is exact even though LSH recall < 1 vs all-pairs."""
    from sparkrec.operators.simsearch import near_dup_pairs

    emb = _read_wide(spark, sf_dir, "embeddings")
    return near_dup_pairs(
        emb, threshold=COS_DUP_THRESHOLD, dim=EMB_DIM,
        n_planes=ND_PLANES, n_tables=ND_TABLES,
    )


def q_euclidean_topk(spark, sf_dir):
    """gen_sim_matrix(metric='euclidean') + row scan: nearest-ascending
    L2 top-k (the reference's euclidean branch also sorts ascending,
    model.py:377-379)."""
    from sparkrec.operators.simsearch import euclidean_topk

    emb = _read_wide(spark, sf_dir, "embeddings")
    return euclidean_topk(
        emb.filter(F.col("vec_id") != 0), _query_vec(spark, sf_dir), TOP_K
    )


EMB_REC_INPUTS = ["doc 3", "doc 5"]
EMB_REC_RATINGS = [9.0, 4.0]


def q_recommend_embeddings(spark, sf_dir):
    """Embedding-method recommend chain (gen_embeddings → gen_sim_matrix
    → recommend) with the order-dependent ratings fold, cosine metric."""
    from sparkrec.operators.simsearch import recommend_embeddings

    emb = _read_wide(spark, sf_dir, "embeddings").withColumn(
        "title", F.concat(F.lit("doc "), F.col("vec_id").cast("string"))
    )
    return recommend_embeddings(
        emb, EMB_REC_INPUTS, EMB_REC_RATINGS, n=TOP_K, metric="cosine"
    )


def _rec_docs(spark, sf_dir):
    """documents + synthesized unique titles + sql-parity tokens."""
    return _doc_tokens(spark, sf_dir).withColumn(
        "title", F.concat(F.lit("doc "), F.col("doc_id").cast("string"))
    )


def q_recommend_titles(spark, sf_dir):
    from sparkrec.operators.recommend import recommend

    res = recommend(
        spark, _rec_docs(spark, sf_dir), REC_INPUTS, REC_RATINGS,
        n=TOP_K, round_scores=4,
    )
    return res.recs.select("title", F.round("score", 4).alias("score"))


def q_recommend_suggest(spark, sf_dir):
    """The miss branch: one input absent from the corpus → its top-5
    fuzzy title suggestions (model.py:360-370 wired to utils.py:24-57)."""
    from sparkrec.operators.recommend import recommend

    res = recommend(
        spark, _rec_docs(spark, sf_dir), [REC_INPUTS[0], REC_MISSED],
        n=TOP_K,
    )
    return res.suggestions


def q_fuzzy_suggest(spark, sf_dir):
    from sparkrec.operators.recommend import fuzzy_suggestions

    part = _read_wide(spark, sf_dir, "part").select(
        F.col("p_name").alias("title")
    )
    return fuzzy_suggestions(part, FUZZY_MISSED, n=5)


def q_topn_per_group(spark, sf_dir):
    events = _read_wide(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


def _linked_docs(spark, sf_dir):
    """documents + synthesized wikilinks: every token of length >=
    WL_LINK_LEN is a link occurrence (raw multiplicity, already
    lowercase) — deterministic and reproducible in the SQL twin."""
    return _doc_tokens(spark, sf_dir).select(
        "doc_id",
        F.filter("tokens", lambda t: F.length(t) >= WL_LINK_LEN).alias(
            "wikilinks"
        ),
    )


def q_wikilink_pairs(spark, sf_dir):
    """J5 positives: (article, link_idx, link) with the reference's
    multiplicity / distinct-count / >=4 semantics (model.py:424-462)."""
    from sparkrec.operators.wikilink_nn import wikilink_pairs

    return wikilink_pairs(_linked_docs(spark, sf_dir), min_count=WL_MIN_COUNT)


def q_wikilink_negatives(spark, sf_dir):
    """J5 negative sampling: first WL_NEG_K seeded quadratic-mixer draws
    that miss the positive set — the DuckDB twin replays the identical
    integer arithmetic, so the value-hash compare is exact."""
    from sparkrec.operators.wikilink_nn import (
        link_index, negative_sample_pairs, wikilink_pairs,
    )

    docs = _linked_docs(spark, sf_dir)
    pos = wikilink_pairs(docs, min_count=WL_MIN_COUNT)
    n_articles = 500
    n_links = link_index(docs, min_count=WL_MIN_COUNT).count()
    return negative_sample_pairs(
        spark, pos, n_articles, n_links, k=WL_NEG_K, seed=WL_NEG_SEED
    )


def q_tfidf_cosine_recs(spark, sf_dir):
    """A7 tfidf: sklearn-semantics sparse TF-IDF + more-like-this cosine
    top-k for one query doc — the gen_embeddings('tfidf') →
    gen_sim_matrix → recommend chain as one relational query."""
    from sparkrec.operators.embeddings import tfidf_cosine_topk, tfidf_vectors

    vec = tfidf_vectors(_doc_tokens(spark, sf_dir))
    return tfidf_cosine_topk(vec, [TFIDF_QUERY_DOC], TOP_K).drop("query_doc")


def _entry_xml_path(spark, sf_dir) -> str:
    """Fixture: the documents table serialized as a mediawiki dump, with
    every token of length >= XML_LINK_LEN wrapped as a [[wikilink]].
    Written once per sf_dir (skip-if-exists memo, driver-side — fixture
    generation at contract scale; real dumps arrive as files)."""
    import sparkrec.sources.wikixml as wx

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join("/tmp", f"sparkrec_entry_xml_v1_{tag}")
    path = os.path.join(root, "dump.xml")
    if not os.path.exists(path):
        os.makedirs(root, exist_ok=True)
        rows = (
            _documents(spark, sf_dir)
            .select("doc_id", "text")
            .orderBy("doc_id")
            .collect()
        )
        pages = []
        for r in rows:
            words = [
                f"[[{w}]]" if len(w) >= XML_LINK_LEN else w
                for w in r["text"].split(" ")
            ]
            pages.append(
                (f"doc {r['doc_id']}", 0, int(r["doc_id"]), " ".join(words))
            )
        tmp = path + ".tmp"
        wx.write_pages_xml(pages, tmp)
        os.rename(tmp, path)
    return path


def q_wikixml_roundtrip(spark, sf_dir):
    """S2: dump scan → page parse must reproduce every document exactly
    — text_match compares the parsed text against the expected link
    injection recomputed independently in Spark (and in the twin)."""
    from sparkrec.sources.wikixml import read_wiki_dump

    path = _entry_xml_path(spark, sf_dir)
    pages = read_wiki_dump(spark, path).select(
        F.col("page_id").alias("doc_id"), "title", "text",
        F.size("wikilinks").alias("n_links"),
    )
    expected = _documents(spark, sf_dir).select(
        "doc_id",
        F.array_join(
            F.transform(
                F.split("text", " "),
                lambda w: F.when(
                    F.length(w) >= XML_LINK_LEN,
                    F.concat(F.lit("[["), w, F.lit("]]")),
                ).otherwise(w),
            ),
            " ",
        ).alias("exp_text"),
    )
    return pages.join(expected, "doc_id").select(
        "doc_id", "title", "n_links",
        (F.col("text") == F.col("exp_text")).cast("int").alias("text_match"),
    )


# --- rows-only entries (no ANSI-SQL twin) ----------------------------------
# (lsh_cosine_topk and media_features below graduated to value-hash
# oracles in round 4 — their docstrings carry the replay trick; the
# remaining rows-only tail is the genuinely iterative-ML set:
# doc2vec_topk, lda_doc_topics, lda_topic_evals.)


def q_doc2vec_topk(spark, sf_dir):
    """A7 doc2vec: PV-DBOW per-doc TRAINED vectors (word matrix from the
    distributed Word2Vec fit, then seeded per-doc negative-sampling SGD
    — reference model.py:131-155 semantics) → brute cosine top-k for one
    query doc (rows-only: iterative SGD training is not SQL-expressible;
    kernel-vs-twin bit-exactness and partition-independence are pytest
    invariants in tests/test_embeddings.py and, end-to-end through
    gen_embeddings, tests/test_ml_determinism.py).

    Determinism bound: GIVEN the word matrix, doc vectors are a pure
    function of (seed, doc_id, tokens) — bit-exact across any
    partitioning/parallelism. The Word2Vec fit feeding the matrix is
    pyspark.ml distributed SGD and IS partition-dependent (different
    repartitioning → different matrix → different top-k); within one
    session with a fixed seed and unchanged input partitioning it is
    reproducible, which is what the driver's run-twice determinism
    check verifies."""
    from sparkrec.operators.embeddings import pv_dbow_embeddings
    from sparkrec.operators.simsearch import cosine_topk

    emb = pv_dbow_embeddings(
        _doc_tokens(spark, sf_dir), vector_size=16, seed=42, epochs=10
    ).cache()
    qv = [
        float(x)
        for x in emb.filter(F.col("doc_id") == TFIDF_QUERY_DOC)
        .collect()[0]["embedding"]
    ]
    return cosine_topk(
        emb.filter(F.col("doc_id") != TFIDF_QUERY_DOC), qv, TOP_K,
        id_col="doc_id",
    )


def q_wikilinknn_topk(spark, sf_dir):
    """A7/J5 wikilinknn: ALS implicit-feedback article embeddings from
    wikilink pairs (the Spark-first restatement of the reference's Keras
    dot-product fit, model.py:386-560) → cosine top-k for one article
    (rows-only: iterative alternating least squares is not
    SQL-expressible; structure/determinism invariants in
    tests/test_wikilink_nn.py).

    Determinism bound: ALS with a fixed seed is BIT-EXACT across input
    partitioning (measured repartition(1) vs (7), 500-doc corpus;
    asserted in tests/test_ml_determinism.py) — ALS re-blocks into its
    own fixed numBlocks grid with seeded per-block init, so input
    partitioning never reaches the solver. The strongest invariance in
    the ML tail."""
    from sparkrec.operators.simsearch import cosine_topk
    from sparkrec.operators.wikilink_nn import wikilinknn_embeddings

    emb = wikilinknn_embeddings(
        _linked_docs(spark, sf_dir), embedding_size=16,
        min_count=WL_MIN_COUNT, seed=42, max_iter=5,
    ).cache()
    qv = [
        float(x)
        for x in emb.filter(F.col("doc_id") == TFIDF_QUERY_DOC)
        .collect()[0]["embedding"]
    ]
    return cosine_topk(
        emb.filter(F.col("doc_id") != TFIDF_QUERY_DOC), qv, TOP_K,
        id_col="doc_id",
    )


def q_lda_doc_topics(spark, sf_dir):
    """A6: online-VB LDA doc-topic distributions (rows-only; structural
    invariants in tests/test_topics.py).

    Determinism bound: online VB's mini-batch composition follows the
    partitioning, so the fit is partition-DEPENDENT by design. The
    assertable level is fixed seed + fixed partitioning → identical fit
    run-to-run (tests/test_ml_determinism.py; requires the
    deterministic-vocab sort in topics._bow), which is the level the
    driver's run-twice determinism check exercises."""
    from sparkrec.operators.topics import fit_lda

    _, doc_topics = fit_lda(
        _doc_tokens(spark, sf_dir), num_topics=5, seed=42, max_iter=3
    )
    return doc_topics.select(
        "doc_id",
        F.expr(
            "array_position(embedding, array_max(embedding))"
        ).cast("int").alias("top_topic"),
        F.round(F.array_max("embedding"), 4).alias("top_weight"),
    )


def q_lda_topic_evals(spark, sf_dir):
    """T9: stability/coherence per candidate topic count + the ideal
    argmax (reference utils.py:60-232 selection rule).

    Determinism bound: inherits LDA's (q_lda_doc_topics) — partition-
    dependent fits, reproducible at fixed seed + fixed partitioning;
    the coherence/stability aggregation on top is deterministic given
    the fits (window-enumerating twin fuzz in tests/test_topics.py)."""
    from sparkrec.operators.topics import topic_evals

    return topic_evals(
        _doc_tokens(spark, sf_dir),
        topic_nums_to_compare=[2, 4], seed=42, max_iter=2,
    )


def q_simhash_near(spark, sf_dir):
    """SimHash near-dup over the md5_60 hash family — same pipeline and
    shuffle shape as the xxhash64 production default, but every hash is
    DuckDB-replayable, so the oracle verifies signatures, banding, and
    Hamming verify end-to-end (dedup.py module notes)."""
    from sparkrec.operators.dedup import simhash_near_pairs, simhash_signatures

    sigs = simhash_signatures(_documents(spark, sf_dir), hash_fn="md5_60")
    return simhash_near_pairs(sigs, max_hamming=3, n_bands=4, n_bits=60)


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup over the md5_60 hash family + engine-portable
    concat band buckets: the DuckDB oracle replays shingling, the
    permutation family, banding, candidates, and the exact-Jaccard verify
    value-for-value (dedup.py module notes)."""
    from sparkrec.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(
        _documents(spark, sf_dir), threshold=JACCARD_THRESHOLD,
        n_hashes=64, n_bands=16, shingle_n=2,
        hash_fn="md5_60", bucket_mode="concat",
    )


LSH_TOPK_PLANES = 6
LSH_TOPK_MULTIPROBE = 2


def q_lsh_cosine_topk(spark, sf_dir):
    """ANN cosine top-k probing the query's LSH bucket + 2 multiprobe
    flips. Hash-oracled (round-4 upgrade from rows-only): the hyperplanes
    are shared literals, and _probe_buckets' sequential-fold projections
    + (|margin|, plane) flip ordering are replayed exactly in the DuckDB
    twin — same trick as the banded near-dup / md5_60 oracles."""
    from sparkrec.operators.simsearch import add_lsh_buckets, cosine_topk_lsh

    emb = _read_wide(spark, sf_dir, "embeddings")
    bucketed = add_lsh_buckets(emb, dim=EMB_DIM, n_planes=LSH_TOPK_PLANES)
    return cosine_topk_lsh(
        bucketed, _query_vec(spark, sf_dir), TOP_K, dim=EMB_DIM,
        n_planes=LSH_TOPK_PLANES, multiprobe=LSH_TOPK_MULTIPROBE,
    )


def q_media_features(spark, sf_dir):
    """Multimodal decode plumbing (mapInPandas over binary payloads).
    Hash-oracled (round-4 upgrade from rows-only): the fake decode
    kernels compute byte-moment sums in int64 with exactly one float64
    division before the float32 store (multimodal._decode_image_batch
    exactness contract), so the DuckDB twin replays every stored float
    bit-for-bit from the documents text (payload = UTF-8 bytes; the
    testdata corpus is ASCII, so SQL char positions ARE byte offsets —
    asserted in the twin via octet_length = length)."""
    from sparkrec.operators.multimodal import extract_features, synth_media_df

    media = synth_media_df(spark, _documents(spark, sf_dir))
    feats = extract_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.round(F.aggregate("feature", F.lit(0.0),
                            lambda a, x: a + x.cast("double")), 4).alias("feat_sum"),
    )


def q_media_decode(spark, sf_dir):
    """REAL multimodal decode (round-5 upgrade from declared stubs): even
    doc_ids become true 24-bpp BMP payloads, odd ones true RIFF/WAVE PCM
    clips with a junk LIST chunk (multimodal.synth_real_media_df), and
    ``extract_features`` parses them with the pure-numpy codecs — header
    offsets, row padding, bottom-up rows, BGR order, chunk walking. The
    oracle regenerates the integer content formulas with generate_series
    and computes the same int64 moment sums over the DECODED streams, so
    any parsing error (padding bytes 0xAB or junk-chunk bytes 0xCD
    leaking into the moments, wrong dims, wrong sample count) breaks the
    hash. n_units (pixel bytes / samples) is header-derived on the Spark
    side and formula-derived in the oracle."""
    from sparkrec.operators.multimodal import (
        extract_features,
        synth_real_media_df,
    )

    media = synth_real_media_df(spark, _documents(spark, sf_dir))
    feats = extract_features(media)
    return feats.select(
        "media_id", "kind", "n_units",
        F.round(F.aggregate("feature", F.lit(0.0),
                            lambda a, x: a + x.cast("double")), 4).alias("feat_sum"),
    )


# sf-independent: the transcripts corpus is always n_convs=150, so one
# on-disk index serves every sf_dir AND gives the oracle a fixed path to
# the persisted docs table (the build's own parquet output — DuckDB
# re-derives BM25 from it and must match the WAND kernel's scores).
# The fingerprint in the name auto-invalidates the cache on any relevant
# code/config change (see _index_cache_fingerprint).
_TRANSCRIPTS_INDEX_ROOT = os.path.join(
    _ENTRY_IDX_BASE, f"{_ENTRY_IDX_PREFIX}{_IDX_FP}_transcripts")
TRANSCRIPT_QUERIES = [("t1", "term0001 term0007"), ("t2", "term0500")]


def q_transcripts_wand(spark, sf_dir):
    """Full transcripts pipeline: datagen → assemble (turn-order invariant)
    → tokenize → compressed index → WAND top-k. The oracle replays BM25
    in DuckDB over the docs table the build stage persisted."""
    from sparkrec.datagen import transcripts_df
    from sparkrec.operators.indexer import Index, IndexConfig, build_index
    from sparkrec.operators.scorer import bm25_query_topk

    root = _TRANSCRIPTS_INDEX_ROOT
    if not os.path.exists(root):
        _prune_stale_index_roots()
    cfg = IndexConfig(**_ENTRY_IDX_CFG)
    t = transcripts_df(spark, n_convs=150)
    build_index(spark, t, root, cfg)
    idx = Index.load(spark, root)
    # fetch EVERY scored doc (150 convs), then re-rank on the rounded
    # score: hot Zipf terms tie densely at 4 decimals, and a doc below
    # WAND's unrounded top-10 cutoff can outrank one above it once
    # rounded — the oracle ranks rounded scores over all docs, so the
    # Spark side must too (tie-break doc_id on both sides).
    out = bm25_query_topk(spark, idx, TRANSCRIPT_QUERIES, 150)
    return _ranked(out.select("query_id", "doc_id", "score"), 10, True)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "doc_tf": q_doc_tf,
        "doc_df": q_doc_df,
        "corpus_stats": q_corpus_stats,
        "bm25_topk": q_bm25_topk,
        "bm25_topk_batch": q_bm25_topk_batch,
        "bm25_wand_topk": q_bm25_wand_topk,
        "bm25_scan_topk": q_bm25_scan_topk,
        "multi_input_fold": q_multi_input_fold,
        "bigram_counts": q_bigram_counts,
        "phrase_mine": q_phrase_mine,
        "phrase_rewrite": q_phrase_rewrite,
        "trigram_mine": q_trigram_mine,
        "clean_pipeline": q_clean_pipeline,
        "clean_pipeline_en": q_clean_pipeline_en,
        "events_daily": q_events_daily,
        "events_window": q_events_window,
        "sample_deterministic": q_sample_deterministic,
        "sample_seeded": q_sample_seeded,
        "exact_dup_groups": q_exact_dup_groups,
        "ngram_jaccard": q_ngram_jaccard,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "fingerprints": q_fingerprints,
        "cosine_topk": q_cosine_topk,
        "euclidean_topk": q_euclidean_topk,
        "recommend_embeddings": q_recommend_embeddings,
        "embedding_near_dup": q_embedding_near_dup,
        "fuzzy_suggest": q_fuzzy_suggest,
        "topn_per_group": q_topn_per_group,
        "recommend_titles": q_recommend_titles,
        "recommend_suggest": q_recommend_suggest,
        "wikilink_pairs": q_wikilink_pairs,
        "wikilink_negatives": q_wikilink_negatives,
        "tfidf_cosine_recs": q_tfidf_cosine_recs,
        "wikixml_roundtrip": q_wikixml_roundtrip,
        "stemmed": q_stemmed,
        "simhash_near": q_simhash_near,
        "minhash_pairs": q_minhash_pairs,
        "transcripts_wand": q_transcripts_wand,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        # rows-only (no SQL-expressible oracle: iterative ML fits):
        "doc2vec_topk": q_doc2vec_topk,
        "wikilinknn_topk": q_wikilinknn_topk,
        "lda_doc_topics": q_lda_doc_topics,
        "lda_topic_evals": q_lda_topic_evals,
        # oracled since round 4 (integer-exact fake decode twin):
        "media_features": q_media_features,
        # round 5: REAL BMP/WAV parsing, decoded-moment twin:
        "media_decode": q_media_decode,
    }


# ---------------------------------------------------------------------------
# oracle_sql()
# ---------------------------------------------------------------------------

_TOK = duck_tokenize("text")

_STEM_DICT_CACHE: list[tuple[str, str]] | None = None


def _stem_dict() -> list[tuple[str, str]]:
    """(term, stem) for every token in the driver corpora, stemmed with
    the Python Snowball twin (VERDICT r2 task 1b: the oracle verifies the
    distributed unique-vocab-scatter machinery against a driver-side map;
    the algorithm itself is spec/fuzz-tested in tests/test_stem.py)."""
    global _STEM_DICT_CACHE
    if _STEM_DICT_CACHE is None:
        import glob

        import duckdb

        from sparkrec.functions.stem import snowball_en

        con = duckdb.connect()
        vocab: set[str] = set()
        # every sf dir present, not a hardcoded list — a new sf under
        # /root/testdata is covered automatically; a corpus term that
        # still escapes the dictionary surfaces as a loud
        # '__STEMDICT_MISS__'-prefixed value in the twin SQL rather than
        # a silent unstemmed coalesce (ADVICE r3)
        for path in sorted(glob.glob("/root/testdata/*/documents.parquet")):
            q = (
                f"SELECT DISTINCT unnest({duck_tokenize('text')}) "
                f"FROM read_parquet('{path}')"
            )
            vocab.update(r[0] for r in con.execute(q).fetchall())
        _STEM_DICT_CACHE = sorted((t, snowball_en(t)) for t in vocab)
    return _STEM_DICT_CACHE

_TOKS_CTE = f"toks AS (SELECT doc_id, {_TOK} AS tokens FROM documents)"

_TF_CTES = f"""{_TOKS_CTE},
dl AS (SELECT doc_id, len(tokens) AS doc_len FROM toks),
tf AS (SELECT doc_id, term, count(*)::INTEGER AS tf
       FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
       GROUP BY doc_id, term)"""


def _qvalues(queries: list[tuple[str, str]]) -> str:
    from collections import Counter

    from sparkrec.functions.sqltok import py_sql_tokenize

    rows = []
    for qid, text in queries:
        for t, c in sorted(Counter(py_sql_tokenize(text)).items()):
            rows.append(f"('{qid}', '{t}', {c})")
    return ", ".join(rows)


def _bm25_scored_cte(queries: list[tuple[str, str]]) -> str:
    k1, b = BM25_K1, BM25_B
    return f"""{_TF_CTES},
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qterms AS (SELECT * FROM (VALUES {_qvalues(queries)}) AS q(query_id, term, qtf)),
scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(q.qtf * ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * tf.tf * ({k1} + 1.0)
             / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.doc_len / s.avgdl))), 4)
         AS score
  FROM tf
  JOIN qterms q ON tf.term = q.term
  JOIN dfreq d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id)"""


def _sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + "]"


def oracle_sql() -> dict[str, str]:
    bm25_single = f"""WITH {_bm25_scored_cte(Q_SINGLE)}
SELECT rank, doc_id, score FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id)::INTEGER AS rank
  FROM scored) WHERE rank <= {TOP_K}"""

    bm25_batch = f"""WITH {_bm25_scored_cte(Q_BATCH)}
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank
  FROM scored) WHERE rank <= {TOP_K}"""

    w0, w1 = (r / 10.0 for r in FOLD_RATINGS)
    fold = f"""WITH {_bm25_scored_cte(Q_BATCH[:2])},
s1 AS (SELECT doc_id, score FROM scored WHERE query_id = 'q1'),
s2 AS (SELECT doc_id, score FROM scored WHERE query_id = 'q2')
SELECT coalesce(s1.doc_id, s2.doc_id) AS doc_id,
       round((1.0 * coalesce({w0} * s1.score, 0.0)
              + {w1} * coalesce(s2.score, 0.0)) / 2.0, 4) AS score
FROM s1 FULL OUTER JOIN s2 ON s1.doc_id = s2.doc_id"""

    bigrams = f"""WITH {_TOKS_CTE},
pos AS (SELECT doc_id, unnest(tokens) AS tok,
               generate_subscripts(tokens, 1) AS p FROM toks),
big AS (SELECT doc_id,
               tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY p)
               AS shingle FROM pos)
SELECT shingle, count(*) AS cnt FROM big WHERE shingle IS NOT NULL
GROUP BY shingle HAVING count(*) >= {BIGRAM_MIN_COUNT}"""

    jaccard = f"""WITH {_TOKS_CTE},
pos AS (SELECT doc_id, unnest(tokens) AS tok,
               generate_subscripts(tokens, 1) AS p FROM toks),
big AS (SELECT doc_id,
               tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY p)
               AS shingle FROM pos),
sh AS (SELECT DISTINCT doc_id, shingle FROM big WHERE shingle IS NOT NULL),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isect
          FROM sh a JOIN sh b ON a.shingle = b.shingle
                              AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       round(isect::DOUBLE / (sa.sz + sb.sz - isect), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE isect::DOUBLE / (sa.sz + sb.sz - isect) >= {JACCARD_THRESHOLD}"""

    # gensim semantics with connector_words (operators/phrases.py module
    # notes): connectors never count as unigrams, candidate spans carry
    # interior connectors, vocab = distinct non-connector unigrams +
    # distinct spans, promotion is STRICT score > threshold, and the
    # transform matches greedily left-to-right without overlaps over the
    # non-connector subsequence. Greedy as algebra (same derivation as
    # operators/phrases._greedy_positions): with r = non-connector rank,
    # matched(r) ⇔ promoted(r) ∧ (r − last_unpromoted_rank) is odd;
    # a token is consumed ⇔ the last non-connector token strictly
    # before it matched.
    mc, th = PHRASE_MIN_COUNT, PHRASE_THRESHOLD
    conn_list = ", ".join(f"'{w}'" for w in PHRASE_CONNECTORS)

    def _phrase_pass(src: str, q: str) -> str:
        """One full Phrases pass over CTE ``src`` (doc_id, p, tok):
        mining CTEs ``{q}promoted`` and the transformed stream
        ``{q}emit`` (doc_id, p, tok)."""
        return f"""{q}c0 AS (SELECT doc_id, p, tok,
              tok IN ({conn_list}) AS conn FROM {src}),
{q}c1 AS (SELECT *, max(CASE WHEN NOT conn THEN p END) OVER w AS anchor,
               sum(CASE WHEN conn THEN 0 ELSE 1 END) OVER w AS r
          FROM {q}c0
          WINDOW w AS (PARTITION BY doc_id ORDER BY p
                       ROWS UNBOUNDED PRECEDING)),
{q}btw AS (SELECT doc_id, anchor, string_agg(tok, ' ' ORDER BY p) AS btw
           FROM {q}c1 WHERE conn AND anchor IS NOT NULL
           GROUP BY doc_id, anchor),
{q}pr AS (SELECT c.doc_id, c.p, c.tok, c.r,
                 CASE WHEN lead(c.tok) OVER w IS NULL THEN NULL
                      ELSE concat_ws(' ', c.tok, b.btw,
                                     lead(c.tok) OVER w) END AS phrase
          FROM {q}c1 c LEFT JOIN {q}btw b
            ON b.doc_id = c.doc_id AND b.anchor = c.p
          WHERE NOT c.conn
          WINDOW w AS (PARTITION BY c.doc_id ORDER BY c.p)),
{q}pc AS (SELECT phrase, count(*) AS cnt FROM {q}pr
          WHERE phrase IS NOT NULL GROUP BY phrase),
{q}uni AS (SELECT tok, count(*) AS ucnt FROM {q}pr GROUP BY tok),
{q}v AS (SELECT ((SELECT count(*) FROM {q}uni)
               + (SELECT count(*) FROM {q}pc))::DOUBLE AS vocab),
{q}promoted AS (
  SELECT pc.phrase, pc.cnt,
         round((pc.cnt - {mc})::DOUBLE * v.vocab
               / (ua.ucnt * ub.ucnt), 6) AS score
  FROM {q}pc pc
  JOIN {q}uni ua ON ua.tok = string_split(pc.phrase, ' ')[1]
  JOIN {q}uni ub
    ON ub.tok = string_split(pc.phrase, ' ')[len(string_split(pc.phrase, ' '))]
  CROSS JOIN {q}v v
  WHERE pc.cnt >= {mc}
    AND (pc.cnt - {mc})::DOUBLE * v.vocab
        / (ua.ucnt * ub.ucnt) > {th}),
{q}st AS (SELECT pr.*, (promoted.phrase IS NOT NULL) AS flag
          FROM {q}pr pr LEFT JOIN {q}promoted promoted USING (phrase)),
{q}st2 AS (SELECT *, max(CASE WHEN NOT flag THEN r END)
                  OVER (PARTITION BY doc_id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS lu FROM {q}st),
{q}st3 AS (SELECT *, (flag AND (r - coalesce(lu, 0)) % 2 = 1) AS matched
           FROM {q}st2),
{q}st4 AS (SELECT *, coalesce(lag(matched)
                  OVER (PARTITION BY doc_id ORDER BY p), false) AS consumed
           FROM {q}st3),
{q}emit AS (
  SELECT doc_id, p, CASE WHEN matched THEN replace(phrase, ' ', '_')
                         ELSE tok END AS tok
  FROM {q}st4 WHERE NOT consumed
  UNION ALL
  SELECT c.doc_id, c.p, c.tok
  FROM {q}c1 c LEFT JOIN {q}st3 m
    ON m.doc_id = c.doc_id AND m.p = c.anchor
  WHERE c.conn AND NOT coalesce(m.matched, false))"""

    phrase_ctes = f"""{_TOKS_CTE},
pos AS (SELECT doc_id, unnest(tokens) AS tok,
               generate_subscripts(tokens, 1) AS p FROM toks),
{_phrase_pass('pos', 'p1')}"""

    phrase_mine = (
        f"WITH {phrase_ctes} SELECT phrase, cnt, score FROM p1promoted"
    )

    phrase_rewrite = f"""WITH {phrase_ctes},
m AS (SELECT doc_id, p, tok FROM p1emit
      WHERE len(string_split(tok, '_')) = 2),
agg AS (SELECT doc_id, list(tok ORDER BY p DESC) AS phrases FROM m
        GROUP BY doc_id)
SELECT t.doc_id,
       (len(t.tokens) + coalesce(len(a.phrases), 0))::INTEGER AS total_len,
       coalesce(array_to_string(a.phrases, ','), '') AS phrases
FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id"""

    trigram_mine = f"""WITH {phrase_ctes},
{_phrase_pass('p1emit', 'p2')}
SELECT phrase, cnt, score FROM p2promoted
WHERE len(string_split(replace(phrase, ' ', '_'), '_')) = 3"""

    clean_pipeline = f"""WITH {_TOKS_CTE},
pos AS (SELECT doc_id, unnest(tokens) AS term,
               generate_subscripts(tokens, 1) AS p FROM toks),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM pos GROUP BY term),
filt AS (SELECT pos.doc_id, pos.p, pos.term
         FROM pos JOIN dfreq USING (term)
         WHERE dfreq.df >= {CLEAN_MIN_FREQ}
           AND len(pos.term) >= {CLEAN_MIN_LEN}),
ranked AS (SELECT doc_id, p, term,
                  row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn,
                  count(*) OVER (PARTITION BY doc_id) AS n1
           FROM filt),
kept AS (SELECT doc_id, max(n1) - 1 AS final_len,
                coalesce(string_agg(term, ' ' ORDER BY p)
                         FILTER (WHERE rn <= n1 - 1), '') AS final_text
         FROM ranked WHERE n1 > {CLEAN_MIN_TOKENS} GROUP BY doc_id)
SELECT t.doc_id, (k.doc_id IS NOT NULL)::INTEGER AS kept,
       coalesce(k.final_len, 0)::INTEGER AS final_len,
       coalesce(k.final_text, '') AS final_text
FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id"""

    events_window = """SELECT strftime(ws, '%Y-%m-%d %H:%M') AS w_start,
  event_type, count(*) AS n,
  round(sum(value::DECIMAL(30,10))::DOUBLE / count(*), 6) AS avg_value
FROM (SELECT unnest([
        make_timestamp((floor(epoch(ts) / 43200)::BIGINT * 43200) * 1000000),
        make_timestamp((floor(epoch(ts) / 43200)::BIGINT * 43200 - 43200)
                       * 1000000)]) AS ws,
             event_type, value
      FROM events)
GROUP BY 1, 2"""

    sample_seeded = f"""SELECT doc_id FROM documents
ORDER BY md5('{SAMPLE_SEED}' || ':' || doc_id::VARCHAR), doc_id
LIMIT {SAMPLE_K}"""

    events_daily = """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
  event_type, count(*) AS n,
  round(sum(value::DECIMAL(30,10))::DOUBLE / count(*), 6) AS avg_value,
  round(sum(json_extract(props, '$.k')::BIGINT)::DOUBLE / count(*), 6) AS avg_k
FROM events GROUP BY 1, 2"""

    sample_det = """SELECT doc_id, md5(doc_id::VARCHAR) AS h FROM documents
ORDER BY h, doc_id LIMIT 50"""

    hits = {
        lang: f"len(list_filter(tokens, t -> list_contains({_sw_list(lang)}, t)))"
        for lang in LANG_STOPWORDS
    }
    lang_id = f"""WITH {_TOKS_CTE},
h AS (SELECT doc_id, {hits['en']} AS h_en, {hits['de']} AS h_de,
             {hits['fr']} AS h_fr FROM toks)
SELECT doc_id,
  CASE WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_fr THEN 'en'
       WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
       WHEN h_fr > 0 THEN 'fr'
       ELSE 'und' END AS lang_pred
FROM h"""

    quality = f"""WITH {_TOKS_CTE},
q AS (SELECT d.doc_id,
        length(d.text)::INTEGER AS n_chars,
        len(t.tokens)::INTEGER AS n_tokens,
        length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
        len(list_filter(t.tokens,
            tk -> list_contains({_sw_list('en')}, tk))) AS sw_hits,
        list_sum(list_transform(t.tokens, tk -> len(tk))) AS tok_chars
      FROM documents d JOIN toks t ON d.doc_id = t.doc_id)
SELECT doc_id, n_chars, n_tokens,
  round(alpha_chars::DOUBLE / greatest(n_chars, 1), 6) AS alpha_ratio,
  round(sw_hits::DOUBLE / greatest(n_tokens, 1), 6) AS stopword_ratio,
  round(coalesce(tok_chars, 0)::DOUBLE / greatest(n_tokens, 1), 6)
    AS mean_token_len
FROM q"""

    fingerprints = f"""WITH {_TOKS_CTE}
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(tokens, t -> len(t)::BIGINT * {FP_BASE} + ascii(t))),
    (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD}) AS fp
FROM toks"""

    cosine = f"""WITH e AS (SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
parts AS (SELECT e.vec_id, unnest(e.v) AS x, unnest(q.qv) AS y
          FROM e CROSS JOIN q),
agg AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS n2
        FROM parts GROUP BY vec_id),
qn AS (SELECT sqrt(sum(y * y)) AS qnorm
       FROM (SELECT unnest(qv) AS y FROM q))
SELECT vec_id, cos FROM (
  SELECT vec_id, round(dot / (sqrt(n2) * qn.qnorm), 6) AS cos
  FROM agg CROSS JOIN qn)
ORDER BY cos DESC, vec_id LIMIT {TOP_K}"""

    euclidean = f"""WITH e AS (SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
parts AS (SELECT e.vec_id, unnest(e.v) AS x, unnest(q.qv) AS y
          FROM e CROSS JOIN q WHERE e.vec_id != 0),
agg AS (SELECT vec_id, round(sqrt(sum((x - y) * (x - y))), 6) AS dist
        FROM parts GROUP BY vec_id)
SELECT vec_id, dist FROM agg ORDER BY dist, vec_id LIMIT {TOP_K}"""

    w0e, w1e = (r / 10.0 for r in EMB_REC_RATINGS)
    in0, in1 = (int(t.split(" ")[1]) for t in EMB_REC_INPUTS)
    recommend_emb = f"""WITH e AS (SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q0 AS (SELECT v AS qv FROM e WHERE vec_id = {in0}),
q1 AS (SELECT v AS qv FROM e WHERE vec_id = {in1}),
s0 AS (SELECT e.vec_id, round(list_dot_product(e.v, q0.qv)
        / (sqrt(list_dot_product(e.v, e.v))
           * sqrt(list_dot_product(q0.qv, q0.qv))), 6) AS cos
       FROM e CROSS JOIN q0),
s1 AS (SELECT e.vec_id, round(list_dot_product(e.v, q1.qv)
        / (sqrt(list_dot_product(e.v, e.v))
           * sqrt(list_dot_product(q1.qv, q1.qv))), 6) AS cos
       FROM e CROSS JOIN q1),
folded AS (SELECT s0.vec_id,
        (1.0 * ({w0e} * s0.cos) + {w1e} * s1.cos) / 2.0 AS raw
    FROM s0 JOIN s1 USING (vec_id))
SELECT 'doc ' || vec_id::VARCHAR AS title, score FROM (
  SELECT vec_id, round(raw, 6) AS score FROM folded
  WHERE vec_id NOT IN ({in0}, {in1}))
ORDER BY score DESC, vec_id LIMIT {TOP_K}"""

    # banded-LSH near-dup twin: SAME hyperplane literals, SAME bucketing
    # rule as the Spark path — the oracle reproduces the LSH candidate
    # generation exactly, so the hash compare is exact despite recall<1.
    from sparkrec.operators.simsearch import _hyperplanes

    planes = _hyperplanes(EMB_DIM, ND_PLANES * ND_TABLES, seed=42)

    def _plane_lit(p):
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    def _bucket_sql(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, {_plane_lit(planes[t * ND_PLANES + j])}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(ND_PLANES)
        )

    bands_union = " UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {_bucket_sql(t)} AS bucket FROM e"
        for t in range(ND_TABLES)
    )
    # --- LSH cosine top-k twin (round-4 oracle upgrade) ---------------------
    # Replays the WHOLE multiprobe pipeline in SQL from the shared
    # hyperplane literals: per-vector sign buckets, the query's projection
    # margins (list_dot_product == the Python sequential fold in
    # simsearch._probe_buckets, both plain float64 left-folds), flip
    # selection ordered (|margin| asc, plane asc), then brute-force cosine
    # inside the probed buckets only.
    lsh_planes = _hyperplanes(EMB_DIM, LSH_TOPK_PLANES, seed=42)

    def _plane_lit_lsh(p):
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    lsh_proj_branches = " UNION ALL ".join(
        f"SELECT {j} AS j, {1 << j} AS bit, "
        f"list_dot_product(qv, {_plane_lit_lsh(lsh_planes[j])}) AS p FROM q"
        for j in range(LSH_TOPK_PLANES)
    )
    lsh_bucket_sql = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_lit_lsh(lsh_planes[j])}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(LSH_TOPK_PLANES)
    )
    lsh_topk = f"""WITH e AS (SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
proj AS ({lsh_proj_branches}),
base AS (SELECT sum(CASE WHEN p > 0 THEN bit ELSE 0 END)::BIGINT AS b FROM proj),
flips AS (SELECT bit FROM proj ORDER BY abs(p), j LIMIT {LSH_TOPK_MULTIPROBE}),
probes AS (SELECT b AS bucket FROM base
           UNION ALL SELECT xor(b, bit::BIGINT) FROM base CROSS JOIN flips),
cand AS (SELECT vec_id, v FROM
           (SELECT vec_id, v, {lsh_bucket_sql} AS bucket FROM e)
         WHERE bucket IN (SELECT bucket FROM probes)),
scored AS (SELECT c.vec_id,
    round(list_dot_product(c.v, q.qv)
      / (sqrt(list_dot_product(c.v, c.v))
         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM cand c CROSS JOIN q)
SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT {TOP_K}"""

    near_dup = f"""WITH e AS (SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
b AS ({bands_union}),
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
         FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
                           AND a.vec_id < b2.vec_id),
p AS (SELECT c.vec_a, c.vec_b,
        round(list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v))
             * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos
      FROM cand c
      JOIN e ea ON ea.vec_id = c.vec_a
      JOIN e eb ON eb.vec_id = c.vec_b)
SELECT vec_a, vec_b, cos FROM p WHERE cos >= {COS_DUP_THRESHOLD}"""

    fuzzy = f"""WITH t AS (SELECT p_name AS title FROM part)
SELECT title,
  round(1.0 - levenshtein(lower(title), '{FUZZY_MISSED.lower()}')::DOUBLE
        / greatest(length(title), {len(FUZZY_MISSED)}, 1), 6) AS similarity
FROM t ORDER BY similarity DESC, title LIMIT 5"""

    k1, b = BM25_K1, BM25_B
    rw0, rw1 = (r / 10.0 for r in REC_RATINGS)
    recommend_titles = f"""WITH {_TF_CTES},
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
inputs(ord, title) AS (VALUES (0, '{REC_INPUTS[0]}'), (1, '{REC_INPUTS[1]}')),
titled AS (SELECT doc_id, 'doc ' || doc_id::VARCHAR AS title FROM documents),
qdocs AS (SELECT i.ord, t.doc_id AS qdoc FROM inputs i
          JOIN titled t USING (title)),
qterms AS (SELECT q.ord, tf.term, tf.tf AS qtf FROM qdocs q
           JOIN tf ON tf.doc_id = q.qdoc),
scored AS (
  SELECT q.ord, tf.doc_id,
         round(sum(q.qtf * ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * tf.tf * ({k1} + 1.0)
             / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.doc_len / s.avgdl))), 4)
         AS score
  FROM tf
  JOIN qterms q ON tf.term = q.term
  JOIN dfreq d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.ord, tf.doc_id),
s1 AS (SELECT doc_id, score FROM scored WHERE ord = 0),
s2 AS (SELECT doc_id, score FROM scored WHERE ord = 1),
folded AS (SELECT coalesce(s1.doc_id, s2.doc_id) AS doc_id,
       (1.0 * coalesce({rw0} * s1.score, 0.0)
        + {rw1} * coalesce(s2.score, 0.0)) / 2.0 AS raw
  FROM s1 FULL OUTER JOIN s2 ON s1.doc_id = s2.doc_id)
SELECT title, score FROM (
  SELECT 'doc ' || doc_id::VARCHAR AS title, round(raw, 4) AS score,
         raw, doc_id
  FROM folded WHERE doc_id NOT IN (SELECT qdoc FROM qdocs)) sub
ORDER BY raw DESC, doc_id LIMIT {TOP_K}"""

    recommend_suggest = f"""WITH titled AS (
  SELECT 'doc ' || doc_id::VARCHAR AS title FROM documents)
SELECT '{REC_MISSED}' AS missed_input, title,
  round(1.0 - levenshtein(lower(title), '{REC_MISSED.lower()}')::DOUBLE
        / greatest(length(title), {len(REC_MISSED)}, 1), 6) AS similarity
FROM titled ORDER BY similarity DESC, title LIMIT 5"""

    # --- wikilink pairs / negatives (J5) -----------------------------------
    from sparkrec.operators.recommend import WIKILINK_BOILERPLATE
    from sparkrec.operators.wikilink_nn import _LEHMER_A, _LEHMER_C, _M31, _MIX

    bl = ", ".join(f"'{w}'" for w in WIKILINK_BOILERPLATE)
    wl_ctes = f"""{_TOKS_CTE},
links AS (SELECT doc_id, unnest(list_filter(tokens, t -> len(t) >= {WL_LINK_LEN}))
          AS link FROM toks),
dlinks AS (SELECT DISTINCT doc_id, link FROM links),
cnts AS (SELECT link, count(*) AS cnt FROM dlinks
         WHERE link NOT IN ({bl})
         GROUP BY link HAVING count(*) >= {WL_MIN_COUNT}),
idx AS (SELECT link,
               (row_number() OVER (ORDER BY cnt DESC, link) - 1)::INTEGER
               AS link_idx FROM cnts)"""

    wikilink_pairs_sql = f"""WITH {wl_ctes}
SELECT l.doc_id AS article, i.link_idx, l.link
FROM links l JOIN idx i USING (link)"""

    s0 = WL_NEG_SEED % _M31
    wikilink_negatives = f"""WITH {wl_ctes},
pos AS (SELECT DISTINCT l.doc_id AS article, i.link_idx::BIGINT AS link_idx
        FROM links l JOIN idx i USING (link)),
draws AS (SELECT i,
    ({s0} + (i*2 + 1) * {_MIX}) % {_M31} AS u1,
    ({s0} + (i*2 + 2) * {_MIX}) % {_M31} AS u2
  FROM range({WL_NEG_K * 4}) t(i)),
cand AS (SELECT i AS cand_idx,
    ((u1*u1 % {_M31}) * {_LEHMER_A} + {_LEHMER_C}) % {_M31} % 500 AS article,
    ((u2*u2 % {_M31}) * {_LEHMER_A} + {_LEHMER_C}) % {_M31}
      % (SELECT count(*) FROM cnts) AS link_idx
  FROM draws)
SELECT cand_idx, article, link_idx, 0 AS label
FROM (SELECT c.* FROM cand c LEFT JOIN pos p
      ON c.article = p.article AND c.link_idx = p.link_idx
      WHERE p.article IS NULL)
ORDER BY cand_idx LIMIT {WL_NEG_K}"""

    # --- tfidf more-like-this (A7) -----------------------------------------
    tfidf_recs = f"""WITH {_TF_CTES},
nd AS (SELECT count(*) AS n_docs FROM toks),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
w AS (SELECT tf.doc_id, tf.term,
             tf.tf * (ln((1.0 + nd.n_docs) / (1.0 + dfq.df)) + 1.0) AS w
      FROM tf JOIN dfq USING (term) CROSS JOIN nd),
nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS norm FROM w GROUP BY doc_id),
v AS (SELECT w.doc_id, w.term, w.w / nrm.norm AS weight
      FROM w JOIN nrm USING (doc_id)),
q AS (SELECT term, weight AS qw FROM v WHERE doc_id = {TFIDF_QUERY_DOC}),
cs AS (SELECT v.doc_id, round(sum(v.weight * q.qw), 6) AS cos
       FROM v JOIN q USING (term)
       WHERE v.doc_id != {TFIDF_QUERY_DOC} GROUP BY v.doc_id)
SELECT rank, doc_id, cos FROM (
  SELECT doc_id, cos,
         row_number() OVER (ORDER BY cos DESC, doc_id)::INTEGER AS rank
  FROM cs) WHERE rank <= {TOP_K}"""

    # --- wikixml roundtrip (S2) --------------------------------------------
    wikixml_roundtrip = f"""SELECT doc_id,
  'doc ' || doc_id::VARCHAR AS title,
  len(list_filter(string_split(text, ' '), w -> len(w) >= {XML_LINK_LEN}))::INTEGER
    AS n_links,
  1 AS text_match
FROM documents"""

    topn = """SELECT user_id, event_id, value FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rn
  FROM events) WHERE rn = 1"""

    # --- MinHash-LSH twin (md5_60 family, concat buckets) ------------------
    # Replays the ENTIRE Spark pipeline value-for-value: distinct bigram
    # shingles → md5_60 base hash → (a·x32 + b) mod P permutation minima
    # (exact in BIGINT: a < 2^31, x32 < 2^32 → a·x32 + b < 2^63) →
    # 16 bands of 4 keyed by the comma-joined slice → candidate self-join
    # → exact Jaccard verify ≥ threshold.
    from sparkrec.operators.dedup import _minhash_params, duck_md5_60

    ma, mb = _minhash_params(64, 42)
    prm_vals = ", ".join(
        f"({i}, {int(ma[i])}, {int(mb[i])})" for i in range(64)
    )
    minhash_pairs_sql = f"""WITH {_TOKS_CTE},
pos AS (SELECT doc_id, unnest(tokens) AS tok,
               generate_subscripts(tokens, 1) AS p FROM toks),
big AS (SELECT doc_id,
               tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY p)
               AS shingle FROM pos),
sh AS (SELECT DISTINCT doc_id, shingle FROM big WHERE shingle IS NOT NULL),
hx AS (SELECT doc_id, {duck_md5_60('shingle')} % 4294967296 AS x32 FROM sh),
prm AS (SELECT * FROM (VALUES {prm_vals}) AS p(i, a, b)),
minh AS (SELECT hx.doc_id, prm.i,
                min((prm.a * hx.x32 + prm.b) % 4294967311) AS mh
         FROM hx CROSS JOIN prm GROUP BY hx.doc_id, prm.i),
bands AS (SELECT doc_id, (i // 4) AS band,
                 string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
          FROM minh GROUP BY doc_id, (i // 4)),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bucket = y.bucket
              AND x.doc_id < y.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS isect
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b)
SELECT doc_a, doc_b,
       round(isect::DOUBLE / (sa.sz + sb.sz - isect), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE isect::DOUBLE / (sa.sz + sb.sz - isect) >= {JACCARD_THRESHOLD}"""

    # --- SimHash twin (md5_60 family: 60 sign-vote bits) -------------------
    h60 = duck_md5_60("term")
    vote_cols = ",\n       ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(60)
    )
    sig_expr = "\n     + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(60)
    )
    simhash_near_sql = f"""WITH {_TOKS_CTE},
pos AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
hh AS (SELECT doc_id, {h60} AS h FROM pos),
votes AS (SELECT doc_id,
       {vote_cols}
   FROM hh GROUP BY doc_id),
sig AS (SELECT doc_id,
       {sig_expr}
       AS simhash FROM votes),
bands AS (SELECT doc_id, simhash, t.band,
                 (simhash >> (t.band * 15)) & 32767 AS bucket
          FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) t(band)),
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3"""

    # --- stemmed twin (corpus-vocab dictionary join) -----------------------
    dict_vals = ", ".join(
        "('{}', '{}')".format(t.replace("'", "''"), s.replace("'", "''"))
        for t, s in _stem_dict()
    )
    stemmed_sql = f"""WITH {_TOKS_CTE},
pos AS (SELECT doc_id, unnest(tokens) AS term,
               generate_subscripts(tokens, 1) AS p FROM toks),
dict AS (SELECT * FROM (VALUES {dict_vals}) AS d(term, stem)),
agg AS (SELECT pos.doc_id,
               string_agg(coalesce(dict.stem,
                                   '__STEMDICT_MISS__' || pos.term),
                          ' ' ORDER BY pos.p) AS stemmed_text
        FROM pos LEFT JOIN dict USING (term) GROUP BY pos.doc_id)
SELECT t.doc_id, coalesce(a.stemmed_text, '') AS stemmed_text
FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id"""

    # --- clean_pipeline_en twin (stem stage feeding the A2 filter) ---------
    clean_pipeline_en = f"""WITH {_TOKS_CTE},
pos0 AS (SELECT doc_id, unnest(tokens) AS term0,
                generate_subscripts(tokens, 1) AS p FROM toks),
dict AS (SELECT * FROM (VALUES {dict_vals}) AS d(term, stem)),
pos AS (SELECT doc_id, p,
               coalesce(dict.stem, '__STEMDICT_MISS__' || pos0.term0) AS term
        FROM pos0 LEFT JOIN dict ON dict.term = pos0.term0),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM pos GROUP BY term),
filt AS (SELECT pos.doc_id, pos.p, pos.term
         FROM pos JOIN dfreq USING (term)
         WHERE dfreq.df >= {CLEAN_MIN_FREQ}
           AND len(pos.term) >= {CLEAN_MIN_LEN}),
ranked AS (SELECT doc_id, p, term,
                  row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn,
                  count(*) OVER (PARTITION BY doc_id) AS n1
           FROM filt),
kept AS (SELECT doc_id, max(n1) - 1 AS final_len,
                coalesce(string_agg(term, ' ' ORDER BY p)
                         FILTER (WHERE rn <= n1 - 1), '') AS final_text
         FROM ranked WHERE n1 > {CLEAN_MIN_TOKENS} GROUP BY doc_id)
SELECT t.doc_id, (k.doc_id IS NOT NULL)::INTEGER AS kept,
       coalesce(k.final_len, 0)::INTEGER AS final_len,
       coalesce(k.final_text, '') AS final_text
FROM toks t LEFT JOIN kept k ON k.doc_id = t.doc_id"""

    # --- transcripts WAND twin ---------------------------------------------
    # BM25 re-derived in DuckDB from the docs table the index build stage
    # persisted (the same tokens the postings encode) — verifies assembly,
    # stats, the compressed postings codec, and the WAND kernel end-to-end
    # against a from-first-principles SQL scoring. Only the docs segments
    # the index commit names count (sources/tables.py).
    docs_dir = f"{_TRANSCRIPTS_INDEX_ROOT}/docs/"
    transcripts_wand_sql = f"""WITH toks AS (
  SELECT doc_id, tokens
  FROM read_parquet('{docs_dir}*/*.parquet', filename = true)
  WHERE parse_dirpath(filename) IN (
    SELECT '{docs_dir}' || unnest(json_extract_string(
             content, '$.tables.docs.segments[*]'))
    FROM read_text('{_TRANSCRIPTS_INDEX_ROOT}/_CURRENT'))),
dl AS (SELECT doc_id, len(tokens) AS doc_len FROM toks),
tf AS (SELECT doc_id, term, count(*)::INTEGER AS tf
       FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
       GROUP BY doc_id, term),
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qterms AS (SELECT * FROM (VALUES {_qvalues(TRANSCRIPT_QUERIES)})
           AS q(query_id, term, qtf)),
scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(q.qtf * ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * tf.tf * ({k1} + 1.0)
             / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.doc_len / s.avgdl))), 4)
         AS score
  FROM tf
  JOIN qterms q ON tf.term = q.term
  JOIN dfreq d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank
  FROM scored) WHERE rank <= 10"""

    # --- multimodal decode twin --------------------------------------------
    # Replays the fake decode kernels' byte-moment arithmetic exactly
    # (multimodal._decode_image_batch exactness contract): integer sums,
    # one float64 division, CAST to REAL = the float32 store; the final
    # feat_sum is the same left-assoc j-ordered double fold as
    # F.aggregate. The corpus is ASCII (probed per sf), so
    # ascii(substring(text, i, 1)) IS byte i of the UTF-8 payload; a
    # non-ASCII doc would shift n_bytes and every moment → loud hash
    # mismatch, not silent agreement. NB: identifiers are
    # case-insensitive in DuckDB — n_frames, not K, to dodge the
    # unnest alias k.
    media_feats = """WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         octet_length(encode(text)) AS n_bytes FROM documents),
bb AS (SELECT doc_id,
              ascii(substring(text, CAST(unnest(generate_series(1, n))
                                         AS INTEGER), 1))::BIGINT AS byte
       FROM d),
mom AS (SELECT doc_id, sum(byte) AS s1, sum(byte*byte) AS s2,
               sum(byte*byte*byte) AS s3, sum(byte*byte*byte*byte) AS s4
        FROM bb GROUP BY doc_id),
imgf AS (
  SELECT d.doc_id, j,
    CASE WHEN d.n = 0 OR m.doc_id IS NULL THEN CAST(0.0 AS REAL)
         ELSE CAST(j + (CASE j%4 WHEN 0 THEN m.s1 WHEN 1 THEN m.s2
                                 WHEN 2 THEN m.s3 ELSE m.s4 END)::DOUBLE
                 / (d.n * (CASE j%4 WHEN 0 THEN 255 WHEN 1 THEN 65025
                           WHEN 2 THEN 16581375 ELSE 4228250625 END))::DOUBLE
               AS REAL) END AS f
  FROM d LEFT JOIN mom m ON m.doc_id = d.doc_id,
       unnest(generate_series(0, 15)) AS t(j)),
vidx AS (
  SELECT d.doc_id, d.text, k, j,
         least(64, d.n - 64*k) AS chunk_len,
         (d.n + 63) // 64 AS n_frames
  FROM d, unnest(generate_series(0, greatest(0, (d.n + 63) // 64 - 1)))
            AS tk(k),
       unnest(generate_series(0, 15)) AS tj(j)
  WHERE d.n > 0),
vidf AS (
  SELECT doc_id, j,
    CAST(sum(ascii(substring(text,
             CAST(64*k + (j % chunk_len) + 1 AS INTEGER), 1))::BIGINT)::DOUBLE
         / (255 * any_value(n_frames))::DOUBLE AS REAL) AS f
  FROM vidx GROUP BY doc_id, j),
feats AS (
  SELECT d.doc_id, d.n_bytes, i.j,
    CASE d.doc_id % 3
      WHEN 0 THEN i.f
      WHEN 1 THEN CAST(i.f * 0.5 AS REAL)
      ELSE coalesce(v.f, CAST(0.0 AS REAL)) END AS f
  FROM d
  JOIN imgf i ON i.doc_id = d.doc_id
  LEFT JOIN vidf v ON v.doc_id = d.doc_id AND v.j = i.j)
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       any_value(n_bytes)::INTEGER AS n_bytes,
       round(sum(f::DOUBLE ORDER BY j), 4) AS feat_sum
FROM feats GROUP BY doc_id"""

    # media_decode twin: regenerate the synth_real_media_df content
    # formulas ((id·131 + k·239)%256 pixel bytes, (id·37 + k·101)%65536
    # shifted samples) with generate_series, sum int64 moments over the
    # DECODED streams (not the payload bytes — padding 0xAB / junk 0xCD
    # never appear here), one float64 division per feature, REAL store:
    # bit-exact vs the numpy kernels' float32 output.
    media_decode = """WITH ids AS (SELECT doc_id AS m FROM documents),
img AS (SELECT m, (4 + m % 13) * (3 + m % 7) * 3 AS n
        FROM ids WHERE m % 2 = 0),
ivals AS (SELECT m, n, ((m*131 + k*239) % 256)::BIGINT AS v
          FROM img, unnest(generate_series(0, n - 1)) AS t(k)),
imom AS (SELECT m, any_value(n) AS n, sum(v) AS s1, sum(v*v) AS s2,
                sum(v*v*v) AS s3, sum(v*v*v*v) AS s4
         FROM ivals GROUP BY m),
imgf AS (SELECT m, n, j,
  CAST(j + (CASE j%4 WHEN 0 THEN s1 WHEN 1 THEN s2
            WHEN 2 THEN s3 ELSE s4 END)::DOUBLE
       / (n * (CASE j%4 WHEN 0 THEN 255 WHEN 1 THEN 65025
               WHEN 2 THEN 16581375 ELSE 4228250625 END))::DOUBLE
     AS REAL) AS f
  FROM imom, unnest(generate_series(0, 15)) AS tj(j)),
aud AS (SELECT m, 256 + (m % 50) * 16 AS n FROM ids WHERE m % 2 = 1),
avals AS (SELECT m, n, ((m*37 + k*101) % 65536)::BIGINT AS u
          FROM aud, unnest(generate_series(0, n - 1)) AS t(k)),
amom AS (SELECT m, any_value(n) AS n, sum(u) AS s1, sum(u*u) AS s2
         FROM avals GROUP BY m),
audf AS (SELECT m, n, j,
  CAST(j + (CASE j%2 WHEN 0 THEN s1 ELSE s2 END)::DOUBLE
       / (n * (CASE j%2 WHEN 0 THEN 65535
               ELSE 4294836225 END))::DOUBLE AS REAL) AS f
  FROM amom, unnest(generate_series(0, 15)) AS tj(j)),
allf AS (
  SELECT m, 'image' AS kind, n, j, f FROM imgf
  UNION ALL
  SELECT m, 'audio' AS kind, n, j, f FROM audf)
SELECT m AS media_id, any_value(kind) AS kind,
       any_value(n)::INTEGER AS n_units,
       round(sum(f::DOUBLE ORDER BY j), 4) AS feat_sum
FROM allf GROUP BY m"""

    return {
        "doc_tf": f"WITH {_TF_CTES} SELECT doc_id, term, tf FROM tf",
        "doc_df": f"WITH {_TF_CTES} SELECT term, count(*) AS df FROM tf GROUP BY term",
        "corpus_stats": f"""WITH {_TOKS_CTE}
SELECT count(*) AS n_docs, round(avg(len(tokens)), 6) AS avgdl FROM toks""",
        "bm25_topk": bm25_single,
        "bm25_topk_batch": bm25_batch,
        "bm25_wand_topk": bm25_single,
        "bm25_scan_topk": bm25_single,
        "multi_input_fold": fold,
        "bigram_counts": bigrams,
        "phrase_mine": phrase_mine,
        "phrase_rewrite": phrase_rewrite,
        "trigram_mine": trigram_mine,
        "clean_pipeline": clean_pipeline,
        "events_daily": events_daily,
        "events_window": events_window,
        "sample_deterministic": sample_det,
        "sample_seeded": sample_seeded,
        "exact_dup_groups": """SELECT md5(text) AS text_md5, count(*) AS n_dups,
 min(doc_id) AS keeper FROM documents GROUP BY md5(text)""",
        "ngram_jaccard": jaccard,
        "lang_id": lang_id,
        "quality": quality,
        "fingerprints": fingerprints,
        "cosine_topk": cosine,
        "lsh_cosine_topk": lsh_topk,
        "euclidean_topk": euclidean,
        "recommend_embeddings": recommend_emb,
        "embedding_near_dup": near_dup,
        "fuzzy_suggest": fuzzy,
        "topn_per_group": topn,
        "recommend_titles": recommend_titles,
        "recommend_suggest": recommend_suggest,
        "wikilink_pairs": wikilink_pairs_sql,
        "wikilink_negatives": wikilink_negatives,
        "tfidf_cosine_recs": tfidf_recs,
        "wikixml_roundtrip": wikixml_roundtrip,
        "minhash_pairs": minhash_pairs_sql,
        "simhash_near": simhash_near_sql,
        "stemmed": stemmed_sql,
        "clean_pipeline_en": clean_pipeline_en,
        "transcripts_wand": transcripts_wand_sql,
        "media_features": media_feats,
        "media_decode": media_decode,
    }
