"""BM25 statistics + DataFrame-only scoring (the Phase-0 end-to-end slice).

This module is the "uncompressed" reference path of the engine: TF/DF/avgdl
aggregation with plain ``explode + groupBy`` and a pure-Catalyst scoring
expression. The block-compressed index (operators/indexer.py) and the
DAAT/WAND scorer (operators/scorer.py) must produce identical results —
this path is what they are tested against, and it is itself tested against
the pure-Python oracle (sparkrec/oracle.py).

Reference parity:
- TF agg        ≙ sklearn TfidfVectorizer.transform term counts (model.py:166-170)
- DF agg        ≙ ``token_frequencies`` set-semantics count (data_utils.py:945-948)
- scoring+top-k ≙ recommend()'s sort desc + take n (model.py:372-383), with
  BM25 replacing cosine-over-dense-matrix (the N×N sim matrix at
  model.py:280-285 is deliberately NOT materialized — SURVEY.md §4.1).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkrec import BM25_B, BM25_K1
from sparkrec.functions.textprep import tokenize_expr


def tokenize_docs(
    docs: DataFrame,
    text_col: str = "text",
    min_token_len: int = 2,
    remove_numeric: bool = True,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Add ``tokens`` (array<string>) and ``doc_len`` columns — one pass,
    whole-stage codegen, no Python."""
    return docs.withColumn(
        "tokens",
        tokenize_expr(
            F.col(text_col),
            min_token_len=min_token_len,
            remove_numeric=remove_numeric,
            stopwords=stopwords,
        ),
    ).withColumn("doc_len", F.size("tokens"))


def term_freqs(tokenized: DataFrame) -> DataFrame:
    """(doc_id, term, tf, doc_len) — explode + hash agg (map-side partial).

    doc_len is denormalized into the posting row so query-time scoring
    needs no extra join against the docs table.
    """
    return (
        tokenized.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )


def doc_freqs(tf: DataFrame) -> DataFrame:
    """(term, df) — document frequency. tf rows are already distinct per
    (doc, term) so a plain count is DF (set semantics, data_utils.py:947)."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def corpus_stats(tokenized: DataFrame) -> tuple[int, float]:
    row = tokenized.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)


def idf_expr(df_col, n_docs: int):
    """Lucene-style non-negative idf: ln((N - df + 0.5)/(df + 0.5) + 1)."""
    return F.log(
        (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
        + F.lit(1.0)
    )


def bm25_contrib_expr(tf_col, dl_col, idf_col, qtf_col, avgdl: float,
                      k1: float = BM25_K1, b: float = BM25_B):
    """Per-(query-term, doc) BM25 contribution as a Catalyst expression."""
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl_col / F.lit(avgdl))
    return qtf_col * idf_col * (tf_col * F.lit(k1 + 1.0)) / (tf_col + norm)


def _query_term_rows(
    queries: list[tuple[str, str]], min_token_len: int, remove_numeric: bool
) -> list[tuple[str, str, int]]:
    """(query_id, term, qtf) rows from raw query texts, term-sorted per
    query — the one query tokenizer: the SAME clean pipeline as documents,
    run driver-side (queries are tiny; no Spark job). Every query path
    starts here, so this is where a batch that repeats a query_id is
    rejected: paths keyed by id would otherwise merge (sum twice) or
    overwrite the repeated queries' terms."""
    # call-time import: a wrapped textprep.py_tokenize (tracing) is seen
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


def query_terms_df(
    spark: SparkSession, queries: list[tuple[str, str]],
    min_token_len: int = 2, remove_numeric: bool = True,
) -> DataFrame:
    """(query_id, term, qtf) from raw query texts (``_query_term_rows``)."""
    return spark.createDataFrame(
        _query_term_rows(queries, min_token_len, remove_numeric),
        "query_id string, term string, qtf int",
    )


def bm25_topk(
    tf: DataFrame,
    df_table: DataFrame,
    n_docs: int,
    avgdl: float,
    qterms: DataFrame,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """DataFrame-only batch BM25 top-k for a set of queries.

    Plan shape (the one we want at 100 TB):
      broadcast(qterms ⋈ df)  →  hash-join against tf on term (the big
      side streams; Catalyst pushes an in-set filter on term via the
      broadcast)  →  partial+final sum by (query_id, doc_id)  →
      per-query top-k via window (small intermediate: only docs sharing
      ≥1 query term survive the join).
    """
    q_with_idf = qterms.join(df_table, "term").withColumn(
        "idf", idf_expr(F.col("df"), n_docs)
    )
    contrib = tf.join(F.broadcast(q_with_idf), "term").select(
        "query_id",
        "doc_id",
        bm25_contrib_expr(
            F.col("tf"), F.col("doc_len"), F.col("idf"), F.col("qtf"), avgdl, k1, b
        ).alias("contrib"),
    )
    scores = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
