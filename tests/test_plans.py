"""Physical-plan regression tests (SURVEY.md §4): the optimizations the
engine depends on must be visible in `.explain` output, not assumed.

- postings fetch: partition pruning on term_bucket + term predicate
  pushed into the parquet scan (a query touches only its terms' buckets);
- BM25 scoring joins: broadcast hash join for the tiny query side, never
  a sort-merge join or cartesian product;
- aggregations: partial (map-side) aggregation before the shuffle;
- Python boundary: ONLY Arrow-vectorized operators (MapInPandas /
  FlatMapGroupsInPandas); a per-row BatchEvalPython anywhere is a bug
  (BASELINE.json input_hint: no per-row Python).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sparkrec.operators.bm25 import (
    bm25_topk, corpus_stats, doc_freqs, query_terms_df, term_freqs,
    tokenize_docs,
)
from sparkrec.operators.docs import assemble_docs, assign_doc_ids
from sparkrec.operators.indexer import Index, IndexConfig, build_index
from sparkrec.operators.scorer import bm25_query_topk


def plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def index(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planidx"))
    build_index(
        spark, transcripts, root,
        IndexConfig(block_range=16, docs_per_shard=64, n_term_buckets=4),
    )
    return Index.load(spark, root)


@pytest.fixture(scope="module")
def docs(spark, transcripts):
    return tokenize_docs(assign_doc_ids(assemble_docs(transcripts))).cache()


def test_postings_scan_prunes_partitions_and_pushes_term_filter(spark, index):
    out = bm25_query_topk(spark, index, [("q", "term0001 term0007")], 5)
    p = plan(out)
    # partition pruning: term_bucket is a partition column of the postings
    # table; the query's bucket set must appear as a partition filter
    assert "PartitionFilters" in p and "term_bucket" in p
    # term equality/in-set predicate pushed into the parquet reader
    assert "PushedFilters" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("term" in l and "[]" not in l.split("PushedFilters")[1][:4]
               for l in pushed), pushed


def test_scan_mode_has_no_query_join_single_exchange(spark, index):
    """Scan-mode batch scoring's structural claim: the query set ships in
    the UDF closure, so the plan has NO join of a query side at all, the
    postings scan stays partition-pruned/term-pushed, and the only
    corpus-sized exchange is the one hashpartitioning on the doc-range
    key — query-count-independent by construction."""
    from sparkrec.operators.scorer import bm25_query_topk_scan

    out = bm25_query_topk_scan(
        spark, index, [("q1", "term0001 term0007"), ("q2", "term0003")], 5
    )
    p = plan(out)
    assert "PartitionFilters" in p and "term_bucket" in p
    assert "PushedFilters" in p
    # all-distinct batch: no fan-out, and no query-side join of any kind
    assert "BroadcastHashJoin" not in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    # exactly one exchange feeds the scoring UDF: hashpartitioning(_range);
    # the remaining exchange belongs to the per-query top-k window merge
    ex = [l for l in p.splitlines() if "hashpartitioning" in l]
    assert any("_range" in l for l in ex), ex
    range_ex = [l for l in ex if "_range" in l]
    assert len(range_ex) == 1, range_ex
    assert "FlatMapGroupsInPandas" in p
    assert "BatchEvalPython" not in p


def test_bm25_join_is_broadcast_not_smj(spark, docs):
    tf = term_freqs(docs)
    n, avgdl = corpus_stats(docs)
    q = query_terms_df(spark, [("q", "term0001 term0007")])
    out = bm25_topk(tf, doc_freqs(tf), n, avgdl, q, k=5)
    p = plan(out)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the big tf side must stream against the broadcast — no shuffle of tf
    # for the join itself (the only exchanges are the aggregations')
    assert "SortMergeJoin" not in p


def test_aggregations_are_partial_then_final(spark, docs):
    p = plan(term_freqs(docs))
    assert "partial_count" in p  # map-side combine before the exchange
    assert p.count("HashAggregate") >= 2


def test_no_per_row_python_anywhere(spark, index, docs):
    tf = term_freqs(docs)
    n, avgdl = corpus_stats(docs)
    q = query_terms_df(spark, [("q", "term0001")])
    plans = [
        plan(bm25_query_topk(spark, index, [("q", "term0001")], 5)),
        plan(bm25_topk(tf, doc_freqs(tf), n, avgdl, q, k=5)),
        plan(docs.select("tokens")),
    ]
    for p in plans:
        assert "BatchEvalPython" not in p, "per-row Python UDF in hot path"


def test_tokenize_stays_whole_stage_codegen(spark):
    """The clean/tokenize projection is pure Catalyst — over a columnar
    scan it must run inside a WholeStageCodegen span, never as a Python
    eval node. (After doc assembly it fuses into the collect_list
    ObjectHashAggregate's result projection instead — equally JVM-side,
    but codegen-exempt by design, so the probe uses a plain scan.)"""
    from sparkrec.functions.textprep import tokenize_expr

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan(docs.select(F.size(tokenize_expr(F.col("text"))).alias("n")))
    # the scan side is codegen'd; the higher-order filter() lambda is
    # JVM interpreted-eval (HOFs are codegen-exempt in Spark) — the
    # invariant that matters is zero Python eval nodes
    assert "codegen id" in p
    assert "EvalPython" not in p


def test_media_metadata_stats_never_reads_payload(spark, tmp_path):
    """Column pruning over multimodal tables: a metadata-only aggregate's
    parquet ReadSchema must exclude the binary payload column — at 100 TB
    the blob bytes are the table; reading them for a count is the bug."""
    from sparkrec.operators.multimodal import media_metadata_stats, synth_media_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "media")
    synth_media_df(spark, docs).write.parquet(path)
    media = spark.read.parquet(path)
    # duration/kind/n_bytes stats WITHOUT the length(payload) column —
    # the pure metadata slice (length() would legitimately read the blob)
    agg = media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"), F.avg("duration_ms").alias("avg_ms")
    )
    p = plan(agg)
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schema and all("payload" not in l for l in read_schema), read_schema
    # the helper reads the n_bytes METADATA column (recorded at ingest),
    # so its scan must exclude the payload blob AND prune mime/width
    p2 = plan(media_metadata_stats(media))
    rs2 = [l for l in p2.splitlines() if "ReadSchema" in l]
    assert rs2 and all(
        "payload" not in l and "mime" not in l and "width" not in l
        for l in rs2
    ), rs2


def test_embedding_near_dup_plan_has_no_quadratic_join(spark):
    """The near-dup contract entry is the banded-LSH path: its plan must
    contain no cartesian/nested-loop join and no auto-broadcast of the
    corpus-sized band table — the candidate join is a shuffled hash join
    on (tbl, bucket)."""
    from sparkrec.operators.simsearch import near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = near_dup_pairs(emb, threshold=0.4, dim=64, n_planes=4, n_tables=4)
    p = plan(out)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ShuffledHashJoin" in p


def test_exact_near_dup_guarded_against_scale(spark):
    from sparkrec.operators.simsearch import near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="O\\(N²\\)|exact_max_rows"):
        near_dup_pairs(emb, threshold=0.4, exact=True, exact_max_rows=3)


def test_assembly_orders_inside_aggregation_no_global_sort(spark):
    """Doc assembly sorts turns INSIDE each group's aggregation buffer
    (array_sort over collect_list) — the plan must contain no Sort node
    and exactly one exchange (the groupBy conv_id shuffle)."""
    from sparkrec.datagen import transcripts_df

    t = transcripts_df(spark, 30)  # fresh source: no fixture repartition
    p = plan(assemble_docs(t).select("conv_id", "text"), "simple")
    assert "+- Sort" not in p and "SortAggregate" not in p
    assert p.count("Exchange") == 1


def test_tfidf_cosine_plan_broadcasts_query_side(spark):
    """TF-IDF more-like-this: the |queries|·terms side must broadcast
    into the corpus vector relation — never a cartesian/NL join; the
    only big shuffles are the tf/df/norm aggregations (term- and
    doc-keyed)."""
    from sparkrec.operators.embeddings import tfidf_cosine_topk, tfidf_vectors
    from sparkrec.functions.sqltok import sql_tokenize_expr

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select("doc_id", sql_tokenize_expr(F.col("text")).alias("tokens"))
    p = plan(tfidf_cosine_topk(tfidf_vectors(toks), [0], 5))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_wikilink_pairs_plan_broadcasts_link_index(spark):
    """Positive-pair generation: the vocabulary-sized link index joins
    broadcast against the exploded corpus links; no per-row Python."""
    from sparkrec.operators.wikilink_nn import negative_sample_pairs, wikilink_pairs

    corpus = spark.createDataFrame(
        [(0, ["a", "b"]), (1, ["a"]), (2, ["a", "b"]), (3, ["a", "b", "b"])],
        "doc_id long, wikilinks array<string>",
    )
    pos = wikilink_pairs(corpus, min_count=2)
    p = plan(pos)
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p
    # negative sampler: a Range scan + left-anti join, all JVM-side
    p2 = plan(negative_sample_pairs(spark, pos, 4, 2, k=4, seed=1))
    assert "Range" in p2
    assert "BatchEvalPython" not in p2 and "EvalPython" not in p2


def test_negative_sampler_has_no_single_partition_exchange(spark):
    """The "first k survivors" rank must use the two-phase bucket-offset
    scheme: at training scale k is corpus-sized, and a global
    Window.orderBy(cand_idx) would funnel every candidate through ONE
    task (an Exchange SinglePartition in the plan)."""
    from sparkrec.operators.wikilink_nn import negative_sample_pairs
    from sparkrec.session import release_caches

    pos = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 0)], "article long, link_idx long"
    )
    out = negative_sample_pairs(spark, pos, 64, 64, k=16, seed=3)
    p = plan(out)
    assert "SinglePartition" not in p, p
    # the window rank partitions by the range bucket
    assert "_b" in p
    assert out.count() == 16
    release_caches()


def test_recommend_scoring_dag_cached_across_input_branches(spark):
    """recommend() fans its BM25 scoring DAG out into one branch per
    input; the TF/DF/contrib subtree must be read from cache by every
    branch (InMemoryTableScan per input), not recomputed ×n_inputs."""
    from sparkrec.functions.sqltok import sql_tokenize_expr
    from sparkrec.operators.recommend import recommend
    from sparkrec.session import release_caches

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", sql_tokenize_expr(F.col("text")).alias("tokens"))
        .withColumn(
            "title", F.concat(F.lit("doc "), F.col("doc_id").cast("string"))
        )
    )
    res = recommend(spark, docs, ["doc 1", "doc 2"], n=5)
    p = plan(res.recs)
    assert p.count("InMemoryTableScan") >= 2, p
    assert res.recs.count() == 5
    release_caches()


def test_recommend_embeddings_single_scan_no_joins(spark):
    """The embedding recommend chain must scan the corpus-sized
    embeddings table exactly ONCE (all input query vectors broadcast as
    literals into one projection, fold column-wise) — not once per input,
    and with no join in the plan at all (VERDICT r3 'What's wrong #3')."""
    from sparkrec.operators.simsearch import recommend_embeddings

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn(
            "title", F.concat(F.lit("doc "), F.col("vec_id").cast("string"))
        )
    )
    out = recommend_embeddings(emb, ["doc 3", "doc 5"], [9.0, 4.0], n=5)
    p = plan(out)
    # one scan node = one "Location:" detail line in formatted mode
    assert p.count("Location: InMemoryFileIndex") == 1, p
    assert "Join" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # bonus of the no-join shape: input exclusion pushes into the scan
    assert "PushedFilters: [Not(In(vec_id" in p, p
    assert out.count() == 5


def test_wikixml_parse_is_arrow_vectorized(spark, tmp_path):
    """Dump parsing crosses into Python ONCE, Arrow-batched (MapInPandas)
    — never the per-row BatchEvalPython node."""
    from sparkrec.sources.wikixml import read_wiki_dump, write_pages_xml

    path = str(tmp_path / "p.xml")
    write_pages_xml([("T", 0, 1, "x [[Y]]")], path)
    p = plan(read_wiki_dump(spark, path))
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_connector_phrase_mining_no_python_and_broadcast_rewrite(spark):
    """Connector-aware phrase mining/transform is pure Catalyst: window
    algebra + hash aggregates, the promoted table broadcast into the
    greedy scan, no Python eval node anywhere."""
    from sparkrec.operators.phrases import bigram_transform, mine_bigrams

    df = spark.createDataFrame(
        [(i, ["bank", "of", "america", "w1", "w2"]) for i in range(40)],
        "doc_id long, tokens array<string>",
    )
    conn = ["of", "the"]
    mined = mine_bigrams(df, 3, 0.5, connector_words=conn)
    p1 = plan(mined)
    assert "BatchEvalPython" not in p1 and "EvalPython" not in p1
    out = bigram_transform(df, mined, connector_words=conn)
    p2 = plan(out)
    assert "BatchEvalPython" not in p2 and "EvalPython" not in p2
    assert "BroadcastHashJoin" in p2, "promoted table must broadcast"


def _point_query_jobs(spark, index, text: str, group: str) -> list[list[str]]:
    """Stage names of each Spark job one point query on the local path
    runs, after an unprobed warm-up call (first use may JIT/pin things)."""
    from sparkrec.operators.scorer import bm25_query_topk_local

    sc = spark.sparkContext
    bm25_query_topk_local(spark, index, [("w", text)], 3)
    sc.setJobGroup(group, group)
    try:
        out = bm25_query_topk_local(spark, index, [("q", text)], 3)
    finally:
        sc.setJobGroup(None, None)
    assert len(out) > 0
    st = sc.statusTracker()
    return [
        [st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds]
        for j in sorted(st.getJobIdsForGroup(group))
    ]


def _is_scan_fallback(jobs: list[list[str]]) -> bool:
    """Exactly one job fetches postings (the pruned scan). A cold parquet
    read may add one schema-inference job ("parquet at ...") that reads
    no postings."""
    fetch = [j for j in jobs if not all(n.startswith("parquet at") for n in j)]
    return len(fetch) == 1 and len(jobs) <= 2


def test_point_query_local_path_runs_no_job_after_warm(spark, index):
    """After a full warm() the interactive path runs ZERO Spark jobs per
    query: idf + bucket come from the driver-resident lexicon map and the
    posting blocks from the driver-resident postings copy."""
    index.warm(spark)
    assert index._lexicon_map, "warm() must build the driver lexicon map"
    assert index._driver_postings is not None, "warm() must fill the copy"
    jobs = _point_query_jobs(spark, index, "term0001", "warm-probe")
    assert jobs == [], f"expected no job on the warm local path, got {jobs}"


def test_point_query_local_fallback_runs_single_scan(spark, index):
    """Without a covering driver postings copy the point path is the
    pruned scan — exactly one fetch job: on a handle warmed with
    postings=False, and on a bucket-subset warm queried outside its
    buckets (inside them it stays job-free)."""
    lex_only = Index.load(spark, index.root).warm(spark, postings=False)
    assert lex_only._driver_postings is None
    jobs = _point_query_jobs(spark, lex_only, "term0001", "lex-only-probe")
    assert _is_scan_fallback(jobs), jobs

    hot = lex_only._lexicon_map["term0001"][1]
    others = [b for b in range(4) if b != hot]
    t_in = (
        lex_only.lexicon(spark)
        .filter(F.col("term_bucket").isin(others))
        .orderBy("term").first()["term"]
    )
    subset = Index.load(spark, index.root).warm(spark, buckets=others)
    try:
        assert subset._driver_postings is not None
        jobs = _point_query_jobs(spark, subset, "term0001", "subset-miss")
        assert _is_scan_fallback(jobs), jobs
        jobs = _point_query_jobs(spark, subset, t_in, "subset-hit")
        assert jobs == [], f"expected no job inside the subset, got {jobs}"
    finally:
        subset._postings_cached.unpersist()
