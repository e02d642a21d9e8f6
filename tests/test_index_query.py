"""Index build + WAND query engine tests: roundtrip, rank-identity vs both
the exhaustive DataFrame path and the pure-Python oracle, resumability."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sparkrec.operators.bm25 import (
    bm25_topk,
    corpus_stats,
    doc_freqs,
    query_terms_df,
    term_freqs,
    tokenize_docs,
)
from sparkrec.operators.codec import decode_postings_many
from sparkrec.operators.docs import assemble_docs, assign_doc_ids
from sparkrec.operators.indexer import Index, IndexConfig, build_index
from sparkrec.operators.scorer import bm25_query_topk
from sparkrec.oracle import BM25Oracle
from sparkrec.plans.manifest import MetricsLog


CFG = IndexConfig(block_range=16, docs_per_shard=64, n_term_buckets=4)
# tiny block_range/docs_per_shard so multi-block, multi-shard paths are hit
# even at unit-test scale


@pytest.fixture(scope="module")
def index_root(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    metrics = MetricsLog(root)
    build_index(spark, transcripts, root, cfg=CFG, metrics=metrics)
    return root


@pytest.fixture(scope="module")
def index(spark, index_root):
    return Index.load(spark, index_root)


@pytest.fixture(scope="module")
def oracle(spark, index):
    docs = index.docs(spark)
    # rebuild raw text from transcripts? docs table keeps tokens; oracle
    # fits on texts — use the tokens' join (clean is idempotent on it).
    texts = {
        r["doc_id"]: " ".join(r["tokens"])
        for r in docs.select("doc_id", "tokens").collect()
    }
    return BM25Oracle().fit(texts)


def test_postings_roundtrip_and_blocks(spark, index):
    """decode(encode(postings)) equals the TF table; block invariants hold."""
    docs = index.docs(spark)
    tf = term_freqs(docs)
    expected = {
        (r["term"], r["doc_id"]): r["tf"] for r in tf.collect()
    }
    rows = index.postings(spark).collect()
    got = {}
    for r in rows:
        ids, tfs, dls = decode_postings_many(
            [bytes(r["docs_enc"])], [bytes(r["tfs_enc"])], [bytes(r["dls_enc"])]
        )
        ids, tfs = ids[0], tfs[0]
        assert len(ids) == r["n"]
        assert int(ids[0]) == r["doc_lo"] and int(ids[-1]) == r["doc_hi"]
        assert np.all(np.diff(ids.astype(np.int64)) > 0)  # strictly increasing
        # doc-aligned block: every doc in [block_id*range, (block_id+1)*range)
        g = ids.astype(np.int64) // index.block_range
        assert np.all(g == r["block_id"])
        assert int(tfs.max()) == r["max_tf"]
        for d, t in zip(ids, tfs):
            got[(r["term"], int(d))] = int(t)
    assert got == expected


def test_shards_bounded(spark, index):
    """No assembly group exceeded docs_per_shard postings (skew defusal)."""
    per_group = (
        index.postings(spark)
        .groupBy("term", "shard")
        .agg(F.sum("n").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert per_group <= CFG.docs_per_shard


def test_wand_matches_exhaustive_and_oracle(spark, index, oracle, queries_pdf):
    queries = list(zip(queries_pdf["query_id"], queries_pdf["query_text"]))
    k = 10

    wand = bm25_query_topk(spark, index, queries, k=k).collect()
    by_q: dict[str, list] = {}
    for r in wand:
        by_q.setdefault(r["query_id"], []).append(r)

    # exhaustive DataFrame path on the same stats
    docs = index.docs(spark)
    tf = term_freqs(docs)
    dft = doc_freqs(tf)
    n_docs, avgdl = corpus_stats(docs)
    qterms = query_terms_df(spark, queries)
    exhaustive = bm25_topk(tf, dft, n_docs, avgdl, qterms, k=k).collect()
    ex_by_q: dict[str, list] = {}
    for r in exhaustive:
        ex_by_q.setdefault(r["query_id"], []).append(r)

    checked = 0
    for qid, qtext in queries:
        w = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        e = sorted(ex_by_q.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in w] == [r["doc_id"] for r in e], qid
        for a, b_ in zip(w, e):
            assert a["score"] == pytest.approx(b_["score"], rel=1e-9)
        expected = oracle.topk(qtext, k)
        assert [r["doc_id"] for r in w] == [d for d, _ in expected], qid
        for r, (_, s) in zip(w, expected):
            assert r["score"] == pytest.approx(s, rel=1e-9)
        if w:
            checked += 1
    assert checked >= 20


def test_local_scoring_matches_distributed(spark, index, queries_pdf):
    """The driver-side scatter-gather path returns identical (qid, rank,
    doc_id, score) to the distributed path, and enforces its block cap."""
    from sparkrec.operators.scorer import bm25_query_topk_local

    queries = list(zip(queries_pdf["query_id"], queries_pdf["query_text"]))
    dist = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 12))
        for r in bm25_query_topk(spark, index, queries, 10).collect()
    }
    local = bm25_query_topk_local(spark, index, queries, 10)
    got = {
        (r.query_id, int(r.rank)): (int(r.doc_id), round(float(r.score), 12))
        for r in local.itertuples()
    }
    assert got == dist

    with pytest.raises(ValueError, match="posting blocks"):
        bm25_query_topk_local(spark, index, queries, 10, max_blocks=1)


def test_warm_scoring_matches_cold(spark, index, queries_pdf):
    """warm() fills the handle's driver copies without changing a
    single answer: identical ids AND scores before and after."""
    queries = list(zip(queries_pdf["query_id"], queries_pdf["query_text"]))[:8]
    k = 10
    cold = bm25_query_topk(spark, index, queries, k=k).collect()

    def keyed(rows):
        return {
            (r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in rows
        }

    index.warm(spark)
    warm = bm25_query_topk(spark, index, queries, k=k)
    assert keyed(warm.collect()) == keyed(cold)


def test_duplicate_query_batch_dedups_and_fans_out(spark, index, queries_pdf):
    """Textually identical queries are scored once and fanned out
    bit-exactly: every duplicate query_id gets rows identical
    (rank, doc_id, score) to the same text scored in an all-distinct
    batch (the undeduped path), on the group path and on the in-driver
    local path; queries whose terms are absent from the index stay
    absent for every duplicate."""
    from sparkrec.operators.scorer import bm25_query_topk_local

    base = list(zip(queries_pdf["query_id"], queries_pdf["query_text"]))[:4]
    k = 10

    def by_qid(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"])
            )
        return {q: sorted(v) for q, v in out.items()}

    want = by_qid(bm25_query_topk(spark, index, base, k=k).collect())

    tiled = [
        (f"{qid}-t{rep}", qtext) for rep in range(3) for qid, qtext in base
    ]
    got = by_qid(bm25_query_topk(spark, index, tiled, k=k).collect())
    assert set(got) == {
        f"{qid}-t{rep}" for rep in range(3) for qid, _ in base if qid in want
    }
    for qid, _ in base:
        if qid in want:
            for rep in range(3):
                assert got[f"{qid}-t{rep}"] == want[qid]

    def local_by_qid(batch):
        return by_qid(bm25_query_topk_local(spark, index, batch, k=k)
                      .to_dict("records"))

    assert local_by_qid(tiled) == got

    # mixed batch: duplicates alongside originals, plus duplicated
    # queries whose only term is absent from the index
    mixed = base + [
        (f"{base[0][0]}-dup", base[0][1]),
        ("q-absent", "zqzq"),
        ("q-absent2", "zqzq"),
    ]
    got2 = by_qid(bm25_query_topk(spark, index, mixed, k=k).collect())
    assert local_by_qid(mixed) == got2
    assert got2[f"{base[0][0]}-dup"] == want[base[0][0]]
    assert "q-absent" not in got2 and "q-absent2" not in got2
    for qid, _ in base:
        if qid in want:
            assert got2[qid] == want[qid]


def test_scan_path_matches_group_path(spark, index, queries_pdf):
    """The batch-analytic scan path (group by doc-range, queries shipped
    in the closure — query-count-independent shuffle) returns identical
    ids AND scores to the group-by-query WAND path, on the full fixture
    set, with duplicates, and with absent-term queries."""
    from sparkrec.operators.scorer import bm25_query_topk_scan

    queries = list(zip(queries_pdf["query_id"], queries_pdf["query_text"]))
    k = 10

    def by_qid(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"])
            )
        return {q: sorted(v) for q, v in out.items()}

    want = by_qid(bm25_query_topk(spark, index, queries, k=k).collect())
    got = by_qid(bm25_query_topk_scan(spark, index, queries, k=k).collect())
    assert got == want

    # single-range degenerate grouping must also be exact
    got1 = by_qid(
        bm25_query_topk_scan(
            spark, index, queries, k=k, n_ranges=1
        ).collect()
    )
    assert got1 == want

    mixed = queries[:3] + [
        (f"{queries[0][0]}-dup", queries[0][1]),
        ("q-absent", "zqzq"),
    ]
    want_m = by_qid(bm25_query_topk(spark, index, mixed, k=k).collect())
    got_m = by_qid(bm25_query_topk_scan(spark, index, mixed, k=k).collect())
    assert got_m == want_m
    assert "q-absent" not in got_m


def test_distributed_lexicon_fallback(spark, index_root, queries_pdf, monkeypatch):
    """Above LEX_DRIVER_CACHE_MAX the driver-resident lexicon map is not
    built and _lex_lookup falls back to a term-filtered distributed scan;
    both query paths must return identical results, and the term filter
    must be pushed into the lexicon's parquet scan (VERDICT r4 #6)."""
    from sparkrec.operators.scorer import _lex_lookup, bm25_query_topk_local

    def plan(df, mode: str = "formatted") -> str:
        jvm = df.sparkSession._jvm
        return df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )

    queries = list(zip(queries_pdf["query_id"], queries_pdf["query_text"]))[:4]

    warm_map = Index.load(spark, index_root).warm(spark, postings=False)
    assert warm_map._lexicon_map is not None

    def keyed(rows):
        return {
            (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 12))
            for r in rows
        }

    want = keyed(bm25_query_topk(spark, warm_map, queries, 10).collect())

    monkeypatch.setattr(Index, "LEX_DRIVER_CACHE_MAX", 0)
    idx = Index.load(spark, index_root).warm(spark, postings=False)
    assert idx._lexicon_map is None  # the fallback is really exercised
    some_terms = ["term0001", "term0007"]
    idf_map, buckets = _lex_lookup(spark, idx, some_terms)
    assert set(idf_map) <= set(some_terms) and buckets

    assert keyed(bm25_query_topk(spark, idx, queries, 10).collect()) == want
    local = bm25_query_topk_local(spark, idx, queries, 10)
    got = {
        (r.query_id, int(r.rank)): (int(r.doc_id), round(float(r.score), 12))
        for r in local.itertuples()
    }
    assert got == want

    # pushdown evidence: the exact scan _lex_lookup issues on the warm
    # handle above the cap carries the term In-filter into the parquet
    # source
    p = plan(
        idx.lexicon(spark)
        .filter(F.col("term").isin(some_terms))
        .select("term", "idf", "term_bucket")
    )
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and any("term" in l and "In(" in l for l in pushed), p


def test_resume_skips_completed_stages(spark, transcripts, index_root):
    """Re-running build_index against an existing root is a no-op: every
    stage is skipped (memoize-on-existence, conftest.py:27-29 pattern)."""
    metrics = MetricsLog(index_root)
    n_before = len(metrics.stages)
    build_index(spark, transcripts, index_root, cfg=CFG, metrics=metrics)
    new = metrics.stages[n_before:]
    assert {s["stage"] for s in new} == {"docs", "stats", "lexicon", "postings"}
    assert all(s["status"] == "skipped" for s in new)
    assert os.path.exists(os.path.join(index_root, "_manifest.json"))


def test_partial_resume_rebuilds_lexicon_from_postings(
    spark, transcripts, index_root, tmp_path_factory, monkeypatch
):
    """The one-pass layout aggregates the lexicon FROM the postings
    table; a partial state with postings committed but lexicon not
    (a crash in the lexicon stage) must resume to an index whose
    lexicon — and therefore every score — matches the unbroken build."""
    from pyspark.sql import DataFrameWriter

    from sparkrec.operators.scorer import bm25_query_topk

    root2 = str(tmp_path_factory.mktemp("resume2"))
    parquet = DataFrameWriter.parquet

    def crash_at_lexicon(self, path, *args, **kwargs):
        if path.startswith(os.path.join(root2, "lexicon")):
            raise RuntimeError("injected crash in the lexicon stage")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_at_lexicon)
    with pytest.raises(RuntimeError, match="injected"):
        build_index(spark, transcripts, root2, cfg=CFG)
    monkeypatch.undo()

    metrics = MetricsLog(root2)
    n_before = len(metrics.stages)
    build_index(spark, transcripts, root2, cfg=CFG, metrics=metrics)
    statuses = {s["stage"]: s["status"] for s in metrics.stages[n_before:]}
    assert statuses["lexicon"] == "completed"       # rebuilt
    assert statuses["postings"] == "skipped"        # untouched

    queries = [("q", "term0001 term0007")]
    a = bm25_query_topk(
        spark, Index.load(spark, index_root), queries, k=5
    ).collect()
    b = bm25_query_topk(
        spark, Index.load(spark, root2), queries, k=5
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert [
        (r["doc_id"], r["score"]) for r in sorted(a, key=key)
    ] == [(r["doc_id"], r["score"]) for r in sorted(b, key=key)]


def test_giant_doc_skew_exact_scores(spark, tmp_path_factory):
    """Zipf-head stress: one doc carries a single term 30k times (tf far
    beyond any block's typical mass) among 300 normal docs. The build
    must keep every assembly group within docs_per_shard postings and the
    WAND scorer must produce scores identical to the BM25 formula
    computed directly from the corpus statistics."""
    import math

    from sparkrec.operators.indexer import build_index_from_docs
    from sparkrec.operators.scorer import bm25_query_topk

    rows = [(0, ["hot"] * 30000 + ["rare"])]
    for i in range(1, 301):
        rows.append((i, ["hot", f"filler{i % 7}"] + [f"pad{i}"] * 18))
    docs = spark.createDataFrame(
        rows, "doc_id long, tokens array<string>"
    ).withColumn("doc_len", F.size("tokens"))

    root = str(tmp_path_factory.mktemp("skewidx"))
    build_index_from_docs(spark, docs, root, CFG)
    idx = Index.load(spark, root)

    # group-state bound held even for the 30001-token doc
    per_group = (
        idx.postings(spark)
        .groupBy("term", "shard")
        .agg(F.sum("n").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert per_group <= CFG.docs_per_shard

    # exact scores from the formula (k1/b from CFG, Lucene idf)
    n, k1, b = 301, CFG.k1, CFG.b
    dls = {r[0]: len(r[1]) for r in rows}
    avgdl = sum(dls.values()) / n

    def bm25(tf, dl, df):
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))

    got = {
        r["doc_id"]: r["score"]
        for r in bm25_query_topk(spark, idx, [("q", "hot rare")], 5).collect()
    }
    # doc 0: hot tf=30000 (df=301) + rare tf=1 (df=1)
    expect0 = bm25(30000, dls[0], 301) + bm25(1, dls[0], 1)
    assert got[0] == pytest.approx(expect0, rel=1e-9)
    # any normal doc in the top-5: hot tf=1 only
    for doc_id, score in got.items():
        if doc_id != 0:
            assert score == pytest.approx(
                bm25(1, dls[doc_id], 301), rel=1e-9
            )


def test_postings_match_counter_reference_bit_exact(spark, index,
                                                    tmp_path_factory):
    """The postings table against an independent in-test reference: every
    decoded block agrees with a ``collections.Counter`` over each doc's
    tokens (per (term, doc_id) tf and dl, block_id = doc_id //
    block_range, shard = block group) and carries the n / doc_lo /
    doc_hi / max_tf / min_dl of its own decoded lists. The table is also
    byte-identical — binary columns included — whether the docs arrive
    in one partition (every block one partial: the passthrough branch of
    ``reduce_blocks``) or in 16 (blocks split across map batches with
    interleaved doc ranges: the decode → merge-sort → re-encode
    branch)."""
    from collections import Counter

    from sparkrec.operators.indexer import build_index_from_docs, partial_blocks
    from sparkrec.sources.tables import read_table

    docs = index.docs(spark).select("doc_id", "tokens", "doc_len")

    def snapshot(root, name="postings"):
        return sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                  for v in r)
            for r in read_table(spark, root, name).collect()
        )

    roots, tables, lexicons = {}, {}, {}
    for n_parts in (1, 16):
        sliced = docs.repartition(n_parts)
        root = roots[n_parts] = str(tmp_path_factory.mktemp(f"idx_p{n_parts}"))
        build_index_from_docs(spark, sliced, root, CFG)
        tables[n_parts] = snapshot(root)
        lexicons[n_parts] = snapshot(root, "lexicon")
        n_partials = partial_blocks(sliced, CFG).count()
        # 1 slice: one partial per block; 16: the merge branch really runs
        if n_parts == 1:
            assert n_partials == len(tables[n_parts])
        else:
            assert n_partials > len(tables[n_parts])
    assert len(tables[1]) > 0
    assert tables[16] == tables[1]
    assert lexicons[16] == lexicons[1]

    want = {}
    for r in docs.collect():
        for term, tf in Counter(r["tokens"]).items():
            want[(term, r["doc_id"])] = (tf, r["doc_len"])
    blocks_per_group = CFG.docs_per_shard // CFG.block_range
    cols = read_table(spark, roots[1], "postings").columns
    got = {}
    for row in tables[1]:
        r = dict(zip(cols, row))
        (ids,), (tfs,), (dls,) = decode_postings_many(
            [r["docs_enc"]], [r["tfs_enc"]], [r["dls_enc"]]
        )
        ids = ids.astype(np.int64)
        assert np.all(ids // CFG.block_range == r["block_id"])
        assert r["shard"] == r["block_id"] // blocks_per_group
        assert (r["n"], r["doc_lo"], r["doc_hi"]) == (len(ids), ids[0], ids[-1])
        assert (r["max_tf"], r["min_dl"]) == (tfs.max(), dls.min())
        for d, t, dl in zip(ids, tfs, dls):
            assert (r["term"], int(d)) not in got
            got[(r["term"], int(d))] = (int(t), int(dl))
    assert got == want


def test_manifest_records_docs_once(spark, tmp_path):
    """build_index records each stage exactly once in _manifest.json —
    the docs stage of build_index_from_docs runs only for a passed
    frame — and resuming without a docs table still fails loudly."""
    import json

    from sparkrec.datagen import transcripts_df
    from sparkrec.operators.indexer import build_index_from_docs

    root = str(tmp_path / "idx")
    build_index(spark, transcripts_df(spark, 8), root, cfg=CFG,
                metrics=MetricsLog(root))
    with open(os.path.join(root, "_manifest.json")) as f:
        stages = [s["stage"] for s in json.load(f)["stages"]]
    assert sorted(stages) == ["docs", "lexicon", "postings", "stats"]

    with pytest.raises(ValueError, match="no docs table"):
        build_index_from_docs(spark, None, str(tmp_path / "empty"), CFG)


def test_duplicate_query_ids_rejected_on_every_path(spark, index):
    """A batch that repeats a query_id is rejected before scoring. Left
    through, the group path would sum the repeated terms twice (one
    broadcast-join row per occurrence) while the local and scan paths
    would keep only the last query's terms — three different answers."""
    from sparkrec.operators.scorer import (
        bm25_query_topk_local,
        bm25_query_topk_scan,
    )

    dup = [("q1", "term0001"), ("q2", "term0007"), ("q1", "term0001")]
    for path in (bm25_query_topk, bm25_query_topk_scan, bm25_query_topk_local):
        with pytest.raises(ValueError, match="duplicate query_id"):
            path(spark, index, dup, 5)
    # the reference path's query input: bm25_topk would sum both
    # queries' contributions under the one id
    with pytest.raises(ValueError, match="duplicate query_id"):
        query_terms_df(spark, dup)


def test_driver_postings_match_scan_path(spark, index_root, queries_pdf):
    """warm() copies the committed blocks into the driver; the local path
    served from that copy returns exactly the answers of the direct read
    of the commit's files (a postings=False handle) — same rows, ids and
    bit-equal scores — and both sources enforce the block cap."""
    from sparkrec.operators.scorer import bm25_query_topk_local

    queries = list(zip(queries_pdf["query_id"], queries_pdf["query_text"]))
    direct = Index.load(spark, index_root).warm(spark, postings=False)
    resident = Index.load(spark, index_root).warm(spark)
    assert direct._driver_postings is None
    assert len(resident._driver_postings) == resident.postings(spark).count()
    want = bm25_query_topk_local(spark, direct, queries, 10)
    got = bm25_query_topk_local(spark, resident, queries, 10)
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    for handle in (resident, direct):
        with pytest.raises(ValueError, match="posting blocks"):
            bm25_query_topk_local(spark, handle, queries, 10, max_blocks=1)


def test_driver_postings_byte_cap_fallback(spark, index_root, queries_pdf,
                                           monkeypatch):
    """At or above POST_DRIVER_CACHE_MAX_BYTES warm() builds no driver
    postings copy (the lexicon map still fills), and the local path falls
    back to the direct read of the commit's files with identical
    answers."""
    from sparkrec.operators.scorer import bm25_query_topk_local

    queries = list(zip(queries_pdf["query_id"], queries_pdf["query_text"]))[:6]
    want = bm25_query_topk_local(spark, Index.load(spark, index_root), queries, 10)

    monkeypatch.setattr(Index, "POST_DRIVER_CACHE_MAX_BYTES", 0)
    idx = Index.load(spark, index_root).warm(spark)
    assert idx._lexicon_map is not None
    assert idx._driver_postings is None  # the fallback is really exercised
    got = bm25_query_topk_local(spark, idx, queries, 10)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
