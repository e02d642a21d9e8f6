"""Mirror of the driver's correctness gate: every oracle-backed
``__spark_entry__.queries()`` entry must match its DuckDB ``oracle_sql()``
twin on /root/testdata/sf0.01 (row count + sorted-by-name column values),
and rows-only entries must produce deterministic, non-degenerate output.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(spark, duck, name):
    q = entrymod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(entrymod.oracle_sql()[name]).df()

    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != "
        f"{sorted(duck_pdf.columns)}"
    )
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            pd.testing.assert_series_equal(
                a[c], b[c].astype(a[c].dtype), atol=1e-9, rtol=1e-9,
                check_names=False,
            )
        else:
            assert a[c].tolist() == b[c].astype(a[c].dtype).tolist(), (
                f"{name}: column {c} differs"
            )


ROWS_ONLY = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_deterministic(spark, name):
    q = entrymod.queries()[name]
    out = q(spark, SF_DIR)
    pdf1 = _normalize(out.toPandas())
    assert len(pdf1) > 0, f"{name}: degenerate empty result"
    pdf2 = _normalize(q(spark, SF_DIR).toPandas())
    pd.testing.assert_frame_equal(pdf1, pdf2)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"rank", "doc_id", "score"} <= set(df.columns)


def test_stale_index_roots_of_other_fingerprints_pruned(tmp_path, monkeypatch):
    """Building an entry index root deletes the roots of OTHER
    fingerprints untouched for an hour; this fingerprint's roots, recent
    roots of other fingerprints (a contract check of another commit may
    still read them) and unrelated directories stay."""
    monkeypatch.setattr(entrymod, "_ENTRY_IDX_BASE", str(tmp_path))
    prefix, fp = entrymod._ENTRY_IDX_PREFIX, entrymod._IDX_FP
    old = os.path.getmtime(tmp_path) - 2 * entrymod._STALE_ROOT_S
    names = {
        "stale": f"{prefix}0000000000_transcripts",
        "recent": f"{prefix}1111111111_transcripts",
        "own_old": f"{prefix}{fp}_transcripts",
        "unrelated_old": "sparkrec_bench_sf0.01",
    }
    for key, name in names.items():
        (tmp_path / name / "docs").mkdir(parents=True)
        if key != "recent":
            os.utime(tmp_path / name, (old, old))

    entrymod._prune_stale_index_roots()

    left = set(os.listdir(tmp_path))
    assert left == {names["recent"], names["own_old"], names["unrelated_old"]}
