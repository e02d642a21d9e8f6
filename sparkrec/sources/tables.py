"""Table IO — Iceberg when a catalog is configured, parquet directories else.

The reference's "storage layer" is ndjson files + memoize-on-existence
(data_utils.py:302, 355-357, 457; model.py:178). Ours is real tables:
every pipeline stage writes a table; stage re-runs skip when the output
table already exists (same memoization semantics, see plans/manifest.py).

This sandbox has no Iceberg runtime jars, so the default path is parquet
directories under an index root. The API is format-agnostic: on a cluster
with ``SPARKREC_ICEBERG_CATALOG`` set, names resolve to
``catalog.db.table`` identifiers and all reads/writes go through the
catalog (snapshot isolation, partition-pruned scans, snapshot-diff
incremental refresh).

The parquet fallback gets the same snapshot isolation from one commit
pointer. Every write lands in a fresh segment directory
``<root>/<table>/seg=<id>/`` that is never written again; a table is
the list of segments the commit names (an append adds one, a replace
names only the new one). ``write_tables`` publishes any number of table
writes together through a single ``os.replace`` of ``<root>/_CURRENT``,
a small JSON of the generation plus, per table, its segments and schema,
then deletes every segment directory the new commit does not name
(superseded segments and leftovers of crashed writes). A crash before
the replace leaves the previous commit in force, so a reader sees a
write whole or not at all. One writer per root is assumed.

Readers pin a ``Commit``: every read it serves is one scan of only its
segments, with the stored schema (no inference job), and its generation
is the index epoch ``Index.check_fresh`` compares — a driver-side read
of one small file. Under a catalog the generation stays 0 and the
catalog's own snapshots isolate readers.

A pinned commit can also be read with no Spark job at all:
``Commit.read_arrow`` lists the files of only the commit's segments
(``Commit.files``, descending only into the requested ``term_bucket``
directories) and reads them with ``pyarrow.dataset`` on the driver. It
never globs a table directory, so uncommitted segments of a write in
progress, or of a crashed one, stay invisible to it as they do to the
Spark scan. The point-query path reads its posting blocks this way
(operators/scorer.py), and checks freshness after the read: a commit
deletes superseded segments only after its ``os.replace``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_CURRENT = "_CURRENT"


def _catalog() -> str | None:
    return os.environ.get("SPARKREC_ICEBERG_CATALOG")


def _ident(root: str, name: str) -> str:
    return f"{_catalog()}.{root}.{name}"


@dataclass(frozen=True)
class Commit:
    """One published state of an index root: its generation and, per
    table, ``{"segments": [...], "schema": <StructType json>}``. Under a
    catalog ``tables`` is None and reads resolve through the catalog."""

    root: str
    generation: int = 0
    tables: dict | None = None

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if self.tables is None:
            return spark.read.table(_ident(self.root, name))
        table = self.tables[name]
        base = os.path.join(self.root, name)
        # segment directories are named seg=<id>, so ONE scan over several
        # of them discovers a consistent partition layout (sibling
        # directories that are not k=v fail Spark's partition discovery,
        # and a union of per-segment scans costs a scan per segment)
        schema = StructType.fromJson(table["schema"]).add("seg", "string")
        paths = [os.path.join(base, seg) for seg in table["segments"]]
        return spark.read.schema(schema).option("basePath", base) \
            .parquet(*paths).drop("seg")

    def files(self, name: str, buckets=None) -> list[str]:
        """The data files of table ``name`` at this commit: those under
        its segment directories only, and with ``buckets`` only under
        those ``term_bucket=<b>`` directories. Names starting with ``_``
        or ``.`` (markers, checksums) are skipped."""
        dirs = [os.path.join(os.path.abspath(self.root), name, seg)
                for seg in self.tables[name]["segments"]]
        if buckets is not None:
            dirs = [os.path.join(d, f"term_bucket={b}") for d in dirs for b in buckets]
        out = []
        for d in dirs:
            for sub, subdirs, names in os.walk(d):
                subdirs[:] = sorted(s for s in subdirs if not s.startswith(("_", ".")))
                out += [os.path.join(sub, f) for f in sorted(names)
                        if not f.startswith(("_", "."))]
        return out

    def read_arrow(self, name: str, columns, terms, buckets, limit: int):
        """``columns`` of the rows of table ``name`` (partitioned by
        ``term_bucket``) whose ``term`` is one of ``terms``, read from the
        ``buckets`` directories of this commit's segments as a pyarrow
        Table, on the driver with no Spark job; the scan stops once
        ``limit`` rows matched. None under a catalog (read through
        ``read`` there)."""
        if self.tables is None:
            return None
        # imported on first use: pyarrow.dataset adds ~6 MB of driver RSS,
        # which a process that never reads direct should not pay
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(StructType.fromJson(self.tables[name]["schema"]))
        schema = pa.schema([f for f in schema if f.name != "term_bucket"])
        dataset = ds.dataset(self.files(name, buckets), schema=schema,
                             format="parquet")
        return dataset.head(limit, columns=list(columns),
                            filter=ds.field("term").isin(terms))


def current(root: str) -> Commit:
    """The commit in force at ``root`` (generation 0, no tables, before
    the first one)."""
    if _catalog():
        return Commit(root)
    try:
        with open(os.path.join(root, _CURRENT)) as f:
            return Commit(root, **json.load(f))
    except FileNotFoundError:
        return Commit(root, 0, {})


def table_exists(spark: SparkSession, root: str, name: str) -> bool:
    if _catalog():
        return spark.catalog.tableExists(_ident(root, name))
    return name in current(root).tables


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    return current(root).read(spark, name)


def write_table(
    df: DataFrame,
    root: str,
    name: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> int:
    """Write one table as its own commit; returns the new generation."""
    return write_tables(root, [(name, df, partition_by, mode)])


def write_tables(root: str, writes: list[tuple]) -> int:
    """Write every ``(name, df, partition_by, mode)`` and publish them as
    ONE commit (``mode`` "append" adds a segment, "overwrite" replaces the
    table). Returns the new generation (0 under a catalog, where each
    table write is its own snapshot commit)."""
    base = current(root)
    tables = dict(base.tables or {})
    for name, df, partition_by, mode in writes:
        writer = df.write.mode(mode).partitionBy(*(partition_by or []))
        if _catalog():
            writer.format("iceberg").saveAsTable(_ident(root, name))
            continue
        seg = f"seg={uuid.uuid4().hex}"
        writer.parquet(os.path.join(root, name, seg))
        kept = tables[name]["segments"] if mode == "append" and name in tables else []
        tables[name] = {"segments": kept + [seg], "schema": df.schema.jsonValue()}
    if _catalog():
        return 0
    generation = base.generation + 1
    tmp = os.path.join(root, _CURRENT + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"generation": generation, "tables": tables}, f)
    os.replace(tmp, os.path.join(root, _CURRENT))
    # only directories are segments; anything unnamed is superseded or a
    # crashed write's leftover
    for name, table in tables.items():
        for seg in set(os.listdir(os.path.join(root, name))) - set(table["segments"]):
            shutil.rmtree(os.path.join(root, name, seg), ignore_errors=True)
    return generation
