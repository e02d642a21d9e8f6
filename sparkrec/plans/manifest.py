"""Checkpointed resumability + per-stage metrics (SURVEY.md §4.1, §4.2.5).

The reference memoizes every expensive step on file existence
(data_utils.py:302, 457; model.py:178-193; the notebook pickle caches).
Same semantics here, table-grained: a build stage whose output table
already exists (named in the index's commit, sources/tables.py / an
Iceberg snapshot) is skipped, so a killed build resumes from the last
completed stage — each stage commits its own table, and a stage killed
mid-write left nothing committed. Stage timings and
row throughputs land in a JSON manifest next to the index — the
"per-stage metrics" BASELINE.json requires.
"""

from __future__ import annotations

import json
import os
import time

from sparkrec.sources.tables import table_exists


class MetricsLog:
    """Append-only stage metrics; persisted as <root>/_manifest.json."""

    def __init__(self, root: str, collector=None):
        self.root = root
        self.path = os.path.join(root, "_manifest.json")
        self.stages: list[dict] = []
        # optional plans.lineage.RestCollector — adds per-stage shuffle /
        # input / output byte deltas to every record
        self.collector = collector
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.stages = json.load(f).get("stages", [])

    def record(self, stage: str, status: str, wall_sec: float, extra: dict | None = None):
        entry = {"stage": stage, "status": status, "wall_sec": round(wall_sec, 3)}
        if extra:
            entry.update(extra)
        if self.collector is not None:
            entry.update(self.collector.diff())
        self.stages.append(entry)
        os.makedirs(self.root, exist_ok=True)
        with open(self.path, "w") as f:
            json.dump({"stages": self.stages}, f, indent=1)


class Stage:
    """``with Stage("docs", root, overwrite, metrics) as st: if st.needed: ...``

    ``st.needed`` is False when the output table already exists and
    ``overwrite`` is off — the body should skip its write. Wall time and
    skip/complete status are recorded either way.
    """

    def __init__(self, name: str, root: str, overwrite: bool = False,
                 metrics: MetricsLog | None = None):
        self.name = name
        self.root = root
        self.overwrite = overwrite
        self.metrics = metrics
        self.needed = True

    def __enter__(self) -> "Stage":
        from pyspark.sql import SparkSession

        self._t0 = time.monotonic()
        spark = SparkSession.getActiveSession()
        if not self.overwrite and spark is not None and table_exists(
            spark, self.root, self.name
        ):
            self.needed = False
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            if self.metrics:
                self.metrics.record(
                    self.name, "failed", time.monotonic() - self._t0,
                    {"error": str(exc)[:200]},
                )
            return
        if self.metrics:
            status = "completed" if self.needed else "skipped"
            self.metrics.record(self.name, status, time.monotonic() - self._t0)
