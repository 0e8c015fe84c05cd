"""Materialized views over the versioned store — the engine-side analog
of the reference's Redshift views (`Amazon Connect/Views/*.sql`), which
Redshift recomputes per read. Here a view is a NAMED, PERSISTED query
result: define it once with its builder, `refresh` materializes a new
snapshot atomically (sources/versioned.py pointer commit), readers
always see the last complete refresh, and `stale_report` says which
views lag their sources.

Why materialize instead of re-running: the catalog's heavy views
(agent_metrics-class star joins) cost a full fact scan per evaluation;
dashboards read them orders of magnitude more often than facts change.
Snapshot isolation comes free from the versioned store: a refresh that
dies mid-write never moves the pointer, and time travel / rollback work
on views exactly as on tables.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .sources import versioned as V


class ViewRegistry:
    """Named materialized views under one root directory. Each view is
    a versioned table at ``<root>/<name>``; its commit record holds the
    version readers see and the wall time that version was staged."""

    def __init__(self, root: str):
        self.root = root
        self._builders: dict[str, Callable[[SparkSession], DataFrame]] = {}

    def define(
        self, name: str, builder: Callable[[SparkSession], DataFrame]
    ) -> None:
        self._builders[name] = builder

    def names(self) -> list[str]:
        return sorted(self._builders)

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def refresh(self, spark: SparkSession, name: str) -> int:
        """Materialize one new snapshot; readers switch atomically."""
        return V.write_version(self._builders[name](spark), self._dir(name))

    def refresh_all(self, spark: SparkSession) -> dict[str, int]:
        return {n: self.refresh(spark, n) for n in self.names()}

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """The last complete refresh (never a partial write)."""
        return V.read_current(spark, self._dir(name))

    def stale_report(
        self, source_mtimes: dict[str, float]
    ) -> dict[str, bool]:
        """view name → True if any source changed after its last
        refresh (callers pass source mtimes/commit times — the registry
        does not guess lineage). Never-refreshed views, and views rolled
        back to a snapshot of unknown staging time, are stale."""
        out = {}
        newest_source = max(source_mtimes.values(), default=0.0)
        for name in self.names():
            staged = V.staged_time(self._dir(name))
            out[name] = staged is None or staged < newest_source
        return out
