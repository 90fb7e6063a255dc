"""Dependency-ordered pipeline orchestrator.

The reference's ``main.py:41-57`` calls each pipeline's ``main()`` in a
hand-maintained order (accounts -> locations -> categories -> items ->
bays -> customers -> cars -> orders -> order_line_items ...); getting
the order wrong surfaces as IncrementalDependencyError gates firing
downstream. Here dependencies are DECLARED and the runner topologically
sorts them, so the canonical order is derived, not maintained.

Failure semantics mirror the reference (SURVEY.md §3.1): a failing
pipeline stops its downstream subtree (already-committed upstream
batches survive and the next run resumes each pipeline from its
watermark), while independent subtrees continue. A batch committed but
not yet recorded in its watermark is rolled forward from its commit
record on the next run (``cdc.committed_batch``), never recomputed, so
a restarted DAG lands every batch exactly once, including pipelines
that anti-join against their own sink (proved by
tests/test_dag_chaos.py).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from datetime import datetime
from graphlib import TopologicalSorter

from data_migration_etl_scripts_spark.cdc import (
    BatchResult,
    IncrementalPipeline,
    run_incremental,
)


@dataclass
class PipelineFailure:
    name: str
    error: Exception


@dataclass
class RunReport:
    order: list[str]
    results: dict[str, BatchResult] = field(default_factory=dict)
    failures: list[PipelineFailure] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.failures and not self.skipped


class DagRunner:
    def __init__(self, catalog):
        self.catalog = catalog
        self._pipelines: dict[str, IncrementalPipeline] = {}
        self._deps: dict[str, set[str]] = {}
        self._batch_sizes: dict[str, int | None] = {}

    def add(
        self,
        pipeline: IncrementalPipeline,
        depends_on: Sequence[str] = (),
        batch_size: int | None = None,
    ) -> "DagRunner":
        if pipeline.name in self._pipelines:
            raise ValueError(f"duplicate pipeline {pipeline.name!r}")
        unknown = [d for d in depends_on if d not in self._pipelines]
        if unknown:
            raise ValueError(f"{pipeline.name!r} depends on unregistered {unknown}")
        self._pipelines[pipeline.name] = pipeline
        self._deps[pipeline.name] = set(depends_on)
        self._batch_sizes[pipeline.name] = batch_size
        return self

    def order(self) -> list[str]:
        return list(TopologicalSorter(self._deps).static_order())

    def run(self, batch_ts: datetime | None = None) -> RunReport:
        order = self.order()
        report = RunReport(order=order)
        failed: set[str] = set()
        for name in order:
            blocked = self._deps[name] & failed
            if blocked:
                report.skipped.append(name)
                failed.add(name)  # downstream of a skip is also blocked
                continue
            try:
                report.results[name] = run_incremental(
                    self.catalog,
                    self._pipelines[name],
                    batch_size=self._batch_sizes[name],
                    batch_ts=batch_ts,
                )
            except Exception as exc:  # gate aborts land here
                report.failures.append(PipelineFailure(name, exc))
                failed.add(name)
        return report
