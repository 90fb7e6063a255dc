"""Referential-integrity gates.

The reference follows nearly every FK-remap join with a null-count check
that raises and aborts the batch before anything is written (reference:
``utils/custom_err.py:1-6``; pattern at
``Main_Modules/Locations/locations.py:108-111``, ~25 sites).

Three forms:

- action gate, ``require_no_nulls``: an explicit short-circuit action
  (``filter(isnull).limit(1)``) — cheap because it stops at the first
  offending row and Catalyst prunes all other columns.
- write-fused gate, ``observed_gate``: attaches ``df.observe`` metrics
  so the check rides along with the staged *write* of
  ``cdc.commit_batch`` — zero extra scans, the right shape for a 100 TB
  batch where a second scan is unaffordable.
- observed checkpoint, ``checkpoint_observed``: the same metrics riding
  an eager ``localCheckpoint`` instead, for operators that materialize
  a relation anyway and steer their plan by its size. Every
  ``df.observe`` in the package goes through this module.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class IncrementalDependencyError(RuntimeError):
    """A batch references parent rows that have not been migrated yet.

    Mirrors the reference's abort-the-batch contract
    (``utils/custom_err.py:1-6``): the current micro-batch must not be
    written and the watermark must not advance.
    """


def require_no_nulls(df: DataFrame, *cols: str, context: str = "") -> DataFrame:
    """Abort if any of ``cols`` is null; otherwise return ``df`` unchanged.

    Short-circuits at the first offending row. Use for small/medium
    batches or tests; prefer ``observed_gate`` when the gate can be
    fused with the write.
    """
    predicate = None
    for c in cols:
        p = F.col(c).isNull()
        predicate = p if predicate is None else (predicate | p)
    offender = df.where(predicate).select(*cols).limit(1).collect()
    if offender:
        raise IncrementalDependencyError(
            f"unresolved FK in {context or 'batch'}: first offender {offender[0].asDict()}"
        )
    return df


@dataclass
class ObservedGate:
    """An observe()-based RI gate fused with a later action (in
    ``cdc.commit_batch``: the staged write, checked before any rename)."""

    observation: Observation
    cols: tuple[str, ...]
    context: str = ""

    def check(self) -> None:
        """Call AFTER the action that consumed the observed DataFrame."""
        metrics = self.observation.get
        bad = {c: metrics[f"nulls_{c}"] for c in self.cols if metrics[f"nulls_{c}"]}
        if bad:
            raise IncrementalDependencyError(
                f"unresolved FK in {self.context or 'batch'}: null counts {bad}"
            )


def observed_gate(df: DataFrame, *cols: str, context: str = "") -> tuple[DataFrame, ObservedGate]:
    """Attach null-count metrics to ``df``; check them post-action.

    The metrics fill only when the consuming action runs, so that action
    must write where no reader looks yet: ``cdc.commit_batch`` writes
    the batch to a staging directory, checks the gate, and renames the
    staged files into the sink only when it passes. A tripped gate
    leaves every sink untouched, as the reference's pre-write null
    checks do (``utils/custom_err.py:1-6``).
    """
    obs = Observation()
    metrics = [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in cols
    ]
    return df.observe(obs, *metrics), ObservedGate(obs, tuple(cols), context)


def checkpoint_observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df``; return it with ``metrics``.

    Each keyword names one aggregate; all of them ride the checkpoint's
    own action, so reading them costs no extra job. The checkpoint is
    always eager: a lazy one would hand back the metrics before any
    action had filled them. With no metrics this is a plain eager
    checkpoint (``observe`` rejects an empty metric list).
    """
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    observed = df.observe(obs, *(c.alias(k) for k, c in metrics.items()))
    return observed.localCheckpoint(eager=True), obs.get
