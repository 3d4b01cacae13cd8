"""ValidationPlan — the engine's IR.

The reference's only "plan" is its in-memory ExecutionContext object graph
(``internal/runner/runner.go:26-35`` in /root/reference). Here the plan is
an explicit, versioned list of constraints grouped into passes. A pass is
one function (tables) -> violations DataFrame in the common
VIOLATION_SCHEMA plus a ``constraint`` column naming the member each row
belongs to; the runner executes each pass as one Spark write. A
standalone constraint is a pass of one. Versions are recorded in the
checkpoint manifest so a resume only skips partitions validated by the
SAME constraint version (O2/O3 analog).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ovalspark.functions import spans as sp
from ovalspark.operators import check_referential

Tables = Callable[[DataFrame, DataFrame, DataFrame | None], DataFrame]


@dataclass(frozen=True)
class Constraint:
    """One validation rule, recorded in the manifest as (name, version).

    Its rows must be partition-local with respect to ``partition_id``
    unless ``partition_local=False``: partition-local constraints can be
    re-run on a subset of partitions during resume; global ones (e.g.
    uniqueness, which must see every copy of a doc_id) re-run whole
    whenever any partition is incomplete.
    """

    name: str
    version: str
    partition_local: bool = True


@dataclass(frozen=True)
class Pass:
    """Constraints computed together: ``fn(docs, catalog, assets)``
    returns every member's violation rows, each tagged with its member's
    name in a ``constraint`` column."""

    members: tuple[Constraint, ...]
    fn: Tables


def single(name: str, version: str, fn: Tables, partition_local: bool = True) -> Pass:
    """A standalone constraint ``fn(docs, catalog, assets) -> violations``
    as a pass of one."""
    return Pass(
        (Constraint(name, version, partition_local),),
        lambda d, c, a: fn(d, c, a).withColumn("constraint", F.lit(name)),
    )


@dataclass(frozen=True)
class ValidationPlan:
    passes: tuple[Pass, ...]

    @property
    def constraints(self) -> tuple[Constraint, ...]:
        return tuple(c for p in self.passes for c in p.members)

    def names(self) -> list[str]:
        return [c.name for c in self.constraints]


def default_plan(
    n_assets: int = sp.DEFAULT_N_ASSETS,
    include_referential: bool = True,
    span_bounds: tuple[int, int] | None = None,
) -> ValidationPlan:
    """The full oval-parity plan: span-sequence + existence + counts +
    uniqueness as ONE docs⋈catalog pass (operators/fused.py), then
    referential when an asset catalog is supplied and distribution drift
    when the generator's span bounds are known, each a pass of its own.
    The core pass's members keep their own names, versions and sinks, so
    resume stays per (constraint, partition); uniqueness is not
    partition-local (the duplicate check must see every copy of a
    doc_id)."""
    from ovalspark.operators.drift import check_distribution
    from ovalspark.operators.fused import core_pass

    core = (
        Constraint("span_sequence", "1"),
        Constraint("existence", "1"),
        Constraint("partition_counts", "1"),
        Constraint("uniqueness", "1", partition_local=False),
    )
    passes = [Pass(core, lambda d, c, a: core_pass(d, c, n_assets))]
    if include_referential:
        passes.append(single("referential", "1", lambda d, c, a: check_referential(d, a)))
    if span_bounds is not None:
        mn, mx = span_bounds
        passes.append(single("distribution", "1", lambda d, c, a: check_distribution(d, mn, mx)))
    return ValidationPlan(passes=tuple(passes))
