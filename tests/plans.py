"""Physical-plan introspection for the fleet-wide plan audit.

A query can be value-correct at sf0.01 and still be a cross join, an
unpartitioned window, or an unpruned scan that dies at scale. These
helpers parse `explain("formatted")` output into a structured audit so
tests (tests/test_plan_audit.py runs it over the declared queries) can
gate on plan shape, not just results.

The reference has no optimizer to audit (SURVEY.md §4) — its physical
strategies are hard-coded; here the plan IS the contract, so we make it
inspectable.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (what `df.explain(mode)` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


@dataclass
class PlanAudit:
    """Structured summary of one physical plan."""

    n_exchanges: int = 0
    n_broadcast_hash_joins: int = 0
    n_sortmerge_joins: int = 0
    n_shuffled_hash_joins: int = 0
    n_broadcast_nested_loop_joins: int = 0
    has_cartesian: bool = False
    has_global_window: bool = False
    n_codegen_stages: int = 0
    read_schemas: list[list[str]] = field(default_factory=list)
    pushed_filters: list[str] = field(default_factory=list)

    @property
    def scale_hostile(self) -> list[str]:
        """Findings that are outright dangerous at scale (broadcast
        nested loops are excluded: legitimate for 1-row/tiny sides —
        callers decide with context)."""
        out = []
        if self.has_cartesian:
            out.append("cartesian product")
        if self.has_global_window:
            out.append("unpartitioned window (single-task sort)")
        return out


_GLOBAL_WINDOW_RE = re.compile(r"windowspecdefinition\(([^)]*)\)")
_READ_SCHEMA_RE = re.compile(r"ReadSchema: struct<([^>]*)>")
_PUSHED_RE = re.compile(r"PushedFilters: \[([^\]]*)\]")


_ORDER_ENTRY_RE = re.compile(
    r"(ASC|DESC) NULLS (FIRST|LAST)$")


def _has_global_window(plan: str) -> bool:
    for m in _GLOBAL_WINDOW_RE.finditer(plan):
        first = m.group(1).split(",")[0].strip()
        # a partitioned spec lists partition columns first; a global spec
        # starts straight at an ordering entry ("col ASC NULLS FIRST",
        # "col DESC NULLS LAST", ...) or at the frame
        if _ORDER_ENTRY_RE.search(first) or first.startswith(
                "specifiedwindowframe"):
            return True
    return False


def audit_plan(df: DataFrame) -> PlanAudit:
    plan = plan_text(df)
    schemas = [[c.split(":")[0] for c in m.group(1).split(",") if c]
               for m in _READ_SCHEMA_RE.finditer(plan)]
    pushed = [m.group(1) for m in _PUSHED_RE.finditer(plan) if m.group(1)]
    # formatted mode prints "(n) Exchange" nodes with the partitioning in
    # an Arguments line, and marks codegen membership with "[codegen id: N]"
    # instead of WholeStageCodegen wrappers — count both spellings. NOTE:
    # an AdaptiveSparkPlan that has not executed yet (isFinalPlan=false)
    # carries no codegen markers at all, so n_codegen_stages is 0 until
    # the query has run — audit structural properties before execution,
    # codegen width after.
    # formatted mode prints "(n) Exchange" with the partitioning in a
    # separate Arguments line; simple mode inlines it. Count node
    # occurrences in whichever spelling the plan uses.
    n_exchanges = (len(re.findall(r"\(\d+\) Exchange", plan))
                   or plan.count("Exchange hashpartitioning"))
    n_codegen = (plan.count("WholeStageCodegen")
                 or len(set(re.findall(r"codegen id : (\d+)", plan))))
    return PlanAudit(
        n_exchanges=n_exchanges,
        n_broadcast_hash_joins=plan.count("BroadcastHashJoin"),
        n_sortmerge_joins=plan.count("SortMergeJoin"),
        n_shuffled_hash_joins=plan.count("ShuffledHashJoin"),
        n_broadcast_nested_loop_joins=plan.count("BroadcastNestedLoopJoin"),
        has_cartesian="CartesianProduct" in plan,
        has_global_window=_has_global_window(plan),
        n_codegen_stages=n_codegen,
        read_schemas=schemas,
        pushed_filters=pushed,
    )
