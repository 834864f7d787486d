"""Transform log: the Catalyst optimizer rules that rewrote a query.

The reference prints an ordered list of ``{stage, detail, millis}`` records,
one per rewrite it applied (``engine/include/utils.h:47-65``, emission at
``engine/src/optimizer.cpp:287-318``).  Catalyst keeps the same record
itself: every rule run is counted in the query's ``QueryPlanningTracker``
with its time and the number of runs that changed the plan.  This module
reads that record — one optimizer rule that changed the plan, one entry,
timed by the tracker — instead of inferring rewrites from plan text.

The reference's five headline transforms keep their stage names (see
``_STAGES``); every other rule appears under its Catalyst name.  Scan
pushdown of a filter or projection already sitting on the scan is a
planner strategy, not a rule, so it shows in the physical plan
(``Engine.explain``), not here.  The tracker times a rule that optimizes
subqueries (``Optimizer$OptimizeSubqueries``) including the rules it ran,
so entry times can overlap.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_OPTIMIZER = "org.apache.spark.sql.catalyst.optimizer."

#: Catalyst rule -> the reference's stage name for the same rewrite
_STAGES = {
    "ReorderJoin": "JoinConversion",
    "RewriteCorrelatedScalarSubquery": "SubqueryRewrite",
    "PushDownPredicates": "PredicatePushdown",
    "ColumnPruning": "ProjectionPushdown",
    "ConstantFolding": "ConstantFolding",
    "BooleanSimplification": "ConstantFolding",
    "PruneFilters": "ConstantFolding",
}

#: one ``name -> RuleSummary(totalTimeNs, runs, effectiveRuns)`` pair of
#: the tracker's rule map, as Scala prints it
_RULE = re.compile(r"([\w.$]+) -> RuleSummary\((\d+), (\d+), (\d+)\)")


@dataclass
class TransformEntry:
    stage: str
    detail: str
    millis: float

    def __str__(self) -> str:  # reference CLI shows "[stage] detail"
        return f"[{self.stage}] {self.detail} ({self.millis:.2f} ms)"


@dataclass
class TransformLog:
    entries: list[TransformEntry] = field(default_factory=list)

    def stages(self) -> list[str]:
        return [e.stage for e in self.entries]

    def render(self) -> str:
        lines = [str(e) for e in self.entries] or [
            "(no optimizer rule changed the plan)"
        ]
        return "\n".join(["=== Optimizer Trace ===", *lines])


def plan_strings(df) -> dict[str, str]:
    qe = df._jdf.queryExecution()
    return {
        "analyzed": qe.analyzed().toString(),
        "optimized": qe.optimizedPlan().toString(),
        "physical": qe.executedPlan().toString(),
    }


def rule_summaries(df) -> list[tuple[str, int, int, int]]:
    """``(rule, total ns, runs, effective runs)`` for every rule the
    DataFrame's planning tracker recorded, read in one py4j call after
    forcing the optimized plan (no physical planning)."""
    qe = df._jdf.queryExecution()
    qe.optimizedPlan()
    return [
        (name, int(ns), int(runs), int(eff))
        for name, ns, runs, eff in _RULE.findall(qe.tracker().rules().toString())
    ]


def build_transform_log(df) -> TransformLog:
    """One entry per Catalyst optimizer rule that changed ``df``'s plan,
    ordered by rule name, each timed by the tracker."""
    entries = []
    for name, ns, runs, eff in sorted(rule_summaries(df)):
        if not eff or not name.startswith(_OPTIMIZER):
            continue
        rule = name[len(_OPTIMIZER):]
        entries.append(TransformEntry(
            _STAGES.get(rule, rule),
            f"{rule}: changed the plan on {eff} of {runs} runs",
            ns / 1e6,
        ))
    return TransformLog(entries)
