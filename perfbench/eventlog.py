"""Fold of Spark's event log (uncompressed, not rolling: one JSON object
per line) into the per-layer numbers of a traced run.

Jobs are attributed to a benchmark span by time: a job belongs to the
span whose [start, end] wall-clock interval holds its submission. The
benchmark runs its spans one after another, so no job is shared.

Operator metrics come from the final adaptive plan of each SQL
execution (the last ``SparkListenerSQLAdaptiveExecutionUpdate``, else
the plan at ``SparkListenerSQLExecutionStart``); their values are the
sums of the accumulator updates tasks and the driver reported.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    attempt: int
    n_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    accums: set = field(default_factory=set)


@dataclass
class PlanNode:
    name: str
    desc: str
    accum_ids: list
    children: list


@dataclass
class Fold:
    jobs: dict = field(default_factory=dict)  # job id -> (submit ms, stage ids)
    stages: dict = field(default_factory=dict)  # (stage id, attempt) -> Stage
    plans: dict = field(default_factory=dict)  # execution id -> PlanNode
    exec_start: dict = field(default_factory=dict)  # execution id -> start ms
    names: dict = field(default_factory=dict)  # accumulator id -> SQL metric name
    accum_values: dict = field(default_factory=lambda: defaultdict(int))

    def stages_of_jobs(self, job_ids) -> list[Stage]:
        """Completed stages (every attempt) of the given jobs."""
        wanted = set()
        for j in job_ids:
            wanted.update(self.jobs[j][1])
        return [s for (sid, _a), s in self.stages.items() if sid in wanted and s.n_tasks]

    def jobs_between(self, start_ms: float, end_ms: float) -> list[int]:
        return sorted(j for j, (t, _) in self.jobs.items() if start_ms <= t <= end_ms)

    def executions_between(self, start_ms: float, end_ms: float) -> list[int]:
        return sorted(e for e, t in self.exec_start.items() if start_ms <= t <= end_ms)


def _plan(info: dict) -> PlanNode:
    return PlanNode(
        info.get("nodeName", ""),
        info.get("simpleString", ""),
        [m["accumulatorId"] for m in info.get("metrics", [])],
        [_plan(c) for c in info.get("children", [])],
    )


def _plan_metric_ids(info: dict) -> dict[int, str]:
    out = {}
    stack = [info]
    while stack:
        node = stack.pop()
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = m["name"]
        stack.extend(node.get("children", []))
    return out


def fold_lines(lines) -> Fold:
    """Fold event-log lines (JSON strings) into jobs, stages, final plans
    and SQL-metric accumulator totals."""
    f = Fold()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            f.jobs[ev["Job ID"]] = (ev["Submission Time"], list(ev["Stage IDs"]))
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            st = f.stages.setdefault(key, Stage(*key))
            st.n_tasks += 1
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                aid = acc["ID"]
                st.accums.add(aid)
                # A cached relation's plan, and so the names of its metrics,
                # can be logged after the tasks that computed it.
                update = str(acc.get("Update", ""))
                if update.lstrip("-").isdigit():
                    f.accum_values[aid] += int(update)
        elif kind in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            info = ev["sparkPlanInfo"]
            f.plans[ev["executionId"]] = _plan(info)
            f.names.update(_plan_metric_ids(info))
            if "time" in ev:
                f.exec_start[ev["executionId"]] = ev["time"]
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates":
            for aid, value in ev["accumUpdates"]:
                f.accum_values[aid] += int(value)
    return f


def fold_file(path: str) -> Fold:
    with open(path, encoding="utf-8") as fh:
        return fold_lines(fh)


def walk(node: PlanNode):
    yield node
    for c in node.children:
        yield from walk(c)


# The prefix self-join of ``ngram_jaccard_pairs_prefix``: an inner equi-join
# on the shingle with the residual ``doc_id < doc_id``.
_PREFIX_JOIN = re.compile(r"Inner, (Build\w+, )?\(doc_id#\d+L? < doc_id#\d+L?\)")


def ppjoin_counts(f: Fold, execution_ids) -> tuple[int, set]:
    """Output rows of the prefix self-join (the candidate pairs) summed
    over ``execution_ids``, and the accumulator ids of every operator fused
    into a whole-stage-codegen node that computes ``array_intersect`` (the
    verification). A cached relation can appear under several scans of one
    plan, so accumulators are collected as sets before summing."""
    rows = 0
    verify_accums: set[int] = set()
    for eid in execution_ids:
        root = f.plans.get(eid)
        if root is None:
            continue
        join_rows: set[int] = set()
        for node in walk(root):
            if "Join" in node.name and _PREFIX_JOIN.search(node.desc):
                join_rows.update(a for a in node.accum_ids
                                 if f.names.get(a) == "number of output rows")
            if node.name.startswith("WholeStageCodegen"):
                members = list(_codegen_members(node))
                if any("array_intersect" in n.desc for n in members):
                    verify_accums.update(node.accum_ids)
                    for n in members:
                        verify_accums.update(n.accum_ids)
        rows += sum(f.accum_values.get(a, 0) for a in join_rows)
    return rows, verify_accums


def _codegen_members(wsc: PlanNode):
    """Operators fused into a whole-stage-codegen node: its subtree down to
    the next stage boundary (an exchange, a query stage, or another
    codegen node)."""
    stack = list(wsc.children)
    while stack:
        n = stack.pop()
        yield n
        if not (n.name.startswith("WholeStageCodegen") or "Exchange" in n.name
                or "QueryStage" in n.name or n.name.startswith("InputAdapter")):
            stack.extend(n.children)
