"""Roll a Spark event log up to the benchmark's operations.

The traced run tags every job with a job group ``build:<op>`` (jobs the
operator starts while it builds its DataFrame) or ``exec:<op>`` (jobs of
the timed action), where ``<op>`` is ``<workload>/<pass>/<name>``. Tasks
map to ops through their stage's job; cache blocks (``BlockUpdated``
events) map to the op whose job started last; SQL metrics of the Python
plan nodes map to ops through the task that updated them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable

from measure import median

MB = 1024 * 1024

# Python-boundary plan nodes (Arrow/pandas UDF edges): matched by name part
_PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")
_PYTHON_METRICS = {
    "number of output rows": "python.rows",
    "data sent to Python workers": "python.mb_sent",
    "data returned from Python workers": "python.mb_received",
}

EXEC_FIELDS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.executor_run_s",
    "exec.executor_cpu_s",
    "exec.gc_s",
    "exec.input_mb",
    "exec.shuffle_write_mb",
    "exec.shuffle_read_mb",
    "exec.fetch_wait_s",
    "exec.spill_mb",
    "exec.peak_exec_mem_mb",
    "exec.task_skew",
    "exec.failed_tasks",
    "exec.cache_mb",
    "build_jobs",
    "python.rows",
    "python.mb_sent",
    "python.mb_received",
)


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    if any(m in plan.get("nodeName", "") for m in _PYTHON_NODE_MARKERS):
        for metric in plan.get("metrics", []):
            key = _PYTHON_METRICS.get(metric.get("name"))
            if key:
                out[int(metric["accumulatorId"])] = key
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def rollup(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Per op: every field in EXEC_FIELDS. Jobs outside a ``build:`` or
    ``exec:`` group (the correctness check, set-up) are ignored."""
    stage_op: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    python_acc: dict[int, str] = {}
    tasks: list[dict] = []
    blocks: list[tuple[str, int]] = []
    ops: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0.0))
    last_op = None
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            phase, _, op = group.partition(":")
            if phase not in ("build", "exec"):
                last_op = None
                continue
            last_op = op
            ops[op]["exec.jobs"] += 1
            if phase == "build":
                ops[op]["build_jobs"] += 1
            job_stages[e["Job ID"]] = e["Stage IDs"]
            for sid in e["Stage IDs"]:
                stage_op[sid] = op
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            if last_op and str(info.get("Block ID", "")).startswith("rdd_"):
                size = int(info.get("Memory Size", 0)) + int(info.get("Disk Size", 0))
                blocks.append((last_op, size))
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _python_accumulators(e.get("sparkPlanInfo") or {}, python_acc)

    durations: dict[int, list[float]] = defaultdict(list)
    stages_run: dict[str, set[int]] = defaultdict(set)
    for e in tasks:
        op = stage_op.get(e["Stage ID"])
        if op is None:
            continue
        o, info, m = ops[op], e["Task Info"], e.get("Task Metrics") or {}
        stages_run[op].add(e["Stage ID"])
        o["exec.tasks"] += 1
        if info.get("Failed") or info.get("Killed"):
            o["exec.failed_tasks"] += 1
        durations[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
        o["exec.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        o["exec.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        o["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        o["exec.input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
        sw = m.get("Shuffle Write Metrics") or {}
        o["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        sr = m.get("Shuffle Read Metrics") or {}
        o["exec.shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        o["exec.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        o["exec.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
        o["exec.peak_exec_mem_mb"] = max(
            o["exec.peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / MB
        )
        for acc in info.get("Accumulables", []):
            key = python_acc.get(int(acc.get("ID", -1)))
            if key:
                scale = 1 if key == "python.rows" else 1 / MB
                o[key] += int(acc.get("Update") or 0) * scale
    for op, sids in stages_run.items():
        ops[op]["exec.stages"] = len(sids)
        skews = [
            max(durations[s]) / median(durations[s])
            for s in sids
            if len(durations[s]) > 1 and median(durations[s]) > 0
        ]
        ops[op]["exec.task_skew"] = max(skews, default=1.0)
    for op, size in blocks:
        ops[op]["exec.cache_mb"] += size / MB
    return dict(ops)


def rollup_file(path: str) -> dict[str, dict[str, float]]:
    with open(path) as f:
        return rollup(f)
