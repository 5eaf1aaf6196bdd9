"""Per-span metrics from a Spark event log (`spark.eventLog.compress=false`).

The benchmark tags the jobs of each span with `setJobGroup(group)`; job
and stage events carry the group in their properties, and task-end events
carry the executor-side metrics.  This module joins the three with the
benchmark's own span records (name, group, start, end) and returns the
per-layer metrics of one traced run.  It reads JSON lines only and needs
no Spark.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

GROUP = "spark.jobGroup.id"

# SQL metrics the Python exec nodes report on every task; "timing" metrics
# are milliseconds, "size" metrics bytes.
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS = "number of output rows"

# The Jaccard verify of operators.linking: the Python eval node of this UDF
# sees every LSH candidate pair; the filter above it keeps verified ones.
JACCARD_UDF = "_jaccard_udf"


def read_events(path: Path) -> list[dict]:
    """All events of one application: a single JSON-lines file, or a
    rolling (v2) event-log directory of `events_<n>_*` files."""
    path = Path(path)
    files = [path] if path.is_file() else sorted(
        path.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    events = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class _Group:
    jobs: list[tuple[float, float]] = field(default_factory=list)
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: float = 0.0
    input_bytes: float = 0.0
    spill: float = 0.0
    acc: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    # per stage: executor run time of each task
    stage_tasks: dict[int, list[float]] = field(
        default_factory=lambda: defaultdict(list))


def _plan_nodes(node: dict, ancestors: tuple = ()):
    """(node, ancestors nearest-first) for every node of a plan tree."""
    yield node, ancestors
    for child in node.get("children", []):
        yield from _plan_nodes(child, (node, *ancestors))


def _metric_ids(node: dict, name: str) -> set[int]:
    return {m["accumulatorId"] for m in node.get("metrics", [])
            if m["name"] == name}


def _union_length(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def group_stats(events: list[dict]) -> tuple[dict[str, _Group], dict]:
    """Per job group: job intervals (s) and summed task metrics; plus the
    summed Jaccard-verify row counts {"candidates", "verified"}."""
    groups: dict[str, _Group] = defaultdict(_Group)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    cand_ids: set[int] = set()
    verified_ids: set[int] = set()
    acc_updates: dict[int, float] = defaultdict(float)

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP)
            if g is not None:
                job_group[ev["Job ID"]] = g
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].jobs.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get(GROUP)
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            for node, ancestors in _plan_nodes(ev["sparkPlanInfo"]):
                if JACCARD_UDF not in node.get("simpleString", ""):
                    continue
                cand_ids |= _metric_ids(node, ROWS)
                # the verify filter sits above, possibly across a
                # whole-stage-codegen InputAdapter
                filt = next((a for a in ancestors
                             if a["nodeName"] == "Filter"), None)
                if filt is not None:
                    verified_ids |= _metric_ids(filt, ROWS)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            for a in info.get("Accumulables", []):
                if a.get("ID") in cand_ids or a.get("ID") in verified_ids:
                    acc_updates[a["ID"]] += float(a.get("Update", 0))
            g = stage_group.get(ev["Stage ID"])
            if g is None or ev.get("Task End Reason", {}).get(
                    "Reason") != "Success":
                continue
            st = groups[g]
            tm = ev.get("Task Metrics") or {}
            st.run_ms += tm.get("Executor Run Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.input_bytes += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            st.spill += (tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0))
            for a in info.get("Accumulables", []):
                if a.get("Name") in (PY_RUN, PY_INIT, PY_SENT, PY_RETURNED):
                    st.acc[a["Name"]] += float(a.get("Update", 0))
            st.stage_tasks[ev["Stage ID"]].append(
                float(tm.get("Executor Run Time", 0)))

    link = {
        "candidates": sum(acc_updates[i] for i in cand_ids),
        "verified": sum(acc_updates[i] for i in verified_ids),
    }
    return groups, link


def task_skew(groups: list[_Group]) -> float:
    """Slowest task over the median task, in the stage with the largest
    total executor run time among `groups`."""
    stages = [t for g in groups for t in g.stage_tasks.values() if t]
    if not stages:
        return 0.0
    tasks = max(stages, key=sum)
    med = statistics.median(tasks)
    return max(tasks) / med if med > 0 else 0.0


def span_metrics(events: list[dict], spans: list[dict]) -> dict[str, float]:
    """`<span>.<metric>` for every span name in `spans` (dicts with name,
    group, start, end in epoch seconds), plus the event-log-derived layer
    specifics and run totals."""
    groups, link = group_stats(events)
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def of(name: str) -> list[_Group]:
        return [groups[s["group"]] for s in by_name.get(name, [])
                if s["group"] in groups]

    out: dict[str, float] = {}
    run_jobs, run_gap, run_spill = 0, 0.0, 0.0
    for name, insts in by_name.items():
        gs = of(name)
        wall = sum(s["end"] - s["start"] for s in insts)
        covered = sum(
            _union_length(groups[s["group"]].jobs, s["start"], s["end"])
            for s in insts if s["group"] in groups)
        jobs = sum(len(g.jobs) for g in gs)
        out[f"{name}.wall_s"] = wall
        out[f"{name}.jobs"] = jobs
        out[f"{name}.run_s"] = sum(g.run_ms for g in gs) / 1000.0
        out[f"{name}.python_s"] = sum(g.acc[PY_RUN] for g in gs) / 1000.0
        out[f"{name}.shuffle_write_bytes"] = sum(g.shuffle_write for g in gs)
        out[f"{name}.gc_s"] = sum(g.gc_ms for g in gs) / 1000.0
        out[f"{name}.driver_gap_s"] = wall - covered
        run_jobs += jobs
        run_gap += wall - covered
        run_spill += sum(g.spill for g in gs)

    det, tri = of("detect"), of("triples")
    out["detect.input_bytes"] = sum(g.input_bytes for g in det)
    out["detect.python_init_s"] = sum(g.acc[PY_INIT] for g in det) / 1000.0
    out["detect.arrow_to_py_bytes"] = sum(g.acc[PY_SENT] for g in det)
    out["detect.arrow_from_py_bytes"] = sum(g.acc[PY_RETURNED] for g in det)
    out["triples.python_init_s"] = sum(g.acc[PY_INIT] for g in tri) / 1000.0
    out["triples.arrow_to_py_bytes"] = sum(g.acc[PY_SENT] for g in tri)
    out["triples.task_skew"] = task_skew(tri)
    out["link.candidate_pairs"] = link["candidates"]
    out["link.verify_yield"] = (link["verified"] / link["candidates"]
                                if link["candidates"] else 0.0)
    out["run.jobs"] = run_jobs
    out["run.driver_gap_s"] = run_gap
    out["run.spill_bytes"] = run_spill
    return out
