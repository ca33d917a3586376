"""Roll a Spark event log up into the benchmark's per-layer metrics.

The benchmark tags every job launched during one call into the engine
with ``perfbench-span-<i>`` (and, while a registered builder runs, with
``perfbench-build``), using ``SparkContext.addJobTag`` from its own code.
Jobs, stages, tasks, SQL executions and their metrics are attributed to
the call through those tags; the call's own start and end come from the
driver-side clock, which is the clock the event log uses too.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict
from dataclasses import dataclass
from unittest import mock

SPAN_TAG = "perfbench-span-"
BUILD_TAG = "perfbench-build"

# Spark SQL metric names (Spark 4.1); "timing" metrics are milliseconds.
_SQL_SUMS = {
    "time to run Python workers": "py_total_ms",
    "time to start Python workers": "py_boot_init_ms",
    "time to initialize Python workers": "py_boot_init_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "scan time": "scan_ms",
}
_FILES_READ = "number of files read"

VERBS = ("build", "append", "search")


@dataclass
class Span:
    """One timed call from the benchmark into the engine."""

    index: int  # position in the run; the call's jobs carry SPAN_TAG + index
    name: str  # registered query name, or "ann.<verb>"
    start: float  # epoch seconds
    built: float  # builder call returned; equals `end` for an eager verb
    end: float

    @property
    def verb(self) -> str | None:
        return self.name[4:] if self.name.startswith("ann.") else None


def read_events(log_dir: str, app_id: str) -> list[dict]:
    """All events of one application, through tools/probe_jobs.py's reader
    (which resolves the log directory through its module constant)."""
    from tools import probe_jobs

    with mock.patch.object(probe_jobs, "LOG_DIR", log_dir):
        return [json.loads(line) for line in probe_jobs._event_lines(app_id) if line.strip()]


def _tags(tag_list) -> set[str]:
    if isinstance(tag_list, str):
        tag_list = tag_list.split(",")
    return {t for t in tag_list or () if t}


def _span_of(tags: set[str]) -> int | None:
    for t in tags:
        if t.startswith(SPAN_TAG):
            return int(t[len(SPAN_TAG):])
    return None


def _metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _metric_names(child, out)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def span_counters(events: list[dict]) -> dict[int, Counter]:
    """Per tagged span: job/stage/task counts and summed task and SQL
    metrics. Untagged jobs (set-up, checks) are ignored."""
    c: dict[int, Counter] = defaultdict(Counter)
    jobs: dict[int, tuple[int, int]] = {}
    intervals: dict[int, list] = defaultdict(list)
    stages: dict[tuple[int, int], tuple[int, int]] = {}
    acc_names: dict[int, str] = {}
    exec_span: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            tags = _tags((ev.get("Properties") or {}).get("spark.job.tags"))
            s = _span_of(tags)
            if s is not None:
                jobs[ev["Job ID"]] = (s, ev["Submission Time"])
                c[s]["jobs"] += 1
                c[s]["eager_jobs"] += BUILD_TAG in tags
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                s, submitted = jobs[ev["Job ID"]]
                intervals[s].append((submitted, ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            s = _span_of(_tags((ev.get("Properties") or {}).get("spark.job.tags")))
            info = ev["Stage Info"]
            if s is not None:
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = (s, info["Submission Time"])
                c[s]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            if key in stages:
                _add_task(c[stages[key][0]], ev, stages[key][1])
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _metric_names(ev["sparkPlanInfo"], acc_names)
            s = _span_of(_tags(ev.get("jobTags")))
            if s is not None:
                exec_span[ev["executionId"]] = s
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            s = exec_span.get(ev["executionId"])
            if s is not None:
                for acc_id, value in ev["accumUpdates"]:
                    if acc_names.get(acc_id) == _FILES_READ:
                        c[s]["files_read"] += value
    for s, ivs in intervals.items():
        c[s]["job_busy_ms"] = _union_ms(ivs)
    return c


def _add_task(c: Counter, ev: dict, stage_submitted: int) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    shuffle_r = m.get("Shuffle Read Metrics") or {}
    inp = m.get("Input Metrics") or {}
    c["tasks"] += 1
    c["failed_tasks"] += info.get("Failed", False) or ev["Task End Reason"]["Reason"] != "Success"
    c["task_wait_ms"] += info["Launch Time"] - stage_submitted
    c["empty_tasks"] += inp.get("Records Read", 0) + shuffle_r.get("Total Records Read", 0) == 0
    c["run_ms"] += m.get("Executor Run Time", 0)
    c["cpu_ns"] += m.get("Executor CPU Time", 0)
    c["gc_ms"] += m.get("JVM GC Time", 0)
    c["scan_bytes"] += inp.get("Bytes Read", 0)
    c["shuffle_read"] += shuffle_r.get("Remote Bytes Read", 0) + shuffle_r.get("Local Bytes Read", 0)
    c["fetch_wait_ms"] += shuffle_r.get("Fetch Wait Time", 0)
    c["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", ()):
        key = _SQL_SUMS.get(acc.get("Name"))
        if key and acc.get("Metadata") == "sql" and "Update" in acc:
            c[key] += float(acc["Update"])


def layer_metrics(spans: list[Span], counters: dict[int, Counter], cores: int, per: int) -> dict:
    """Per-layer metrics over `spans`, with additive ones divided by `per`
    (the number of passes, or of calls, they cover)."""
    tot: Counter = Counter()
    wall_ms = build_ms = 0.0
    for sp in spans:
        tot.update(counters.get(sp.index, Counter()))
        wall_ms += (sp.end - sp.start) * 1000
        if sp.verb is None:
            build_ms += (sp.built - sp.start) * 1000
    gap_ms = wall_ms - tot["job_busy_ms"]
    out = {
        "plans.build_s": build_ms / 1000 / per,
        "plans.eager_jobs": tot["eager_jobs"] / per,
        "exec.jobs": tot["jobs"] / per,
        "exec.stages": tot["stages"] / per,
        "exec.tasks": tot["tasks"] / per,
        "exec.job_busy_s": tot["job_busy_ms"] / 1000 / per,
        "exec.driver_gap_s": gap_ms / 1000 / per,
        "exec.task_wait_s": tot["task_wait_ms"] / 1000 / per,
        "exec.empty_task_share": tot["empty_tasks"] / tot["tasks"] if tot["tasks"] else 0.0,
        "exec.core_util": tot["run_ms"] / (wall_ms * cores) if wall_ms else 0.0,
        "exec.task_failures": tot["failed_tasks"] / per,
        "io.scan_bytes": tot["scan_bytes"] / per,
        "io.files_read": tot["files_read"] / per,
        "io.scan_s": tot["scan_ms"] / 1000 / per,
        "shuffle.write_bytes": tot["shuffle_write"] / per,
        "shuffle.read_bytes": tot["shuffle_read"] / per,
        "shuffle.fetch_wait_s": tot["fetch_wait_ms"] / 1000 / per,
        "exec.spill_bytes": tot["spill"] / per,
        "exec.task_cpu_s": tot["cpu_ns"] / 1e9 / per,
        "exec.gc_s": tot["gc_ms"] / 1000 / per,
        "py.total_s": tot["py_total_ms"] / 1000 / per,
        "py.boot_init_s": tot["py_boot_init_ms"] / 1000 / per,
        "py.bytes_sent": tot["py_sent"] / per,
        "py.bytes_received": tot["py_recv"] / per,
    }
    for verb in VERBS:
        vs = [sp for sp in spans if sp.verb == verb]
        v = Counter()
        for sp in vs:
            v.update(counters.get(sp.index, Counter()))
        v_wall_ms = sum((sp.end - sp.start) * 1000 for sp in vs)
        out[f"ann.{verb}.jobs"] = v["jobs"] / per
        out[f"ann.{verb}.tasks"] = v["tasks"] / per
        out[f"ann.{verb}.driver_gap_s"] = (v_wall_ms - v["job_busy_ms"]) / 1000 / per
        out[f"ann.{verb}.shuffle_bytes"] = v["shuffle_write"] / per
    return out
