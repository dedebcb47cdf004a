"""Aggregate Spark's JSON event log onto benchmark spans.

Jobs map to spans by their job group (set by the tracer) or, for jobs
started on other threads such as streaming micro-batches, by submission
time: the innermost span open at that moment. Tasks map to spans
through their stage's job. Per span this yields the job count, the
driver gap (span wall with no task running), shuffle bytes, the largest
single exchange, task CPU and GC time, spilled bytes and the rows each
Arrow-evaluated Python UDF received."""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

from stats import union_length

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def read_events(path: str) -> list[dict]:
    """Events of every log file under path (Spark 4 writes a directory
    of rolled files per application)."""
    files = []
    for root, _, names in os.walk(path):
        files += [os.path.join(root, f) for f in names if not f.startswith(".")]

    def roll_index(f: str) -> tuple:
        parts = os.path.basename(f).split("_")
        return (os.path.dirname(f), int(parts[1]) if parts[1:2] and parts[1].isdigit() else 0)

    events = []
    for f in sorted(files, key=roll_index):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class SpanStats:
    jobs: int = 0
    gap_s: float = 0.0
    shuffle_bytes: int = 0
    max_exchange_bytes: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    arrow_rows: dict = field(default_factory=dict)


@dataclass
class SqlExecution:
    id: int
    start: float
    end: float
    plan: str

    @property
    def wall(self) -> float:
        return self.end - self.start


def udf_label(simple_string: str) -> str:
    s = simple_string.lower()
    for label in ("jw", "encode"):
        if label in s:
            return label
    return "other"


def _plan_metrics(info: dict, out: dict) -> None:
    """accumulator id -> UDF label for the output-row metric of every
    ArrowEvalPython node in a plan tree."""
    if info.get("nodeName", "").startswith("ArrowEvalPython"):
        for m in info.get("metrics", []):
            if m.get("name") == "number of output rows":
                out[m["accumulatorId"]] = udf_label(info.get("simpleString", ""))
    for c in info.get("children", []):
        _plan_metrics(c, out)


def _owner(spans, group: str | None, t: float):
    by_id = {s.id: s for s in spans}
    if group in by_id:
        return by_id[group]
    open_at = [s for s in spans if s.start <= t <= s.end]
    return min(open_at, key=lambda s: s.wall) if open_at else None


def aggregate(events: list[dict], spans) -> tuple[dict, list[SqlExecution]]:
    """Returns ({span id: SpanStats} for every span, [SqlExecution])."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, object] = {}
    acc_label: dict[int, str] = {}
    sql: dict[int, dict] = {}
    tasks = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sp = _owner(
                spans, props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000.0,
            )
            job_span[ev["Job ID"]] = sp
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind in (SQL_START, SQL_UPDATE):
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc_label)
            if kind == SQL_START:
                sql[ev["executionId"]] = {
                    "start": ev["time"] / 1000.0,
                    "end": ev["time"] / 1000.0,
                    "plan": ev.get("physicalPlanDescription", ""),
                }
        elif kind == SQL_END and ev["executionId"] in sql:
            sql[ev["executionId"]]["end"] = ev["time"] / 1000.0

    stats = {s.id: SpanStats() for s in spans}
    for sp in job_span.values():
        if sp is not None:
            stats[sp.id].jobs += 1

    busy: list[tuple[float, float]] = []
    stage_bytes: dict[tuple, int] = defaultdict(int)
    for ev in tasks:
        info = ev.get("Task Info", {})
        launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
        busy.append((launch, finish))
        job = stage_job.get(ev["Stage ID"])
        sp = job_span.get(job) if job is not None else _owner(spans, None, launch)
        if sp is None:
            continue
        st = stats[sp.id]
        tm = ev.get("Task Metrics") or {}
        wrote = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st.shuffle_bytes += wrote
        stage_bytes[(sp.id, ev["Stage ID"])] += wrote
        st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
        st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", []):
            label = acc_label.get(acc.get("ID"))
            if label is not None and acc.get("Update") is not None:
                st.arrow_rows[label] = st.arrow_rows.get(label, 0) + int(acc["Update"])
    for (sid, _), b in stage_bytes.items():
        stats[sid].max_exchange_bytes = max(stats[sid].max_exchange_bytes, b)
    # calls run one at a time, so any task running inside a span's
    # interval works for that span or one of its children
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in busy]
        stats[s.id].gap_s = s.wall - union_length(clipped)
    executions = [
        SqlExecution(i, v["start"], v["end"], v["plan"]) for i, v in sorted(sql.items())
    ]
    return stats, executions


def subtree(spans, root) -> list:
    """root and every span below it."""
    out, frontier = [root], [root.id]
    while frontier:
        kids = [s for s in spans if s.parent in frontier]
        out.extend(kids)
        frontier = [k.id for k in kids]
    return out


def rollup(stats: dict, spans, root) -> SpanStats:
    """Sum of a span's own stats and its descendants'; the gap is the
    root's (its wall with no task running)."""
    total = SpanStats(gap_s=stats[root.id].gap_s)
    for s in subtree(spans, root):
        st = stats[s.id]
        total.jobs += st.jobs
        total.shuffle_bytes += st.shuffle_bytes
        total.max_exchange_bytes = max(total.max_exchange_bytes, st.max_exchange_bytes)
        total.cpu_s += st.cpu_s
        total.gc_s += st.gc_s
        total.spill_bytes += st.spill_bytes
        for k, v in st.arrow_rows.items():
            total.arrow_rows[k] = total.arrow_rows.get(k, 0) + v
    return total
