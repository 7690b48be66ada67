"""In-memory spans around the benchmark's calls, and attribution of the Spark
event log to those spans.

Every timed call runs inside ``Tracer.span``. With tracing on, the span also
tags the calling thread's Spark jobs with ``sc.setJobGroup(<span id>)``.
Jobs that a ``foreachBatch`` handler launches run on the stream thread,
where the caller's job group does not apply; those are attributed by the
span's time window instead. That is sound because the benchmark's client
is single and closed-loop, so no two spans ever overlap.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "wall_s",
    "driver_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "sched_wait_s",
    "input_bytes",
    "shuffle_bytes",
    "output_bytes",
)
IDLE_GROUP = "perfbench-idle"


@dataclass
class Span:
    span_id: str
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``write`` saves them when the run ends."""

    def __init__(self, spark=None, tag_jobs: bool = False):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark = spark
        self.tag_jobs = tag_jobs

    def _set_group(self, group: str, desc: str) -> None:
        if self.tag_jobs and self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, desc)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=f"{self.run_id}-{len(self.spans)}",
            name=name,
            start=time.time(),
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent.span_id, parent.name)
            else:
                self._set_group(IDLE_GROUP, "untimed")

    def idle(self) -> None:
        """Tag work outside any span (set-up, answer checks) as untimed."""
        self._set_group(IDLE_GROUP, "untimed")

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "span_id": s.span_id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "run_id": s.run_id,
                    "attrs": s.attrs,
                }) + "\n")


def self_time(span: Span, spans: list[Span]) -> float:
    """Span wall minus the part of its interval its child spans cover."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == span.span_id)
    return span.wall - _union_length(kids, span.start, span.end)


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class _Stage:
    job: int | None = None
    submitted: float | None = None
    completed: float | None = None
    first_launch: float | None = None
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0


def parse_event_log(path: str):
    """Read an uncompressed Spark event log into (jobs, stages).

    ``jobs`` maps job id → {"group", "submitted"} (seconds); ``stages`` maps
    (stage id, attempt) → _Stage with task counters summed over its tasks.
    """
    jobs: dict[int, dict] = {}
    stages: dict[tuple, _Stage] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submitted": ev["Submission Time"] / 1000.0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]), _Stage())
                st.job = stage_job.get(info["Stage ID"])
                if info.get("Submission Time") is not None:
                    st.submitted = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]), _Stage())
                if st.job is None:
                    st.job = stage_job.get(info["Stage ID"])
                if info.get("Submission Time") is not None:
                    st.submitted = info["Submission Time"] / 1000.0
                if info.get("Completion Time") is not None:
                    st.completed = info["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), _Stage())
                if st.job is None:
                    st.job = stage_job.get(ev["Stage ID"])
                info = ev.get("Task Info") or {}
                launch = info.get("Launch Time")
                if launch is not None:
                    launch /= 1000.0
                    if st.first_launch is None or launch < st.first_launch:
                        st.first_launch = launch
                st.tasks += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success" or info.get("Failed"):
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.run_s += m.get("Executor Run Time", 0) / 1000.0
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                inp = m.get("Input Metrics") or {}
                st.input_bytes += inp.get("Bytes Read", 0)
                st.input_rows += inp.get("Records Read", 0)
                st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs, stages


def attribute(spans: list[Span], jobs: dict, stages: dict) -> tuple[dict, int]:
    """Each span's own counters (keyed by span id) from the parsed event
    log, and the number of failed tasks anywhere in the log.

    A job belongs to the span whose id is its job group. A job whose group
    is no span and not the idle group (a stream thread's job) belongs to the
    innermost span whose window contains its submission time. Own counters
    leave out child spans' jobs; ``rollup`` adds a subtree together.
    """
    by_id = {s.span_id: s for s in spans}
    depth = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_id[p].parent
        depth[s.span_id] = d
    owner: dict[int, str] = {}
    for jid, j in jobs.items():
        g = j["group"]
        if g in by_id:
            owner[jid] = g
        elif g != IDLE_GROUP:
            hits = [s for s in spans if s.start <= j["submitted"] <= s.end]
            if hits:
                owner[jid] = max(hits, key=lambda s: depth[s.span_id]).span_id
    own = {s.span_id: {**dict.fromkeys(COUNTERS, 0), "input_rows": 0, "active": []}
           for s in spans}
    for sid in owner.values():
        own[sid]["jobs"] += 1
    failed = 0
    for st in stages.values():
        failed += st.failed_tasks
        sid = owner.get(st.job)
        if sid is None:
            continue
        c = own[sid]
        c["tasks"] += st.tasks
        c["executor_run_s"] += st.run_s
        c["executor_cpu_s"] += st.cpu_s
        c["input_bytes"] += st.input_bytes
        c["input_rows"] += st.input_rows
        c["shuffle_bytes"] += st.shuffle_bytes
        c["output_bytes"] += st.output_bytes
        if st.submitted is not None and st.first_launch is not None:
            c["sched_wait_s"] += max(0.0, st.first_launch - st.submitted)
        if st.submitted is not None and st.completed is not None:
            c["active"].append((st.submitted, st.completed))
    return own, failed


def rollup(root: Span, spans: list[Span], own: dict, skip: tuple = ()) -> dict:
    """Counters of ``root`` and its descendants, leaving out subtrees whose
    span name is in ``skip``. ``wall_s`` is the root's wall minus the
    skipped subtrees; ``driver_s`` is the part of that in which no stage of
    the included work was active."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out = {**dict.fromkeys(COUNTERS, 0), "input_rows": 0}
    active, skipped = [], []
    todo = [root]
    while todo:
        s = todo.pop()
        for c, v in own[s.span_id].items():
            if c == "active":
                active.extend(v)
            elif c not in ("wall_s", "driver_s"):
                out[c] += v
        for k in kids.get(s.span_id, []):
            (skipped if k.name in skip else todo).append(k)
    out["wall_s"] = root.wall - _union_length([(k.start, k.end) for k in skipped],
                                              root.start, root.end)
    out["driver_s"] = out["wall_s"] - _union_length(active, root.start, root.end)
    return out


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
