"""The event-log parser and span attribution on a small recorded log
(tests/data, made by record_eventlog.py): a parquet write, a shuffle, and
a job from another thread without the span's job group."""

import json
import os

from tracing import Span, attribute, parse_event_log, rollup

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _load():
    spans = []
    with open(os.path.join(DATA, "spans.jsonl")) as f:
        for line in f:
            d = json.loads(line)
            spans.append(Span(d["span_id"], d["name"], d["start"], d["end"], d["parent"],
                              d["run_id"], d["attrs"]))
    jobs, stages = parse_event_log(os.path.join(DATA, "eventlog.json"))
    return spans, jobs, stages


def test_parser_reads_jobs_groups_and_task_counters():
    spans, jobs, stages = _load()
    assert len(jobs) == 7
    assert [jobs[j]["group"] for j in (0, 1)] == ["perfbench-idle"] * 2
    assert jobs[5]["group"] is None and jobs[6]["group"] is None
    assert sum(s.tasks for s in stages.values()) == 11
    assert sum(s.output_bytes for s in stages.values()) == 20999


def test_jobs_tasks_and_bytes_land_on_their_spans():
    spans, jobs, stages = _load()
    own, failed = attribute(spans, jobs, stages)
    by = {s.name: rollup(s, spans, own) for s in spans}
    assert failed == 0
    assert (by["write"]["jobs"], by["write"]["tasks"]) == (1, 2)
    assert by["write"]["output_bytes"] == 20999 and by["write"]["shuffle_bytes"] == 0
    assert by["write"]["input_rows"] == 5000
    assert (by["shuffle"]["jobs"], by["shuffle"]["tasks"]) == (2, 3)
    assert by["shuffle"]["shuffle_bytes"] == 354 and by["shuffle"]["output_bytes"] == 0
    # group-less jobs from another thread fall into the span's time window
    assert (by["thread"]["jobs"], by["thread"]["tasks"]) == (2, 3)
    # the two idle-group jobs before the spans belong to none of them
    assert sum(b["jobs"] for b in by.values()) == 5
    for s in spans:
        b = by[s.name]
        assert b["wall_s"] == s.wall
        assert 0 <= b["driver_s"] <= b["wall_s"]
        assert b["executor_run_s"] > 0 and b["sched_wait_s"] >= 0


def test_rollup_adds_children_and_skips_named_subtrees():
    spans, jobs, stages = _load()
    root = Span("r", "root", spans[0].start - 1, spans[-1].end + 1)
    kids = [Span(s.span_id, s.name, s.start, s.end, "r", s.run_id) for s in spans]
    tree = [root] + kids
    own, _ = attribute(tree, jobs, stages)
    all_in = rollup(root, tree, own)
    assert all_in["jobs"] == 5 and all_in["tasks"] == 8
    no_write = rollup(root, tree, own, skip=("write",))
    assert no_write["jobs"] == 4 and no_write["output_bytes"] == 0
    assert abs(no_write["wall_s"] - (root.wall - kids[0].wall)) < 1e-9
