#!/usr/bin/env python3
"""Packet-flow vector benchmark.

    python3 perfbench/run.py --workload query_serve --seed 1 --seconds 20 --trace 0

Generates seeded packet-flow inputs, drives the engine's public layer
functions on ``local[<cpus>]`` from one closed-loop client, checks every
answer against an independent numpy reference, and prints a report followed
by one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs with the
Spark event log on, tags each timed call's jobs with its span, and reports
per-layer counters instead; it spends half its time traced and half on an
untraced session to measure the tracing overhead. Outputs (spans, the
per-span layer block, the report) land in ``.perfbench_out/`` under the
repository root. Exits non-zero when any answer is wrong or a call fails.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from tracing import (  # noqa: E402
    COUNTERS, Tracer, attribute, find_event_log, parse_event_log, rollup, self_time,
)

import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "index_op_p50_s": "s",
    "store_op_p50_s": "s",
    "exact_search_p50_s": "s",
    "recall_at_10": "ratio",
}
SLOTS = ("setup", "index_op", "store_op", "exact_search")
LAYER_COUNTERS = COUNTERS + ("input_rows",)
UNITS = {"jobs": "count", "tasks": "count", "input_bytes": "B", "shuffle_bytes": "B",
         "output_bytes": "B", "input_rows": "rows"}


def counter_unit(c: str) -> str:
    return UNITS.get(c, "s")


def start_session(tmp: str, eventlog_dir: str | None = None):
    from deployment_spark import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # explicit either way: a session restarted in the same JVM would
        # otherwise inherit the previous session's setting
        "spark.eventLog.enabled": "false",
    }
    if eventlog_dir:
        # uncompressed: Spark 4's default zstd codec has no Python decoder here
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + eventlog_dir,
        })
    spark = get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, end the JVM and wait for it, so that its peak
    RSS shows in RUSAGE_CHILDREN and no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def summary(xs: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    out = {"n": len(s), "p50": statistics.median(s) if s else None, "high": None}
    for p in (99.9, 99, 95, 90, 75):
        rank = math.ceil(p / 100 * len(s))
        if len(s) - rank >= 10:
            out["high"] = (p, s[rank - 1])
            break
    return out


def timed_spans(spans, name):
    return [s for s in spans if s.name == name and s.attrs.get("timed")]


def slot_value(spans, names, value) -> float:
    """Mean over the slot's span names of the per-name median of ``value``."""
    meds = [statistics.median(value(s) for s in timed_spans(spans, n)) for n in names]
    return sum(meds) / len(meds)


def covered(spans, slots) -> bool:
    return all(timed_spans(spans, n) for names in slots.values() for n in names)


def layer_block(spans, own) -> dict:
    """Per-span-name counters (median per call) and the ratio metrics."""
    block: dict = {}
    names = sorted({s.name for s in spans if s.name not in ("setup", "run", "check")})
    for n in names:
        calls = [s for s in spans if s.name == n]
        rolled = [rollup(s, spans, own, skip=("check",)) for s in calls]
        entry = {c: statistics.median(r[c] for r in rolled) for c in LAYER_COUNTERS}
        entry["calls"] = len(calls)
        results = [s.attrs.get("nq", 0) * s.attrs.get("k", 0) for s in calls]
        if n.startswith("ivf.search") and all(results):
            entry["rows_per_result"] = statistics.median(
                r["input_rows"] / q for r, q in zip(rolled, results))
        block[n] = entry
    crud_writes = [(s, rollup(s, spans, own)) for s in spans
                   if s.name in ("crud.create", "crud.delete_ids", "crud.upsert", "crud.update")]
    user = sum(s.attrs.get("user_bytes", 0) for s, _ in crud_writes)
    if user:
        block["crud.write_amplification"] = sum(r["output_bytes"] for _, r in crud_writes) / user
    reads = [(s, rollup(s, spans, own)) for s in spans if s.name == "crud.read_where_key_in"]
    returned = sum(s.attrs.get("returned", 0) for s, _ in reads)
    if returned:
        block["crud.read_amplification"] = sum(r["input_rows"] for _, r in reads) / returned
    return block


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import deployment_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    data, tmp, elog = (os.path.join(out, d) for d in ("data", "tmp", "eventlog"))
    for d in (data, tmp) + ((elog,) if args.trace else ()):
        os.makedirs(d)
    # keep every scratch file of Spark and Python inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp

    slots = workloads.SLOTS[args.workload]
    spark = start_session(tmp, elog if args.trace else None)
    tracer = Tracer(spark, tag_jobs=bool(args.trace))
    w = workloads.WORKLOADS[args.workload](spark, tracer, data, args.seed, bool(args.trace))
    crashed = False
    untraced = None
    try:
        with tracer.span("setup") as setup_span:
            w.setup()
        # process start → first timed call, less the answer checker's own
        # preparation (collecting reference vectors)
        setup_s = time.perf_counter() - T0 - sum(
            s.wall for s in tracer.spans if s.name == "check" and s.parent == setup_span.span_id)
        measure = args.seconds / 2 if args.trace else args.seconds
        with tracer.span("run") as run_span:
            w.run(measure, lambda: covered(tracer.spans, slots))
        if args.trace:
            # the second half runs untraced on a fresh session in the same
            # JVM: the ratio of the two halves' slot latencies is the
            # tracing overhead. Stopping the session also closes the log.
            spark.stop()
            spark = start_session(tmp)
            untraced = Tracer(spark)
            w.rebind(spark, untraced)
            with untraced.span("run"):
                w.run(measure, lambda: covered(untraced.spans, slots))
        with (untraced or tracer).span("check"):
            w.finish()
    except Exception:  # recorded as a failed run; the JVM is still stopped
        import traceback

        traceback.print_exc()
        crashed = True
    finally:
        stop_jvm(spark)
    peak_rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                   + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss) / 1024.0

    o = w.out
    correct = not crashed and o.failed == 0 and covered(tracer.spans, slots)
    spans = tracer.spans
    tracer.write(os.path.join(out, "spans.jsonl"))
    report: dict = {"workload": args.workload, "seed": args.seed, "correct": correct,
                    "attempted": o.attempted, "failed": o.failed, "errors": o.errors}
    metrics: dict = {}
    if correct:
        named = named_metrics(args.workload, spans, w)
        named["setup_s"] = {"value": setup_s, "unit": "s"}
        named["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
        named["error_ratio"] = {"value": o.failed / max(1, o.attempted), "unit": "ratio"}
        report["named"] = named
        for k, v in named.items():
            extra = ""
            if "n" in v:
                hi = v.get("high")
                extra = (f"  (p{hi[0]:g} {hi[1]:.4f}, " if hi else "  (no high percentile, ") \
                    + f"n={v['n']})"
            print(f"{args.workload} {k} {v['value']:.6g} {v['unit']}{extra}")
        if not args.trace:
            e2e = {
                "setup_s": setup_s,
                "index_op_p50_s": slot_value(spans, slots["index_op"], lambda s: s.wall),
                "store_op_p50_s": slot_value(spans, slots["store_op"], lambda s: s.wall),
                "exact_search_p50_s": slot_value(spans, slots["exact_search"], lambda s: s.wall),
                "recall_at_10": sum(o.recall) / o.recall_n,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        else:
            metrics, layers = traced_metrics(spans, untraced.spans, slots, setup_span,
                                             run_span, find_event_log(elog))
            report["layers"] = {args.workload: layers}
            print("perfbench layers " + json.dumps(report["layers"], sort_keys=True))
    report["metrics"] = metrics
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": max(1, o.attempted),
                      "failed": o.failed + (1 if not correct and not o.failed else 0),
                      "metrics": metrics}))
    return 0 if correct else 1


def named_metrics(workload: str, spans, w) -> dict:
    """The per-workload metrics under per-call names."""
    def op(name):
        walls = [s.wall for s in timed_spans(spans, name)]
        sm = summary(walls)
        return {"value": sm["p50"], "unit": "s", "n": sm["n"], "high": sm["high"]}

    o = w.out
    if workload == "query_serve":
        create = next(s for s in spans if s.name == "crud.create")
        build = next(s for s in spans if s.name == "ivf.build")
        batch = next(s for s in spans if s.name == "ivf.search_batch")
        return {
            "ingest_rows_per_s": {"value": w.N / create.wall, "unit": "rows/s"},
            "index_build_s": {"value": build.wall, "unit": "s"},
            "bulk_search_qps": {"value": batch.attrs["nq"] / batch.wall, "unit": "queries/s"},
            "bulk_recall_at_10": {"value": o.extra["bulk_recall_at_10"], "unit": "ratio"},
            "ivf_search_p50_s": op("ivf.search"),
            "exact_search_p50_s": op("similarity.topk_similarity_join"),
            "point_read_p50_s": op("crud.read_where_key_in"),
            "recall_at_10": {"value": sum(o.recall) / o.recall_n, "unit": "ratio"},
        }
    return {
        "add_data_p50_s": op("streaming.ingest_to_store"),
        "delete_p50_s": op("crud.delete_ids"),
        "upsert_p50_s": op("crud.upsert"),
        "update_p50_s": op("crud.update"),
        "post_op_search_p50_s": op("similarity.topk_similarity_join"),
        "standing_recall_at_10": {"value": sum(o.recall) / o.recall_n, "unit": "ratio"},
    }


def traced_metrics(spans, untraced_spans, slots, setup_span, run_span, log_path):
    """Per-layer metrics of the traced half: per-slot counters attributed
    from the event log, plus tracing overhead and bookkeeping residual."""
    jobs, stages = parse_event_log(log_path)
    own, failed_tasks = attribute(spans, jobs, stages)
    metrics: dict = {}
    setup = rollup(setup_span, spans, own, skip=("check",))
    per_slot = {"setup": setup}
    for slot, names in slots.items():
        rolled = {id(s): rollup(s, spans, own) for n in names for s in timed_spans(spans, n)}
        per_slot[slot] = {c: slot_value(spans, names, lambda s, c=c: rolled[id(s)][c])
                          for c in LAYER_COUNTERS}
    for slot in SLOTS:
        for c in LAYER_COUNTERS:
            metrics[f"{slot}.{c}"] = {"value": per_slot[slot][c], "unit": counter_unit(c)}
    residual = self_time(run_span, spans)
    lat = [slot_value(spans, names, lambda s: s.wall) for names in slots.values()]
    lat_untraced = [slot_value(untraced_spans, names, lambda s: s.wall)
                    for names in slots.values()]
    metrics["tracing_overhead_ratio"] = {"value": sum(lat) / sum(lat_untraced), "unit": "ratio"}
    metrics["span_residual_s"] = {"value": residual, "unit": "s"}
    metrics["failed_tasks"] = {"value": failed_tasks, "unit": "count"}
    layers = layer_block(spans, own)
    layers["span_residual_share"] = residual / run_span.wall
    layers["tracing_overhead_ratio"] = metrics["tracing_overhead_ratio"]["value"]
    layers["failed_tasks"] = failed_tasks
    return metrics, layers


if __name__ == "__main__":
    sys.exit(main())
