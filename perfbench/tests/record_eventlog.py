"""Record the small event log that test_tracing.py parses.

    python3 perfbench/tests/record_eventlog.py

Runs three spans on a local session with an uncompressed event log: a
parquet write, a shuffle, and a job launched from another thread without
the span's job group (attributed by time window, like a foreachBatch job).
One more job runs outside any span. Keeps only the listener events the
parser reads and writes them, with the spans, under tests/data/.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from tracing import Tracer, find_event_log  # noqa: E402

KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd"}


def main() -> None:
    from deployment_spark import get_spark

    tmp = tempfile.mkdtemp()
    logdir = os.path.join(tmp, "log")
    os.makedirs(logdir)
    spark = get_spark(app_name="perfbench-record", cpus=2, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + logdir,
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
    })
    tracer = Tracer(spark, tag_jobs=True)
    tracer.idle()
    spark.range(10).count()  # outside every span
    with tracer.span("write"):
        spark.range(5000).write.mode("overwrite").parquet(os.path.join(tmp, "p"))
    with tracer.span("shuffle"):
        spark.range(5000).selectExpr("id % 7 as g").groupBy("g").count().collect()
    with tracer.span("thread"):
        t = threading.Thread(target=lambda: spark.range(2000).selectExpr("sum(id)").collect())
        t.start()
        t.join(timeout=60)
        time.sleep(0.2)
    tracer.idle()
    spark.stop()
    src = find_event_log(logdir)
    with open(src) as f, open(os.path.join(HERE, "data", "eventlog.json"), "w") as out:
        for line in f:
            ev = json.loads(line)
            if ev.get("Event") not in KEEP:
                continue
            ev.pop("Stage Infos", None)
            props = ev.get("Properties")
            if props is not None:
                ev["Properties"] = {k: v for k, v in props.items() if k == "spark.jobGroup.id"}
            for k in ("Stage Info", "Task Info"):
                if k in ev:
                    ev[k].pop("Accumulables", None)
                    ev[k].pop("RDD Info", None)
            info = ev.get("Stage Info")
            if info:
                # call sites name local files; keep only the operation
                info.pop("Details", None)
                info["Stage Name"] = info.get("Stage Name", "").split(" at ")[0]
            out.write(json.dumps(ev, sort_keys=True) + "\n")
    tracer.write(os.path.join(HERE, "data", "spans.jsonl"))
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
