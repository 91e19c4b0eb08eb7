"""Regenerate testdata/eventlog_small.json, the captured Spark event log
the self-tests parse.

    python3 perfbench/capture_eventlog.py     # from the checkout root

Runs two tiny job groups on local[2] with the event log on: a grouped
aggregation collected (one shuffle) and a mapInPandas
count (Python worker traffic). Only the event kinds and fields the
parser reads are kept, so the file stays small.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "testdata", "eventlog_small.json")
KEEP = ("SparkListenerJobStart", "SparkListenerExecutorAdded", "SparkListenerTaskEnd")


def _trim(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        return {"Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"],
                "Properties": {"spark.jobGroup.id": props.get("spark.jobGroup.id", "")}}
    if kind == "SparkListenerExecutorAdded":
        return {"Event": kind,
                "Executor Info": {"Total Cores": ev["Executor Info"]["Total Cores"]}}
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    return {
        "Event": kind, "Stage ID": ev["Stage ID"],
        "Task Info": {
            "Launch Time": info["Launch Time"], "Finish Time": info["Finish Time"],
            "Accumulables": [a for a in info.get("Accumulables", [])
                             if "Python" in (a.get("Name") or "")],
        },
        "Task Metrics": {k: m[k] for k in (
            "Executor Run Time", "Executor CPU Time", "JVM GC Time", "Input Metrics",
            "Shuffle Read Metrics", "Shuffle Write Metrics", "Memory Bytes Spilled",
            "Disk Bytes Spilled") if k in m},
    }


def main() -> int:
    sys.path.insert(0, os.getcwd())
    from public_transit_status_with_apache_kafka_spark.session import get_spark

    tmp = tempfile.mkdtemp(prefix="eventlog-", dir=os.path.join(HERE))
    try:
        spark = get_spark("capture", cpus=2, shuffle_partitions=2, extra_conf={
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": tmp,
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
            "spark.sql.adaptive.enabled": "false", "spark.ui.showConsoleProgress": "false",
        })
        sc = spark.sparkContext
        sc.setJobGroup("g:collect", "collect")
        spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        sc.setJobGroup("g:python", "python")

        def double(batches):
            for b in batches:
                yield b * 2

        spark.range(0, 1000, 1, 2).mapInPandas(double, "id long").count()
        spark.stop()
        (path,) = glob.glob(os.path.join(tmp, "*"))
        with open(path) as f, open(OUT, "w") as out:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event") in KEEP:
                    out.write(json.dumps(_trim(ev)) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
