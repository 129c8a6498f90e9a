"""Re-capture ``data/eventlog_small.jsonl`` for test_trace.py.

Usage (from the repo root): ``python3 perfbench/tests/capture_eventlog.py``

Runs two tiny job groups on ``local[2]`` with AQE off (one job per
action, fixed stage shapes), then keeps only the events and fields
``perfbench.trace.parse_event_log`` reads.
"""

from __future__ import annotations

import glob
import json
import os
import tempfile

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")
_KEEP = ("JobStart", "JobEnd", "StageCompleted", "TaskEnd", "SQLExecutionStart",
         "SQLAdaptiveExecutionUpdate", "LogStart")
_ROWS = "number of output rows"


def _evens(batches):
    for pdf in batches:
        yield pdf[pdf["id"] % 2 == 0]


def main() -> None:
    from pyspark.sql import SparkSession

    with tempfile.TemporaryDirectory() as logdir:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{logdir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobGroup("g|construct", "construct")
        spark.range(0, 10, 1, 1).count()
        sc.setJobGroup("g|fetch", "fetch")
        (
            spark.range(0, 10, 1, 3)
            .mapInPandas(_evens, "id LONG")
            .repartition(2, "id")
            .collect()
        )
        spark.stop()
        (path,) = glob.glob(os.path.join(logdir, "*"))
        with open(path) as src, open(OUT, "w") as dst:
            for line in src:
                ev = json.loads(line)
                if not ev["Event"].endswith(_KEEP):
                    continue
                if "Properties" in ev:
                    ev["Properties"] = {
                        k: v for k, v in ev["Properties"].items() if k == "spark.jobGroup.id"
                    }
                # call sites (file paths) and plan text are not parsed
                for k in ("Stage Infos", "physicalPlanDescription", "description", "details"):
                    ev.pop(k, None)
                for k in ("Accumulables", "Details", "Stage Name", "RDD Info"):
                    ev.get("Stage Info", {}).pop(k, None)
                info = ev.get("Task Info")
                if info is not None:
                    info["Accumulables"] = [
                        a for a in info.get("Accumulables", ()) if a.get("Name") == _ROWS
                    ]
                dst.write(json.dumps(ev) + "\n")


if __name__ == "__main__":
    main()
