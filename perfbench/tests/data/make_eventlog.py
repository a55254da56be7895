"""Regenerate eventlog_small.json, the recorded Spark event log that
test_spans.py parses.

    python3 perfbench/tests/data/make_eventlog.py

Runs two labelled jobs on local[2] with the event log on, then keeps only
the job, stage, task and SQL events, with the properties and fields the
parser reads (no host paths, no environment dump).
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
KEEP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.sql.execution.id")
KEEP_EVENTS = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
               "SparkListenerStageCompleted", "SparkListenerTaskEnd",
               "SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate",
               "SparkListenerDriverAccumUpdates")


def slim(ev: dict) -> dict:
    if "Properties" in ev:
        ev["Properties"] = {k: v for k, v in (ev["Properties"] or {}).items() if k in KEEP_PROPS}
    for key in ("physicalPlanDescription", "details", "modifiedConfigs", "Stage Infos"):
        ev.pop(key, None)
    for info in (ev.get("Stage Info"),):
        if info:
            info.pop("Details", None)
            info.pop("RDD Info", None)
            info["Stage Name"] = info.get("Stage Name", "").split(" at ")[0]
    return ev


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as tmp:
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", Path(tmp).as_uri())
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false")
                 .getOrCreate())
        sc = spark.sparkContext
        sc.setJobGroup("perfbench-0", "agg")
        spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count().collect()
        sc.setJobGroup("perfbench-1", "noop")
        spark.range(100).write.format("noop").mode("overwrite").save()
        spark.stop()
        (log,) = Path(tmp).iterdir()
        events = [json.loads(line) for line in log.read_text().splitlines()]
    kept = [slim(e) for e in events if e.get("Event", "").split(".")[-1] in KEEP_EVENTS]
    text = "\n".join(json.dumps(e, separators=(",", ":")) for e in kept) + "\n"
    if any(p in text for p in (str(Path.home()), tempfile.gettempdir(), str(HERE.parents[2]))):
        sys.exit("the slimmed log still holds a host path")
    (HERE / "eventlog_small.json").write_text(text)


if __name__ == "__main__":
    main()
