"""Capture the small event log that test_eventlog.py folds.

    python3 perfbench/unittests/make_eventlog_fixture.py

Runs four tiny jobs sets on local[2] with the benchmark's job-group
scheme, then keeps only the events the fold reads (and, of those, only
the fields it reads) in ``data/eventlog_small.jsonl``. Also writes the
epoch-millisecond window of the ungrouped job to ``data/window.json``.
"""

from __future__ import annotations

import json
import tempfile
import time
from pathlib import Path

from pyspark.sql import SparkSession

HERE = Path(__file__).resolve().parent
KEEP = ("SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd",
        "SQLExecutionStart", "SQLAdaptiveExecutionUpdate")


def _double(batches):
    for pdf in batches:
        yield pdf.assign(v=pdf.id * 2)


def _slim(e: dict) -> dict:
    if e["Event"] == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        e["Properties"] = {k: v for k, v in props.items() if k == "spark.jobGroup.id"}
        e.pop("Stage Infos", None)
    elif e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
        e = {"Event": e["Event"], "executionId": e["executionId"], "sparkPlanInfo": e["sparkPlanInfo"]}
    elif e["Event"] == "SparkListenerStageCompleted":
        e["Stage Info"].pop("Accumulables", None)
        e["Stage Info"].pop("RDD Info", None)
    elif e["Event"] == "SparkListenerTaskEnd":
        e.pop("Task Executor Metrics", None)
    return e


def main() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", Path(tmp).as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        df = spark.range(100).selectExpr("id", "id % 3 AS k")
        sc.setJobGroup("q1|build", "eager count inside the build")
        df.count()
        out = df.mapInPandas(_double, "id long, k long, v long").groupBy("k").count()
        sc.setJobGroup("q1|exec", "noop write")
        out.write.format("noop").mode("overwrite").save()
        sc.setJobGroup("q2|exec", "parquet write")
        spark.range(10).write.mode("overwrite").parquet(str(Path(tmp) / "out"))
        sc.setLocalProperty("spark.jobGroup.id", None)
        start = time.time() * 1e3
        spark.range(5).count()
        window = {"start_ms": start, "end_ms": time.time() * 1e3}
        spark.stop()
        log = next(p for p in Path(tmp).iterdir() if p.is_file())
        events = [json.loads(line) for line in log.read_text().splitlines() if line.strip()]
    kept = [_slim(e) for e in events if e["Event"].endswith(KEEP)]
    (HERE / "data").mkdir(exist_ok=True)
    with open(HERE / "data" / "eventlog_small.jsonl", "w") as fh:
        for e in kept:
            fh.write(json.dumps(e) + "\n")
    (HERE / "data" / "window.json").write_text(json.dumps(window) + "\n")


if __name__ == "__main__":
    main()
