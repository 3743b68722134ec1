"""Record ``small_eventlog.json``, the event-log parser's test fixture.

    python3 perfbench/tests/fixtures/record_eventlog.py

Runs two small SQL writes at ``local[2]`` with the event log on, each under
its own job group:

- ``g1``: 1000 rows broadcast-joined to a 5-row dim, then filtered by a
  pandas UDF that keeps odd ids (500 rows written);
- ``g2``: those rows grouped by key (5 groups) through a shuffle, then
  passed through ``mapInArrow``.

It keeps the events and fields ``eventlog.parse`` reads and drops the rest,
so the fixture stays small.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))

_KEEP_PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")


def _plan(p: dict) -> dict:
    return {
        "nodeName": p["nodeName"],
        "metrics": p["metrics"],
        "children": [_plan(c) for c in p["children"]],
    }


def trim(e: dict) -> dict | None:
    kind = e["Event"]
    if kind.endswith("SQLExecutionStart"):
        return {
            "Event": kind,
            "executionId": e["executionId"],
            "jobGroupId": e.get("jobGroupId"),
            "sparkPlanInfo": _plan(e["sparkPlanInfo"]),
        }
    if kind.endswith("SQLAdaptiveExecutionUpdate"):
        return {"Event": kind, "executionId": e["executionId"],
                "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
    if kind.endswith("DriverAccumUpdates"):
        return e
    if kind == "SparkListenerJobStart":
        props = {k: v for k, v in (e.get("Properties") or {}).items() if k in _KEEP_PROPS}
        return {"Event": kind, "Job ID": e["Job ID"], "Stage IDs": e["Stage IDs"],
                "Properties": props}
    if kind == "SparkListenerTaskEnd":
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        return {
            "Event": kind,
            "Stage ID": e["Stage ID"],
            "Task Info": {
                "Launch Time": info["Launch Time"],
                "Finish Time": info["Finish Time"],
                "Accumulables": [a for a in info["Accumulables"] if a.get("Metadata") == "sql"],
            },
            "Task Metrics": {k: tm.get(k, 0) for k in ("JVM GC Time", "Disk Bytes Spilled")},
        }
    return None


def record(out_path: str) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    tmp = tempfile.mkdtemp()
    logdir = os.path.join(tmp, "log")
    os.makedirs(logdir)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", logdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext

    @pandas_udf("boolean")
    def odd(x: pd.Series) -> pd.Series:
        return x % 2 == 1

    def passthrough(batches):
        yield from batches

    sc.setJobGroup("g1", "join and filter")
    dim = spark.createDataFrame([(i, i * 10) for i in range(5)], "k long, v long")
    (
        spark.range(0, 1000, 1, 2)
        .withColumn("k", F.col("id") % 5)
        .join(F.broadcast(dim), "k")
        .filter(odd(F.col("id")))
        .write.parquet(os.path.join(tmp, "t1"))
    )
    sc.setJobGroup("g2", "group and map")
    (
        spark.read.parquet(os.path.join(tmp, "t1"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .mapInArrow(passthrough, "k long, n long")
        .write.parquet(os.path.join(tmp, "t2"))
    )
    spark.stop()

    (log,) = glob.glob(os.path.join(logdir, "*"))
    with open(log) as f, open(out_path, "w") as out:
        for line in f:
            e = trim(json.loads(line))
            if e is not None:
                out.write(json.dumps(e, separators=(",", ":")) + "\n")
    shutil.rmtree(tmp)


if __name__ == "__main__":
    record(os.path.join(HERE, "small_eventlog.json"))
    sys.exit(0)
