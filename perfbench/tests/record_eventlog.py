"""Re-record perfbench/tests/data/small_eventlog.jsonl.

    python3 perfbench/tests/record_eventlog.py

Runs five tiny job groups on local[2] with the event log on, then keeps
only the events and fields perfbench.eventlog reads:

- "join": a left outer join, then an inner join whose condition drops rows;
- "py": a mapInPandas stage (Python-worker time);
- "other": a plain aggregation, no join;
- "refine": an equi-join followed by a filter that reads both sides,
  which Spark folds into the join;
- "refine#candidates": the same query with predicate push-down off.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

OUT = Path(__file__).resolve().parent / "data" / "small_eventlog.jsonl"
KEEP = {"SparkListenerJobStart", "SparkListenerTaskEnd",
        "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "org.apache.spark.sql.execution.ui."
        "SparkListenerSQLAdaptiveExecutionUpdate",
        "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"}
PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")


def trim(e: dict) -> dict:
    if e["Event"] == "SparkListenerJobStart":
        return {"Event": e["Event"], "Job ID": e["Job ID"],
                "Stage IDs": e["Stage IDs"],
                "Properties": {k: v for k, v in e["Properties"].items()
                               if k in PROPS}}
    if e["Event"] == "SparkListenerTaskEnd":
        return {"Event": e["Event"], "Stage ID": e["Stage ID"],
                "Task Info": {"Accumulables": [
                    {k: a[k] for k in ("ID", "Name", "Update") if k in a}
                    for a in e["Task Info"]["Accumulables"]]},
                "Task Metrics": e["Task Metrics"]}
    return {k: v for k, v in e.items()
            if k not in ("physicalPlanDescription", "details",
                         "modifiedConfigs")}


def main() -> None:
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    from engine.session import get_spark
    from perfbench.run import NO_PUSHDOWN
    log_dir = ROOT / ".bench_run" / "record-eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    spark = get_spark("record-eventlog", master="local[2]",
                      shuffle_partitions=2, driver_memory="1g",
                      extra_conf={"spark.eventLog.enabled": "true",
                                  "spark.eventLog.dir": log_dir.as_uri(),
                                  "spark.eventLog.compress": "false",
                                  "spark.eventLog.rolling.enabled": "false"})
    sc = spark.sparkContext
    a = spark.range(1000).withColumn("k", F.col("id") % 10)
    b = spark.range(20).withColumnRenamed("id", "k")
    sc.setJobGroup("join", "join")
    left = a.join(b, "k", "left").select("id", "k")
    inner = left.join(b.withColumnRenamed("k", "k2"),
                      (F.col("k") == F.col("k2")) & (F.col("id") < 500))
    inner.count()

    def ident(it):
        yield from it

    sc.setJobGroup("py", "py")
    a.mapInPandas(ident, a.schema).count()
    sc.setJobGroup("other", "other")
    a.groupBy("k").count().collect()

    def refine():
        c = spark.range(100).withColumn("k", F.col("id") % 10)
        d = spark.range(30).select(F.col("id").alias("j"),
                                   (F.col("id") % 10).alias("k"))
        c.join(d, "k").filter(F.col("id") < F.col("j")).count()

    sc.setJobGroup("refine", "refine")
    refine()
    sc.setJobGroup("refine#candidates", "refine#candidates")
    spark.conf.set("spark.sql.optimizer.excludedRules", NO_PUSHDOWN)
    refine()
    spark.stop()

    (src,) = list(log_dir.iterdir())
    OUT.parent.mkdir(parents=True, exist_ok=True)
    with open(src) as f, open(OUT, "w") as out:
        for line in f:
            e = json.loads(line)
            if e["Event"] in KEEP:
                out.write(json.dumps(trim(e)) + "\n")
    shutil.rmtree(log_dir)
    try:
        log_dir.parent.rmdir()
    except OSError:
        pass


if __name__ == "__main__":
    main()
