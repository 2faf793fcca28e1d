"""Record the small Spark event log that test_eventlog.py parses.

    python3 perfbench/tests/record_eventlog.py

Runs two tagged operations on local[2] with an uncompressed event log:
``plain`` (a JVM-only aggregate) and ``udf`` (the same through a pandas
UDF), then keeps only the event kinds the parser reads, with the bulky
fields it ignores removed, under ``perfbench/tests/data/eventlog/``.
The expected job counts come from Spark's status tracker and go to
``perfbench/tests/data/eventlog_expected.json``.
"""

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "data", "eventlog")
KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
}


def _slim(e: dict) -> dict:
    props = e.get("Properties")
    if props is not None:
        e["Properties"] = {k: v for k, v in props.items() if k == "spark.jobGroup.id"}
    e.pop("Stage Infos", None)
    info = e.get("Stage Info")
    if info is not None:
        e["Stage Info"] = {k: info[k] for k in ("Stage ID", "Stage Attempt ID", "Number of Tasks")}
    return e


def main() -> int:
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    tmp = tempfile.mkdtemp()
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", tmp)
            .config("spark.eventLog.compress", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        expect = {}
        sc.setJobGroup("plain", "plain")
        spark.range(20_000, numPartitions=2).groupBy((F.col("id") % 3).alias("k")).count().collect()
        expect["plain"] = len(sc.statusTracker().getJobIdsForGroup("plain"))
        sc.setJobGroup("udf", "udf")
        spark.range(20_000, numPartitions=2).select(plus_one("id").alias("x")).groupBy(
            (F.col("x") % 3).alias("k")
        ).count().collect()
        expect["udf"] = len(sc.statusTracker().getJobIdsForGroup("udf"))
        spark.stop()

        (app,) = glob.glob(os.path.join(tmp, "eventlog_v2_*"))
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(os.path.join(OUT, "eventlog_v2_local-0"))
        parts = glob.glob(os.path.join(app, "events_*"))
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
        for i, part in enumerate(parts):
            dst = os.path.join(OUT, "eventlog_v2_local-0", f"events_{i + 1}_local-0")
            with open(part) as src, open(dst, "w") as out:
                for line in src:
                    e = json.loads(line)
                    if e.get("Event") in KEEP:
                        out.write(json.dumps(_slim(e)) + "\n")
        with open(os.path.join(HERE, "data", "eventlog_expected.json"), "w") as f:
            json.dump(expect, f)
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
