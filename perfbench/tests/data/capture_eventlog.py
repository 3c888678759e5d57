"""Capture the small Spark event log that the self-tests parse.

Run once from the repository root:

    python3 perfbench/tests/data/capture_eventlog.py

It runs three jobs on ``local[2]`` under the job groups the parser sees in
a real run -- a build-phase job, a job under a group the benchmark did not set
and a ``noop`` write through a Python worker with one shuffle -- and writes
``eventlog_sample.jsonl`` beside this file. Only job and task events are
kept, and of a job start only the fields the parser reads: the other
events and fields record the capturing host's environment and file paths.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd")
JOB_START_FIELDS = ("Event", "Job ID", "Submission Time", "Stage IDs")


def _double(batches):
    for b in batches:
        yield b.assign(y=b.id * 2)


def main() -> None:
    log_dir = tempfile.mkdtemp(dir=HERE)
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "1g")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{log_dir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobGroup("pb:0.0:build", "build")
        spark.range(10).collect()
        sc.setJobGroup("stream-run", "micro-batch")
        spark.range(5).collect()
        sc.setJobGroup("pb:1.0:exec", "exec")
        (
            spark.range(20000, numPartitions=2).repartition(2)
            .mapInPandas(_double, "id long, y long")
            .write.format("noop").mode("overwrite").save()
        )
        spark.stop()
        (log_file,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        with open(log_file) as src, open(os.path.join(HERE, "eventlog_sample.jsonl"), "w") as out:
            for line in src:
                ev = json.loads(line)
                if ev["Event"] not in KEEP:
                    continue
                if ev["Event"] == "SparkListenerJobStart":
                    group = ev["Properties"].get("spark.jobGroup.id")
                    ev = {k: ev[k] for k in JOB_START_FIELDS}
                    ev["Properties"] = {"spark.jobGroup.id": group}
                out.write(json.dumps(ev) + "\n")
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
