#!/usr/bin/env python
"""Registry-wide single-task-stage sweep (optimization rounds).

Runs every registered query once warm + once timed against
``$SPARK_GRAFT_SF_DIR`` and, via the Spark UI REST API, records every
stage of the timed run that completed with <= 2 tasks while burning
>= ``--min-run`` seconds of executor time. Those are the stages that
serialize onto one core: at corpus scale they are the scale-killers the
optimization guide (§2.5-2.6) says to hunt first. The bench only covers
the 75 headline queries; this sweep is the mechanized backstop for the
other ~540 registered paths.

Output: one JSON line per query appended to ``--out`` (default
``plans/r14/single_task_sweep.jsonl``) with the wall time and any hot
single-task stages, plus a final summary line. Deliberately separate
from ``bench.py``: this is a diagnostic artifact, not the driver
contract.

Usage::

    python tools/sweep_single_task.py                  # full registry
    python tools/sweep_single_task.py --only a,b,c     # subset
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UI_PORT = int(os.environ.get("SPARK_GRAFT_SWEEP_UI_PORT", "4057"))


def build_spark():
    """The bench session conf (session.get_spark) with the UI enabled so
    the REST API can report per-stage task counts."""
    from spark_streaming_test_spark.protoshim import ensure_protobuf

    ensure_protobuf()
    from pyspark.sql import SparkSession

    from spark_streaming_test_spark.session import default_parallelism

    cpus = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("single-task-sweep")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _ts(s: str) -> float:
    return (
        datetime.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma-separated query subset")
    ap.add_argument("--min-run", type=float, default=0.3,
                    help="executor-run seconds for a stage to count as hot")
    ap.add_argument("--max-tasks", type=int, default=2,
                    help="stages with <= this many tasks are 'single-task'")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r14", "single_task_sweep.jsonl"))
    args = ap.parse_args()

    spark = build_spark()
    from spark_streaming_test_spark import registry
    from spark_streaming_test_spark.session import reset_query_state

    qs = registry.queries()
    names = [n for n in args.only.split(",") if n] or sorted(qs)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    app_id = spark.sparkContext.applicationId

    def get(path: str):
        url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}{path}"
        with urllib.request.urlopen(url) as r:
            return json.load(r)

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    n_hot = 0
    with open(args.out, "a") as out:
        for i, name in enumerate(names):
            rec: dict = {"query": name}
            try:
                fn = qs[name]
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                reset_query_state(spark)
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                wall = time.time() - t0
                # Stages submitted inside the timed window with <= N
                # tasks and meaningful executor time: serialized compute.
                stages = get("/stages?status=complete")
                recent = [
                    s for s in stages
                    if s.get("submissionTime") and _ts(s["submissionTime"]) >= t0
                ]
                hot = [
                    {
                        "stage": s["stageId"],
                        "tasks": s["numCompleteTasks"],
                        "run_s": round(s["executorRunTime"] / 1000, 3),
                        "input_mb": s["inputBytes"] >> 20,
                        "shuffle_read_kb": s["shuffleReadBytes"] >> 10,
                        "name": s["name"][:80],
                    }
                    for s in recent
                    if s["numCompleteTasks"] <= args.max_tasks
                    and s["executorRunTime"] >= args.min_run * 1000
                ]
                rec.update(wall=round(wall, 3), n_stages=len(recent), hot=hot)
                if hot:
                    n_hot += 1
                    print(f"[{i+1}/{len(names)}] {name} wall={wall:.2f}s "
                          f"HOT: " + "; ".join(
                              f"stage{h['stage']}:{h['tasks']}t/"
                              f"{h['run_s']}s" for h in hot[:3]),
                          flush=True)
                reset_query_state(spark)
            except Exception as e:  # record, keep sweeping
                rec["err"] = str(e)[:200]
                print(f"[{i+1}/{len(names)}] {name} ERR {rec['err'][:80]}",
                      flush=True)
                try:
                    reset_query_state(spark)
                except Exception:
                    pass
            out.write(json.dumps(rec) + "\n")
            out.flush()
        out.write(json.dumps({
            "summary": True, "n_queries": len(names),
            "n_with_hot_single_task": n_hot,
            "min_run_s": args.min_run, "max_tasks": args.max_tasks,
            "sf_dir": sf_dir,
            "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }) + "\n")
    print(f"done: {len(names)} queries, {n_hot} with hot single-task stages")


if __name__ == "__main__":
    main()
