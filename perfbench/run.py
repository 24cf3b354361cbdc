#!/usr/bin/env python3
"""spark-graft benchmark: one command, three workloads, split by layer.

    python3 perfbench/run.py --workload queries_sf01 --seed 1 --seconds 10 --trace 0

Workloads (see README.md beside this file):

* ``queries_sf01``   closed loop over headline queries at sf0.1;
* ``traffic_stream`` the paper's NIC-packet -> edge-triggered alert
  stream, open loop from a separate generator process;
* ``queries_x10``    closed loop over queries at a seeded 10x grain, for
  scaling claims; run by hand, it is not in BENCHMARK.json.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (name -> value and unit): the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds run details (sample counts, the
tail percentile used, per-pass timings, failures). The run reads and
writes only inside its checkout (under ``.bench_build/perfbench``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import check_checkout, prepare_env  # noqa: E402

WORKLOADS = ("queries_sf01", "traffic_stream", "queries_x10")
DEADLINE_S = 175.0  # the run must end within 180 s

END_TO_END = {
    "setup_s": "s",
    "suite_s": "s",
    "cold_suite_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "event_latency_p50_ms": "ms",
    "event_latency_p99_ms": "ms",
    "processed_eps": "1/s",
}


def per_layer_units(workload: str) -> dict[str, str]:
    """Every per-layer metric a traced run of ``workload`` reports, with
    its unit. A workload that does not exercise a layer reports 0 for
    it; ``queries_x10`` adds its own per-query times."""
    from batch import SF01_QUERIES, X10_QUERIES

    units = {
        "registry.build_s": "s",
        "registry.build_jobs": "count",
        "spark.plan_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.small_stages": "count",
        "spark.exec_s": "s",
        "spark.task_run_s": "s",
        "spark.task_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.slot_busy_share": "ratio",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.failed_tasks": "count",
        "catalog.input_bytes": "bytes",
        "catalog.input_rows": "count",
        "session.get_spark_s": "s",
        "session.reset_query_state_s": "s",
        "stream.trigger_ms_p50": "ms",
        "stream.add_batch_ms_p50": "ms",
        "stream.latest_offset_ms_p50": "ms",
        "stream.query_planning_ms_p50": "ms",
        "stream.wal_commit_ms_p50": "ms",
        "stream.commit_offsets_ms_p50": "ms",
        "state.commit_ms_p50": "ms",
        "stream.rows_per_batch_p50": "count",
        "stream.batches": "count",
        "state.rows_total_end": "count",
        "state.memory_bytes_end": "bytes",
        "state.rows_updated": "count",
        "source.lag_records_max": "count",
        "source.lag_records_end": "count",
        "sink.alert_records": "count",
        "sink.records_per_expected": "ratio",
        "gen.offered_eps": "1/s",
        "gen.lateness_p99_ms": "ms",
        "trace.overhead_share": "ratio",
    }
    queries = SF01_QUERIES + (X10_QUERIES if workload == "queries_x10" else [])
    for name in dict.fromkeys(queries):
        units[f"query.{name}.s"] = "s"
    return units


def _watchdog() -> None:
    """End the process (and with it the JVM, which exits when its stdin
    closes) if the run overstays; no result line is printed."""
    time.sleep(DEADLINE_S)
    sys.stderr.write(f"perfbench: no result within {DEADLINE_S:.0f} s, giving up\n")
    sys.stderr.flush()
    os._exit(3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    why = check_checkout()
    if why:
        sys.stderr.write(f"perfbench: cannot run here: {why}\n")
        return 2
    threading.Thread(target=_watchdog, daemon=True).start()
    prepare_env(bool(args.trace))

    try:
        if args.workload == "traffic_stream":
            import stream

            res = stream.run(args.seed, args.seconds, bool(args.trace))
        else:
            import batch

            res = batch.run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 - report and exit without a result line
        traceback.print_exc()
        return 1

    if args.trace:
        metrics = {
            name: {"value": res.metrics.get(name, 0.0), "unit": unit}
            for name, unit in per_layer_units(args.workload).items()
        }
    else:
        metrics = {
            name: {"value": res.metrics[name], "unit": unit}
            for name, unit in END_TO_END.items()
        }
    print(json.dumps({"details": res.details}, default=str))
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
