"""Open-loop streaming workload ``traffic_stream``: the paper's pipeline.

``loadgen.py`` (a separate process) hosts the broker and offers NIC
packets on a fixed schedule. The stream reads them with
``format("kafka_wire")``, sums bytes per NIC per micro-batch (the
reference's per-batch ``reduceByKey``), keeps the last alert flag per
NIC in RocksDB through ``edge_trigger_stream_tws`` and produces the
edge-triggered Alert/Info messages back to the broker with
``write_alerts_kafka_wire``.

Timeline of a run: generator up -> session -> stream started (cold
trigger) -> ``WARM_TRIGGERS`` warm triggers on the generator's warm-up load
-> "go": the schedule runs ``--seconds`` -> drain -> stop. Metrics come
from the ``StreamingQueryListener`` progress events and the generator's
own log; the correctness check replays the edge-trigger truth table over
each trigger's recorded ``[startOffset, endOffset)`` input and compares
the Alert/Info counts found on the broker.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import numpy as np

import loadgen
import sparkstats
from common import (
    HERE,
    WORK,
    Result,
    Tracer,
    event_log_dir,
    median,
    percentile,
    process_start_epoch,
    stop_spark,
    tail,
)

WARM_TRIGGERS = 5  # triggers with input after the cold one, before "go"
WAIT_S = 120.0  # longest wait for any single stage of the run
TRIGGER_PARTS = (  # durationMs parts, in the order a trigger runs them
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)


# --- pure functions over recorded progress (unit-tested) -----------------------


def _epoch_ms(ts: str) -> float:
    return (
        dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
        * 1000.0
    )


def _offsets(raw) -> dict[int, int]:
    if raw is None:
        return {}
    if isinstance(raw, str):
        raw = json.loads(raw)
    return {int(p): int(o) for p, o in raw.items()}


def trigger_table(progress: list[dict]) -> list[dict]:
    """One row per trigger that read input, in batch order: start and
    end (epoch ms; end = ``timestamp`` + ``triggerExecution``), duration
    parts and the per-partition offset range it read."""
    rows = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if not p.get("numInputRows"):
            continue
        src = p["sources"][0]
        start = _epoch_ms(p["timestamp"])
        dur = p["durationMs"]
        state = (p.get("stateOperators") or [{}])[0]
        rows.append(
            {
                "batch": p["batchId"],
                "start_ms": start,
                "end_ms": start + dur["triggerExecution"],
                "duration": dur,
                "rows": p["numInputRows"],
                "from": _offsets(src.get("startOffset")),
                "to": _offsets(src.get("endOffset")),
                "state": state,
            }
        )
    return rows


def event_latencies(
    triggers: list[dict], events: dict[int, dict[str, np.ndarray]], t0_ms: float, t1_ms: float
) -> tuple[np.ndarray, list[dict]]:
    """Latency (ms) of every event due in ``[t0_ms, t1_ms)``: the end of
    the trigger whose input range held the event minus the event's due
    (creation) stamp; and the triggers that held such events (the
    measured triggers). ``events[p]`` holds ``offset`` and ``due``."""
    out = []
    held = []
    for trig in triggers:
        n = 0
        for p, hi in trig["to"].items():
            ev = events.get(p)
            if ev is None:
                continue
            lo = trig["from"].get(p, 0)
            sel = (ev["offset"] >= lo) & (ev["offset"] < hi)
            due = ev["due"][sel]
            due = due[(due >= t0_ms) & (due < t1_ms)]
            out.append(trig["end_ms"] - due)
            n += len(due)
        if n:
            held.append(trig)
    return (np.concatenate(out) if out else np.zeros(0)), held


def replay_alerts(
    triggers: list[dict], events: dict[int, dict[str, np.ndarray]], limit: float
) -> tuple[int, int]:
    """(alerts, infos) the edge-trigger truth table emits over the
    recorded micro-batches: per batch, per NIC total = sum of packet
    sizes; emit when the NIC has no prior flag or its flag flips."""
    last: dict[int, bool] = {}
    alerts = infos = 0
    for trig in triggers:
        totals: dict[int, float] = {}
        for p, hi in trig["to"].items():
            ev = events[p]
            lo = trig["from"].get(p, 0)
            sel = (ev["offset"] >= lo) & (ev["offset"] < hi)
            nics, sizes = ev["nic"][sel], ev["size"][sel]
            sums = np.bincount(nics, weights=sizes, minlength=loadgen.NICS)
            for nic in np.unique(nics):
                totals[int(nic)] = totals.get(int(nic), 0.0) + float(sums[nic])
        for nic, total in totals.items():
            flag = total > limit
            if last.get(nic) != flag:
                if flag:
                    alerts += 1
                else:
                    infos += 1
            last[nic] = flag
    return alerts, infos


def source_lag(triggers: list[dict], events: dict[int, dict[str, np.ndarray]]) -> list[int]:
    """Records created before each trigger ended but not yet read by it
    or an earlier trigger: the queue the next trigger starts with."""
    dues = np.sort(np.concatenate([ev["due"] for ev in events.values()]))
    lags = []
    for trig in triggers:
        created = int(np.searchsorted(dues, trig["end_ms"], side="right"))
        lags.append(max(0, created - sum(trig["to"].values())))
    return lags


def load_events(path: str) -> dict[int, dict[str, np.ndarray]]:
    with np.load(path) as z:
        return {
            p: {k: z[f"{k}_{p}"] for k in ("offset", "nic", "size", "due")}
            for p in range(loadgen.PARTITIONS)
        }


# --- the run -----------------------------------------------------------------


class _Generator:
    """The loadgen child process and its line protocol."""

    def __init__(self, seed: int, seconds: float, out: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--seed", str(seed),
             "--seconds", str(seconds), "--out", out],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"load generator exited (code {self.proc.poll()})")
        return json.loads(line)

    def send(self, word: str) -> None:
        self.proc.stdin.write(word + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send("exit")
            except (BrokenPipeError, OSError):
                pass
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)


def _wait_for(cond, what: str, timeout: float = WAIT_S) -> None:
    end = time.time() + timeout
    while not cond():
        if time.time() > end:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


def run(seed: int, seconds: float, trace: bool) -> Result:
    t_proc = process_start_epoch()
    res = Result()
    tracer = Tracer(trace)
    sdir = os.path.join(WORK, "stream")
    shutil.rmtree(sdir, ignore_errors=True)
    os.makedirs(sdir)
    log_path = os.path.join(sdir, "events.npz")
    gen = _Generator(seed, seconds, log_path)
    try:
        return _run(res, tracer, gen, t_proc, seed, seconds, trace, sdir, log_path)
    finally:
        gen.close()


def _run(res, tracer, gen, t_proc, seed, seconds, trace, sdir, log_path) -> Result:
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from spark_streaming_test_spark import session
    from spark_streaming_test_spark.operators.traffic import (
        ALERT_MSG,
        INFO_MSG,
        lookup_max_limit,
    )
    from spark_streaming_test_spark.sources import kafka_wire_source
    from spark_streaming_test_spark.sources.kafka_wire import KafkaWireConsumer
    from spark_streaming_test_spark.streaming.pipeline import (
        edge_trigger_stream_tws,
        write_alerts_kafka_wire,
    )

    port = gen.read()["port"]
    host = "127.0.0.1"
    t = time.time()
    spark = session.get_spark("perfbench")
    get_spark_s = time.time() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        kafka_wire_source.register(spark)
        # the pipeline's own threshold: the ``traffic_limits`` max, looked up
        # as the reference does (bytes per NIC per micro-batch)
        limit = float(lookup_max_limit(spark))

        progress: dict[int, dict] = {}
        lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with lock:
                    progress[p["batchId"]] = p

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

        def with_input() -> list[dict]:
            with lock:
                return [p for p in progress.values() if p.get("numInputRows")]

        raw = (
            spark.readStream.format("kafka_wire")
            .option("host", host)
            .option("port", str(port))
            .option("topic", loadgen.TOPIC)
            .option("partitions", ",".join(str(p) for p in range(loadgen.PARTITIONS)))
            .load()
        )
        packets = raw.select(
            F.col("key").cast("string").alias("nif"),
            F.length("value").cast("double").alias("total_bytes"),
        )
        alerts = edge_trigger_stream_tws(packets, limit)
        t_start = time.time()
        query = write_alerts_kafka_wire(
            alerts, host, port, topic="alerts", checkpoint=os.path.join(sdir, "checkpoint")
        )
        try:
            _wait_for(lambda: len(with_input()) >= 1 + WARM_TRIGGERS, "warm-up triggers")
            setup_s = time.time() - t_proc
            gen.send("go")
            t0_ms = gen.read()["t0_ms"]
            gen.read()  # {"done": true}: the schedule has ended
            t1_ms = t0_ms + seconds * 1000.0
            query.processAllAvailable()
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
        finally:
            query.stop()
        # the listener bus may deliver the last progress after stop
        recent = {p["batchId"]: p for p in (json.loads(x.json) for x in query.recentProgress)}
        time.sleep(0.5)
        with lock:
            recent.update(progress)
        with KafkaWireConsumer(host, port) as consumer:
            sink = [v.decode() for _o, _k, v, _t in consumer.fetch_all("alerts", 0)]
        gen.send("exit")
        stats = gen.read()
    finally:
        stop_spark(spark)

    events = load_events(log_path)
    triggers = trigger_table(list(recent.values()))
    produced = sum(len(ev["offset"]) for ev in events.values())
    read = sum(triggers[-1]["to"].values()) if triggers else 0
    lat, window = event_latencies(triggers, events, t0_ms, t1_ms)
    suite_s = (window[-1]["end_ms"] - t0_ms) / 1000.0

    # correctness: every record read exactly once, every scheduled event
    # through the sink, Alert/Info counts equal to the replay
    res.attempted = int(stats["offered"])
    res.failed = res.attempted - len(lat)
    want = replay_alerts(triggers, events, limit)
    got = (sink.count(ALERT_MSG), sink.count(INFO_MSG))
    if read != produced:
        res.fail(f"stream read {read} of {produced} produced records")
    if got != want:
        res.fail(f"alerts/infos on the broker {got} != edge-trigger replay {want}")
    res.correct = res.correct and res.failed == 0

    durations = [t["duration"]["triggerExecution"] / 1000.0 for t in window]
    trig_tail, trig_p = tail(durations)
    res.put("setup_s", setup_s)
    res.put("suite_s", suite_s)
    res.put("cold_suite_s", triggers[0]["end_ms"] / 1000.0 - t_start)
    res.put("query_p50_s", median(durations))
    res.put("query_tail_s", trig_tail)
    res.put("event_latency_p50_ms", percentile(lat.tolist(), 50))
    res.put("event_latency_p99_ms", percentile(lat.tolist(), 99))
    res.put("processed_eps", len(lat) / suite_s)
    res.details.update(
        offered=stats["offered"],
        latency_samples=len(lat),
        window_triggers=len(window),
        trigger_tail_percentile=trig_p,
        limit=limit,
        alerts_infos=list(got),
        replay=list(want),
        triggers=[
            {
                "batch": t["batch"],
                "rows": t["rows"],
                "ms": t["duration"]["triggerExecution"],
                "add_batch_ms": t["duration"].get("addBatch", 0),
                "state_commit_ms": t["state"].get("commitTimeMs", 0),
            }
            for t in window
        ],
    )

    if trace:
        def p50(part: str) -> float:
            return median([t["duration"].get(part, 0) for t in window])

        lags = source_lag(window, events)
        state_end = window[-1]["state"]
        lateness = stats["lateness_ms"]
        res.put("session.get_spark_s", get_spark_s)
        res.put("stream.trigger_ms_p50", p50("triggerExecution"))
        res.put("stream.add_batch_ms_p50", p50("addBatch"))
        res.put("stream.latest_offset_ms_p50", p50("latestOffset"))
        res.put("stream.query_planning_ms_p50", p50("queryPlanning"))
        res.put("stream.wal_commit_ms_p50", p50("walCommit"))
        res.put("stream.commit_offsets_ms_p50", p50("commitOffsets"))
        res.put("state.commit_ms_p50", median([t["state"].get("commitTimeMs", 0) for t in window]))
        res.put("stream.rows_per_batch_p50", median([t["rows"] for t in window]))
        res.put("stream.batches", len(window))
        res.put("state.rows_total_end", state_end.get("numRowsTotal", 0))
        res.put("state.memory_bytes_end", state_end.get("memoryUsedBytes", 0))
        res.put("state.rows_updated", sum(t["state"].get("numRowsUpdated", 0) for t in window))
        res.put("source.lag_records_max", max(lags))
        res.put("source.lag_records_end", lags[-1])
        res.put("sink.alert_records", len(sink))
        res.put("sink.records_per_expected", len(sink) / max(1, sum(want)))
        res.put("gen.offered_eps", stats["offered"] / seconds)
        res.put("gen.lateness_p99_ms", percentile(lateness, 99))
        logs = sparkstats.event_log_totals(event_log_dir())
        in_window = {f"batch:{t['batch']}" for t in window}
        tot = sparkstats.sum_groups(logs, lambda key: key in in_window)
        for k in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "failed_tasks",
                  "jobs", "stages", "tasks", "small_stages"):
            res.put(f"spark.{k}", tot[k])
        res.put("catalog.input_bytes", tot["input_bytes"])
        res.put("catalog.input_rows", tot["input_rows"])
        res.put("spark.plan_s", sum(t["duration"].get("queryPlanning", 0) for t in window) / 1000.0)
        res.put("spark.exec_s", sum(t["duration"].get("addBatch", 0) for t in window) / 1000.0)
        res.put("spark.slot_busy_share", tot["task_run_s"] / max(1e-9, sum(durations) * int(os.environ["SPARK_GRAFT_CPUS"])))
        for trig in window:
            sid = tracer.add("trigger", trig["start_ms"] / 1000, trig["end_ms"] / 1000, batch=trig["batch"])
            at = trig["start_ms"]
            for part in TRIGGER_PARTS:
                ms = trig["duration"].get(part, 0)
                tracer.add(part, at / 1000, (at + ms) / 1000, parent=sid)
                at += ms
        tracer.write(os.path.join(WORK, "traces", f"traffic_stream-seed{seed}.json"))
    return res
