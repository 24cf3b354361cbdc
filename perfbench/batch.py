"""Closed-loop batch workloads: ``queries_sf01`` and ``queries_x10``.

One client runs the workload's queries in a fixed order; one query is
``registry.queries()[name](spark, dir)`` (the build) followed by a
``noop`` write (the execution), with ``session.reset_query_state``
between queries. The first pass of the process is the cold pass; then
come ``ceil(--seconds / WARM_PASS_S)`` warm passes (at least two).
The cold pass also checks every result against its DuckDB oracle,
outside the timed region.

The traced run alternates untraced and traced warm passes. A traced
pass tags each build and execution with a job group, times planning
separately (``executedPlan`` of the built frame) and records spans; job,
stage and task counts and task metrics per job group come from the
event log once the session has stopped.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import datagen
import oracle
import sparkstats
from common import (
    WORK,
    Result,
    Tracer,
    cpu_count,
    event_log_dir,
    median,
    percentile,
    process_start_epoch,
    stop_spark,
    tail,
)

# Headline queries at sf0.1, where fixed per-query cost dominates.
SF01_QUERIES = [
    "tpch_q3_shipping_priority",
    "window_topk_per_group",
    "dedup_exact",
    "text_token_topk",
    "text_bpe_train_sampled",
]

# Queries at the 10x grain, where executor compute and shuffle dominate.
X10_QUERIES = [
    "tpch_q5_local_supplier_volume",
    "udf_pandas_scalar",
]

BASE_SEED = 42  # the sf0.1 tables are fixed; --seed varies only the x10 jitter
# --seconds buys one warm pass per WARM_PASS_S (at least two). A fixed
# count, not "passes until the time is up": pass times drift with the
# JIT and the host, and a count that flips between runs moves the median
# pass and the tail percentile.
WARM_PASS_S = 1.0
SAFETY_S = 150.0  # stop starting passes this long after process start


def _data_root() -> str:
    return os.path.join(WORK, "data")


def ensure_base() -> str:
    path = os.path.join(_data_root(), f"sf01-{datagen.recipe_tag()}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        shutil.rmtree(path, ignore_errors=True)
        datagen.write_base(path, BASE_SEED)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def ensure_x10(seed: int) -> str:
    base = ensure_base()
    name = f"x10-{datagen.recipe_tag()}-s{seed}"
    path = os.path.join(_data_root(), name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    # keep one 10x dataset on disk (about 170 MB each)
    for old in os.listdir(_data_root()):
        if old.startswith("x10-") and old != name:
            shutil.rmtree(os.path.join(_data_root(), old), ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    datagen.write_x10(base, path, seed, cpu_count())
    open(os.path.join(path, "_DONE"), "w").close()
    return path


def run(workload: str, seed: int, seconds: float, trace: bool) -> Result:
    t_proc = process_start_epoch()
    res = Result()
    tracer = Tracer(trace)
    names = SF01_QUERIES if workload == "queries_sf01" else X10_QUERIES

    # generating the inputs and the oracle fingerprints is the benchmark's
    # own work, so those two intervals are excluded from setup_s; importing
    # the package and loading the registry are not
    t0 = time.time()
    data_dir = ensure_base() if workload == "queries_sf01" else ensure_x10(seed)
    excluded = time.time() - t0
    from spark_streaming_test_spark import registry

    sqls = registry.oracle_sql()
    missing = [n for n in names if n not in sqls]
    if missing:
        raise RuntimeError(f"queries without a DuckDB oracle: {missing}")
    t0 = time.time()
    expected = oracle.oracle_fingerprints(data_dir, {n: sqls[n] for n in names}, cpu_count())
    excluded += time.time() - t0
    res.details.update(data_dir=os.path.relpath(data_dir, WORK), data_prep_s=round(excluded, 3))

    from spark_streaming_test_spark import session

    t = time.time()
    spark = session.get_spark("perfbench")
    get_spark_s = time.time() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    queries = registry.queries()
    # warm-up: one small job through the noop sink
    spark.range(0, 10_000, 1, cpu_count()).selectExpr("sum(id)").write.format(
        "noop"
    ).mode("overwrite").save()
    setup_s = time.time() - t_proc - excluded

    passes: list[dict] = []  # per pass: kind, wall, per-query times, layer sums

    def one_query(name: str, pnum: int, traced: bool, check: bool, layer: dict) -> float:
        group = f"p{pnum}:{name}"
        qspan = tracer.open("query", query=name, pass_num=pnum) if traced else -1
        res.attempted += 1
        try:
            if traced:
                sc.setJobGroup(f"{group}:build", name)
            a = time.time()
            df = queries[name](spark, data_dir)
            b = time.time()
            plan_s = 0.0
            if traced:
                tracer.add("build", a, b)
                df._jdf.queryExecution().executedPlan()
                plan_s = time.time() - b
                tracer.add("plan", b, b + plan_s)
                sc.setJobGroup(f"{group}:exec", name)
            c = time.time()
            df.write.format("noop").mode("overwrite").save()
            d = time.time()
            if traced:
                tracer.add("execute", c, d)
            if check:
                why = oracle.mismatch(oracle.spark_fingerprint(df), expected[name])
                if why:
                    res.fail(f"{name}: oracle mismatch: {why}")
        except Exception as e:  # noqa: BLE001 - one failed query must not end the run
            res.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            a = b = c = d = time.time()
            plan_s = 0.0
        e0 = time.time()
        session.reset_query_state(spark)
        e1 = time.time()
        if traced:
            tracer.add("reset", e0, e1)
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.close(qspan)
            layer["registry.build_s"] += b - a
            layer["spark.plan_s"] += plan_s
            layer["spark.exec_s"] += d - c
        layer["session.reset_query_state_s"] += e1 - e0
        return (b - a) + plan_s + (d - c) + (e1 - e0)

    def one_pass(pnum: int, kind: str, traced: bool) -> None:
        layer = {
            k: 0.0
            for k in (
                "registry.build_s",
                "spark.plan_s",
                "spark.exec_s",
                "session.reset_query_state_s",
            )
        }
        pspan = tracer.open("pass", kind=kind, pass_num=pnum) if traced else -1
        per_query = {
            n: one_query(n, pnum, traced, kind == "cold", layer) for n in names
        }
        if traced:
            tracer.close(pspan)
        passes.append(
            {
                "pass": pnum,
                "kind": kind,
                "traced": traced,
                "wall_s": sum(per_query.values()),
                "query_s": per_query,
                "layer": layer,
            }
        )

    try:
        one_pass(0, "cold", False)
        for pnum in range(1, max(2, math.ceil(seconds / WARM_PASS_S)) + 1):
            if pnum > 2 and time.time() - t_proc > SAFETY_S:
                break
            one_pass(pnum, "warm", trace and pnum % 2 == 0)
    finally:
        stop_spark(spark)

    warm = [p for p in passes if p["kind"] == "warm"]
    clean = [p for p in warm if not p["traced"]]
    pooled = [t for p in clean for t in p["query_s"].values()]
    suite = median([p["wall_s"] for p in clean])
    q_tail, q_tail_p = tail(pooled)
    res.put("setup_s", setup_s)
    res.put("suite_s", suite)
    res.put("cold_suite_s", passes[0]["wall_s"])
    res.put("query_p50_s", median(pooled))
    res.put("query_tail_s", q_tail)
    res.put("event_latency_p50_ms", 1000 * median(pooled))
    res.put("event_latency_p99_ms", 1000 * percentile(pooled, 99))
    res.put("processed_eps", len(names) / suite)
    res.details.update(
        queries=names,
        warm_passes=len(clean),
        query_samples=len(pooled),
        query_tail_percentile=q_tail_p,
        passes=[
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in p.items() if k != "layer"}
            for p in passes
        ],
    )

    if trace:
        traced = [p for p in warm if p["traced"]]
        logs = sparkstats.event_log_totals(event_log_dir())
        per_pass = []
        for p in traced:
            layer = dict(p["layer"])
            prefix = f"p{p['pass']}:"
            ex = sparkstats.sum_groups(logs, lambda k: k.startswith(prefix))
            build = sparkstats.sum_groups(
                logs, lambda k: k.startswith(prefix) and k.endswith(":build")
            )
            exec_run_s = ex["task_run_s"] - build["task_run_s"]
            layer["registry.build_jobs"] = build["jobs"]
            for k in (
                "jobs",
                "stages",
                "tasks",
                "small_stages",
                "task_run_s",
                "task_cpu_s",
                "gc_s",
                "shuffle_read_bytes",
                "shuffle_write_bytes",
                "spill_bytes",
                "failed_tasks",
            ):
                layer[f"spark.{k}"] = ex[k]
            layer["catalog.input_bytes"] = ex["input_bytes"]
            layer["catalog.input_rows"] = ex["input_rows"]
            layer["spark.slot_busy_share"] = exec_run_s / max(
                1e-9, layer["spark.exec_s"] * cpu_count()
            )
            per_pass.append(layer)
        for k in per_pass[0]:
            res.put(k, median([lp[k] for lp in per_pass]))
        res.put("session.get_spark_s", get_spark_s)
        for n in names:
            res.put(f"query.{n}.s", median([p["query_s"][n] for p in warm]))
        untraced = median([p["wall_s"] for p in clean])
        res.put("trace.overhead_share", (median([p["wall_s"] for p in traced]) - untraced) / untraced)
        tracer.write(os.path.join(WORK, "traces", f"{workload}-seed{seed}.json"))
    return res
