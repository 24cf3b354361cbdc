"""Self-tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

import datagen
import loadgen
import sparkstats
import stream
from common import ROOT, percentile, tail, tail_percentile


# --- x10 generator -------------------------------------------------------------


@pytest.fixture(scope="module")
def grains(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("base"))
    x10 = str(tmp_path_factory.mktemp("x10"))
    datagen.write_base(base, seed=7, sf=0.002)
    datagen.write_x10(base, x10, seed=3, threads=2)
    con = duckdb.connect()
    for name in datagen.TABLES:
        con.execute(f"CREATE VIEW b_{name} AS SELECT * FROM '{base}/{name}.parquet'")
        con.execute(f"CREATE VIEW x_{name} AS SELECT * FROM '{x10}/{name}.parquet/*.parquet'")
    return con


def _one(con, sql):
    return con.execute(sql).fetchone()[0]


@pytest.mark.parametrize(
    "fact,dim,on",
    [
        ("lineitem", "orders", "l_orderkey = o_orderkey"),
        ("lineitem", "part", "l_partkey = p_partkey"),
        ("lineitem", "supplier", "l_suppkey = s_suppkey"),
        ("orders", "customer", "o_custkey = c_custkey"),
    ],
)
def test_x10_join_cardinality_is_ten_times_base(grains, fact, dim, on):
    base_rows = _one(grains, f"SELECT count(*) FROM b_{fact}")
    base_join = _one(grains, f"SELECT count(*) FROM b_{fact} JOIN b_{dim} ON {on}")
    x10_join = _one(grains, f"SELECT count(*) FROM x_{fact} JOIN x_{dim} ON {on}")
    assert base_join == base_rows  # every foreign key finds its row
    assert x10_join == datagen.REPLICAS * base_join


def test_x10_replicates_entities_and_keeps_dimensions(grains):
    for name in ("customer", "orders", "lineitem", "events", "documents"):
        assert _one(grains, f"SELECT count(*) FROM x_{name}") == datagen.REPLICAS * _one(
            grains, f"SELECT count(*) FROM b_{name}"
        )
    for name in ("region", "nation"):
        assert _one(grains, f"SELECT count(*) FROM x_{name}") == _one(
            grains, f"SELECT count(*) FROM b_{name}"
        )
    # primary keys stay unique across replicas
    assert _one(grains, "SELECT count(DISTINCT o_orderkey) = count(*) FROM x_orders")
    # text is verbatim, money keeps two decimals, quantities stay in range
    assert _one(grains, "SELECT count(DISTINCT text) FROM x_documents") == _one(
        grains, "SELECT count(DISTINCT text) FROM b_documents"
    )
    assert _one(
        grains,
        "SELECT bool_and(abs(l_extendedprice * 100 - round(l_extendedprice * 100)) < 1e-6)"
        " AND min(l_quantity) >= 1 AND max(l_quantity) <= 50 FROM x_lineitem",
    )


def test_x10_jitter_is_seeded_and_per_replica(tmp_path):
    base = str(tmp_path / "base")
    datagen.write_base(base, seed=1, sf=0.001)
    tables = {
        n: pq.read_table(f"{base}/{n}.parquet")
        for n in datagen.TABLES
    }
    spans = datagen.domain_spans(tables)
    li = tables["lineitem"]
    a = datagen.replica(li, "lineitem", 1, spans, seed=5)["l_extendedprice"]
    b = datagen.replica(li, "lineitem", 1, spans, seed=5)["l_extendedprice"]
    c = datagen.replica(li, "lineitem", 2, spans, seed=5)["l_extendedprice"]
    d = datagen.replica(li, "lineitem", 1, spans, seed=6)["l_extendedprice"]
    assert a.equals(b)
    assert not a.equals(c) and not a.equals(d)
    # one span per key domain: orders' custkeys shift with customer's
    assert spans["custkey"] == max(
        tables["customer"]["c_custkey"].to_numpy().max(),
        tables["orders"]["o_custkey"].to_numpy().max(),
    ) + 1


# --- tail percentile rule --------------------------------------------------------


@pytest.mark.parametrize(
    "n,p", [(4321, 99), (1000, 99), (100, 90), (21, 54), (20, 52), (11, 9), (10, None), (3, None)]
)
def test_tail_percentile_for_n(n, p):
    assert tail_percentile(n) == p


@pytest.mark.parametrize("n", [11, 15, 21, 40, 99, 100, 101, 250, 1000, 4321])
def test_tail_percentile_leaves_ten_beyond_and_is_highest(n):
    values = [float(v) for v in range(n)]
    p = tail_percentile(n)
    assert sum(v > percentile(values, p) for v in values) >= 10
    assert sum(v > percentile(values, p + 1) for v in values) < 10


def test_tail_falls_back_to_median_for_small_samples():
    value, p = tail([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (value, p) == (3.0, 50)
    value, p = tail([float(v) for v in range(100)])
    assert p == 90 and value == pytest.approx(89.1)


# --- load generator -----------------------------------------------------------------


def test_burst_schedule_offers_fixed_volume():
    for seed in range(5):
        starts = loadgen.burst_starts(np.random.default_rng(seed), 20.0)
        assert len(starts) == 2 * loadgen.BURSTS
        assert len(set(np.round(starts, 6))) == len(starts)
        assert np.all(np.diff(np.sort(starts)) >= loadgen.BURST_S)
        assert starts.min() >= 0 and starts.max() + loadgen.BURST_S <= 20.0


def test_generator_reports_lateness_and_logs_every_record(tmp_path):
    out = str(tmp_path / "log.npz")
    env = dict(os.environ, PYTHONPATH=ROOT)
    proc = subprocess.Popen(
        [sys.executable, loadgen.__file__, "--seed", "4", "--seconds", "1", "--out", out],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
        env=env,
    )
    try:
        assert "port" in json.loads(proc.stdout.readline())
        proc.stdin.write("go\n")
        proc.stdin.flush()
        t0 = json.loads(proc.stdout.readline())["t0_ms"]
        assert json.loads(proc.stdout.readline())["done"]
        proc.stdin.write("exit\n")
        proc.stdin.flush()
        stats = json.loads(proc.stdout.readline())
    finally:
        proc.stdin.close()
        proc.wait(timeout=30)
    assert proc.returncode == 0
    assert len(stats["lateness_ms"]) == round(1 / loadgen.TICK_S)  # one per tick
    assert min(stats["lateness_ms"]) >= 0
    # bursts cover part of the second: between the base and burst volume
    assert loadgen.RATE <= stats["offered"] <= loadgen.RATE * loadgen.BURST_X
    events = stream.load_events(out)
    scheduled = sum(int(np.sum(ev["due"] >= t0)) for ev in events.values())
    assert scheduled == stats["offered"]
    for ev in events.values():  # offsets are dense per partition
        assert np.array_equal(ev["offset"], np.arange(len(ev["offset"])))


# --- per-event latency and the alert replay ---------------------------------------


def _events():
    # partition 0: offsets 0..3, partition 1: offsets 0..1
    return {
        0: {
            "offset": np.arange(4),
            "due": np.array([1000.0, 1100.0, 1900.0, 2500.0]),
            "nic": np.array([1, 1, 2, 1]),
            "size": np.array([3000, 2000, 100, 500]),
        },
        1: {
            "offset": np.arange(2),
            "due": np.array([1200.0, 2300.0]),
            "nic": np.array([3, 3]),
            "size": np.array([5000, 10]),
        },
    }


def _progress():
    def prog(batch, ts, dur, start, end, rows):
        return {
            "batchId": batch,
            "timestamp": ts,
            "numInputRows": rows,
            "durationMs": {"triggerExecution": dur, "addBatch": dur - 10},
            "sources": [{"startOffset": start, "endOffset": end}],
            "stateOperators": [{"numRowsTotal": 3, "commitTimeMs": 5}],
        }

    return [
        prog(1, "1970-01-01T00:00:02.000Z", 500, {"0": 2, "1": 1}, {"0": 4, "1": 2}, 3),
        prog(0, "1970-01-01T00:00:01.500Z", 300, None, {"0": 2, "1": 1}, 3),
        prog(2, "1970-01-01T00:00:02.600Z", 100, {"0": 4, "1": 2}, {"0": 4, "1": 2}, 0),
    ]


def test_trigger_table_orders_batches_and_drops_empty_ones():
    rows = stream.trigger_table(_progress())
    assert [r["batch"] for r in rows] == [0, 1]
    assert rows[0]["start_ms"] == 1500.0 and rows[0]["end_ms"] == 1800.0
    assert rows[0]["from"] == {} and rows[1]["from"] == {0: 2, 1: 1}


def test_event_latency_is_trigger_end_minus_due():
    trig = stream.trigger_table(_progress())
    lat, held = stream.event_latencies(trig, _events(), 0.0, 1e9)
    assert [t["batch"] for t in held] == [0, 1]
    # batch 0 ends at 1800: events due 1000, 1100 (p0) and 1200 (p1);
    # batch 1 ends at 2500: events due 1900, 2500 (p0) and 2300 (p1)
    assert sorted(lat.tolist()) == sorted([800.0, 700.0, 600.0, 600.0, 0.0, 200.0])
    window, held = stream.event_latencies(trig, _events(), 1100.0, 2000.0)
    assert [t["batch"] for t in held] == [0, 1]  # 1100, 1200 in batch 0; 1900 in 1
    _, held = stream.event_latencies(trig, _events(), 1000.0, 1050.0)
    assert [t["batch"] for t in held] == [0]
    assert sorted(window.tolist()) == [600.0, 600.0, 700.0]


def test_replay_matches_a_direct_truth_table():
    trig = stream.trigger_table(_progress())
    # batch 0 totals: nic1=5000, nic3=5000 -> both alert (no prior state)
    # batch 1 totals: nic2=100 (new: info), nic1=500 (flip: info),
    #                 nic3=10 (flip: info)
    assert stream.replay_alerts(trig, _events(), 4000.0) == (2, 3)
    # a limit nobody crosses: first sight of each NIC is an Info, no flips
    assert stream.replay_alerts(trig, _events(), 1e9) == (0, 3)


def test_source_lag_counts_records_created_but_unread():
    trig = stream.trigger_table(_progress())
    # every event due by a trigger's end was read by then
    assert stream.source_lag(trig, _events()) == [0, 0]
    # batch 0 now ends at 2400: events due 1900 and 2300 exist but are unread
    trig[0]["end_ms"] = 2400.0
    assert stream.source_lag(trig, _events()) == [2, 0]


# --- event-log counts ----------------------------------------------------------------


def test_event_log_counts_jobs_stages_and_tasks_per_job_group(tmp_path):
    def job(jid, group, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group}}

    def stage_done(sid, n):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Number of Tasks": n}}

    def task(sid, run_ms, failed=False):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Info": {"Failed": failed},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Input Metrics": {"Records Read": 10}}}

    events = [
        job(0, "p2:q:build", [0]),
        task(0, 100), stage_done(0, 1),
        job(1, "p2:q:exec", [1, 2, 3]),  # stage 3 is skipped: no task ran
        task(1, 200), task(1, 200), task(1, 200, failed=True), stage_done(1, 3),
        task(2, 50), stage_done(2, 1), stage_done(3, 4),
        job(2, "p3:q:exec", [4]),
        task(4, 10), stage_done(4, 2),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    logs = sparkstats.event_log_totals(str(tmp_path))
    build = sparkstats.sum_groups(logs, lambda k: k.startswith("p2:") and k.endswith(":build"))
    both = sparkstats.sum_groups(logs, lambda k: k.startswith("p2:"))
    assert build["jobs"] == 1 and build["tasks"] == 1
    assert (both["jobs"], both["stages"], both["tasks"], both["small_stages"]) == (2, 3, 5, 2)
    assert both["failed_tasks"] == 1 and both["input_rows"] == 50
    assert both["task_run_s"] == pytest.approx(0.75)
    assert logs["p3:q:exec"]["small_stages"] == 1


# --- BENCHMARK.json -------------------------------------------------------------------


def test_benchmark_json_names_every_reported_metric():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    for w in spec["workloads"]:
        assert w["name"] in run.WORKLOADS
        assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units(w["name"])
