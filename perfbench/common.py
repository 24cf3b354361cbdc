"""Shared pieces of the benchmark: checkout paths and process
environment, summary statistics, and the in-memory span recorder."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
import uuid
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_streaming_test_spark"
# Everything the benchmark writes lives here (listed in .gitignore).
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def process_start_epoch() -> float:
    """Wall-clock time this process started (Linux /proc); falls back
    to now, which only drops the interpreter's own start-up."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
        return time.time() - (uptime - started)
    except (OSError, ValueError, IndexError):
        return time.time()


def check_checkout() -> str | None:
    """Reason the benchmark cannot run here, or None."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        return f"no {PACKAGE} package beside {os.path.basename(HERE)}/"
    if not os.path.isfile(os.path.join(ROOT, "tests", "compare.py")):
        return "no tests/compare.py (result canonicalization) in the checkout"
    return None


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(trace: bool) -> None:
    """Process environment for Spark, set before the JVM starts.

    Python workers import the package from the checkout (PYTHONPATH),
    Spark scratch, the warehouse and temp files stay inside ``WORK``,
    and the traced run turns on Spark's event log for per-task metrics
    (configuration only; ``session.py`` is untouched)."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logdir = event_log_dir()
        shutil.rmtree(logdir, ignore_errors=True)
        os.makedirs(logdir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + logdir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def event_log_dir() -> str:
    return os.path.join(WORK, "eventlog")


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - last resort on the way out
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- statistics ---------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile p that leaves at least ``beyond`` of
    ``n`` samples strictly above it under :func:`percentile`: its
    position (n - 1) * p / 100 must stay below index n - beyond. None
    when n <= ``beyond``: no percentile has that many samples beyond."""
    if n <= beyond:
        return None
    return min(100, (100 * (n - beyond) - 1) // (n - 1))


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) under :func:`tail_percentile`; the median
    (p50) when the sample is too small for a tail."""
    p = tail_percentile(len(values))
    p = 50 if p is None or p < 50 else p
    return percentile(values, p), p


def median(values: list[float]) -> float:
    return statistics.median(values)


# --- result and spans ---------------------------------------------------------


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    metrics: dict[str, float] = field(default_factory=dict)  # units: run.py
    details: dict = field(default_factory=dict)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.correct = False
        self.details.setdefault("failures", []).append(why[:500])

    def put(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)


class Tracer:
    """Spans kept in memory and written once at the end. Every span of
    one run shares ``run_id``; ``parent`` is the enclosing span's id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {
                "run_id": self.run_id,
                "id": sid,
                "parent": parent,
                "name": name,
                "start": start,
                "end": end,
                **attrs,
            }
        )
        return sid

    def open(self, name: str, **attrs) -> int:
        sid = self.add(name, time.time(), float("nan"), **attrs)
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        if not self.enabled:
            return
        self._stack.pop()
        self.spans[sid]["end"] = time.time()

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
