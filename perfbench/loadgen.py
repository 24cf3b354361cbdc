"""Open-loop packet generator for the ``traffic_stream`` workload.

Runs as its own process (``python loadgen.py --seed N --seconds S
--out FILE``) so its schedule never slows when the system under test
does. It hosts a ``MiniKafkaBroker`` and produces packet records over
the Kafka wire protocol to topic ``packets`` (4 partitions): key = NIC
name, value = the packet's raw bytes (the reference sums
``len(rawData)`` per NIC), record timestamp = the time the packet was
DUE under the schedule, which is its creation stamp.

Line protocol on stdin/stdout (one JSON object per stdout line):

    -> {"port": P}                      broker is up; warm-up load starts
    <- go                               start the measured schedule
    -> {"t0_ms": T}                     schedule start (epoch ms)
    -> {"done": true}                   schedule finished, production stopped
    <- exit                             write --out, stop the broker
    -> {"offered": ..., "lateness_ms": [...]}

Schedule: ``RATE`` packets/s in ``TICK_S`` ticks, plus ``BURSTS`` bursts
per 10 s of ``BURST_X`` times the rate lasting ``BURST_S`` each. The seed
sets which NIC gets which popularity (Pareto-like skew over ``NICS``
NICs), the NIC -> partition assignment (balanced by expected load, so
no seed overloads one partition), the packet sizes and the burst
phases; the number and length of bursts are fixed, so every seed offers
about the same volume.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

NICS = 1000
PARTITIONS = 4
RATE = 2000.0
TICK_S = 0.02
# The burst volume is split into several short bursts per 10 s, so the
# tail latency does not hinge on where one long burst falls against the
# trigger boundaries.
BURSTS = 4
BURST_X = 4.0
BURST_S = 0.25
WARM_RATE = RATE  # warm-up at the base rate, so warm triggers run at measured sizes
TOPIC = "packets"


def nic_name(i: int) -> bytes:
    return f"eth{i:04d}".encode()


def rate_at(t: float, burst_starts: np.ndarray) -> float:
    """Offered packets/s at ``t`` seconds into the schedule."""
    in_burst = np.any((burst_starts <= t) & (t < burst_starts + BURST_S))
    return RATE * (BURST_X if in_burst else 1.0)


def burst_starts(rng: np.random.Generator, seconds: float) -> np.ndarray:
    """``BURSTS`` non-overlapping bursts in every 10 s slot."""
    starts = []
    slot = 10.0
    for s0 in np.arange(0.0, seconds, slot):
        room = min(slot, seconds - s0)
        k = min(BURSTS, max(0, int(room // (2 * BURST_S))))
        if k == 0:
            continue
        # one burst per equal sub-slot, at a seeded phase inside it
        width = room / k
        for j in range(k):
            starts.append(s0 + j * width + rng.uniform(0, width - BURST_S))
    return np.array(starts)


class Schedule:
    """Seeded packet draws: NIC popularity, partitions and sizes."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        weights = 1.0 / np.arange(1, NICS + 1) ** 1.1  # Pareto-like skew
        self.popularity = self.rng.permutation(weights / weights.sum())
        # hottest NIC first, each to the partition with the least load so far
        load = np.zeros(PARTITIONS)
        self.partition_of = np.zeros(NICS, dtype=np.int64)
        for nic in np.argsort(-self.popularity, kind="stable"):
            p = int(np.argmin(load))
            self.partition_of[nic] = p
            load[p] += self.popularity[nic]

    def draw(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        nics = self.rng.choice(NICS, n, p=self.popularity)
        sizes = self.rng.integers(60, 1501, n)
        return nics, sizes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from spark_streaming_test_spark.sources.kafka_wire import (
        KafkaWireProducer,
        MiniKafkaBroker,
    )

    sched = Schedule(args.seed)
    bursts = burst_starts(sched.rng, args.seconds)
    log = {p: [] for p in range(PARTITIONS)}  # (offset0, nics, sizes, due_ms)
    lateness_ms: list[float] = []
    offered = 0

    def emit(producer, n: int, due_ms: int, measured: bool) -> None:
        nonlocal offered
        nics, sizes = sched.draw(n)
        parts = sched.partition_of[nics]
        for p in range(PARTITIONS):
            sel = parts == p
            if not sel.any():
                continue
            recs = [
                (nic_name(int(i)), b"\0" * int(s), due_ms)
                for i, s in zip(nics[sel], sizes[sel])
            ]
            base = producer.produce(TOPIC, recs, partition=p)
            log[p].append((base, nics[sel], sizes[sel], due_ms))
        if measured:
            offered += n

    def say(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    import selectors

    sel = selectors.DefaultSelector()
    sel.register(sys.stdin, selectors.EVENT_READ)
    with MiniKafkaBroker() as broker, KafkaWireProducer(
        broker.host, broker.port
    ) as producer:
        say({"port": broker.port})
        # warm-up load until "go"
        carry = 0.0
        while True:
            if sel.select(timeout=TICK_S * 5):
                line = sys.stdin.readline().strip()
                if line == "go":
                    break
                if line in ("exit", ""):
                    return 1
            carry += WARM_RATE * TICK_S * 5
            n = int(carry)
            carry -= n
            if n:
                emit(producer, n, int(time.time() * 1000), measured=False)
        t0 = time.time()
        say({"t0_ms": int(t0 * 1000)})
        carry = 0.0
        ticks = int(round(args.seconds / TICK_S))
        for k in range(ticks):
            due = t0 + k * TICK_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            lateness_ms.append((time.time() - due) * 1000.0)
            carry += rate_at(k * TICK_S, bursts) * TICK_S
            n = int(carry)
            carry -= n
            if n:
                emit(producer, n, int(due * 1000), measured=True)
        say({"done": True})
        while sys.stdin.readline().strip() not in ("exit", ""):
            pass
        def cat(parts: list) -> np.ndarray:
            return np.concatenate(parts) if parts else np.zeros(0, np.int64)

        arrays = {}
        for p, chunks in log.items():
            arrays[f"offset_{p}"] = cat([np.arange(b, b + len(n)) for b, n, _s, _d in chunks])
            arrays[f"nic_{p}"] = cat([n for _b, n, _s, _d in chunks])
            arrays[f"size_{p}"] = cat([s for _b, _n, s, _d in chunks])
            arrays[f"due_{p}"] = cat([np.full(len(n), d) for _b, n, _s, d in chunks])
        tmp = args.out + ".tmp.npz"
        np.savez(tmp, **arrays)
        os.replace(tmp, args.out)
        say(
            {
                "offered": offered,
                "seconds": args.seconds,
                "lateness_ms": lateness_ms,
            }
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
