"""The ``entity_superstep`` workload and the request-path probe of its
traced run.

``entity_superstep``: one closed-loop client (``Client`` over
``SuperstepTransport``) sends batches of 10,000 calls over 1,000 YCSB
entities keyed by Zipf(0.99) — 50% ``read``, 30% ``update``, 20%
``transfer`` (a two-entity split flow) — and flushes once per batch;
state carries across flushes.

Request-path probe (traced run only): four closed-loop client threads (at
most the core count) call the ``HttpSurface`` WSGI app in-process on the
generated ``read``/``update``/``transfer`` POST routes, through ``Client``
over ``StreamingTransport`` into a ``StreamingEntityEngine``. Same keys and
mix. It gives the ``http``, ``stateful`` and request-side ``client`` layer
metrics.

Both check every call's outcome and, in an untimed end-of-run batch of
reads over all entities, that the total balance equals the seeded total
plus the applied ``update`` deltas (transfers conserve money).
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time
from typing import Iterator

from common import SETUPS, Outcome, SparkWork, mean, median
from stateflow_spark import ycsb  # noqa: F401  (registers YCSBEntity)
from stateflow_spark.client import (
    Client,
    LocalTransport,
    StreamingTransport,
    SuperstepTransport,
)
from stateflow_spark.entity import operator
from stateflow_spark.entity.model import EntityRef, Event, EventType
from stateflow_spark.http import HttpSurface
from stateflow_spark.serde import PickleSerde
from stateflow_spark.streaming.stateful import StreamingEntityEngine

N_ENTITIES = 1000
BATCH_CALLS = 10_000
START_AMOUNT = 100
WARMUP_BATCHES = 1
MIN_BATCHES = 2
# At about 1 request/s a probe of 4 clients x 5 requests keeps the traced
# run inside the per-run time limit.
PROBE_WARMUP_REQUESTS = 1
PROBE_REQUESTS = 5
ROUTE = "/stateflow/global/YCSBEntity"


def op_stream(seed: int, stream: int) -> Iterator[tuple]:
    """Endless (kind, key, other, amount) ops for one client stream."""
    zipf = ycsb.ZipfGenerator(N_ENTITIES, seed=seed * 1009 + stream)
    rng = random.Random(seed * 7919 + stream)
    while True:
        k = zipf.next()
        r = rng.random()
        if r < 0.5:
            yield ("read", k, None, 0)
        elif r < 0.8:
            yield ("update", k, None, rng.randint(-10, 10))
        else:
            o = zipf.next()
            if o == k:
                o = (k + 1) % N_ENTITIES
            yield ("transfer", k, o, rng.randint(1, 5))


def _key(i: int) -> str:
    return f"entity-{i}"


def _settle(futs: list, outcome: Outcome) -> int:
    """Tally every future of a flushed batch; return the applied update
    delta. A future without a reply or with an ERROR/KEY_NOT_FOUND reply
    is a failed call."""
    delta = 0
    for kind, amount, fut in futs:
        if not fut.is_done:
            outcome.add(False, f"{kind}: no reply")
            continue
        try:
            fut.get()
        except (RuntimeError, KeyError) as exc:
            outcome.add(False, f"{kind}: {exc}")
            continue
        outcome.add(True)
        if kind == "update":
            delta += amount
    return delta


def _submit_ops(E, ops) -> list:
    futs = []
    for kind, k, o, amount in ops:
        h = E.by_key(_key(k))
        if kind == "read":
            futs.append((kind, amount, h.read()))
        elif kind == "update":
            futs.append((kind, amount, h.update(amount)))
        else:
            futs.append((kind, amount, h.transfer(amount, E.by_key(_key(o)))))
    return futs


def _flush(flush, outcome: Outcome) -> None:
    """A flush that leaves futures without a reply is one failed check;
    the futures it left are counted again by ``_settle``."""
    try:
        flush()
    except RuntimeError as exc:  # "N requests received no reply"
        outcome.add(False, f"flush: {exc}")


def _read_total(client, E, outcome: Outcome) -> int:
    """Untimed end-of-run batch of reads over every entity."""
    futs = [E.by_key(_key(i)).read() for i in range(N_ENTITIES)]
    _flush(client.flush, outcome)
    total = 0
    for fut in futs:
        try:
            total += fut.get() if fut.is_done else 0
            outcome.add(fut.is_done, "check read: no reply")
        except (RuntimeError, KeyError) as exc:
            outcome.add(False, f"check read: {exc}")
    return total


def _check_balance(total: int, ledger: int, outcome: Outcome) -> None:
    expected = N_ENTITIES * START_AMOUNT + ledger
    outcome.add(total == expected, f"balance {total} != seeded + updates {expected}")


def _timed_submit(client, tracer, counter: str, record=None) -> None:
    """Per-call submit timing into ``counter`` (a counter, not a span: 10k
    calls a batch); ``record(event)`` sees every submitted event."""
    inner = client._submit

    def submit(event):
        if record is not None:
            record(event)
        t0 = time.perf_counter()
        fut = inner(event)
        tracer.count(counter, time.perf_counter() - t0)
        return fut

    client._submit = submit


# -- entity_superstep -------------------------------------------------------------


def run_superstep(ctx) -> dict:
    tracer, work, outcome = ctx.tracer, SparkWork(ctx.tracer), Outcome()

    def setup():
        with tracer.span("session.start"):
            spark = ctx.sessions.start()
        transport = SuperstepTransport(spark)
        client = Client(transport)
        E = client.entity("YCSBEntity")
        with tracer.span("entity.seed"):
            futs = [("create", 0, E(_key(i), START_AMOUNT)) for i in range(N_ENTITIES)]
            _flush(client.flush, outcome)
        _settle(futs, outcome)
        return spark, transport, client, E

    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark, transport, client, E = setup()
        setups.append(time.perf_counter() - t0)

    runs = []  # per-flush Spark work (traced runs only)
    rt = transport._rt
    if tracer.enabled:
        inner_run = rt.run

        def traced_run(events, state_df=None):
            with tracer.span("superstep.run") as rec:
                res = inner_run(events, state_df=state_df)
                rec["supersteps"] = res.supersteps
            return res

        rt.run = traced_run
        _timed_submit(client, tracer, "client.submit_s")
    flush = tracer.wrap("client.flush", client.flush)

    ops = op_stream(ctx.seed, 0)
    ledger = 0
    last_batch: list = []

    def batch(tag: str) -> float:
        nonlocal ledger, last_batch
        chunk = [next(ops) for _ in range(BATCH_CALLS)]
        tracer.set_request(tag)
        t0 = time.perf_counter()
        with tracer.span("batch"):
            with tracer.span("client.submit_loop"):
                futs = _submit_ops(E, chunk)
            grp: dict = {}
            with work.group(spark, "superstep.flush", grp):
                _flush(flush, outcome)
        wall = time.perf_counter() - t0
        tracer.set_request(None)
        ledger += _settle(futs, outcome)
        if grp:
            runs.append(grp)
        last_batch = chunk
        return wall

    with ctx.rss:
        firsts = [batch(f"warmup-{w}") for w in range(WARMUP_BATCHES)]
        runs.clear()
        walls = []
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < ctx.seconds or len(walls) < MIN_BATCHES:
            walls.append(batch(f"batch-{len(walls)}"))
        _check_balance(_read_total(client, E, outcome), ledger, outcome)

    print("perfbench: setups " + " ".join(f"{w:.3f}" for w in setups)
          + " | batch walls " + " ".join(f"{w:.3f}" for w in firsts + walls),
          file=sys.stderr)
    result = {
        "setup_s": median(setups),
        "warm_wall_s": median(walls),
        "cold_wall_s": firsts[0],
        "peak_rss_mb": ctx.rss.peak_mb,
        "units": len(walls),
    }
    if tracer.enabled:
        result["layers"] = _superstep_layers(tracer, runs, rt, last_batch)
        result["layers"].update(request_probe(ctx, spark, outcome))
    return {"result": result, "outcome": outcome}


def _superstep_layers(tracer, runs, rt, last_batch) -> dict:
    spans = [s for s in tracer.spans if str(s.get("request", "")).startswith("batch-")]
    runs_sp = [s for s in spans if s["name"] == "superstep.run"]
    layers = {
        "client.submit_us": 1e6 * mean(tracer.counters.get("client.submit_s", [])),
        "client.flush_s": median(s["end"] - s["start"] for s in spans if s["name"] == "client.flush"),
        "superstep.run_s": median(s["end"] - s["start"] for s in runs_sp),
        "superstep.supersteps": mean(s.get("supersteps", 0) for s in runs_sp),
        "superstep.jobs": mean(r["jobs"] for r in runs),
        "superstep.stages": mean(r["stages"] for r in runs),
        "superstep.tasks": mean(r["tasks"] for r in runs),
        "superstep.failed_tasks": sum(r["failed_tasks"] for r in runs),
    }
    layers.update(_serde_layers(getattr(rt, "serde", None) or PickleSerde(), last_batch, tracer))
    layers.update(_local_replay(last_batch, tracer))
    return layers


def _batch_events(ops) -> list:
    """The invoke events a batch of ops sends (for the serde probe)."""
    def ref(i):
        return EntityRef("YCSBEntity", _key(i))

    evs = []
    for kind, k, o, amount in ops:
        args = () if kind == "read" else (amount,) if kind == "update" else (amount, ref(o))
        evs.append(operator.make_invoke_event(ref(k), kind, args))
    return evs


def _serde_layers(serde, ops, tracer) -> dict:
    """Encode/decode the batch's events with the runtime's wire serde,
    in-process (the workers' per-event serde work, isolated)."""
    events = _batch_events(ops)
    with tracer.span("serde.encode"):
        t0 = time.perf_counter()
        blobs = [serde.to_bytes(e) for e in events]
        enc = time.perf_counter() - t0
    with tracer.span("serde.decode"):
        t0 = time.perf_counter()
        for b in blobs:
            serde.from_bytes(b)
        dec = time.perf_counter() - t0
    n = max(1, len(events))
    return {
        "serde.encode_us": 1e6 * enc / n,
        "serde.decode_us": 1e6 * dec / n,
        "serde.event_bytes": sum(len(b) for b in blobs) / n,
    }


def _local_replay(ops, tracer) -> dict:
    """Replay the same batch through ``Client`` over ``LocalTransport``:
    the single-threaded in-process baseline and the entity-logic floor."""
    client = Client(LocalTransport())
    E = client.entity("YCSBEntity")
    for i in range(N_ENTITIES):
        E(_key(i), START_AMOUNT)
    client.flush()

    inner, spent, calls = operator.handle, [0.0], [0]

    def timed_handle(event, store):
        t0 = time.perf_counter()
        try:
            return inner(event, store)
        finally:
            spent[0] += time.perf_counter() - t0
            calls[0] += 1

    operator.handle = timed_handle
    try:
        with tracer.span("entity.local_replay"):
            t0 = time.perf_counter()
            _submit_ops(E, ops)
            client.flush()
            wall = time.perf_counter() - t0
    finally:
        operator.handle = inner
    return {
        "entity.handle_us": 1e6 * spent[0] / max(1, calls[0]),
        "entity.local_ops_per_s": len(ops) / wall,
    }


# -- request-path probe -------------------------------------------------------------


def _http_call(app, kind: str, k: int, o, amount: int) -> tuple[str, object]:
    qs = f"key={_key(k)}"
    if kind == "update":
        qs += f"&delta={amount}"
    elif kind == "transfer":
        qs += f"&amount={amount}&other={_key(o)}"
    environ = {
        "REQUEST_METHOD": "POST",
        "PATH_INFO": f"{ROUTE}/{kind}",
        "QUERY_STRING": qs,
        "CONTENT_LENGTH": "0",
    }
    status: list[str] = []
    body = b"".join(app(environ, lambda s, headers: status.append(s)))
    return status[0], json.loads(body)


def request_probe(ctx, spark, outcome: Outcome) -> dict:
    """Per-layer numbers of the request path: a fresh
    ``StreamingEntityEngine`` in its own workdir with every entity created,
    then closed-loop HTTP clients; the end-of-run checks follow."""
    tracer = ctx.tracer
    engine = StreamingEntityEngine(spark, ctx.sandbox.workdir("engine"))
    try:
        seeds = [
            operator.make_init_event("YCSBEntity", (_key(j), START_AMOUNT))
            for j in range(N_ENTITIES)
        ]
        with tracer.span("entity.seed"):
            engine.send(seeds)
            engine.start()
            engine.drain()
        replies = engine.replies()
        for ev in seeds:
            outcome.add(ev.event_id in replies, "seed: no reply")
        return _drive_requests(ctx, engine, outcome, min(4, os.cpu_count() or 1))
    finally:
        engine.stop()


def _drive_requests(ctx, engine, outcome: Outcome, threads: int) -> dict:
    """``threads`` closed-loop clients calling the WSGI app, each
    ``PROBE_REQUESTS`` times after its warm-up requests."""
    tracer = ctx.tracer
    client = Client(StreamingTransport(engine))
    submitted: dict[str, tuple] = {}  # event_id -> (method, args)
    _timed_submit(client, tracer, "client.request_submit_s", lambda e: submitted.__setitem__(
        e.event_id, (e.payload.get("method"), e.payload.get("args"))))
    client.flush = tracer.wrap("client.flush", client.flush)
    engine.send = tracer.wrap("stateful.send", engine.send)
    engine.drain = tracer.wrap("stateful.drain", engine.drain)
    engine.replies = tracer.wrap("stateful.replies", engine.replies)
    app = HttpSurface(client)
    lat: list[float] = []
    lat_lock = threading.Lock()

    def one(stream_ops, tag: str) -> float:
        kind, k, o, amount = next(stream_ops)
        tracer.set_request(tag)
        t0 = time.perf_counter()
        try:
            with tracer.span("http.request", route=kind):
                status, body = _http_call(app, kind, k, o, amount)
        except Exception as exc:  # a crash in the surface is a failed request
            status, body = "500", {"error": repr(exc)}
        wall = time.perf_counter() - t0
        tracer.set_request(None)
        # HttpSurface answers engine failures (and the client's "N requests
        # received no reply" flush race) with 200 and an "error" body
        ok = status.startswith("200") and not (isinstance(body, dict) and "error" in body)
        outcome.add(ok, f"{kind} {status}: {body}")
        return wall

    streams = [op_stream(ctx.seed, t + 1) for t in range(threads)]
    barrier = threading.Barrier(threads + 1)

    def client_thread(t: int) -> None:
        for w in range(PROBE_WARMUP_REQUESTS):
            one(streams[t], f"warmup-{t}-{w}")
        barrier.wait()
        barrier.wait()
        for n in range(PROBE_REQUESTS):
            wall = one(streams[t], f"req-{t}-{n}")
            with lat_lock:
                lat.append(wall)

    workers = [threading.Thread(target=client_thread, args=(t,)) for t in range(threads)]
    for w in workers:
        w.start()
    barrier.wait()  # warm-up done
    progress_from = _last_batch_id(engine)
    spans_from = len(tracer.spans)
    submits = tracer.counters.setdefault("client.request_submit_s", [])
    submits_from = len(submits)
    t_start = time.perf_counter()
    barrier.wait()
    for w in workers:
        w.join()
    measured = time.perf_counter() - t_start
    progress = [
        p for p in (engine.query.recentProgress or []) if p["batchId"] > progress_from
    ]
    window_spans = tracer.spans[spans_from:]
    window_submits = submits[submits_from:]
    total = _read_total(client, client.entity("YCSBEntity"), outcome)
    _check_streaming_replies(engine, submitted, total, outcome)

    layers = _request_layers(tracer, window_spans, window_submits, progress, len(lat), engine)
    layers["http.request_p50_s"] = median(lat)
    layers["http.req_per_s"] = len(lat) / measured
    return layers


def _last_batch_id(engine) -> int:
    prog = engine.query.recentProgress or []
    return prog[-1]["batchId"] if prog else -1


def _check_streaming_replies(engine, submitted, total, outcome) -> None:
    """Every submitted event has exactly one reply row in the reply sink,
    none is an ERROR, and the balance equals seeded + applied updates."""
    import pyarrow.parquet as pq

    counts: dict[str, int] = {}
    kinds: dict[str, object] = {}
    for name in os.listdir(engine.replies_dir):
        if not name.endswith(".parquet"):
            continue
        tbl = pq.read_table(os.path.join(engine.replies_dir, name), columns=["blob"])
        for b in tbl.column("blob").to_pylist():
            ev = Event.from_bytes(bytes(b))
            counts[ev.event_id] = counts.get(ev.event_id, 0) + 1
            kinds[ev.event_id] = ev.event_type
    ledger = 0
    for eid, (method, args) in submitted.items():
        n = counts.get(eid, 0)
        ok = n == 1 and kinds[eid] != EventType.ERROR
        outcome.add(ok, f"{method} {eid}: {n} replies, last {kinds.get(eid)}")
        if ok and method == "update":
            ledger += args[0]
    _check_balance(total, ledger, outcome)


def _request_layers(tracer, spans, submits, progress, n_requests, engine) -> dict:
    def durs(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def dur(key):
        return median(p["durationMs"].get(key, 0) for p in progress)

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    last = ops[-1] if ops else {}
    return {
        "client.request_submit_us": 1e6 * mean(submits),
        "client.request_flush_s": median(durs("client.flush")),
        "http.self_ms": 1e3 * median(tracer.self_times("http.request", spans)),
        "stateful.send_ms": 1e3 * median(durs("stateful.send")),
        "stateful.drain_s": median(durs("stateful.drain")),
        "stateful.replies_ms": 1e3 * median(durs("stateful.replies")),
        "stateful.batches_per_request": len(progress) / max(1, n_requests),
        "stateful.trigger_ms": dur("triggerExecution"),
        "stateful.add_batch_ms": dur("addBatch"),
        "stateful.latest_offset_ms": dur("latestOffset"),
        "stateful.wal_commit_ms": dur("walCommit"),
        "stateful.state_commit_ms": median(o.get("commitTimeMs", 0) for o in ops),
        "stateful.state_rows": float(last.get("numRowsTotal", 0)),
        "stateful.state_memory_bytes": float(last.get("memoryUsedBytes", 0)),
        "stateful.source_files": float(
            sum(1 for n in os.listdir(engine.in_dir) if n.endswith(".parquet"))
        ),
    }
