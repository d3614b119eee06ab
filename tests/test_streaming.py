"""Structured Streaming tests: the continuous entity engine (file-source
loopback) and batch/stream parity for event-time analytics."""

from __future__ import annotations

import os

import pytest

from stateflow_spark.catalog import load
from stateflow_spark.entity import operator
from stateflow_spark.streaming import windows as sw
from stateflow_spark.streaming.stateful import StreamingEntityEngine
from tests.conftest import SF_DIR

# registers User/Item/A/B fixtures
from tests.test_entity_local import A, B, Item, User  # noqa: F401


@pytest.fixture
def engine(spark, tmp_path):
    eng = StreamingEntityEngine(spark, str(tmp_path / "engine"))
    yield eng
    eng.stop()


def test_streaming_engine_invoke(engine):
    init = operator.make_init_event("User", ("stream-u1",))
    engine.send([init])
    engine.start()
    engine.drain()
    replies = engine.replies()
    ref = replies[init.event_id].payload["result"]
    assert ref.key == "stream-u1"

    up = operator.make_invoke_event(ref, "update_balance", (42,))
    get = operator.make_invoke_event(ref, "update_balance", (-2,))
    engine.send([up, get])
    engine.drain()
    replies = engine.replies()
    assert up.event_id in replies and get.event_id in replies


def test_streaming_engine_cross_key_flow(engine):
    """buy_item through the continuous engine: the flow loops through the
    loopback sink across micro-batches (reference golden values)."""
    init_u = operator.make_init_event("User", ("stream-u2",))
    init_i = operator.make_init_event("Item", ("stream-item", 5))
    engine.send([init_u, init_i])
    engine.start()
    engine.drain()
    replies = engine.replies()
    uref = replies[init_u.event_id].payload["result"]
    iref = replies[init_i.event_id].payload["result"]

    setup = [
        operator.make_invoke_event(uref, "update_balance", (20,)),
        operator.make_invoke_event(iref, "update_stock", (4,)),
    ]
    engine.send(setup)
    engine.drain()

    buy = operator.make_invoke_event(uref, "buy_item", (3, iref))
    engine.send([buy])
    engine.drain()
    replies = engine.replies()
    assert replies[buy.event_id].payload["result"] is True

    # state checks via GET_STATE events through the stream
    from stateflow_spark.entity.model import Event, EventType
    import uuid

    g1 = Event(str(uuid.uuid4()), "User", "stream-u2", EventType.GET_STATE,
               {"attr": "balance"})
    g2 = Event(str(uuid.uuid4()), "Item", "stream-item", EventType.GET_STATE,
               {"attr": "stock"})
    engine.send([g1, g2])
    engine.drain()
    replies = engine.replies()
    assert replies[g1.event_id].payload["result"] == 5
    assert replies[g2.event_id].payload["result"] == 1


def test_streaming_engine_recovery(spark, tmp_path):
    """Kill the query and restart from the same checkpoint: entity state
    must survive (the state store + checkpoint replaces the reference's
    Beam/Flink state backends and DynamoDB locks — SURVEY.md §7)."""
    from stateflow_spark.entity.model import Event, EventType
    import uuid

    workdir = str(tmp_path / "recover_engine")
    eng1 = StreamingEntityEngine(spark, workdir)
    init = operator.make_init_event("User", ("recover-u1",))
    eng1.send([init])
    eng1.start()
    eng1.drain()
    ref = eng1.replies()[init.event_id].payload["result"]
    up = operator.make_invoke_event(ref, "update_balance", (99,))
    eng1.send([up])
    eng1.drain()
    eng1.stop()

    eng2 = StreamingEntityEngine(spark, workdir)
    g = Event(str(uuid.uuid4()), "User", "recover-u1", EventType.GET_STATE,
              {"attr": "balance"})
    eng2.send([g])
    eng2.start()
    try:
        eng2.drain()
        assert eng2.replies()[g.event_id].payload["result"] == 99
    finally:
        eng2.stop()


def _send_corrupt_file(eng):
    """Write a non-parquet file straight into the source dir: the file
    source fails to read it, outside the per-key event core (which
    quarantines poison blobs), so the query dies."""
    with open(os.path.join(eng.in_dir, "corrupt.parquet"), "wb") as f:
        f.write(b"not-a-parquet-file")


def test_streaming_engine_poison_no_ttl(spark, tmp_path):
    """A dead query must surface as a raised error from drain(), not a
    hang: processAllAvailable rethrows the stream death cause."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    eng = StreamingEntityEngine(spark, str(tmp_path / "poison_engine"))
    _send_corrupt_file(eng)
    eng.start()
    try:
        with pytest.raises(StreamingQueryException):
            eng.drain()
    finally:
        eng.stop()


def test_streaming_engine_dead_letter_quarantine(spark, tmp_path):
    """Round-8 VERDICT #6: with quarantine (the default), a planted poison
    batch must NOT kill the continuous query — the DLQ row carries the
    error + original event bytes, and a healthy key in the SAME batch
    processes normally."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    eng = StreamingEntityEngine(spark, str(tmp_path / "dlq_engine"))
    init = operator.make_init_event("User", ("dlq-u1",))
    # poison + healthy rows land in the same micro-batch
    tbl = pa.table(
        {
            "entity": pa.array(["User", "User"], pa.string()),
            "key": pa.array(["poison-u1", "dlq-u1"], pa.string()),
            "seq": pa.array([1, 2], pa.int64()),
            "blob": pa.array(
                [b"garbage-not-an-event", init.to_bytes()], pa.binary()
            ),
        }
    )
    pq.write_table(tbl, os.path.join(eng.in_dir, "mixed.parquet"))
    eng.start()
    try:
        eng.drain()
        # healthy key unaffected
        ref = eng.replies()[init.event_id].payload["result"]
        assert ref.key == "dlq-u1"
        # DLQ row carries the error and the original bytes
        dls = eng.dead_letters()
        assert len(dls) == 1
        assert dls[0]["key"] == "poison-u1"
        assert dls[0]["error"]
        assert dls[0]["event_blob"] == b"garbage-not-an-event"
        # engine still alive: a follow-up round-trips and state is intact
        import uuid

        from stateflow_spark.entity.model import Event, EventType

        up = operator.make_invoke_event(ref, "update_balance", (5,))
        g = Event(
            str(uuid.uuid4()), "User", "dlq-u1", EventType.GET_STATE,
            {"attr": "balance"},
        )
        eng.send([up, g])
        eng.drain()
        assert eng.replies()[g.event_id].payload["result"] == 5
    finally:
        eng.stop()


def test_streaming_engine_dead_letter_handler_escape(spark, tmp_path):
    """A decodable event whose handling raises OUTSIDE operator.handle's
    caught paths (unknown entity type → KeyError) is quarantined AND the
    waiting client gets an ERROR reply carrying the same message."""
    import uuid

    from stateflow_spark.entity.model import Event, EventType

    eng = StreamingEntityEngine(spark, str(tmp_path / "dlq_escape_engine"))
    bad = Event(
        str(uuid.uuid4()), "NoSuchEntity", "k1", EventType.GET_STATE,
        {"attr": "x"},
    )
    eng.send([bad])
    eng.start()
    try:
        eng.drain()
        reply = eng.replies()[bad.event_id]
        assert reply.event_type == EventType.ERROR
        assert "NoSuchEntity" in reply.payload["error"]
        dls = eng.dead_letters()
        assert len(dls) == 1
        assert dls[0]["entity"] == "NoSuchEntity"
        assert dls[0]["error"] == reply.payload["error"]
        # the quarantined original bytes replay to the same event
        assert Event.from_bytes(dls[0]["event_blob"]).event_id == bad.event_id
    finally:
        eng.stop()


def test_stateful_fn_writes_state_only_on_put():
    """The keyed state function, Spark-free: a batch that put() state
    calls GroupState.update exactly once, a read-only batch leaves it
    uncalled, and no timeout or removal is ever asked of the store."""
    import pickle
    import uuid

    import pandas as pd

    from stateflow_spark.entity.model import Event, EventType
    from stateflow_spark.streaming.stateful import (
        _make_stateful_fn,
        serialize_registry,
    )

    class RecordingGroupState:
        def __init__(self):
            self.blob = None
            self.calls = []

        @property
        def exists(self):
            return self.blob is not None

        @property
        def get(self):
            return (self.blob,)

        def update(self, v):
            self.calls.append("update")
            self.blob = v[0]

        def remove(self):  # pragma: no cover - must never be called
            self.calls.append("remove")

        def setTimeoutDuration(self, ms):  # pragma: no cover - ditto
            self.calls.append("setTimeoutDuration")

    fn = _make_stateful_fn(serialize_registry())
    state = RecordingGroupState()

    def run(*events):
        state.calls.clear()
        pdf = pd.DataFrame(
            {
                "seq": list(range(len(events))),
                "blob": [e.to_bytes() for e in events],
            }
        )
        (out,) = fn(("User", "fn-u1"), iter([pdf]), state)
        assert list(out["kind"]) == ["reply"] * len(events)
        return [Event.from_bytes(b) for b in out["blob"]]

    def get_balance():
        return Event(
            str(uuid.uuid4()), "User", "fn-u1", EventType.GET_STATE,
            {"attr": "balance"},
        )

    (init_reply,) = run(operator.make_init_event("User", ("fn-u1",)))
    assert init_reply.event_type == EventType.OK
    assert state.calls == ["update"]
    ref = init_reply.payload["result"]

    (read,) = run(get_balance())
    assert read.payload["result"] == 0
    assert state.calls == []

    ok, read = run(
        operator.make_invoke_event(ref, "update_balance", (7,)), get_balance()
    )
    assert ok.event_type == EventType.OK and read.payload["result"] == 7
    assert state.calls == ["update"]
    assert pickle.loads(state.blob)["balance"] == 7


def test_dlq_tripwire_detects_inplace_mutation_without_put(monkeypatch):
    """Round-11 ADVICE: the DLQ rollback baseline only re-snapshots after
    a put(); a handler that mutates the live state object IN PLACE
    without put() would have that mutation silently discarded by a later
    failure's rollback. The engine must trip loudly on the contract
    violation (once per key per batch), not lose data quietly."""
    import uuid
    from types import SimpleNamespace

    import pandas as pd
    import pytest

    from stateflow_spark.entity import operator as op_mod
    from stateflow_spark.entity.model import Event, EventType
    from stateflow_spark.streaming.stateful import (
        _make_stateful_fn,
        serialize_registry,
    )

    class FakeGroupState:
        exists = False

        def update(self, v):  # pragma: no cover - tripwire fires first
            self.exists = True

    calls = {"n": 0}

    def bad_handle(ev, store):
        calls["n"] += 1
        if calls["n"] == 1:
            store.put(store_ref(ev), {"balance": 1, "items": []})
        else:
            # contract violation: in-place mutation, no put()
            store.get(store_ref(ev))["items"].append("x")
        return SimpleNamespace(replies=[], hops=[])

    def store_ref(ev):
        from stateflow_spark.entity.model import EntityRef

        return EntityRef(ev.entity, ev.key)

    monkeypatch.setattr(op_mod, "handle", bad_handle)
    fn = _make_stateful_fn(serialize_registry())
    evs = [
        Event(str(uuid.uuid4()), "User", "u1", EventType.GET_STATE,
              {"attr": "balance"})
        for _ in range(2)
    ]
    pdf = pd.DataFrame(
        {"blob": [e.to_bytes() for e in evs], "seq": [1, 2]}
    )
    with pytest.raises(RuntimeError, match="without put"):
        list(fn(("User", "u1"), iter([pdf]), FakeGroupState()))
    # the same batch with put-disciplined handling passes clean
    def good_handle(ev, store):
        st = dict(store.get(store_ref(ev)) or {"balance": 0, "items": []})
        store.put(store_ref(ev), st)
        return SimpleNamespace(replies=[], hops=[])

    monkeypatch.setattr(op_mod, "handle", good_handle)
    out = list(fn(("User", "u1"), iter([pdf]), FakeGroupState()))
    assert len(out) == 1


def _fake_batch(spark, rows):
    from stateflow_spark.streaming.stateful import OUT_STRUCT

    return spark.createDataFrame(rows, OUT_STRUCT)


def test_route_batch_single_spark_job(spark, tmp_path):
    """The egress router must cost exactly ONE Spark job per micro-batch
    (round 2 ran two extra limit(1).count() emptiness probes per batch):
    one staged partitionBy write, then driver-side renames."""
    eng = StreamingEntityEngine(spark, str(tmp_path / "route_engine"))
    batch = _fake_batch(
        spark,
        [
            ("reply", "User", "u1", 1, b"r1"),
            ("hop", "User", "u2", 2, b"h1"),
            ("reply", "User", "u3", 3, b"r2"),
        ],
    )
    sc = spark.sparkContext
    sc.setJobGroup("route-jobs", "route batch")
    try:
        eng._route_batch(batch, 7)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("route-jobs")
    assert len(jobs) == 1, f"expected 1 Spark job per batch, got {len(jobs)}"
    # both destinations got their rows, with deterministic batch-stamped
    # names (one file per task that had rows — no coalesce)
    import pyarrow.parquet as pq

    replies = os.listdir(eng.replies_dir)
    hops = os.listdir(eng.in_dir)
    assert replies and all(f.startswith("reply-7-") for f in replies)
    assert hops and all(f.startswith("hop-7-") for f in hops)
    n_replies = sum(
        pq.read_table(os.path.join(eng.replies_dir, f)).num_rows for f in replies
    )
    n_hops = sum(
        pq.read_table(os.path.join(eng.in_dir, f)).num_rows for f in hops
    )
    assert (n_replies, n_hops) == (2, 1)


def test_route_batch_retry_is_idempotent(spark, tmp_path):
    """A re-executed micro-batch (Spark at-least-once foreachBatch) must
    overwrite its previous attempt's hop/reply files, not append duplicates
    — a duplicated hop would re-run a non-idempotent flow step (round-2
    VERDICT wrong-item 4)."""
    import pyarrow.parquet as pq

    eng = StreamingEntityEngine(spark, str(tmp_path / "retry_engine"))
    rows = [
        ("reply", "User", "u1", 1, b"r1"),
        ("hop", "Item", "i1", 2, b"h1"),
        ("hop", "Item", "i2", 3, b"h2"),
    ]
    eng._route_batch(_fake_batch(spark, rows), 3)
    first_hops = sorted(
        bytes(b)
        for f in os.listdir(eng.in_dir)
        for b in pq.read_table(os.path.join(eng.in_dir, f))
        .column("blob")
        .to_pylist()
    )
    # the retry replays the identical batch (state rolled back with the
    # checkpoint) — simulate it by routing the same rows + batch_id again
    eng._route_batch(_fake_batch(spark, rows), 3)
    hops = sorted(
        bytes(b)
        for f in os.listdir(eng.in_dir)
        for b in pq.read_table(os.path.join(eng.in_dir, f))
        .column("blob")
        .to_pylist()
    )
    assert hops == first_hops == [b"h1", b"h2"]
    replies = [
        bytes(b)
        for f in os.listdir(eng.replies_dir)
        for b in pq.read_table(os.path.join(eng.replies_dir, f))
        .column("blob")
        .to_pylist()
    ]
    assert replies == [b"r1"]


def test_replies_incremental_reads_each_file_once(engine, monkeypatch):
    """replies() must open each reply file at most once across polls (the
    drain loop used to re-read + collect the whole sink every 250 ms)."""
    import pyarrow.parquet as pq

    init = operator.make_init_event("User", ("inc-u1",))
    engine.send([init])
    engine.start()
    engine.drain()
    assert init.event_id in engine.replies()

    opened = []
    real = pq.read_table

    def counting(path, *a, **kw):
        opened.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "read_table", counting)
    for _ in range(5):
        engine.replies()
    assert opened == [], f"already-seen reply files re-read: {opened[:3]}"


def test_replies_is_a_read_only_live_view(engine):
    """replies() hands out one live view of the reply history, not a copy
    per call: it rejects writes, and a view taken before a later drain
    shows that drain's replies once they are read."""
    init = operator.make_init_event("User", ("view-u1",))
    engine.send([init])
    engine.start()
    engine.drain()
    view = engine.replies()
    with pytest.raises(TypeError):
        view["forged"] = view[init.event_id]
    assert "forged" not in view

    ref = view[init.event_id].payload["result"]
    up = operator.make_invoke_event(ref, "update_balance", (7,))
    engine.send([up])
    engine.drain()
    assert engine.replies() is view
    assert up.event_id in view and init.event_id in view


def _stream_events(spark, tmp_path):
    """Re-serve the events table through a file stream (maxFilesPerTrigger
    exercises multi-batch accumulation)."""
    src = str(tmp_path / "events_src")
    e = load(spark, SF_DIR, "events")
    e.repartition(4).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(e.schema).option(
        "maxFilesPerTrigger", "2"
    ).parquet(src)


def _run_to_memory(stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_stream_batch_parity_tumbling(spark, tmp_path):
    stream = _stream_events(spark, tmp_path)
    _run_to_memory(sw.hourly_tumbling(stream), "t_tumb", mode="append")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM t_tumb").collect()
    }
    from stateflow_spark.queries import REGISTRY

    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in REGISTRY["events_hourly_tumbling"].fn(spark, SF_DIR).collect()
    }
    # append mode emits only windows finalized by the watermark; every
    # emitted window must match the batch result exactly, and most windows
    # must have been emitted (the tail of the stream stays open)
    assert got, "no windows emitted"
    for k, v in got.items():
        assert expected[(k[0], k[1])][0] == v[0]
        assert expected[(k[0], k[1])][1] == v[1]
    assert len(got) >= len(expected) - 25  # open tail windows per type


def test_stream_batch_parity_sliding(spark, tmp_path):
    stream = _stream_events(spark, tmp_path)
    _run_to_memory(sw.sliding_counts(stream), "t_slide", mode="append")
    got = {
        r.window_start: r.n_events
        for r in spark.sql("SELECT * FROM t_slide").collect()
    }
    from stateflow_spark.queries import REGISTRY

    expected = {
        r.window_start: r.n_events
        for r in REGISTRY["events_sliding_window"].fn(spark, SF_DIR).collect()
    }
    assert got, "no sliding windows emitted"
    for k, v in got.items():
        assert expected[k] == v


def test_stream_dedup_within_watermark(spark, tmp_path):
    stream = _stream_events(spark, tmp_path)
    _run_to_memory(sw.dedup_within_watermark(stream), "t_dedup")
    n = spark.sql("SELECT count(*) AS n FROM t_dedup").collect()[0].n
    # exact first-per-(user,type) count from batch
    expected = (
        load(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert n == expected


def test_stream_stream_join_parity(spark, tmp_path):
    """Stream–stream time-bounded join equals the same join run in batch.

    Inner stream-stream joins emit a match as soon as both sides arrive;
    nothing is retracted, so the streamed output must be exactly the batch
    result once the stream is fully consumed."""
    stream = _stream_events(spark, tmp_path)
    _run_to_memory(sw.stream_stream_join(stream, stream), "t_ssj")
    got = {
        (r.user_id, r.click_id, r.view_id)
        for r in spark.sql("SELECT * FROM t_ssj").collect()
    }
    e = load(spark, SF_DIR, "events")
    batch = {
        (r.user_id, r.click_id, r.view_id)
        for r in sw.stream_stream_join(e, e).collect()
    }
    assert got == batch
    assert batch, "no click-view pairs in testdata"


def test_stream_session_windows_run(spark, tmp_path):
    stream = _stream_events(spark, tmp_path)
    _run_to_memory(sw.session_windows(stream), "t_sess")
    rows = spark.sql("SELECT * FROM t_sess").collect()
    # closed sessions must agree with the batch gaps-and-islands result
    from stateflow_spark.queries import REGISTRY

    batch = {
        (r.user_id, r.session_start): (r.n_events, r.total_value)
        for r in REGISTRY["events_session_windows"].fn(spark, SF_DIR).collect()
    }
    assert rows
    for r in rows:
        assert batch[(r.user_id, r.session_start)] == (r.n_events, r.total_value)


@pytest.mark.slow
def test_stream_state_runs_seams_across_micro_batches(spark, tmp_path):
    """A same-type run whose events land in DIFFERENT phase files (ts
    terciles → separate micro-batches) must come back as ONE run — the
    open-run state carrying across the batch boundary is the whole point
    of the stateful form."""
    import datetime as dt

    from stateflow_spark.queries import REGISTRY
    from stateflow_spark.queries import streaming_late

    t0 = dt.datetime(2024, 1, 1)
    mins = [(0, "A"), (10, "A"), (40, "A"), (50, "A"),
            (55, "B"), (58, "B"), (89, "C"), (90, "C")]
    df = spark.createDataFrame(
        [(i + 1, t0 + dt.timedelta(minutes=m), 1, et, 1.0, "{}")
         for i, (m, et) in enumerate(mins)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    # span 0..90 min → terciles split at 30 and 60: the A-run straddles
    # phase 0→1 and the B-run is closed by an event in phase 2
    rows = REGISTRY["stream_state_runs"].fn(spark, str(tmp_path)).collect()
    got = {
        (r.event_type): (r.run_len, r.run_start.minute, r.run_end.minute)
        for r in rows
    }
    assert got == {"A": (4, 0, 50), "B": (2, 55, 58)}  # C stays open
    # and the harness really produced 3 separate micro-batch files (the
    # served-source memo hands back the dir the row streamed)
    src = streaming_late._phase_src(spark, str(tmp_path))
    import os
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 3


@pytest.mark.slow
def test_stream_stream_left_outer_eviction_semantics(spark, tmp_path):
    """Left-outer stream-stream join: matched pairs equal the batch inner
    join; null rows appear EXACTLY for unmatched clicks strictly below
    the final global watermark = min(max click ts, max view ts) - 1h
    (per-type maxima because the type filters push below the watermark
    nodes), and the held-back tail is non-empty on this corpus — proving
    state eviction is observable, not that the stream just emitted the
    batch left join."""
    import datetime as dt

    from pyspark.sql import functions as F

    stream = _stream_events(spark, tmp_path)
    _run_to_memory(sw.stream_stream_join_outer(stream, stream), "t_ssjo")
    got = spark.sql("SELECT * FROM t_ssjo").collect()
    got_matched = {(r.user_id, r.click_id, r.view_id) for r in got if r.view_id is not None}
    got_nulls = {r.click_id for r in got if r.view_id is None}

    e = load(spark, SF_DIR, "events")
    batch = sw.stream_stream_join_outer(e, e).collect()
    b_matched = {(r.user_id, r.click_id, r.view_id) for r in batch if r.view_id is not None}
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "ts").collect()
    views_max = e.filter(F.col("event_type") == "view").agg(F.max("ts")).collect()[0][0]
    clicks_max = max(r.ts for r in clicks)
    wm = min(clicks_max, views_max) - dt.timedelta(hours=1)
    unmatched = {r.click_id for r in batch if r.view_id is None}
    expect_nulls = {
        r.event_id for r in clicks if r.event_id in unmatched and r.ts < wm
    }
    held_back = unmatched - expect_nulls
    assert got_matched == b_matched
    assert got_nulls == expect_nulls
    assert held_back, "corpus has no tail clicks — eviction untested"


def test_stream_static_enrich_broadcasts_dimension(spark):
    """The stream-static enrichment must broadcast the dimension — the
    same builder in batch mode (identical plan shape) must show a
    BroadcastHashJoin with no shuffle join; on a stream the unbounded
    side then never exchanges for the join."""
    import contextlib
    import io

    e = load(spark, SF_DIR, "events")
    c = load(spark, SF_DIR, "customer")
    df = sw.stream_static_enrich(e, c)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_streaming_engine_state_schema_evolution(spark, tmp_path):
    """Round-8 VERDICT #7: production state stores must survive an entity
    class GAINING an attribute across a checkpoint restart. Run v1 of a
    class, persist state, stop; register v2 (new ``loyalty`` attribute
    with a class-body declared default + a method using it) and restart
    from the same checkpoint: the old state rehydrates with the default
    filled, old attributes intact, and the new method works."""
    import uuid

    from stateflow_spark.entity.model import Event, EventType
    from stateflow_spark.entity.registry import entity

    class EvoUserV1:
        def __init__(self, username: str):
            self.username: str = username
            self.balance: int = 0

        def update_balance(self, x: int):
            self.balance += x

        def __key__(self):
            return self.username

    class EvoUserV2:
        loyalty: int = 7  # declared upgrade default (schema evolution)

        def __init__(self, username: str):
            self.username: str = username
            self.balance: int = 0
            self.loyalty: int = 7

        def update_balance(self, x: int):
            self.balance += x

        def redeem(self, n: int) -> int:
            self.loyalty += n
            return self.loyalty

        def __key__(self):
            return self.username

    # both versions register under ONE entity name, like a code deploy
    EvoUserV1.__name__ = "EvoUser"
    EvoUserV2.__name__ = "EvoUser"

    workdir = str(tmp_path / "evo_engine")
    entity(EvoUserV1)
    eng1 = StreamingEntityEngine(spark, workdir)
    init = operator.make_init_event("EvoUser", ("evo-u1",))
    eng1.send([init])
    eng1.start()
    eng1.drain()
    ref = eng1.replies()[init.event_id].payload["result"]
    eng1.send([operator.make_invoke_event(ref, "update_balance", (55,))])
    eng1.drain()
    eng1.stop()

    entity(EvoUserV2)  # the deploy: same name, one more attribute
    eng2 = StreamingEntityEngine(spark, workdir)
    g_bal = Event(str(uuid.uuid4()), "EvoUser", "evo-u1", EventType.GET_STATE,
                  {"attr": "balance"})
    g_loy = Event(str(uuid.uuid4()), "EvoUser", "evo-u1", EventType.GET_STATE,
                  {"attr": "loyalty"})
    redeem = operator.make_invoke_event(ref, "redeem", (5,))
    eng2.send([g_bal, g_loy])
    eng2.start()
    try:
        eng2.drain()
        assert eng2.replies()[g_bal.event_id].payload["result"] == 55
        assert eng2.replies()[g_loy.event_id].payload["result"] == 7
        eng2.send([redeem])
        eng2.drain()
        assert eng2.replies()[redeem.event_id].payload["result"] == 12
        # the upgraded value persisted: read it back
        g2 = Event(str(uuid.uuid4()), "EvoUser", "evo-u1",
                   EventType.GET_STATE, {"attr": "loyalty"})
        eng2.send([g2])
        eng2.drain()
        assert eng2.replies()[g2.event_id].payload["result"] == 12
    finally:
        eng2.stop()


def test_dlq_tripwire_fires_at_rollback_time(monkeypatch):
    """Round-12 review: the post-loop tripwire alone cannot catch the
    EXACT defended scenario — an in-place mutation followed by a later
    failing event in the same batch — because the DLQ rollback restores
    pre_state before the check, erasing the drift. The rollback path
    must run the content compare BEFORE restoring, and trip instead of
    quarantining."""
    import uuid
    from types import SimpleNamespace

    import pandas as pd
    import pytest

    from stateflow_spark.entity import operator as op_mod
    from stateflow_spark.entity.model import Event, EventType
    from stateflow_spark.streaming.stateful import (
        _make_stateful_fn,
        serialize_registry,
    )

    class FakeGroupState:
        exists = False

        def update(self, v):  # pragma: no cover - tripwire fires first
            self.exists = True

    def store_ref(ev):
        from stateflow_spark.entity.model import EntityRef

        return EntityRef(ev.entity, ev.key)

    calls = {"n": 0}

    def bad_handle(ev, store):
        calls["n"] += 1
        if calls["n"] == 1:
            store.put(store_ref(ev), {"balance": 1, "items": []})
        elif calls["n"] == 2:
            # uncommitted in-place mutation...
            store.get(store_ref(ev))["items"].append("x")
        else:
            # ...followed by a failure the DLQ would quarantine: the
            # rollback would silently discard event 2's mutation
            raise ValueError("poison")
        return SimpleNamespace(replies=[], hops=[])

    monkeypatch.setattr(op_mod, "handle", bad_handle)
    fn = _make_stateful_fn(serialize_registry())
    evs = [
        Event(str(uuid.uuid4()), "User", "u1", EventType.GET_STATE,
              {"attr": "balance"})
        for _ in range(3)
    ]
    pdf = pd.DataFrame(
        {"blob": [e.to_bytes() for e in evs], "seq": [1, 2, 3]}
    )
    with pytest.raises(RuntimeError, match="later event failed"):
        list(fn(("User", "u1"), iter([pdf]), FakeGroupState()))


# The continuous entity engines build their keyed plan in one function;
# the two analytics rows that fold their own state are the only other
# applyInPandasWithState sites, and kafka.py reaches stateful.py through
# its public names only.
_KEYED_PLAN_SITES = {
    "streaming/stateful.py": "keyed_operator",
    "queries/entity_ops.py": "entity_stateful_replay",
    "queries/streaming_late.py": "stream_state_runs",
}


def _keyed_plan_hits(sources: dict[str, str]) -> list[str]:
    import ast

    hits = []
    for rel, src in sorted(sources.items()):
        tree = ast.parse(src)
        allowed: set[int] = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.FunctionDef) and n.name == _KEYED_PLAN_SITES.get(rel):
                allowed |= set(range(n.lineno, n.end_lineno + 1))
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Attribute)
                and n.attr == "applyInPandasWithState"
                and n.lineno not in allowed
            ):
                hits.append(f"{rel}:{n.lineno} applyInPandasWithState")
            if rel != "streaming/kafka.py":
                continue
            if isinstance(n, ast.ImportFrom) and (n.module or "").endswith("stateful"):
                hits += [
                    f"{rel}:{n.lineno} imports {a.name}"
                    for a in n.names
                    if a.name.startswith("_")
                ]
            if (
                isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and n.value.id == "stateful"
                and n.attr.startswith("_")
            ):
                hits.append(f"{rel}:{n.lineno} uses stateful.{n.attr}")
    return hits


def _package_sources() -> dict[str, str]:
    import pathlib

    import stateflow_spark

    pkg = pathlib.Path(stateflow_spark.__file__).parent
    return {
        f.relative_to(pkg).as_posix(): f.read_text()
        for f in sorted(pkg.rglob("*.py"))
    }


def test_keyed_plan_is_built_in_one_function():
    import ast

    sources = _package_sources()
    assert _keyed_plan_hits(sources) == []
    for rel, cls, meth in [
        ("streaming/stateful.py", "StreamingEntityEngine", "start"),
        ("streaming/kafka.py", "KafkaEntityEngine", "build_plan"),
    ]:
        (klass,) = [
            n for n in ast.parse(sources[rel]).body
            if isinstance(n, ast.ClassDef) and n.name == cls
        ]
        (fn,) = [n for n in klass.body if getattr(n, "name", None) == meth]
        called = {
            n.func.id for n in ast.walk(fn)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        }
        assert "keyed_operator" in called, (rel, meth)


@pytest.mark.parametrize(
    "rel, planted",
    [
        (
            "streaming/kafka.py",
            "def plan(df, fn, out, st, t):\n"
            "    return df.groupBy('entity', 'key')"
            ".applyInPandasWithState(fn, out, st, 'append', t)\n",
        ),
        (
            "streaming/stateful.py",
            "def plan(df, fn, out, st, t):\n"
            "    return df.groupBy('entity', 'key')"
            ".applyInPandasWithState(fn, out, st, 'append', t)\n",
        ),
        (
            "streaming/kafka.py",
            "from stateflow_spark.streaming.stateful import _make_stateful_fn\n",
        ),
        (
            "streaming/kafka.py",
            "from stateflow_spark.streaming import stateful\n"
            "fn = stateful._make_stateful_fn(b'')\n",
        ),
    ],
)
def test_keyed_plan_guard_catches_planted_copy(rel, planted):
    sources = _package_sources()
    sources[rel] += "\n\n" + planted
    assert _keyed_plan_hits(sources)
