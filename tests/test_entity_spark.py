"""Distributed entity execution on Spark (SuperstepRuntime) must agree with
LocalRuntime on the reference golden values — cross-key flows hop across
partitions here, so this exercises the real serialization + routing paths."""

from __future__ import annotations

import pytest

from stateflow_spark.entity import LocalRuntime, entity, operator
from stateflow_spark.entity.local import run_to_reply
from stateflow_spark.entity.model import EntityRef
from stateflow_spark.streaming.superstep import SuperstepRuntime

# reuse the registered fixture classes
from tests.test_entity_local import A, B, Item, User  # noqa: F401


def run_ops(spark, ops):
    """ops: list of (cls_name_or_ref, ...) client actions → replies list."""
    rt = SuperstepRuntime(spark)
    events = []
    for op in ops:
        events.append(op)
    res = rt.run(events)
    return res


def test_superstep_create_and_invoke(spark):
    e1 = operator.make_init_event("User", ("su1",))
    res = SuperstepRuntime(spark).run([e1])
    ref = res.result_of(e1)
    assert ref.key == "su1"

    e2 = operator.make_invoke_event(ref, "update_balance", (20,))
    res2 = SuperstepRuntime(spark).run([e2], state_df=res.state_df)
    assert res2.result_of(e2) is None
    state = res2.collect_state()
    assert state[("User", "su1")]["balance"] == 20
    assert res2.supersteps == 1  # non-split invoke: single round


def test_superstep_buy_item_golden(spark):
    """buy_item hops user→item→user: 3+ supersteps, reference golden values
    (balance 5 / stock 1)."""
    init_u = operator.make_init_event("User", ("su2",))
    init_i = operator.make_init_event("Item", ("sitem", 5))
    rt = SuperstepRuntime(spark)
    res = rt.run([init_u, init_i])
    uref = res.result_of(init_u)
    iref = res.result_of(init_i)

    setup = [
        operator.make_invoke_event(uref, "update_balance", (20,)),
        operator.make_invoke_event(iref, "update_stock", (4,)),
    ]
    res = rt.run(setup, state_df=res.state_df)

    buy = operator.make_invoke_event(uref, "buy_item", (3, iref))
    res = rt.run([buy], state_df=res.state_df)
    assert res.result_of(buy) is True
    assert res.supersteps >= 3  # user → item (stock) → user (balance)

    state = res.collect_state()
    assert state[("User", "su2")]["balance"] == 5
    assert state[("Item", "sitem")]["stock"] == 1


@pytest.mark.slow
def test_superstep_state_requests_golden(spark):
    """state_requests == 26 across partitions (fetch + invalidation hops)."""
    rt = SuperstepRuntime(spark)
    inits = [
        operator.make_init_event("A", ("sa1",)),
        operator.make_init_event("B", ("sb1",)),
        operator.make_init_event("B", ("sb2",)),
    ]
    res = rt.run(inits)
    aref, b1, b2 = (res.result_of(e) for e in inits)

    ev = operator.make_invoke_event(aref, "state_requests", ([b1, b2],))
    res = rt.run([ev], state_df=res.state_df)
    assert res.result_of(ev) == 26
    state = res.collect_state()
    assert state[("B", "sb1")]["balance"] == 1
    assert state[("B", "sb2")]["balance"] == 5


def test_superstep_concurrent_flows(spark):
    """Many independent flows in one batch resolve in parallel supersteps."""
    rt = SuperstepRuntime(spark)
    inits = [operator.make_init_event("User", (f"cu{i}",)) for i in range(8)]
    inits += [operator.make_init_event("Item", (f"ci{i}", 2)) for i in range(8)]
    res = rt.run(inits)
    users = [res.result_of(e) for e in inits[:8]]
    items = [res.result_of(e) for e in inits[8:]]

    setup = [operator.make_invoke_event(u, "update_balance", (10,)) for u in users]
    setup += [operator.make_invoke_event(i, "update_stock", (5,)) for i in items]
    res = rt.run(setup, state_df=res.state_df)

    buys = [
        operator.make_invoke_event(users[i], "buy_item", (2, items[i]))
        for i in range(8)
    ]
    res = rt.run(buys, state_df=res.state_df)
    for b in buys:
        assert res.result_of(b) is True
    state = res.collect_state()
    for i in range(8):
        assert state[("User", f"cu{i}")]["balance"] == 6  # 10 - 2*2
        assert state[("Item", f"ci{i}")]["stock"] == 3

    # all 8 flows advanced together: supersteps stay O(flow length), not O(flows)
    assert res.supersteps <= 6


def test_superstep_key_not_found(spark):
    from stateflow_spark.entity.model import EntityRef

    ev = operator.make_invoke_event(EntityRef("User", "ghost"), "update_balance", (1,))
    res = SuperstepRuntime(spark).run([ev])
    with pytest.raises(KeyError):
        res.result_of(ev)


def test_superstep_state_persistence(spark, tmp_path):
    """State snapshot round-trips through parquet: a fresh runtime resumes
    from the saved snapshot (the production between-batches pattern)."""
    from stateflow_spark.entity import operator
    from stateflow_spark.entity.model import EntityRef
    from stateflow_spark.streaming.superstep import SuperstepRuntime

    rt = SuperstepRuntime(spark)
    init = operator.make_init_event("User", ("persist-u1",))
    seeded = rt.run([init])
    ref = seeded.replies[init.event_id].payload["result"]
    res = rt.run(
        [operator.make_invoke_event(ref, "update_balance", (33,))],
        state_df=seeded.state_df,
    )
    path = str(tmp_path / "state_snapshot")
    SuperstepRuntime.save_state(res.state_df, path)

    rt2 = SuperstepRuntime(spark)
    restored = rt2.load_state(path)
    ev = operator.make_invoke_event(
        EntityRef("User", "persist-u1"), "update_balance", (7,)
    )
    res2 = rt2.run([ev], state_df=restored)
    state = res2.collect_state()
    assert state[("User", "persist-u1")]["balance"] == 40


def test_superstep_max_supersteps_guard(spark):
    """A flow still in flight past the bound must fail loudly, not spin —
    pinned against the round-5 cluster-resident hop loop (the guard now
    trips on the hop COUNT, the payloads never reach the driver)."""
    init_u = operator.make_init_event("User", ("sguard-u",))
    init_i = operator.make_init_event("Item", ("sguard-i", 5))
    rt = SuperstepRuntime(spark)
    res = rt.run([init_u, init_i])
    uref = res.result_of(init_u)
    iref = res.result_of(init_i)
    res = rt.run(
        [operator.make_invoke_event(uref, "update_balance", (20,)),
         operator.make_invoke_event(iref, "update_stock", (4,))],
        state_df=res.state_df,
    )
    buy = operator.make_invoke_event(uref, "buy_item", (3, iref))
    tight = SuperstepRuntime(spark, max_supersteps=1)
    with pytest.raises(RuntimeError, match="supersteps"):
        tight.run([buy], state_df=res.state_df)


def test_superstep_quarantines_handler_escape(spark):
    """A handler exception that escapes operator.handle (an event for an
    unregistered entity type) must not fail the superstep: the bad event
    gets an ERROR reply and lands in RunResult.dead_letters, and a healthy
    key in the same batch keeps its reply and state."""
    import uuid

    from stateflow_spark.entity.model import Event, EventType

    bad = Event(
        str(uuid.uuid4()), "NoSuchEntity", "k1", EventType.GET_STATE,
        {"attr": "x"},
    )
    init = operator.make_init_event("User", ("sdlq-u1",))
    res = SuperstepRuntime(spark).run([bad, init])

    reply = res.replies[bad.event_id]
    assert reply.event_type == EventType.ERROR
    assert "NoSuchEntity" in reply.payload["error"]
    with pytest.raises(RuntimeError, match="NoSuchEntity"):
        res.result_of(bad)

    assert len(res.dead_letters) == 1
    dl = res.dead_letters[0]
    assert (dl["entity"], dl["key"]) == ("NoSuchEntity", "k1")
    assert dl["error"] == reply.payload["error"]
    assert Event.from_bytes(dl["event_blob"]).event_id == bad.event_id

    assert res.result_of(init).key == "sdlq-u1"
    state = res.collect_state()
    assert set(state) == {("User", "sdlq-u1")}
    assert state[("User", "sdlq-u1")]["balance"] == 0


@pytest.mark.slow
def test_superstep_releases_prior_checkpoints(spark):
    """Per-superstep localCheckpoints must be released as the loop
    advances — executor storage is O(1) in superstep count within a run
    (round-5 ADVICE) — while BOTH the caller's input state_df and the
    returned final state survive (a localCheckpoint'd RDD is
    unrecoverable once its blocks drop, so freeing live data would
    corrupt branch-from-snapshot callers)."""
    def n_persistent():
        return spark._jsc.sc().getPersistentRDDs().size()

    init_u = operator.make_init_event("User", ("ckpt-u",))
    init_i = operator.make_init_event("Item", ("ckpt-i", 9))
    rt = SuperstepRuntime(spark)
    base = rt.run([init_u, init_i])
    uref, iref = base.result_of(init_u), base.result_of(init_i)
    base = rt.run(
        [
            operator.make_invoke_event(uref, "update_balance", (50,)),
            operator.make_invoke_event(iref, "update_stock", (10,)),
        ],
        state_df=base.state_df,
    )
    before = n_persistent()
    buy = operator.make_invoke_event(uref, "buy_item", (1, iref))
    res = rt.run([buy], state_df=base.state_df)
    assert res.supersteps >= 3  # user → item (stock) → user (balance)
    # ≥3 supersteps created ≥3 checkpoints, one each; only the FINAL one
    # may remain — every intermediate round's blocks must be gone
    assert n_persistent() <= before + 1, (before, n_persistent())
    # the caller's input snapshot is untouched: branch a second run off
    # the SAME base state and read both results
    res2 = rt.run(
        [operator.make_invoke_event(uref, "buy_item", (2, iref))],
        state_df=base.state_df,
    )
    # price 9/unit, base balance 50: buy 1 → 41, branch buy 2 → 32
    assert res.collect_state()[("User", "ckpt-u")]["balance"] == 41
    assert res2.collect_state()[("User", "ckpt-u")]["balance"] == 32
    assert base.collect_state()[("User", "ckpt-u")]["balance"] == 50


def test_superstep_stored_ref_flow(spark):
    """Round-8 stored-ref flows on the DISTRIBUTED runtime: the wallet and
    its backing account live at different keys, so pay_via_alias must hop
    wallet→backing→wallet and the read method must REQUEST_STATE across
    partitions — the serialization + routing paths LocalRuntime skips."""
    from tests.test_entity_local import Wallet  # registers the class

    init_b = operator.make_init_event("B", ("ss-wb1",))
    rt = SuperstepRuntime(spark)
    res = rt.run([init_b])
    bref = res.result_of(init_b)
    init_w = operator.make_init_event("Wallet", ("ss-w1", bref))
    res = rt.run([init_w], state_df=res.state_df)
    wref = res.result_of(init_w)

    res = rt.run(
        [operator.make_invoke_event(bref, "set_balance", (100,))],
        state_df=res.state_df,
    )
    pay = operator.make_invoke_event(wref, "pay_via_alias", (30,))
    res = rt.run([pay], state_df=res.state_df)
    assert res.result_of(pay) == 30
    assert res.supersteps >= 2  # the call hopped to the backing key

    read = operator.make_invoke_event(wref, "backing_balance_plus", (5,))
    res = rt.run([read], state_df=res.state_df)
    assert res.result_of(read) == 75  # 100 - 30 + 5

    state = res.collect_state()
    assert state[("B", "ss-wb1")]["balance"] == 70
    assert state[("Wallet", "ss-w1")]["spent"] == 30


@entity
class Tape:
    def __init__(self, name: str):
        self.name = name
        self.marks = []

    def mark(self, x: int) -> int:
        self.marks = self.marks + [x]
        return len(self.marks)

    def __key__(self):
        return self.name


def _local_replay(events):
    """Replies and final state of the same events, in seq order, on the
    in-process runtime."""
    rt = LocalRuntime()
    replies = {
        ev.event_id: operator.reply_value(run_to_reply(ev, rt.store))
        for ev in sorted(events, key=lambda e: e.seq)
    }
    return replies, rt.store.data


def test_superstep_groups_keys_across_arrow_batches(spark):
    """With 3 records per Arrow batch, one key's 30 events and its state
    row straddle many batches, and a transfer mix spreads hops over
    several keys per batch. The step must group per key, not per batch:
    state and replies equal LocalRuntime's, and every mark is applied
    once, in seq order."""
    from stateflow_spark import ycsb

    split = spark.newSession()
    split.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    rt = SuperstepRuntime(split)

    tape = operator.make_init_event("Tape", ("split-tape",))
    accounts = [
        operator.make_init_event("YCSBEntity", (f"split-y{i}", ycsb.STARTING_AMOUNT))
        for i in range(8)
    ]
    seeded = rt.run([tape, *accounts])
    tref = seeded.result_of(tape)
    refs = [seeded.result_of(a) for a in accounts]

    marks = [operator.make_invoke_event(tref, "mark", (i,)) for i in range(30)]
    transfers = [
        operator.make_invoke_event(
            refs[i % 8], "transfer", (1 + i % 3, refs[(i + 1 + i // 8) % 8])
        )
        for i in range(40)
    ]
    batch = marks + transfers
    res = rt.run(batch, state_df=seeded.state_df)

    want_replies, want_state = _local_replay([tape, *accounts, *batch])
    assert {ev.event_id: res.result_of(ev) for ev in batch} == {
        ev.event_id: want_replies[ev.event_id] for ev in batch
    }
    assert res.collect_state() == want_state
    assert res.collect_state()[("Tape", "split-tape")]["marks"] == list(range(30))
    assert res.dead_letters == []


def test_superstep_passes_untouched_state_through(spark):
    """Keys whose events commit no put() — none at all, or reads only —
    keep their state blob byte for byte (planted here with an old pickle
    protocol, which a re-pickle would change); a key that put() is
    re-encoded. A reads-only batch of one superstep costs at most 2
    Spark jobs: the shuffle map, and the reply collect that also
    checkpoints the step output and carries the hop count."""
    import pickle
    import uuid

    from stateflow_spark.entity.model import Event, EventType
    from stateflow_spark.streaming.superstep import STATE_SCHEMA

    keys = [f"pass-b{i}" for i in range(6)]
    inits = [operator.make_init_event("B", (k,)) for k in keys]
    rt = SuperstepRuntime(spark)
    seeded = rt.run(inits).collect_state()
    planted = {k: pickle.dumps(seeded[("B", k)], protocol=2) for k in keys}
    state_df = spark.createDataFrame(
        [("B", k, blob) for k, blob in planted.items()], STATE_SCHEMA
    )

    def read(key):
        return Event(
            str(uuid.uuid4()), "B", key, EventType.GET_STATE, {"attr": "balance"}
        )

    res = rt.run(
        [
            operator.make_invoke_event(EntityRef("B", keys[0]), "add_balance", (7,)),
            read(keys[1]),
        ],
        state_df=state_df,
    )
    blobs = {r.key: bytes(r.blob) for r in res.state_df.collect()}
    assert blobs.keys() == planted.keys()
    assert blobs[keys[0]] != planted[keys[0]]
    assert pickle.loads(blobs[keys[0]])["balance"] == 7
    for k in keys[1:]:
        assert blobs[k] == planted[k], k

    reads, jobs, _ = _spark_work(
        spark, lambda: rt.run([read(k) for k in keys], state_df=state_df)
    )
    assert reads.supersteps == 1
    assert len(reads.replies) == len(keys)
    assert jobs <= 2, jobs


def _spark_work(spark, fn):
    """Run fn() in its own job group: (its result, Spark jobs, stages that
    ran tasks) — counted the way the benchmark's traced runs count them."""
    import uuid

    sc = spark.sparkContext
    group = f"superstep-work-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "superstep job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [
        sid
        for jid in jobs
        for sid in st.getJobInfo(jid).stageIds
        if (info := st.getStageInfo(sid)) is not None and info.numTasks
    ]
    return out, len(jobs), len(stages)


def test_superstep_first_run_starts_from_events_alone(spark):
    """A run with no prior state reads only its events: one shuffle-map
    job and one job that checkpoints the step output and collects its
    replies. An empty run's returned state is as cheap to start from."""
    inits = [operator.make_init_event("B", (f"first-b{i}",)) for i in range(1000)]
    rt = SuperstepRuntime(spark)
    res, jobs, _ = _spark_work(spark, lambda: rt.run(inits))
    assert (res.supersteps, len(res.replies)) == (1, 1000)
    assert jobs <= 2, jobs

    empty = rt.run([])
    more = [operator.make_init_event("B", (f"first-c{i}",)) for i in range(10)]
    res, jobs, _ = _spark_work(
        spark, lambda: rt.run(more, state_df=empty.state_df)
    )
    assert len(res.collect_state()) == 10
    assert jobs <= 2, jobs


def test_superstep_batch_reads_its_checkpoint_back(spark):
    """A two-superstep transfer batch costs two jobs per superstep (the
    shuffle map and the checkpoint+collect); a lazy checkpoint recomputed
    instead of read back would show up as an extra job or stage."""
    from stateflow_spark import ycsb

    rt = SuperstepRuntime(spark)
    n = 100
    seeded = rt.run(
        [
            operator.make_init_event("YCSBEntity", (f"entity-{i}", 100))
            for i in range(n)
        ]
    )
    refs = ycsb._refs(n)
    batch = [
        operator.make_invoke_event(refs[i], "transfer", (1, refs[(i + 1) % n]))
        for i in range(n)
    ]
    res, jobs, stages = _spark_work(
        spark, lambda: rt.run(batch, state_df=seeded.state_df)
    )
    assert res.supersteps == 2
    assert len(res.replies) == n
    assert sum(s["value"] for s in res.collect_state().values()) == 100 * n
    assert jobs <= 4 and stages <= 6, (jobs, stages)


def test_superstep_empty_events(spark):
    """An empty batch runs no superstep and hands the state back as is."""
    rt = SuperstepRuntime(spark)
    empty = rt.run([])
    assert (empty.supersteps, empty.replies, empty.dead_letters) == (0, {}, [])
    assert empty.collect_state() == {}

    init = operator.make_init_event("B", ("empty-b",))
    seeded = rt.run([init])
    res = rt.run([], state_df=seeded.state_df)
    assert (res.supersteps, res.replies, res.dead_letters) == (0, {}, [])
    assert res.collect_state() == seeded.collect_state()


def test_superstep_quarantines_poison_hop(spark):
    """An undecodable blob among the hop rows (a flow event re-addressed
    to another key) lands in RunResult.dead_letters with its bytes; the
    target key's state is untouched and a healthy flow in the same batch
    completes."""
    from stateflow_spark.entity.model import EventType
    from stateflow_spark.serde import PickleSerde

    poison = b"\x00poisoned hop"

    class PoisonHopSerde(PickleSerde):
        def to_bytes(self, event):
            if event.event_type == EventType.FLOW and event.key == "phop-i1":
                return poison
            return super().to_bytes(event)

    rt = SuperstepRuntime(spark, serde=PoisonHopSerde())
    inits = [
        operator.make_init_event("User", ("phop-u1",)),
        operator.make_init_event("User", ("phop-u2",)),
        operator.make_init_event("Item", ("phop-i1", 5)),
        operator.make_init_event("Item", ("phop-i2", 5)),
    ]
    res = rt.run(inits)
    u1, u2, i1, i2 = (res.result_of(e) for e in inits)
    res = rt.run(
        [
            operator.make_invoke_event(u1, "update_balance", (20,)),
            operator.make_invoke_event(u2, "update_balance", (20,)),
            operator.make_invoke_event(i1, "update_stock", (4,)),
            operator.make_invoke_event(i2, "update_stock", (4,)),
        ],
        state_df=res.state_df,
    )
    bad = operator.make_invoke_event(u1, "buy_item", (3, i1))
    good = operator.make_invoke_event(u2, "buy_item", (3, i2))
    res = rt.run([bad, good], state_df=res.state_df)

    assert res.result_of(good) is True
    assert bad.event_id not in res.replies
    assert len(res.dead_letters) == 1
    dl = res.dead_letters[0]
    assert (dl["entity"], dl["key"], dl["event_blob"]) == ("Item", "phop-i1", poison)
    state = res.collect_state()
    assert state[("Item", "phop-i1")]["stock"] == 4
    assert state[("User", "phop-u1")]["balance"] == 20
    assert state[("Item", "phop-i2")]["stock"] == 1
    assert state[("User", "phop-u2")]["balance"] == 5
