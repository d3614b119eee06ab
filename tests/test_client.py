"""Client-surface tests over all three transports (reference test analogs:
tests/client/class_ref_test.py:21-179, future_test.py:11-197)."""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from stateflow_spark.client import (
    Client,
    EntityHandle,
    LocalTransport,
    SuperstepTransport,
    StreamingTransport,
)

# registers User/Item/A/B fixtures
from tests.test_entity_local import A, B, Item, User  # noqa: F401


def _buy_item_scenario(client: Client):
    """The reference's demo flow: create user+item, stock, buy, verify."""
    User_ = client.entity(User)
    Item_ = client.entity(Item)

    user = User_("client-user").get()
    item = Item_("client-item", 5).get()
    assert isinstance(user, EntityHandle)

    user.update_balance(20).get()
    item.update_stock(4).get()
    assert user.buy_item(3, item).get() is True

    # attribute reads = GET_STATE round trips (golden values:
    # reference tests/stateflow_test.py:196-202)
    assert user.balance == 5
    assert item.stock == 1

    # attribute write = UPDATE_STATE
    user.balance = 42
    assert user.balance == 42

    # find: hit + miss
    assert client.find(User, "client-user").get().ref == user.ref
    with pytest.raises(KeyError):
        client.find(User, "missing").get()

    assert client.ping() is True

    # duplicate create fails
    with pytest.raises(RuntimeError, match="already exists"):
        User_("client-user").get()


def test_client_local_transport():
    _buy_item_scenario(Client(LocalTransport()))


@pytest.mark.slow
def test_client_superstep_transport(spark):
    _buy_item_scenario(Client(SuperstepTransport(spark)))


@pytest.mark.slow
def test_client_superstep_batching(spark):
    """Many calls queued, one flush → one distributed job settles all."""
    client = Client(SuperstepTransport(spark))
    User_ = client.entity(User)
    futs = [User_(f"batch-u{i}") for i in range(20)]
    handles = [f.get() for f in futs]  # first .get() flushes all creates
    ups = [h.update_balance(i) for i, h in enumerate(handles)]
    ups[0].get()
    assert all(u.is_done for u in ups)
    assert handles[7].balance == 7


@pytest.mark.slow
def test_client_streaming_transport(spark, tmp_path):
    from stateflow_spark.streaming.stateful import StreamingEntityEngine

    engine = StreamingEntityEngine(spark, str(tmp_path / "client_engine"))
    client = Client(StreamingTransport(engine))
    User_ = client.entity(User)
    fut = User_("stream-client-u")
    engine.start()
    try:
        user = fut.get()
        user.update_balance(11).get()
        assert user.balance == 11

        def sends():
            return {n for n in os.listdir(engine.in_dir) if n.startswith("send-")}

        before = sends()
        ups = [user.update_balance(1) for _ in range(10)]
        ups[-1].get()  # one drain: one engine input file for all ten
        assert len(sends() - before) == 1
        assert all(u.is_done for u in ups) and user.balance == 21
    finally:
        engine.stop()


def test_client_async_futures(spark):
    """Awaitable futures (reference AsyncClassRef): queue many calls, await
    them concurrently — one flush settles the whole batch."""
    import asyncio

    client = Client(SuperstepTransport(spark))
    User_ = client.entity(User)

    async def scenario():
        creates = [User_(f"async-u{i}") for i in range(8)]
        handles = await asyncio.gather(*creates)
        ups = [h.update_balance(i) for i, h in enumerate(handles)]
        await asyncio.gather(*ups)
        return handles

    handles = asyncio.run(scenario())
    assert handles[5].balance == 5


# -- one queue, one reply ledger: a drain settles exactly the calls it took


class _SlowDrain(LocalTransport):
    """Sleeps after taking its batch, so other threads submit mid-drain."""

    def run(self, events):
        time.sleep(0.05)
        return super().run(events)


def test_concurrent_callers_never_fail_each_other():
    client = Client(_SlowDrain())
    user = client.entity(User)("race-u").get()
    errors: list[BaseException] = []

    def caller():
        for _ in range(20):
            try:
                user.update_balance(1).get()
            except Exception as exc:
                errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=caller) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert user.balance == 80


class _GatedDrain(LocalTransport):
    """While ``armed``, the next drain blocks inside ``run`` until
    released, then raises ``fail`` if set; every drain's event ids are
    recorded."""

    def __init__(self, fail=None):
        super().__init__()
        self.fail, self.armed = fail, False
        self.entered, self.release = threading.Event(), threading.Event()
        self.batches: list[list[str]] = []

    def run(self, events):
        self.batches.append([e.event_id for e in events])
        if self.armed:
            self.armed = False
            self.entered.set()
            assert self.release.wait(timeout=30)
            if self.fail is not None:
                raise self.fail
        return super().run(events)


def _drain_in_thread(fut):
    """get() ``fut`` in a thread; returns (thread, outcome box)."""
    box: dict = {}

    def target():
        try:
            box["value"] = fut.get()
        except Exception as exc:
            box["error"] = exc

    t = threading.Thread(target=target)
    t.start()
    return t, box


def test_call_queued_during_a_drain_waits_for_the_next():
    transport = _GatedDrain()
    client = Client(transport)
    user = client.entity(User)("gated-u").get()
    transport.armed = True
    transport.batches.clear()

    first = user.update_balance(1)
    t, box = _drain_in_thread(first)
    assert transport.entered.wait(timeout=30)
    late = user.update_balance(2)  # submitted while the drain is in run
    transport.release.set()
    t.join(timeout=30)
    assert not t.is_alive() and "error" not in box
    assert first.is_done and not late.is_done
    assert late.get() is None
    assert transport.batches == [[first.event_id], [late.event_id]]
    assert user.balance == 3


def test_transport_error_fails_only_its_own_batch():
    boom = OSError("broker down")
    transport = _GatedDrain(fail=boom)
    transport.armed = True
    client = Client(transport)
    User_ = client.entity(User)
    a, b = User_("failed-a"), User_("failed-b")
    t, box = _drain_in_thread(a)
    assert transport.entered.wait(timeout=30)
    c = User_("after-c")  # queued while the failing drain runs
    transport.release.set()
    t.join(timeout=30)
    assert not t.is_alive() and box["error"] is boom
    assert b.is_done and not c.is_done
    with pytest.raises(OSError) as raised:
        b.get()
    assert raised.value is boom
    assert c.get().ref.key == "after-c"
