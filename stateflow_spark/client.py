"""Client surface: entity proxies + futures (reference parity for ops
#24/#25 — stateflow/client/class_ref.py:17-259, client/future.py:31-124,
kafka transport client/kafka_client.py:17-249).

The reference intercepts class construction with a metaclass and turns
attribute access / method calls into events completed by a Kafka consumer
thread. Here the same surface sits over a pluggable ``Transport``:

- LocalTransport      — in-process execution (reference LocalRuntime
                        analog)
- SuperstepTransport  — runs a drain's events as one distributed
                        SuperstepRuntime job (state persists across drains)
- StreamingTransport  — writes a drain's events as one input file of a
                        running StreamingEntityEngine and drains it
- KafkaTransport      — produces a drain's events and consumes replies

The Client alone queues calls and settles them; a transport is one
``run(events) -> {event_id: reply}`` call. A flush takes the whole queue,
runs it, and completes every future it took, with its reply or with the
error that kept it from one. Calls queued while a drain runs wait for the
next drain, so one caller's flush never fails another caller's call (the
reference completes each future by request id the same way).

Futures complete at flush time (micro-batch semantics); ``Future.get()``
flushes implicitly, so sequential client code reads naturally while
batch-minded code can queue many calls and flush once — the 100 TB
pattern, since per-event round trips are the reference's defining cost
(SURVEY.md §3.3)."""

from __future__ import annotations

import threading
from typing import Any, Optional

from stateflow_spark.entity import operator
from stateflow_spark.entity.model import EntityRef, Event, EventType
from stateflow_spark.entity.registry import get_entity_type


class Future:
    """Completes when its reply arrives (reference StateflowFuture,
    client/future.py:31-124): ERROR → RuntimeError, KEY_NOT_FOUND →
    KeyError, else the unwrapped result. A call its drain could not
    answer raises that drain's error instead."""

    def __init__(self, client: "Client", event: Event):
        self._client = client
        self._event = event
        self._reply: Optional[Event] = None
        self._error: Optional[BaseException] = None

    @property
    def event_id(self) -> str:
        return self._event.event_id

    @property
    def is_done(self) -> bool:
        return self._reply is not None or self._error is not None

    def __await__(self):
        """Awaitable form (reference AsyncClassRef, client/class_ref.py):
        the blocking flush runs in a worker thread so an event loop can
        drive many outstanding futures concurrently."""
        import asyncio

        async def _aget():
            if not self.is_done:
                await asyncio.to_thread(self._client.flush)
            return self.get()

        return _aget().__await__()

    def get(self) -> Any:
        # a flush settles every call queued before it started, this one
        # included, or waits for the drain that took it
        if not self.is_done:
            self._client.flush()
        if self._error is not None:
            raise self._error
        result = operator.reply_value(self._reply)
        if isinstance(result, EntityRef):
            return EntityHandle(self._client, result)
        return result


class MethodRef:
    """A bound method on an entity handle; calling it sends an event and
    returns a Future (reference client/class_ref.py:37-58)."""

    def __init__(self, client: "Client", ref: EntityRef, method: str):
        self._client = client
        self._ref = ref
        self._method = method

    def __call__(self, *args: Any) -> Future:
        args = tuple(
            a._ref if isinstance(a, EntityHandle) else a for a in args
        )
        return self._client._submit(
            operator.make_invoke_event(self._ref, self._method, args)
        )


class EntityHandle:
    """Client-side pointer to one entity instance (reference ClassRef).

    - handle.method(args)   → Future (event round trip)
    - handle.attr           → synchronous GET_STATE read
    - handle.attr = value   → UPDATE_STATE (flushed immediately)
    """

    def __init__(self, client: "Client", ref: EntityRef):
        object.__setattr__(self, "_client", client)
        object.__setattr__(self, "_ref", ref)

    @property
    def ref(self) -> EntityRef:
        return self._ref

    def __getattr__(self, name: str) -> Any:
        et = get_entity_type(self._ref.entity)
        if name in et.desc.methods and not name.startswith("__"):
            return MethodRef(self._client, self._ref, name)
        ev = Event(
            event_id=_fresh_id(),
            entity=self._ref.entity,
            key=self._ref.key,
            event_type=EventType.GET_STATE,
            payload={"attr": name},
        )
        return self._client._submit(ev).get()

    def __setattr__(self, name: str, value: Any) -> None:
        ev = Event(
            event_id=_fresh_id(),
            entity=self._ref.entity,
            key=self._ref.key,
            event_type=EventType.UPDATE_STATE,
            payload={"attr": name, "value": value},
        )
        self._client._submit(ev).get()

    def __repr__(self) -> str:
        return f"EntityHandle({self._ref})"


def _fresh_id() -> str:
    import uuid

    return str(uuid.uuid4())


class ClassClient:
    """Per-entity-type factory: ``client.entity(User)("kyle")`` creates an
    instance (reference: calling the wrapped class itself, meta_wrapper
    interception)."""

    def __init__(self, client: "Client", cls_name: str):
        self._client = client
        self._cls_name = cls_name

    def __call__(self, *args: Any, **kwargs: Any) -> Future:
        ev = operator.make_init_event(self._cls_name, args, kwargs)
        return self._client._submit(ev)

    def by_key(self, key: str) -> EntityHandle:
        """Handle for an assumed-existing key (no round trip)."""
        return EntityHandle(self._client, EntityRef(self._cls_name, key))


class Client:
    def __init__(self, transport: "Transport"):
        self._transport = transport
        # calls submitted and not yet taken by a drain, in submission order
        self._queue: list[Future] = []
        self._queue_lock = threading.Lock()
        # one drain at a time; submits never wait for it
        self._flush_lock = threading.Lock()

    def entity(self, cls: type | str) -> ClassClient:
        name = cls if isinstance(cls, str) else cls.__name__
        get_entity_type(name)  # validate registration
        return ClassClient(self, name)

    def find(self, cls: type | str, key: str) -> Future:
        """FIND_CLASS (reference stateflow.find, op #9)."""
        name = cls if isinstance(cls, str) else cls.__name__
        ev = Event(
            event_id=_fresh_id(),
            entity=name,
            key=key,
            event_type=EventType.FIND_CLASS,
        )
        return self._submit(ev)

    def ping(self) -> bool:
        """Health check (reference op #27). PING short-circuits in the
        operator without touching state; any registered entity type works
        as the routing target."""
        from stateflow_spark.entity.registry import get_registry

        reg = get_registry()
        if not reg:
            raise RuntimeError("no entity types registered")
        name = next(iter(reg))
        ev = Event(
            event_id=_fresh_id(),
            entity=name,
            key="__ping__",
            event_type=EventType.PING,
        )
        reply = self._submit(ev)
        reply.get()  # PONG carries no result; errors raise
        return True

    def _submit(self, event: Event) -> Future:
        fut = Future(self, event)
        with self._queue_lock:
            self._queue.append(fut)
        return fut

    def flush(self) -> None:
        """Run every call queued so far as one drain and settle each one:
        with its reply, else with the transport's exception or a
        "received no reply" error. Calls queued during the drain wait for
        the next one."""
        with self._flush_lock:
            with self._queue_lock:
                batch, self._queue = self._queue, []
            if not batch:
                return
            replies, error = {}, None
            try:
                replies = self._transport.run([f._event for f in batch])
            except Exception as exc:  # fails this drain's calls, no others
                error = exc
            finally:
                for fut in batch:
                    fut._reply = replies.get(fut.event_id)
                    if fut._reply is None:
                        fut._error = error or RuntimeError(
                            f"request received no reply: {fut._event}")


# -- transports -------------------------------------------------------------


class Transport:
    def run(self, events: list[Event]) -> dict[str, Event]:  # pragma: no cover
        """Execute one drain's events in order; replies by event_id."""
        raise NotImplementedError


class LocalTransport(Transport):
    """In-process execution against a dict store."""

    def __init__(self):
        from stateflow_spark.entity.local import DictStore

        self.store = DictStore()

    def run(self, events: list[Event]) -> dict[str, Event]:
        from stateflow_spark.entity.local import run_to_reply

        return {e.event_id: run_to_reply(e, self.store) for e in events}


class SuperstepTransport(Transport):
    """Each drain runs as one distributed superstep job. Entity state
    persists across drains as a distributed DataFrame."""

    def __init__(self, spark):
        from stateflow_spark.streaming.superstep import SuperstepRuntime

        self._rt = SuperstepRuntime(spark)
        self._state_df = None

    def run(self, events: list[Event]) -> dict[str, Event]:
        res = self._rt.run(events, state_df=self._state_df)
        self._state_df = res.state_df
        return res.replies


class StreamingTransport(Transport):
    """Each drain is one input file of a running StreamingEntityEngine;
    the continuous query is drained and the batch's replies picked from
    its reply sink."""

    def __init__(self, engine):
        self._engine = engine

    def run(self, events: list[Event]) -> dict[str, Event]:
        self._engine.send(events)
        self._engine.drain()
        replies = self._engine.replies()
        return {e.event_id: replies[e.event_id]
                for e in events if e.event_id in replies}


def kafka_record(event: Event) -> tuple[bytes, bytes]:
    """(key, value) producer record for an entity event — the client-side
    twin of streaming/kafka.py's encode_events column transform (same JSON
    key, same blob value), shared by KafkaTransport and tests."""
    import json

    key = json.dumps(
        {"entity": event.entity, "key": event.key, "seq": event.seq}
    ).encode()
    return key, event.to_bytes()


class KafkaTransport(Transport):
    """The reference's production client transport
    (stateflow/client/kafka_client.py:17-249): produce requests to the
    `{prefix}-request` topic, complete futures from `{prefix}-reply`.

    Pairs with streaming/kafka.py's KafkaEntityEngine. Needs the
    kafka-python client at runtime, OR any module exposing the same
    KafkaProducer/KafkaConsumer/TopicPartition surface via ``client_mod``
    — streaming/stub_broker.py is such a module, and tests/test_kafka.py
    runs this transport E2E against the stub-broker engine with it; a
    real broker exercises the default import path unmodified."""

    def __init__(
        self,
        brokers: str,
        prefix: str,
        timeout_s: float = 60.0,
        client_mod=None,
    ):
        if client_mod is None:
            try:
                import kafka as client_mod
            except ImportError as e:
                raise RuntimeError(
                    "KafkaTransport needs the kafka-python package"
                ) from e
        KafkaConsumer = client_mod.KafkaConsumer
        KafkaProducer = client_mod.KafkaProducer
        TopicPartition = client_mod.TopicPartition

        self._producer = KafkaProducer(bootstrap_servers=brokers)
        # Assign partitions EXPLICITLY and resolve end offsets NOW, before
        # any produce. A plain subscribe with auto_offset_reset='latest'
        # assigns lazily at first poll, so replies produced between the
        # first produce and that poll landed before the consumer's notion
        # of "latest" and were silently skipped → spurious "no reply" in
        # run(). seek_to_end fetches positions eagerly, so everything
        # produced after construction is visible.
        self._consumer = KafkaConsumer(
            bootstrap_servers=brokers,
            consumer_timeout_ms=int(timeout_s * 1000),
        )
        reply_topic = f"{prefix}-reply"
        parts = self._consumer.partitions_for_topic(reply_topic) or {0}
        tps = [TopicPartition(reply_topic, p) for p in sorted(parts)]
        self._consumer.assign(tps)
        self._consumer.seek_to_end(*tps)
        self._topic = f"{prefix}-request"

    def run(self, events: list[Event]) -> dict[str, Event]:
        """Produce the batch, then consume until every id in it has a
        reply or the consumer times out (the rest get no reply)."""
        for event in events:
            key, value = kafka_record(event)
            self._producer.send(self._topic, key=key, value=value)
        self._producer.flush()
        want = {e.event_id for e in events}
        out: dict[str, Event] = {}
        for msg in self._consumer:
            reply = Event.from_bytes(msg.value)
            if reply.event_id in want:
                out[reply.event_id] = reply
                if len(out) == len(want):
                    break
        return out
