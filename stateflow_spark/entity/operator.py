"""The stateful entity operator: dispatch one event against keyed state.

Runtime-agnostic core mirroring the reference's StatefulOperator handler
table (stateflow/dataflow/stateful_operator.py — create :36-62/:123-157,
get :159-176, find :178-190, update :192-209, invoke :211-247, flow
:249-275). LocalRuntime calls ``handle`` with a store that owns every key;
the superstep, continuous and Kafka runtimes call it through the per-key
event core (``keyed.apply_key_events``) with a store that owns one key.
``reply_value`` is the one client-side reading of a reply.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from typing import Any, Optional

from stateflow_spark.entity import wrapper
from stateflow_spark.entity.interpreter import (
    FlowState,
    Interpreter,
    StateStore,
    start_flow,
)
from stateflow_spark.entity.model import EntityRef, Event, EventType
from stateflow_spark.entity.registry import get_entity_type


@dataclass
class HandleResult:
    replies: list[Event] = field(default_factory=list)
    hops: list[Event] = field(default_factory=list)  # re-keyed flow events


def _flow_event(event_id: str, flow: FlowState, to: EntityRef) -> Event:
    return Event(
        event_id=event_id,
        entity=to.entity,
        key=to.key,
        event_type=EventType.FLOW,
        payload={"flow": flow},
    )


def _run_flow(
    event: Event, flow: FlowState, store: StateStore, res: HandleResult
) -> HandleResult:
    """Run a flow as far as this key's store lets it: a hop to another
    key, or the flow's ERROR / OK reply."""
    out = Interpreter(store).run(flow)
    if out.hop_to is not None:
        res.hops.append(_flow_event(event.event_id, out.flow, out.hop_to))
    elif out.error is not None:
        res.replies.append(event.reply(EventType.ERROR, error=out.error))
    else:
        res.replies.append(event.reply(EventType.OK, result=out.result))
    return res


def handle(event: Event, store: StateStore) -> HandleResult:
    """Process one event addressed to a key the store owns."""
    res = HandleResult()
    et = get_entity_type(event.entity)
    ref = EntityRef(event.entity, event.key)

    if event.event_type == EventType.PING:
        res.replies.append(event.reply(EventType.PONG))
        return res

    if event.event_type == EventType.INIT_CLASS:
        # keyed phase (reference phase 2, stateful_operator.py:123-157):
        # fail if state exists, else persist the initial state
        if store.get(ref) is not None:
            res.replies.append(
                event.reply(EventType.ERROR, error=f"{ref} already exists")
            )
            return res
        store.put(ref, event.payload["state"])
        res.replies.append(event.reply(EventType.OK, result=ref))
        return res

    state = store.get(ref)
    if state is not None:
        # schema-evolution upgrade: state persisted by an older class
        # version rehydrates with newly-declared attrs default-filled
        # (wrapper.upgrade_state; no-op unless attrs are missing)
        state = wrapper.upgrade_state(et.desc, state)

    if event.event_type == EventType.FIND_CLASS:
        if state is None:
            res.replies.append(event.reply(EventType.KEY_NOT_FOUND))
        else:
            res.replies.append(event.reply(EventType.OK, result=ref))
        return res

    if event.event_type == EventType.FLOW:
        return _run_flow(event, event.payload["flow"], store, res)

    # remaining types need existing state (reference KeyNotFound short-circuit,
    # stateful_operator.py:100-111)
    if state is None:
        res.replies.append(event.reply(EventType.KEY_NOT_FOUND))
        return res

    if event.event_type == EventType.GET_STATE:
        res.replies.append(
            event.reply(EventType.OK, result=state.get(event.payload["attr"]))
        )
    elif event.event_type == EventType.UPDATE_STATE:
        state[event.payload["attr"]] = event.payload["value"]
        store.put(ref, state)
        res.replies.append(event.reply(EventType.OK, result=None))
    elif event.event_type == EventType.INVOKE_STATEFUL:
        method = event.payload["method"]
        args = event.payload["args"]
        if method in et.flows:
            _run_flow(event, start_flow(ref, method, args), store, res)
        else:
            try:
                result, new_state = wrapper.invoke(
                    et.cls, et.desc, state, method, args
                )
            except Exception as ex:  # failed invocation → error reply, not a
                # crashed task (reference: class_wrapper.py:113-149 returns
                # InvokeMethodFailure); state is untouched on failure
                res.replies.append(
                    event.reply(
                        EventType.ERROR, error=f"{type(ex).__name__}: {ex}"
                    )
                )
                return res
            store.put(ref, new_state)
            res.replies.append(event.reply(EventType.OK, result=result))
    else:  # pragma: no cover
        res.replies.append(
            event.reply(EventType.ERROR, error=f"unknown event type {event.event_type}")
        )
    return res


def reply_value(reply: Event) -> Any:
    """A reply's result, or its failure raised: ERROR → RuntimeError,
    KEY_NOT_FOUND → KeyError (reference StateflowFuture,
    client/future.py:31-124)."""
    if reply.event_type == EventType.ERROR:
        raise RuntimeError(reply.payload["error"])
    if reply.event_type == EventType.KEY_NOT_FOUND:
        raise KeyError(f"{reply.entity}({reply.key}) not found")
    return reply.payload.get("result")


def make_init_event(cls_name: str, args: tuple, kwargs: dict | None = None) -> Event:
    """Stateless phase of InitClass: run __init__ + __key__ to produce the
    keyed INIT event (reference phase 1, stateful_operator.py:36-62)."""
    et = get_entity_type(cls_name)
    key, state = wrapper.init_instance(et.cls, et.desc, args, kwargs or {})
    return Event(
        event_id=str(uuid.uuid4()),
        entity=cls_name,
        key=key,
        event_type=EventType.INIT_CLASS,
        payload={"state": state},
    )


def make_invoke_event(ref: EntityRef, method: str, args: tuple) -> Event:
    return Event(
        event_id=str(uuid.uuid4()),
        entity=ref.entity,
        key=ref.key,
        event_type=EventType.INVOKE_STATEFUL,
        payload={"method": method, "args": args},
    )
