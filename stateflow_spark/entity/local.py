"""Synchronous in-process runtime (reference analog:
stateflow/util/local_runtime.py:17-97 — route → invoke → route loop with a
dict-backed store). Used by tests and as the semantic baseline the Spark
superstep engine must agree with."""

from __future__ import annotations

import uuid
from typing import Any, Optional

from stateflow_spark.entity import operator
from stateflow_spark.entity.interpreter import StateStore
from stateflow_spark.entity.model import EntityRef, Event, EventType


class DictStore(StateStore):
    def __init__(self):
        self.data: dict[tuple[str, str], dict] = {}

    def owns(self, ref: EntityRef) -> bool:
        return True

    def get(self, ref: EntityRef) -> Optional[dict]:
        return self.data.get((ref.entity, ref.key))

    def put(self, ref: EntityRef, state: dict) -> None:
        self.data[(ref.entity, ref.key)] = state


def run_to_reply(event: Event, store: StateStore) -> Event:
    """Drive an event (and any flow hops) to its reply — the while-loop
    of the reference's LocalRuntime.execute_event (:77-84). With a store
    that owns every key, flows never hop; the loop is for parity."""
    for _ in range(100_000):
        res = operator.handle(event, store)
        if not res.hops:
            return res.replies[0]
        event = res.hops[0]
    raise RuntimeError("flow did not terminate")


class LocalRuntime:
    def __init__(self):
        self.store = DictStore()

    def _execute(self, event: Event) -> Any:
        return operator.reply_value(run_to_reply(event, self.store))

    # -- client surface (reference ClassRef/MethodRef, client/class_ref.py) --
    def create(self, cls: type, *args: Any) -> EntityRef:
        ev = operator.make_init_event(cls.__name__, args)
        return self._execute(ev)

    def invoke(self, ref: EntityRef, method: str, *args: Any) -> Any:
        return self._execute(operator.make_invoke_event(ref, method, args))

    def get_attr(self, ref: EntityRef, attr: str) -> Any:
        return self._execute(
            Event(str(uuid.uuid4()), ref.entity, ref.key, EventType.GET_STATE,
                  {"attr": attr})
        )

    def set_attr(self, ref: EntityRef, attr: str, value: Any) -> None:
        self._execute(
            Event(str(uuid.uuid4()), ref.entity, ref.key, EventType.UPDATE_STATE,
                  {"attr": attr, "value": value})
        )

    def exists(self, ref: EntityRef) -> bool:
        try:
            self._execute(
                Event(str(uuid.uuid4()), ref.entity, ref.key, EventType.FIND_CLASS)
            )
            return True
        except KeyError:
            return False
