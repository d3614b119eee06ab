"""The per-key event core every distributed runtime shares.

An entity is one keyed operator and an event is one row (PAPER.md §1.1),
so the superstep, continuous and Kafka runtimes all run the same step:
apply one key's batch of event rows to that key's state. They differ only
in where the rows and the state come from and where the out-rows go —
that adapter work stays in streaming/; the step itself lives here, once.

Out-rows carry ``(kind, entity, key, seq, blob)``:

- ``reply`` — a serde-encoded reply event for the waiting client;
- ``hop``   — a serde-encoded flow event re-addressed to another key;
- ``dead``  — a quarantined event: pickled ``{"error", "event_blob"}``
  with the original bytes, enough to inspect, fix and re-inject.

State contract: handlers COMMIT mutations only via ``put()``. ``get()``
returns the live object for zero-copy reads; an in-place mutation of it
without a ``put()`` is a contract violation, not a commit. The dead-letter
rollback baseline re-snapshots only when ``put()`` moved the store's
version (a per-event deepcopy would make every key pay O(state × events)),
so an uncommitted in-place mutation would be silently discarded by a later
event's rollback. A tripwire enforces the contract: version unmoved and
state content drifted ⇒ loud RuntimeError, checked once per key per batch
and again at the moment a rollback would erase the evidence.
"""

from __future__ import annotations

import copy
import pickle
from typing import Iterable, Optional

from stateflow_spark.entity import operator
from stateflow_spark.entity.interpreter import StateStore
from stateflow_spark.entity.model import EntityRef, Event, EventType

OUT_COLUMNS = ["kind", "entity", "key", "seq", "blob"]


class KeyStore(StateStore):
    """The store one keyed activation sees: it owns exactly one key.
    ``version`` counts put() calls; it is > 0 once state was committed."""

    def __init__(self, entity: str, key: str, state: Optional[dict]):
        self.entity = entity
        self.key = key
        self.state = state
        self.version = 0

    def owns(self, ref: EntityRef) -> bool:
        return ref.entity == self.entity and ref.key == self.key

    def get(self, ref: EntityRef) -> Optional[dict]:
        assert self.owns(ref), f"store for {self.entity}({self.key}) asked for {ref}"
        return self.state

    def put(self, ref: EntityRef, state: dict) -> None:
        assert self.owns(ref)
        self.state = state
        self.version += 1


def _error(ex: Exception) -> str:
    return f"{type(ex).__name__}: {ex}"


def apply_key_events(
    entity: str,
    key: str,
    state: Optional[dict],
    rows: Iterable[tuple[int, bytes]],
    serde,
) -> tuple[list[tuple], Optional[dict], bool]:
    """Apply one key's ``(seq, blob)`` event rows to its state, in seq order.

    Returns ``(out_rows, final_state, committed)``; ``committed`` says a
    handler put() state the caller must persist.

    Poison is quarantined, never raised: an undecodable blob becomes a
    ``dead`` row, and a decoded event whose handling raises out of
    ``operator.handle`` becomes a ``dead`` row plus an ERROR reply (so the
    waiting client unblocks), with the key's state rolled back to the
    last committed put(). Other events of the key are unaffected."""
    out: list[tuple] = []
    events: list[tuple[int, Event, bytes]] = []
    for seq, blob in rows:
        blob = bytes(blob)
        try:
            events.append((seq, serde.from_bytes(blob), blob))
        except Exception as ex:
            out.append(_dead_row(entity, key, seq, _error(ex), blob))
    if not events:
        return out, state, False
    events.sort(key=lambda t: t[0])
    store = KeyStore(entity, key, state)

    # rollback snapshot: a REAL copy, because an in-place mutation would
    # survive a reference snapshot; re-taken only after a put()
    pre_state, pre_version = copy.deepcopy(state), 0
    for seq, ev, blob in events:
        try:
            res = operator.handle(ev, store)
        except Exception as ex:
            # tripwire, rollback leg: must run BEFORE the restore below
            # overwrites the evidence of an uncommitted in-place mutation
            if store.version == pre_version and store.state != pre_state:
                raise RuntimeError(
                    f"state contract violation for {entity}/{key}: "
                    "a handler mutated state in place without put() "
                    "and a later event failed; rolling back would "
                    "silently discard the uncommitted mutation — "
                    "commit via put()"
                ) from ex
            # restore a COPY so the snapshot never becomes the live object
            store.state = copy.deepcopy(pre_state)
            store.version = pre_version
            error = _error(ex)
            out.append(_dead_row(entity, key, seq, error, blob))
            err = ev.reply(EventType.ERROR, error=error)
            out.append(("reply", entity, key, err.seq, serde.to_bytes(err)))
            continue
        for r in res.replies:
            out.append(("reply", entity, key, r.seq, serde.to_bytes(r)))
        for h in res.hops:
            out.append(("hop", h.entity, h.key, h.seq, serde.to_bytes(h)))
        if store.version != pre_version:
            # a put() advanced the committed baseline: a LATER failure
            # rolls back to here, not to the batch start
            pre_state, pre_version = copy.deepcopy(store.state), store.version

    # tripwire, end-of-batch leg: an operator-code bug, not bad data, so it
    # must not be quarantined away
    if store.version == pre_version and store.state != pre_state:
        raise RuntimeError(
            f"state contract violation for {entity}/{key}: a handler "
            "mutated state in place without put(); in-place mutations "
            "are not committed and a later failure's DLQ rollback would "
            "discard them — commit via put()"
        )
    return out, store.state, store.version > 0


def _dead_row(entity: str, key: str, seq: int, error: str, blob: bytes) -> tuple:
    return (
        "dead",
        entity,
        key,
        int(seq),
        pickle.dumps({"error": error, "event_blob": blob}),
    )


def dead_letter_record(entity: str, key: str, seq: int, blob: bytes) -> dict:
    """A ``dead`` out-row as runtimes report it: entity/key/seq, the error
    string and the original event bytes."""
    return {"entity": entity, "key": key, "seq": seq, **pickle.loads(bytes(blob))}
