"""Reflection wrapper: run real entity methods against a state dict
(reference: stateflow/wrappers/class_wrapper.py — init_class :58-81,
invoke :113-149, state diff :98-104)."""

from __future__ import annotations

import copy
from typing import Any

from stateflow_spark.entity.descriptors import ClassDesc


def init_instance(cls: type, desc: ClassDesc, args: tuple, kwargs: dict) -> tuple[str, dict]:
    """Run __init__ + __key__ → (key, initial state dict)."""
    obj = cls(*args, **kwargs)
    key = obj.__key__()
    if not isinstance(key, str):
        key = str(key)
    state = {a: obj.__dict__.get(a) for a in desc.state_hints}
    return key, state


# hint → zero value for attributes added WITHOUT a declared class-body
# default (schema evolution fallback; list/dict constructed fresh per call)
_HINT_ZERO: dict[str, Any] = {
    "int": 0,
    "float": 0.0,
    "str": "",
    "bool": False,
}


def upgrade_state(desc: ClassDesc, state: dict) -> dict:
    """Versioned-state upgrade on rehydrate (round-8 schema evolution).

    A state dict persisted by an OLDER class version may lack attributes
    the current class declares (the class gained a field across a
    checkpoint restart). Reconcile: every current attribute missing from
    the stored dict is filled with its declared class-body default
    (``tier: str = "basic"`` — collected by extract_class_desc), else
    the hint's zero value, else None. Attributes the stored dict carries
    that the current class no longer declares are PRESERVED verbatim
    (forward compat: a rolled-back reader must not destroy newer data —
    wrapper.invoke's state diff keeps them through new_state too).
    Returns the input dict unchanged (same object) when nothing is
    missing, so the hot path costs one dict-key scan."""
    missing = [a for a in desc.state_hints if a not in state]
    if not missing:
        return state
    out = dict(state)
    for a in missing:
        if a in desc.state_defaults:
            # deep-copied: a mutable declared default ([] / {}) must not
            # be shared across upgraded entities or alias the ClassDesc
            # (one entity's append would leak into every other upgrade)
            out[a] = copy.deepcopy(desc.state_defaults[a])
        else:
            hint = desc.state_hints[a]
            if hint in _HINT_ZERO:
                out[a] = _HINT_ZERO[hint]
            elif hint.startswith(("List", "list")):
                out[a] = []
            elif hint.startswith(("Dict", "dict")):
                out[a] = {}
            else:
                out[a] = None
    return out


def invoke(
    cls: type, desc: ClassDesc, state: dict, method: str, args: tuple
) -> tuple[Any, dict]:
    """Rehydrate (no __init__), call, and diff the state back out.
    Unknown extra attrs in ``state`` (written by a NEWER class version)
    ride through the diff untouched — see upgrade_state."""
    state = upgrade_state(desc, state)
    obj = cls.__new__(cls)
    obj.__dict__.update(state)
    result = getattr(obj, method)(*args)
    new_state = {a: obj.__dict__.get(a) for a in desc.state_hints}
    for a in state:  # preserve attrs only a newer class version declares
        if a not in new_state:
            new_state[a] = obj.__dict__.get(a, state[a])
    return result, new_state
