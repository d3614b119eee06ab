"""Entity registration: the ``@entity`` decorator (reference analog:
``@stateflow.stateflow`` + ``stateflow.init()``, stateflow/core.py:23-68,
:104-127 — but linking/compilation here happens lazily on first use, so no
separate init() call is needed)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from stateflow_spark.entity.descriptors import (
    ClassDesc,
    extract_class_desc,
    link_descriptors,
)


@dataclass
class EntityType:
    cls: type
    desc: ClassDesc
    flows: dict[str, Any] = field(default_factory=dict)  # method -> Program


_REGISTRY: dict[str, EntityType] = {}
_linked = False
# The registry blob a WORKER-side engine last installed (see
# streaming/superstep.py + streaming/stateful.py): reused Python workers
# keep module state across runs, so the engines skip re-installing when
# an equal blob arrives again, and CLEAR the interpreter caches when a
# new blob object does (round-8 ADVICE: the executor re-registration
# path bypassed entity()/clear_registry() and lru_cached module globals
# keyed by entity NAME served a previous run's module on name rebind).
_installed_blob: object = None


def entity(cls: type) -> type:
    """Register a class as a stateful entity. The class itself is returned
    unchanged (plain Python use keeps working); runtimes look it up in the
    registry. Requires a ``__key__(self) -> str`` method."""
    global _linked, _installed_blob
    desc = extract_class_desc(cls)
    if "__key__" not in desc.methods:
        raise TypeError(f"{cls.__name__} needs a __key__() method")
    _REGISTRY[cls.__name__] = EntityType(cls=cls, desc=desc)
    _linked = False
    _installed_blob = None
    _clear_interpreter_caches()
    return cls


def _clear_interpreter_caches() -> None:
    """A (re)registration may bind an entity name to a class from a
    different module — drop the interpreter's per-entity module-globals
    cache so flow fragments never exec with a stale module's helpers
    (round-8 review #4). Lazy import: interpreter imports this module."""
    import sys

    interp = sys.modules.get("stateflow_spark.entity.interpreter")
    if interp is not None:
        interp._module_globals.cache_clear()


def get_registry() -> dict[str, EntityType]:
    """Registry with descriptors linked and linked methods flow-compiled."""
    global _linked
    if not _linked:
        link_descriptors({n: et.desc for n, et in _REGISTRY.items()})
        from stateflow_spark.entity.compiler import compile_flow

        for et in _REGISTRY.values():
            et.flows = {}
            for mname, m in et.desc.methods.items():
                if mname.startswith("__"):
                    continue
                if m.linked:
                    et.flows[mname] = compile_flow(et.desc, m)
        _linked = True
    return _REGISTRY


def get_entity_type(name: str) -> EntityType:
    reg = get_registry()
    if name not in reg:
        raise KeyError(f"entity type {name!r} not registered")
    return reg[name]


def clear_registry() -> None:
    global _linked, _installed_blob
    _REGISTRY.clear()
    _linked = False
    _installed_blob = None
    _clear_interpreter_caches()


def serialize_registry() -> bytes:
    """Cloudpickle the entity registry for shipment to executors, where
    ``install_worker_registry`` installs it.

    Entity classes registered from modules outside the installed package
    (notebooks, test files, user scripts) are not importable on Spark's
    Python workers, so those modules are pickled by value; package modules
    stay by-reference so workers reuse the installed code.
    """
    import sys

    import cloudpickle

    reg = dict(get_registry())
    mods = {
        et.cls.__module__: sys.modules[et.cls.__module__]
        for et in reg.values()
        if et.cls.__module__ in sys.modules
        and not et.cls.__module__.startswith("stateflow_spark")
    }
    for mod in mods.values():
        cloudpickle.register_pickle_by_value(mod)
    try:
        return cloudpickle.dumps(reg)
    finally:
        for mod in mods.values():
            cloudpickle.unregister_pickle_by_value(mod)


def install_worker_registry(registry_blob: bytes) -> None:
    """Worker-side registry install for the streaming/superstep engines.

    Each task unpickles its own copy of the engine closure, so one run's
    blob arrives as a new object per partition: a blob equal to the
    installed one skips the unpickle, and one with other bytes (a reused
    worker serving a new run, possibly with the same entity names bound
    to different classes) re-installs. A re-install clears the
    interpreter's per-entity-name caches, which entity()/clear_registry()
    would normally do but executors never call (round-8 ADVICE medium #1);
    an equal blob keeps them, since its classes are the installed ones."""
    global _linked, _installed_blob
    if _installed_blob is registry_blob:
        return
    if _installed_blob != registry_blob:
        import pickle

        reg = pickle.loads(registry_blob)
        _REGISTRY.clear()
        _REGISTRY.update(reg)
        _linked = True
        _clear_interpreter_caches()
    _installed_blob = registry_blob
