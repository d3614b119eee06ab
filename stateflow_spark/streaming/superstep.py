"""SuperstepRuntime: distributed BSP execution of the entity engine.

Spark cannot express a cyclic streaming dataflow, and the reference has the
same constraint — it loops flow hops through an external `internal` Kafka
topic (stateflow/runtime/beam_runtime.py:192-204, SURVEY.md §3.3). Here each
loop iteration is one Spark job (a superstep) over ONE row shape,
``(kind, entity, key, seq, blob)``, in and out:

    rows: kind event (first superstep) | state | hop
        → repartition on (entity, key) → sortWithinPartitions(entity, key)
        → mapInArrow: one Arrow pass per partition, grouped per key
        → localCheckpoint: rows of kind state | reply | dead | hop

The step reads a ``state`` row as the key's state and every other row as
an event. The sort makes each key's rows contiguous, so the step streams
the partition once and holds one key's rows at a time; a key with no
events passes its state blob through as bytes, untouched. Per-key cost is
the key's own events, not a frame per key group (the grouped-map contract
of SNIPPETS.md [1] pays an Arrow stream, two pandas frames and a state
re-pickle for every key, event or not).

A run's first input is its events as a local Arrow table; a caller's
``state_df`` is tagged ``state`` and unioned in once per run, and a run
with no prior state starts from its events alone. After that the output
IS the next input: the next superstep reads ``kind IN ('state', 'hop')``
of this one's checkpoint, so state AND in-flight hop events stay
distributed across all supersteps. The lazy ``localCheckpoint`` is
materialized by the superstep's one collect: only replies — the
client-facing output, the reference's reply topic — and quarantined dead
letters come to the driver, in one Arrow collect that also carries the
hop rows with their blobs nulled: their count is the loop condition, so
no separate count job runs. Per-key serial execution gives the
reference's single-writer-per-key consistency (stateful_operator per-key
handling; AWS variant's lock, aws/abstract_lambda.py:80-99); cross-key
flows keep its non-isolated semantics.

Scale: rows are hash-partitioned by entity key into
``catalog.stage_tasks`` tasks; skewed hot keys are bounded by per-key
event counts, not data volume. State never collects to the driver; a
production deployment would persist `state_df` between batches
(parquet/Delta) instead of holding it in checkpoint blocks.
"""

from __future__ import annotations

import itertools
import pickle
from dataclasses import dataclass, field
from operator import itemgetter
from typing import Any, Iterator, Optional

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from stateflow_spark.catalog import stage_tasks
from stateflow_spark.entity import operator
from stateflow_spark.entity.keyed import apply_key_events, dead_letter_record
from stateflow_spark.entity.model import Event
from stateflow_spark.entity.registry import (
    install_worker_registry,
    serialize_registry,
)
from stateflow_spark.storage import local_frame, unpersist_local_checkpoint

STATE_SCHEMA = "entity string, key string, blob binary"
# the one row shape a superstep reads and writes
OUT_SCHEMA = "kind string, entity string, key string, seq long, blob binary"
_OUT_ARROW = pa.schema(
    [("kind", pa.string()), ("entity", pa.string()), ("key", pa.string()),
     ("seq", pa.int64()), ("blob", pa.binary())]
)
# out-rows per Arrow batch the step yields
_OUT_BATCH_ROWS = 10_000


def _out_batch(rows: list[tuple]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(col, t) for col, t in zip(zip(*rows), _OUT_ARROW.types)],
        schema=_OUT_ARROW,
    )


def _make_step_fn(registry_blob: bytes, serde):
    """Build the mapInArrow step; ships the linked+compiled registry to the
    python workers (the registry module is re-populated there, so entity
    classes defined in test/user modules need no importable path). The wire
    serde (Pickle default; Json/Proto/Cloudpickle per deployment) travels in
    the closure — it is a stateless object.

    The step gets one partition's record batches, sorted on (entity, key),
    and streams their rows through ``itertools.groupby`` on (entity, key):
    one key's rows are in hand at a time, also when they straddle a batch
    boundary. A key with events runs the shared per-key core
    (entity/keyed.py) with poison quarantine on; its state is re-pickled
    only if a handler put() it; every other key's state blob passes
    through as the same bytes. Every key with state re-emits its state
    row, because the next superstep's state is exactly this superstep's
    output."""

    def rows(batches: Iterator[pa.RecordBatch]):
        for b in batches:
            yield from zip(*(c.to_pylist() for c in b.columns))

    def step(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        install_worker_registry(registry_blob)
        out: list[tuple] = []
        for (entity_name, key), group in itertools.groupby(
            rows(batches), key=itemgetter(1, 2)
        ):
            state_blob, events = None, []
            for kind, _, _, seq, blob in group:
                if kind == "state":
                    state_blob = blob
                else:
                    events.append((seq, blob))
            if events:
                state = pickle.loads(state_blob) if state_blob is not None else None
                key_out, state, committed = apply_key_events(
                    entity_name, key, state, events, serde
                )
                out.extend(key_out)
                if committed:
                    state_blob = pickle.dumps(state)
            if state_blob is not None:
                out.append(("state", entity_name, key, 0, state_blob))
            if len(out) >= _OUT_BATCH_ROWS:
                yield _out_batch(out)
                out = []
        if out:
            yield _out_batch(out)

    return step


@dataclass
class RunResult:
    replies: dict[str, Event] = field(default_factory=dict)  # event_id → reply
    state_df: Optional[DataFrame] = None
    supersteps: int = 0
    # quarantined events, one keyed.dead_letter_record dict each
    dead_letters: list[dict] = field(default_factory=list)

    def result_of(self, event: Event) -> Any:
        return operator.reply_value(self.replies[event.event_id])

    def collect_state(self) -> dict[tuple[str, str], dict]:
        rows = self.state_df.collect()
        return {(r.entity, r.key): pickle.loads(bytes(r.blob)) for r in rows}


class SuperstepRuntime:
    def __init__(
        self,
        spark: SparkSession,
        max_supersteps: int = 200,
        serde=None,
    ):
        """serde: wire format for events on the shuffle/reply path
        (stateflow_spark.serde.{Pickle,Json,Proto,Cloudpickle}Serde;
        default Pickle — the reference's serializer choice knob)."""
        from stateflow_spark.serde import PickleSerde

        self.spark = spark
        self.max_supersteps = max_supersteps
        self.serde = serde or PickleSerde()

    # -- durable state ------------------------------------------------------
    @staticmethod
    def save_state(state_df: DataFrame, path: str) -> None:
        """Persist an entity-state snapshot (the production between-batches
        story: state lives in parquet/Delta, not driver memory)."""
        state_df.write.mode("overwrite").parquet(path)

    def load_state(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    def _events_df(self, events: list[Event]) -> DataFrame:
        to_bytes = self.serde.to_bytes
        table = pa.table(
            [
                ["event"] * len(events),
                [e.entity for e in events],
                [e.key for e in events],
                [e.seq for e in events],
                [to_bytes(e) for e in events],
            ],
            schema=_OUT_ARROW,
        )
        return self.spark.createDataFrame(table)

    def run(
        self,
        events: list[Event],
        state_df: Optional[DataFrame] = None,
    ) -> RunResult:
        if not events:
            if state_df is None:
                state_df = local_frame(self.spark, [], STATE_SCHEMA)
            return RunResult(state_df=state_df)

        step = _make_step_fn(serialize_registry(), self.serde)
        n_tasks = stage_tasks(self.spark)
        result = RunResult()
        rows = self._events_df(events)
        if state_df is not None:
            # tagged once per run; selecting the state columns also drops
            # any others a state_df loaded from parquet (or built by a
            # caller) may carry
            rows = rows.union(
                state_df.selectExpr(
                    "'state' AS kind", "entity", "key",
                    "CAST(0 AS BIGINT) AS seq", "blob",
                )
            )
        n_pending = len(events)
        # checkpoints created by THIS run's previous superstep — the only
        # ones safe to release. The caller's input state_df must survive
        # (it may be the base of several runs, e.g. branching from one
        # save_state snapshot), and a localCheckpoint'd RDD is
        # unrecoverable once its blocks are dropped (lineage truncated).
        own_ckpts: tuple = ()
        while n_pending:
            result.supersteps += 1
            if result.supersteps > self.max_supersteps:
                raise RuntimeError(
                    f"flows still in flight after {self.max_supersteps} supersteps"
                )
            # localCheckpoint truncates lineage — without it every
            # superstep's plan chains all previous ones (heap blow-up,
            # replanning cost). It is lazy: the reply collect below is the
            # job that computes the step output, writes the checkpoint
            # blocks and brings the replies back; the next superstep and
            # the final state read those blocks.
            out = (
                rows.repartition(n_tasks, "entity", "key")
                .sortWithinPartitions("entity", "key")
                .mapInArrow(step, OUT_SCHEMA)
                .localCheckpoint(eager=False)
            )
            # replies are the client-facing output (the reference's reply
            # topic) — with the quarantined dead rows, the ONLY payloads
            # that reach the driver. Hop rows ride this one collect with
            # their blobs nulled — in-flight flow payloads never reach the
            # driver; their count is the loop condition.
            sent = out.filter("kind <> 'state'").selectExpr(
                "kind", "entity", "key", "seq",
                "IF(kind = 'hop', NULL, blob) AS blob",
            ).toArrow()
            done = sent.filter(pc.not_equal(sent.column("kind"), "hop"))
            n_pending = sent.num_rows - done.num_rows
            for kind, entity_name, key, seq, blob in zip(
                *(col.to_pylist() for col in done.columns)
            ):
                if kind == "dead":
                    result.dead_letters.append(
                        dead_letter_record(entity_name, key, seq, blob)
                    )
                else:
                    ev = self.serde.from_bytes(blob)
                    result.replies[ev.event_id] = ev
            rows = out.filter("kind IN ('state', 'hop')")
            # the new checkpoint has materialized — release the previous
            # superstep's (never the caller's input, never the returned
            # final state) instead of waiting for driver GC +
            # ContextCleaner, so executor storage stays O(1) in superstep
            # count rather than O(rounds) (round-5 ADVICE)
            for df in own_ckpts:
                unpersist_local_checkpoint(df)
            own_ckpts = (out,)

        result.state_df = out.filter("kind = 'state'").select(
            "entity", "key", "blob"
        )
        return result
