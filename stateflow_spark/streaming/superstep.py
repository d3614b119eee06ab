"""SuperstepRuntime: distributed BSP execution of the entity engine.

Spark cannot express a cyclic streaming dataflow, and the reference has the
same constraint — it loops flow hops through an external `internal` Kafka
topic (stateflow/runtime/beam_runtime.py:192-204, SURVEY.md §3.3). Here each
loop iteration is one Spark job (a superstep):

    events ∪ state rows  (one union, tagged is_state)
        → repartition on (entity, key) → sortWithinPartitions(entity, key)
        → mapInArrow: one Arrow pass per partition, grouped per key
        → localCheckpoint: state' rows + replies + dead rows + hop events

The sort makes each key's rows contiguous, so the step streams the
partition once and holds one key's rows at a time; a key with no events
passes its state blob through as bytes, untouched. Per-key cost is the
key's own events, not a frame per key group (the grouped-map contract of
SNIPPETS.md [1] pays an Arrow stream, two pandas frames and a state
re-pickle for every key, event or not).

The eager ``localCheckpoint`` is the superstep's one materialization: it
truncates the lineage, and everything after it reads its blocks. State
AND in-flight hop events stay distributed across all supersteps: the next
superstep's state and events are kind-filters on the checkpoint, so hops
loop cluster-side straight into the next union. Only replies — the
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stateflow_spark.catalog import stage_tasks
from stateflow_spark.entity import operator
from stateflow_spark.entity.keyed import apply_key_events, dead_letter_record
from stateflow_spark.entity.model import Event
from stateflow_spark.entity.registry import (
    install_worker_registry,
    serialize_registry,
)
from stateflow_spark.storage import unpersist_local_checkpoint

STATE_SCHEMA = "entity string, key string, blob binary"
OUT_SCHEMA = "kind string, entity string, key string, seq long, blob binary"
_EVENT_ARROW = pa.schema(
    [("entity", pa.string()), ("key", pa.string()), ("seq", pa.int64()),
     ("blob", pa.binary())]
)
_OUT_ARROW = pa.schema([("kind", pa.string()), *_EVENT_ARROW])
_STEP_COLUMNS = ("entity", "key", "seq", "blob", "is_state")
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
            yield from zip(*(b.column(c).to_pylist() for c in _STEP_COLUMNS))

    def step(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        install_worker_registry(registry_blob)
        out: list[tuple] = []
        for (entity_name, key), group in itertools.groupby(
            rows(batches), key=itemgetter(0, 1)
        ):
            state_blob, events = None, []
            for _, _, seq, blob, is_state in group:
                if is_state:
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
                [e.entity for e in events],
                [e.key for e in events],
                [e.seq for e in events],
                [to_bytes(e) for e in events],
            ],
            schema=_EVENT_ARROW,
        )
        return self.spark.createDataFrame(table)

    def run(
        self,
        events: list[Event],
        state_df: Optional[DataFrame] = None,
    ) -> RunResult:
        step = _make_step_fn(serialize_registry(), self.serde)
        n_tasks = stage_tasks(self.spark)

        if state_df is None:
            state_df = self.spark.createDataFrame([], STATE_SCHEMA)

        result = RunResult()
        events_df = self._events_df(events)
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
            # select the three state columns: a state_df loaded from
            # parquet (or built by a caller) may carry others
            rows = events_df.withColumn("is_state", F.lit(False)).unionByName(
                state_df.select(
                    "entity",
                    "key",
                    F.lit(0).cast("long").alias("seq"),
                    "blob",
                    F.lit(True).alias("is_state"),
                )
            )
            # localCheckpoint truncates lineage — without it every
            # superstep's plan chains all previous ones (heap blow-up,
            # replanning cost). It is the superstep's ONE materialization:
            # the reply collect, the next state and the next hops all read
            # its blocks. On a 4-core box it beat persist() + reply collect
            # + a second checkpoint of only the state and hop rows: YCSB
            # T-mix run_superstep median 1.54/1.20 → 1.38/1.09 s in two
            # rounds; 8 → 6 Spark jobs per 2-superstep entity_superstep batch.
            out = (
                rows.repartition(n_tasks, "entity", "key")
                .sortWithinPartitions("entity", "key")
                .mapInArrow(step, OUT_SCHEMA)
                .localCheckpoint()
            )
            # replies are the client-facing output (the reference's reply
            # topic) — with the quarantined dead rows, the ONLY payloads
            # that reach the driver. Hop events loop CLUSTER-SIDE: the out
            # rows already carry the event columns, so the hop filter feeds
            # the next superstep directly. Hop rows ride this one collect
            # with their blobs nulled — in-flight flow payloads never reach
            # the driver; their count is the loop condition.
            sent = out.filter(out.kind != "state").select(
                "kind",
                "entity",
                "key",
                "seq",
                F.when(out.kind != "hop", out.blob).alias("blob"),
            ).toArrow()
            n_pending = 0
            for kind, entity_name, key, seq, blob in zip(
                *(col.to_pylist() for col in sent.columns)
            ):
                if kind == "hop":
                    n_pending += 1
                elif kind == "dead":
                    result.dead_letters.append(
                        dead_letter_record(entity_name, key, seq, blob)
                    )
                else:
                    ev = self.serde.from_bytes(blob)
                    result.replies[ev.event_id] = ev
            state_df = out.filter(out.kind == "state").select(
                "entity", "key", "blob"
            )
            events_df = out.filter(out.kind == "hop").select(
                "entity", "key", "seq", "blob"
            )
            # the new checkpoint has materialized — release the previous
            # superstep's (never the caller's input, never the returned
            # final state) instead of waiting for driver GC +
            # ContextCleaner, so executor storage stays O(1) in superstep
            # count rather than O(rounds) (round-5 ADVICE)
            for df in own_ckpts:
                unpersist_local_checkpoint(df)
            own_ckpts = (out,)

        result.state_df = state_df
        return result
