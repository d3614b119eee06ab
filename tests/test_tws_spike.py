"""transformWithStateInPandas spike — future-proofing the stateful operator.

The entity engines (streaming/stateful.py, streaming/kafka.py) run on
`applyInPandasWithState`, chosen in round 3 for its single-binary-column
state model. Spark's investment is in the successor API,
`transformWithStateInPandas` (Spark 4.0+, SPARK-49564): typed state
variables (value/list/map), native timers, per-state TTL, and schema
evolution. The engine keeps one pickled dict per key in the state store
and no TTL; per-state TTL is what a migration would bring with it.

This module records what a migration would look like and what blocks it:

BLOCKER (this container): the PySpark side of transformWithState speaks a
protobuf protocol to the JVM state server
(pyspark/sql/streaming/proto/StateMessage_pb2.py), so any run — even
`query.start()`'s pre-init schema handshake — needs the `protobuf`
package. It is not installed here and installs are disallowed, so the
full-run test below is gated on `google.protobuf` being importable. Plan
CONSTRUCTION is protobuf-free, so the plan-shape test always runs: the
grouped-map node lands in the analyzed plan and the output schema is
checked. On a real cluster (where protobuf ships with Spark's own
requirements) the gated test runs as-is.

Migration sketch (verified against the 4.1.2 API surface):
  - state dict        -> handle.getValueState per entity attribute, or one
                         ValueState of the pickled dict to start
  - NoTimeout         -> no timers registered (handle.registerTimer +
                         handleExpiredTimer are there if timed logic is
                         ever needed)
  - state TTL         -> getValueState(..., ttlDurationMs=...) natively;
                         the engine has none today
"""

from __future__ import annotations

import importlib.util

import pandas as pd
import pytest
from pyspark.sql.streaming import StatefulProcessor
from pyspark.sql.types import LongType, StringType, StructField, StructType

OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("total", LongType()),
        StructField("n_deltas", LongType()),
    ]
)

try:  # find_spec raises if the parent `google` namespace package is absent
    HAVE_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:
    HAVE_PROTOBUF = False


class FoldProcessor(StatefulProcessor):
    """Per-key running sum with two typed state variables — the shape the
    entity fold (stateful.py _make_stateful_fn) would take under the new
    API: a ValueState scalar plus a ListState history, no pickled dict."""

    def init(self, handle):
        self.total = handle.getValueState(
            "total", StructType([StructField("v", LongType())])
        )
        self.deltas = handle.getListState(
            "deltas", StructType([StructField("d", LongType())])
        )

    def handleInputRows(self, key, rows, timer_values):
        total = self.total.get()[0] if self.total.exists() else 0
        for pdf in rows:
            total += int(pdf["amount"].sum())
            self.deltas.appendList([(int(x),) for x in pdf["amount"]])
        self.total.update((total,))
        n = sum(1 for _ in self.deltas.get())
        yield pd.DataFrame(
            {"key": [key[0]], "total": [total], "n_deltas": [n]}
        )

    def close(self):
        pass


def _tws_plan(spark):
    src = (
        spark.readStream.format("rate")
        .load()
        .selectExpr("cast(value % 10 as string) key", "value amount")
    )
    return src.groupBy("key").transformWithStateInPandas(
        FoldProcessor(), OUT, "Append", "processingTime"
    )


def test_tws_plan_shape(spark):
    """Protobuf-free surface: the API exists, accepts our processor, and
    plans to the TransformWithStateInPySpark physical operator with the
    declared output schema."""
    out = _tws_plan(spark)
    assert [f.name for f in out.schema.fields] == ["key", "total", "n_deltas"]
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "TransformWithStateInPySpark" in analyzed


@pytest.mark.skipif(
    not HAVE_PROTOBUF,
    reason="transformWithState's state-server protocol needs google.protobuf "
    "(pyspark/sql/streaming/proto/StateMessage_pb2); not installed in this "
    "container — see module docstring",
)
def test_tws_fold_end_to_end(spark, tmp_path):
    """Gated full run: two micro-batches through the typed-state fold,
    asserting the ValueState accumulates across batches and the ListState
    tracks per-key history. Requires the RocksDB state store provider
    (transformWithState does not support the HDFS-backed store)."""
    indir = tmp_path / "in"
    indir.mkdir()
    ck = str(tmp_path / "ck")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        spark.createDataFrame(
            [("k1", 5), ("k2", 7), ("k1", 3)], "key string, amount long"
        ).write.parquet(str(indir / "b0"))
        src = spark.readStream.schema("key string, amount long").parquet(
            str(indir) + "/*"
        )
        out = src.groupBy("key").transformWithStateInPandas(
            FoldProcessor(), OUT, "Append", "processingTime"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("tws_spike")
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            spark.createDataFrame(
                [("k1", 10)], "key string, amount long"
            ).write.parquet(str(indir / "b1"))
            q.processAllAvailable()
            rows = {
                (r["key"], r["total"], r["n_deltas"])
                for r in spark.sql("select * from tws_spike").collect()
            }
            assert ("k1", 8, 2) in rows  # batch 0: 5 + 3
            assert ("k2", 7, 1) in rows
            assert ("k1", 18, 3) in rows  # batch 1 folds onto ValueState
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )

