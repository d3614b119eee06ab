"""End to end: a streaming row's input table is rewritten in place
between two runs in one process; each run must match DuckDB over the
file as it is then, so no row may stream a re-served copy of the old
bytes."""

import os
import shutil

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from stateflow_spark.catalog import TABLES
from stateflow_spark.queries import REGISTRY
from tests.conftest import SF_DIR, assert_same_result

# row -> (rewritten table, its key column)
_REWRITTEN = {
    "stream_hourly_tumbling": ("events", "event_id"),
    "stream_sliding_window": ("events", "event_id"),
    "stream_session_windows": ("events", "event_id"),
    "stream_stream_join": ("events", "event_id"),
    "stream_stream_join_outer": ("events", "event_id"),
    "stream_countmin_sketch": ("events", "event_id"),
    "stream_static_enrich": ("events", "event_id"),
    "stream_append_late_drop": ("events", "event_id"),
    "stream_dedup_watermark": ("events", "event_id"),
    "stream_incremental_rollup": ("events", "event_id"),
    "stream_state_runs": ("events", "event_id"),
    "source_schema_evolution": ("events", "event_id"),
    "entity_stateful_replay": ("events", "event_id"),
    "stream_scd2_merge": ("orders", "o_orderkey"),
    "stream_minhash_delta_classify": ("documents", "doc_id"),
    "stream_boilerplate_delta_classify": ("documents", "doc_id"),
    "stream_ivf_delta_classify": ("embeddings", "vec_id"),
}


def _check_against_oracle(spark, sf_dir, name, sdf=None):
    if sdf is None:
        sdf = REGISTRY[name].fn(spark, sf_dir)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        drows = con.execute(REGISTRY[name].oracle).fetchall()
        dcols = [d[0] for d in con.description]
    finally:
        con.close()
    cols = sorted(sdf.columns)
    assert cols == sorted(dcols), (cols, dcols)
    idx = [dcols.index(c) for c in cols]
    assert_same_result(
        sdf.select(*cols), [tuple(r[i] for i in idx) for r in drows], name
    )


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=[] if n == "stream_hourly_tumbling"
                     else [pytest.mark.slow])
        for n in _REWRITTEN
    ],
)
def test_row_reserves_table_rewritten_in_place(spark, tmp_path, name):
    table, key = _REWRITTEN[name]
    sf_dir = str(tmp_path)
    for t in TABLES:
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), sf_dir)
    _check_against_oracle(spark, sf_dir, name)

    path = os.path.join(sf_dir, f"{table}.parquet")
    before = os.stat(path)
    full = pq.read_table(path)
    half = full.filter(pc.equal(pc.bit_wise_and(full[key], 1), 0))
    assert 0 < half.num_rows < full.num_rows
    pq.write_table(half, path)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    _check_against_oracle(spark, sf_dir, name)


def test_memory_sink_rows_leave_no_view(spark):
    """A memory-sink row drops its sq_* view once the returned frame has
    resolved it, and each held frame still matches the oracle."""
    def views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("sq_")}

    before = views()
    name = "stream_hourly_tumbling"
    frames = [REGISTRY[name].fn(spark, SF_DIR) for _ in range(3)]
    assert views() == before
    for sdf in frames:
        _check_against_oracle(spark, SF_DIR, name, sdf)
