"""Spark-free tests of the streaming rows' harness
(stateflow_spark/queries/common.py): the served-source memo on planted
`write` callables, and the guard that keeps the harness in that one
module."""

import os
import pathlib
import re

import pytest

import stateflow_spark.queries as queries_pkg
from stateflow_spark.queries import common
from stateflow_spark.queries.common import served_source


def _plant_table(sf_dir, table="t", text="v1"):
    with open(os.path.join(sf_dir, f"{table}.parquet"), "w") as f:
        f.write(text)


def _writer(calls, fail=False):
    def write(src):
        calls.append(src)
        with open(os.path.join(src, "data"), "w") as f:
            f.write("x")
        if fail:
            raise RuntimeError("planted write failure")

    return write


def _slot(sf_dir, table="t", tag="tag"):
    return (tag, os.path.abspath(os.path.join(sf_dir, f"{table}.parquet")))


def test_same_version_returns_same_dir_without_rewriting(tmp_path):
    _plant_table(tmp_path)
    calls = []
    first = served_source(str(tmp_path), "t", "tag", _writer(calls))
    again = served_source(str(tmp_path), "t", "tag", _writer(calls))
    assert again == first and calls == [first]
    assert os.path.exists(os.path.join(first, "data"))
    # another tag over the same table is another source
    other = served_source(str(tmp_path), "t", "other", _writer(calls))
    assert other != first and len(calls) == 2


def test_new_version_rebuilds_and_deletes_superseded_dir(tmp_path):
    _plant_table(tmp_path)
    calls = []
    old = served_source(str(tmp_path), "t", "tag", _writer(calls))
    path = tmp_path / "t.parquet"
    _plant_table(tmp_path, text="v2")
    st = path.stat()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new = served_source(str(tmp_path), "t", "tag", _writer(calls))
    assert new != old and calls == [old, new]
    assert not os.path.exists(old)
    assert common._SERVED[_slot(tmp_path)][1] == new


def test_raising_writer_leaves_no_dir_and_no_entry(tmp_path):
    _plant_table(tmp_path)
    calls = []
    with pytest.raises(RuntimeError, match="planted"):
        served_source(str(tmp_path), "t", "tag", _writer(calls, fail=True))
    assert len(calls) == 1 and not os.path.exists(calls[0])
    assert _slot(tmp_path) not in common._SERVED
    # a held version whose rewrite fails is dropped too: the next call
    # must not serve the superseded bytes
    held = served_source(str(tmp_path), "t", "tag", _writer(calls))
    path = tmp_path / "t.parquet"
    st = path.stat()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    with pytest.raises(RuntimeError, match="planted"):
        served_source(str(tmp_path), "t", "tag", _writer(calls, fail=True))
    assert not os.path.exists(held) and not os.path.exists(calls[-1])
    assert _slot(tmp_path) not in common._SERVED


# The streaming-row harness lives in queries/common.py only: the stream
# reader, the run-to-end trigger and the memo of re-served sources.
_HARNESS = [
    re.compile(r"\breadStream\b"),
    re.compile(r"\bwriteStream\b"),
    re.compile(r"\bavailableNow\b"),
    # a module-level cache: a name bound to an empty dict
    re.compile(r"^[A-Za-z_]\w*\s*(:[^=\n]*)?=\s*(\{\}|dict\(\))\s*$", re.M),
]


def _harness_hits(text):
    return [rx.pattern for rx in _HARNESS if rx.search(text)]


@pytest.mark.parametrize(
    "planted",
    [
        "stream = spark.readStream.schema(schema).parquet(src)\n",
        "q = out.writeStream.format('memory').start()\n",
        "    .trigger(availableNow=True)\n",
        "_SRC_CACHE: dict[str, str] = {}\n",
        "_CACHE = dict()\n",
    ],
)
def test_harness_guard_catches_planted_copy(planted):
    assert _harness_hits("x = 1\n" + planted)


def test_stream_harness_lives_only_in_common():
    pkg = pathlib.Path(queries_pkg.__file__).parent
    hits = [
        f"{f.name}: {p}"
        for f in sorted(pkg.glob("*.py"))
        if f.name != "common.py"
        for p in _harness_hits(f.read_text())
    ]
    assert hits == [], hits
