"""Spark-free tests of the stored-layout publish protocol
(stateflow_spark/versioning.py): build_once / publish on planted `build`
callables, including every failure path, plus the guard that keeps the
protocol in that one module."""

import errno
import glob
import hashlib
import os
import pathlib
import re

import pytest

import stateflow_spark
from stateflow_spark import versioning
from stateflow_spark.versioning import (
    READY_MARKER,
    build_once,
    publish,
    source_key,
)


def _write(scratch, name="data", text="x"):
    os.makedirs(scratch, exist_ok=True)
    with open(os.path.join(scratch, name), "w") as f:
        f.write(text)


def _read(d, name="data"):
    with open(os.path.join(d, name)) as f:
        return f.read()


def _residue(dest):
    return glob.glob(dest + ".building*")


def test_source_key_is_md5_of_abspath_and_mtime(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_text("x")
    p = str(src)
    want = hashlib.md5(
        f"{os.path.abspath(p)}:{os.path.getmtime(p)}".encode()
    ).hexdigest()[:12]
    assert source_key(p) == want
    os.utime(p, (1, 1))
    assert source_key(p) != want  # a rewrite keys a new version


def test_build_once_publishes_a_stamped_version(tmp_path):
    dest = str(tmp_path / "layout")
    calls = []

    def build(scratch):
        calls.append(scratch)
        assert scratch.startswith(dest + ".building.")
        _write(scratch, text="v1")

    assert build_once(dest, build) == dest
    assert os.path.exists(os.path.join(dest, READY_MARKER))
    assert _read(dest) == "v1"
    assert not _residue(dest)
    # a second call reuses the published version and never builds
    assert build_once(dest, build) == dest
    assert len(calls) == 1


def test_build_failure_leaves_no_scratch_and_propagates(tmp_path):
    dest = str(tmp_path / "layout")

    class Boom(Exception):
        pass

    def build(scratch):
        _write(scratch)  # a half-written version
        raise Boom

    with pytest.raises(Boom):
        build_once(dest, build)
    assert not os.path.exists(dest)
    assert not _residue(dest)


def test_rename_failure_without_winner_propagates(tmp_path, monkeypatch):
    dest = str(tmp_path / "layout")

    def enospc(src, dst):
        raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(versioning.os, "rename", enospc)
    with pytest.raises(OSError) as e:
        build_once(dest, _write)
    assert e.value.errno == errno.ENOSPC
    assert not os.path.exists(dest)
    assert not _residue(dest)


def test_concurrent_loser_adopts_the_winner(tmp_path):
    """The winner publishes while the loser is still building: the
    loser's rename fails against the winner's non-empty directory, its
    scratch is deleted, and the winner's version comes back intact."""
    dest = str(tmp_path / "layout")

    def loser_build(scratch):
        build_once(dest, lambda s: _write(s, text="winner"))
        _write(scratch, text="loser")

    assert build_once(dest, loser_build) == dest
    assert _read(dest) == "winner"
    assert sorted(os.listdir(dest)) == sorted(["data", READY_MARKER])
    assert not _residue(dest)


def test_publish_renames_and_stamps(tmp_path):
    scratch, dest = str(tmp_path / "v.tmp"), str(tmp_path / "v")
    _write(scratch)
    assert publish(scratch, dest) == dest
    assert os.path.exists(os.path.join(dest, READY_MARKER))
    assert not os.path.exists(scratch)


def test_publish_protocol_lives_only_in_versioning():
    """One implementation of the publish protocol: outside versioning.py
    no engine module spells the READY marker as a literal, names a
    `.building` scratch, or derives an md5 key from a file's mtime."""
    pkg = pathlib.Path(stateflow_spark.__file__).parent
    banned = [
        re.compile(r"""["']_INDEX_READY["']"""),
        re.compile(r"\.building"),
        re.compile(r"""md5\(\s*f?["'][^"']*getmtime"""),
    ]
    hits = [
        f"{f.relative_to(pkg)}: {rx.pattern}"
        for f in sorted(pkg.rglob("*.py"))
        if f.name != "versioning.py" or f.parent != pkg
        for rx in banned
        if rx.search(f.read_text())
    ]
    assert hits == [], hits
