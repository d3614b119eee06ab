"""The lazy zipimporter invalidate that importing stateflow_spark installs
below CPython 3.13 (session.py): an unchanged archive is not re-read, a
rewritten one is, and Python workers carry the wrapper too."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import stateflow_spark.session as session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimporter.invalidate_caches is already lazy",
)


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_zip_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "zmods.zip")
    _write_archive(archive, {"zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zmod_a").X == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
        )
        importlib.invalidate_caches()  # first call: no stamp yet
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads  # unchanged archive: no re-read

        _write_archive(archive, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zmod_b").Y == 2

        # a vanished archive falls through to the original, which drops
        # the directory instead of serving stale entries
        (tmp_path / "zmods.zip").unlink()
        importer.invalidate_caches()
        assert importer._files == {}
    finally:
        for name in ("zmod_a", "zmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_importers_of_one_archive_share_one_read(tmp_path, monkeypatch):
    """A worker holds several zipimporters over one archive (one per
    package path inside it); one invalidate pass reads that archive once
    for all of them, and a rewrite is read once and seen by each."""
    archive = str(tmp_path / "zshared.zip")
    _write_archive(archive, {"zsh_a": "X = 1\n", "zpkg/zsub_a": "Y = 1\n"})
    importers = [zipimport.zipimporter(archive),
                 zipimport.zipimporter(archive + "/zpkg")]
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    for imp in importers:
        imp.invalidate_caches()
    assert reads.count(archive) == 1

    _write_archive(archive, {
        "zsh_a": "X = 1\n", "zsh_b": "X = 2\n",
        "zpkg/zsub_a": "Y = 1\n", "zpkg/zsub_b": "Y = 2\n",
    })
    reads.clear()
    for imp in importers:
        imp.invalidate_caches()
    assert reads.count(archive) == 1
    assert importers[0].find_spec("zsh_b") is not None
    assert importers[1].find_spec("zsub_b") is not None
    zipimport._zip_directory_cache.pop(archive, None)
    session._zip_stamps.pop(archive, None)


def test_python_workers_get_the_lazy_invalidate(spark):
    def probe(batches):
        import zipimport

        import stateflow_spark  # noqa: F401 — installs the wrapper

        fn = zipimport.zipimporter.invalidate_caches
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"module": [fn.__module__] * b.num_rows,
                 "name": [fn.__name__] * b.num_rows}
            )

    rows = spark.range(4).mapInArrow(probe, "module string, name string").collect()
    assert len(rows) == 4
    assert {(r.module, r.name) for r in rows} == {
        (session.__name__, session._invalidate_if_changed.__name__)
    }
