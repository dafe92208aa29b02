"""The worker daemon's archive rule: a zipimporter re-reads its archive
directory only when the archive's (mtime_ns, size) stamp changes."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from clj_nlp_parse_spark import pyworker


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path, the stamped rule installed, and a counter
    of archive directory reads."""
    z = tmp_path / "mods.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("zmod_a.py", "X = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.stamped_invalidate_caches)
    monkeypatch.syspath_prepend(str(z))
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield z, reads
    for m in ("zmod_a", "zmod_b"):
        sys.modules.pop(m, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    z, reads = zip_on_path
    import zmod_a
    assert zmod_a.X == 1
    importlib.invalidate_caches()   # the first call reads
    n = len([a for a in reads if a == str(z)])
    assert n >= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len([a for a in reads if a == str(z)]) == n


def test_rewritten_archive_is_reread(zip_on_path):
    z, _reads = zip_on_path
    import zmod_a  # noqa: F401
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zmod_b")
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("zmod_a.py", "X = 1\n")
        f.writestr("zmod_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_b").Y == 2


def test_session_workers_run_the_daemon(spark):
    """get_spark installs the daemon: a task's worker runs the stamped
    invalidate_caches."""
    import pyarrow as pa

    def probe(batches):
        import zipimport as zi
        wrapped = hasattr(zi.zipimporter.invalidate_caches, "__wrapped__")
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"wrapped": [wrapped]})

    rows = spark.range(4, numPartitions=2).mapInArrow(
        probe, "wrapped boolean").collect()
    assert rows and all(r.wrapped for r in rows)
