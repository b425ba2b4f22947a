"""The zip directory memo in packs_spark.session: an unchanged archive on
sys.path is parsed once per process, a rewritten one is re-read, and
every Python UDF worker runs with the memo installed."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from packs_spark import session

needs_memo = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ reads zip directories lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@needs_memo
def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "memo_probe.zip")
    _write_zip(archive, {"memo_probe_a": 1})
    reads = []

    def counting_read(path):
        reads.append(path)
        return uncached(path)

    uncached = session._read_zip_directory_uncached
    monkeypatch.setattr(session, "_read_zip_directory_uncached", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert zipimport._read_directory is session._read_zip_directory
        assert importlib.import_module("memo_probe_a").VALUE == 1
        assert reads.count(archive) == 1

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1  # unchanged: served from the memo

        _write_zip(archive, {"memo_probe_a": 1, "memo_probe_b": 2})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2  # rewritten: parsed again
        assert importlib.import_module("memo_probe_b").VALUE == 2
    finally:
        for name in ("memo_probe_a", "memo_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        session._zip_directories.pop(archive, None)


@needs_memo
def test_udf_worker_serves_zip_directories_from_the_memo(spark):
    @F.pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        import os as _os
        import sys as _sys
        import zipimport as _zipimport

        import packs_spark.session as ses

        installed = _zipimport._read_directory is ses._read_zip_directory
        archives = {
            imp.archive
            for imp in _sys.path_importer_cache.values()
            if isinstance(imp, _zipimport.zipimporter)
        }
        covered = archives <= set(ses._zip_directories)
        return pd.Series([f"{_os.getpid()} {installed} {covered}"] * len(ids))

    seen = set()
    for _ in range(32):  # sequential single-task jobs until a worker repeats
        pid, installed, covered = (
            spark.range(1, numPartitions=1).select(probe("id")).first()[0].split()
        )
        assert installed == "True"
        if pid in seen:
            # this worker's second task: its per-task invalidate_caches()
            # went through the memo, so every zip on its sys.path is there
            assert covered == "True"
            break
        seen.add(pid)
    else:
        pytest.fail(f"no Python worker ran two tasks: {sorted(seen)}")
