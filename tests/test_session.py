"""Session config and the Python worker daemon it starts."""

import os
import zipfile
import zipimport

import pytest

from rasters_rs_spark import pyworker


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("probe_mod.py", source)


@pytest.mark.skipif(hasattr(zipimport.zipimporter, "_get_files"),
                    reason="zipimport re-reads lazily; the daemon is inert")
def test_invalidate_caches_rereads_only_changed_archive(tmp_path,
                                                        monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "X = 1\n")
    importer = zipimport.zipimporter(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        pyworker.invalidate_caches(importer)
    assert reads == [archive]

    # a rewritten archive (new size, new mtime) is read on the next call
    _write_zip(archive, "X = 2  # rewritten\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    pyworker.invalidate_caches(importer)
    pyworker.invalidate_caches(importer)
    assert reads == [archive, archive]
    assert b"rewritten" in importer.get_data("probe_mod.py")


def test_workers_start_from_engine_daemon(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({"source": [code.co_filename]})

    sources = {r["source"] for r in spark.range(0, 4, 1, 2).mapInPandas(
        report, "source string").collect()}
    assert sources == {pyworker.__file__}
    assert spark.sparkContext.parallelize([1, 2, 3], 2) \
        .map(lambda x: x * 2).collect() == [2, 4, 6]
