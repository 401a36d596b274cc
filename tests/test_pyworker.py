"""The engine's Python worker daemon: zip directories are re-read only when
their archive changed, and sessions from ``get_spark`` start workers through
it. No timing asserts — the saving is measured by the benchmark."""

import os
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from search_engine_trec_fair_ranking_19_spark import pyworker


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "X = 1\n")


def test_wrapper_rereads_only_after_the_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["a.py"])
    reads = []

    def counting_reread(self):
        reads.append(self)
        zipimport.zipimporter.invalidate_caches(self)  # the stock method

    monkeypatch.setattr(pyworker, "_reread", counting_reread)
    importers = [zipimport.zipimporter(archive) for _ in range(3)]

    for z in importers:  # first call: no stamp recorded yet → read
        pyworker.invalidate_caches(z)
    assert reads == importers
    for _ in range(4):  # unchanged archive → every call skips the read
        for z in importers:
            pyworker.invalidate_caches(z)
    assert len(reads) == 3

    _write_zip(archive, ["a.py", "b.py"])  # new size (and mtime)
    os.utime(archive, ns=(1, 1))  # even with the mtime moved backwards
    reads.clear()
    for z in importers:
        pyworker.invalidate_caches(z)
    assert reads == importers  # every importer re-reads, not just the first
    for z in importers:
        assert z.find_spec("b") is not None  # and sees the new entry
    for z in importers:
        pyworker.invalidate_caches(z)
    assert len(reads) == 3

    os.remove(archive)  # unreadable archive → the stock method decides
    for z in importers:
        pyworker.invalidate_caches(z)
    assert len(reads) == 6
    assert all(z.find_spec("a") is None for z in importers)


def test_get_spark_starts_workers_through_the_daemon(spark):
    conf = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert conf == "search_engine_trec_fair_ranking_19_spark.pyworker"

    @F.pandas_udf("string")
    def invalidate_caches_file(s: pd.Series) -> pd.Series:
        f = zipimport.zipimporter.invalidate_caches
        return pd.Series([f.__code__.co_filename] * len(s))

    df = spark.range(0, 8, 1, 4).select(invalidate_caches_file("id"))
    for _ in range(2):  # the second run reuses the workers of the first
        files = {r[0] for r in df.collect()}
        assert files == {pyworker.__file__}
