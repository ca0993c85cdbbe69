"""``fused.skip_unchanged_zip_rereads``: ``zipimporter.invalidate_caches``
re-reads an archive's directory only when the archive changed, in this
process and in a Spark Python worker."""

from __future__ import annotations

import importlib
import inspect
import os
import sys
import zipfile
import zipimport

import pytest

from amazon_textract_transformer_pipeline_spark.operators.fused import (
    skip_unchanged_zip_rereads,
)


@pytest.fixture
def stdlib_zipimport(monkeypatch):
    """The stdlib ``invalidate_caches`` for the test, whatever was
    installed before; monkeypatch puts that back afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        inspect.unwrap(zipimport.zipimporter.invalidate_caches))


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """An archive holding ``mod_a``, first on ``sys.path``."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod_a.py", "A = 1\n")
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("mod_a", "mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the stdlib reads zip directories lazily")
def test_unchanged_archive_is_not_reread(stdlib_zipimport, zip_on_path,
                                         monkeypatch):
    import mod_a
    assert mod_a.A == 1
    stdlib = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_rereads()
    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is stdlib

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    def rereads() -> int:
        reads.clear()
        importlib.invalidate_caches()
        return reads.count(zip_on_path)

    assert rereads() == 1  # no stamp yet: this read records it
    assert rereads() == 0

    with zipfile.ZipFile(zip_on_path, "a") as z:
        z.writestr("mod_b.py", "B = 2\n")
    assert rereads() == 1
    import mod_b
    assert mod_b.B == 2
    assert rereads() == 0

    os.remove(zip_on_path)  # a failed stat re-reads every time
    assert rereads() == 1
    assert rereads() == 1


def test_left_alone_where_the_stdlib_reads_lazily(stdlib_zipimport,
                                                  monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_worker_task_rereads_no_unchanged_archive(spark):
    """A Python worker, after the function: the zipimporters it holds and
    the directories the second of two ``invalidate_caches`` calls reads,
    as pyspark's per-task set-up would on the worker's next task."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import sys
        import zipimport

        from amazon_textract_transformer_pipeline_spark.operators.fused import (
            skip_unchanged_zip_rereads,
        )

        skip_unchanged_zip_rereads()
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"n_zip": [n_zip],
                                          "reads": [len(reads)]})

    (row,) = spark.range(1, numPartitions=1) \
        .mapInArrow(probe, "n_zip long, reads long").collect()
    if row.n_zip == 0:
        pytest.skip("the worker holds no zipimporter (pyspark imported "
                    "from site-packages, not pyspark.zip)")
    assert row.reads == 0
