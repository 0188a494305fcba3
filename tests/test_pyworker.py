"""The stat-gated zip import-cache invalidation (no Spark needed): an
unchanged archive is not re-read by importlib.invalidate_caches(), a
rewritten one is, and install() wraps the stdlib method only once."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from polyminhash_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "gated.zip")
    _write_zip(archive, {"pmh_gated_a": "VALUE = 'a'\n"})
    monkeypatch.setattr(sys, "path", [archive] + sys.path)
    yield archive
    for name in ("pmh_gated_a", "pmh_gated_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _spy_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert pyworker.install()
    assert importlib.import_module("pmh_gated_a").VALUE == "a"
    importlib.invalidate_caches()  # first gated call stamps the archive
    reads = _spy_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 0
    # the importer still resolves from the shared directory cache
    sys.modules.pop("pmh_gated_a")
    assert importlib.import_module("pmh_gated_a").VALUE == "a"


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    assert pyworker.install()
    importlib.import_module("pmh_gated_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("pmh_gated_b")

    _write_zip(zip_on_path, {"pmh_gated_a": "VALUE = 'a'\n",
                             "pmh_gated_b": "VALUE = 'b'\n"})
    reads = _spy_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module("pmh_gated_b").VALUE == "b"


def test_install_wraps_once():
    assert pyworker.install()
    gated = zipimport.zipimporter.invalidate_caches
    assert pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is gated
    assert pyworker.installed()
    assert not getattr(gated.__wrapped__, "_stat_gated", False)


def test_missing_internals_leave_stdlib_alone(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    assert not pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not pyworker.installed()


def test_gate_reaches_python_workers(spark):
    """Every task of an engine mapInArrow runs in a worker whose zip
    invalidation is the gated one, and there a repeated
    importlib.invalidate_caches() re-reads none of Spark's archives
    (pyspark.zip, py4j, the spark-core jar)."""
    import pyarrow as pa

    from polyminhash_spark.config import default_config
    from polyminhash_spark.functions.udfs import make_signature_arrow_map

    sign = make_signature_arrow_map(default_config(), content_col="content")

    def probe(batches):
        import importlib
        import zipimport as zi

        from pyspark import TaskContext

        from polyminhash_spark import pyworker as pw

        rows = sum(out.num_rows for out in sign(batches))
        importlib.invalidate_caches()
        real, reads = zi._read_directory, []
        zi._read_directory = lambda archive: reads.append(archive) or real(
            archive)
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = real
        zips = sum(isinstance(f, zi.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({
            "part": [TaskContext.get().partitionId()], "rows": [rows],
            "gated": [pw.installed()], "rereads": [len(reads)],
            "zips": [zips]})

    docs = spark.range(0, 64, numPartitions=8).selectExpr(
        "cast(id as string) as id",
        "repeat(concat('line ', cast(id as string), '\\n'), 20) as content")
    out = docs.mapInArrow(
        probe, "part long, rows long, gated boolean, rereads long, zips long")
    out.collect()
    second = out.collect()
    assert sorted(r.part for r in second) == list(range(8))
    assert sum(r.rows for r in second) == 64
    assert all(r.gated for r in second)
    assert all(r.zips > 0 and r.rereads == 0 for r in second)
