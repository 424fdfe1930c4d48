"""Spark Python workers stop re-reading unchanged zip archives on every
task (``pfutil_spark._zipcache``), while the driver keeps the stock
importers and a rewritten zip is still re-read."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from pfutil_spark._zipcache import StatCheckedZipImporter


def test_worker_importers_are_stat_checked(spark):
    """In a task that imports the package: every archive importer is the
    stat-checked kind, the path hook is swapped, and PySpark's per-task
    ``importlib.invalidate_caches()`` reads no zip directory."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import pfutil_spark  # noqa: F401
        from pfutil_spark._zipcache import StatCheckedZipImporter

        for _ in batches:
            pass
        archives = [
            v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        stock = sum(type(v) is not StatCheckedZipImporter for v in archives)
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({
            "archives": [len(archives)],
            "stock": [stock],
            "reads": [len(reads)],
            "hooked": [StatCheckedZipImporter in sys.path_hooks],
        })

    out = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "archives long, stock long, reads long, hooked boolean")
        .collect()
    )
    assert len(out) == 1
    # pyspark.zip, py4j and the spark-core jar sit on a worker's sys.path
    assert out[0]["archives"] >= 1
    assert out[0]["stock"] == 0
    assert out[0]["reads"] == 0
    assert out[0]["hooked"]


def test_driver_importers_untouched():
    """The install is guarded by ``pyspark.worker``: in the driver the
    path hooks and the importer cache keep the stock zipimporter."""
    import pfutil_spark  # noqa: F401

    assert zipimport.zipimporter in sys.path_hooks
    assert StatCheckedZipImporter not in sys.path_hooks
    assert not any(
        isinstance(v, StatCheckedZipImporter) for v in sys.path_importer_cache.values()
    )


def test_package_import_is_pyspark_free(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys, zipimport\n"
        f"sys.path.insert(0, {repo!r})\n"
        "import pfutil_spark\n"
        "assert not [m for m in sys.modules if m.startswith('pyspark')]\n"
        "assert zipimport.zipimporter in sys.path_hooks\n"
        "print('CLEAN')\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd=str(tmp_path), timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "CLEAN" in proc.stdout


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pf_zc_first"])
    imp = StatCheckedZipImporter(archive)
    monkeypatch.setattr(sys, "path", [archive] + sys.path)
    monkeypatch.setitem(sys.path_importer_cache, archive, imp)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        # a new importer re-reads once, then only on a changed stat
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("pf_zc_first").NAME == "pf_zc_first"

        _write_zip(archive, ["pf_zc_first", "pf_zc_added"])
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module("pf_zc_added").NAME == "pf_zc_added"
        importlib.invalidate_caches()
        assert len(reads) == 2
    finally:
        for name in ("pf_zc_first", "pf_zc_added"):
            sys.modules.pop(name, None)
