"""The Python worker daemon (:mod:`sketchlib._daemon`).

Spark-free: :func:`prune_spark_archives` on a synthetic ``sys.path``,
importer cache and module table built over real files in ``tmp_path``.
With Spark: what a Python task of the ``get_spark`` session sees."""

from __future__ import annotations

import importlib.machinery
import os
import shutil
import sys
import types
import uuid
import zipfile

import pytest

from sketchlib._daemon import is_spark_archive, prune_spark_archives

VERSION_PY = b'__version__: str = "9.9.9"\n'


def _zip(path, members: dict) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


def _namespace(name: str, portions: list) -> types.ModuleType:
    mod = types.ModuleType(name)
    mod.__spec__ = importlib.machinery.ModuleSpec(name, None, is_package=True)
    mod.__spec__.submodule_search_locations = list(portions)
    mod.__path__ = list(portions)
    return mod


@pytest.fixture
def layout(tmp_path, monkeypatch):
    """A worker's view in local mode: Spark's three archives first, then
    the repo, an addPyFile zip, the stdlib zip and site-packages."""
    # keep the finders created for tmp_path out of the real cache
    monkeypatch.setattr(sys, "path_importer_cache", {})
    site = tmp_path / "site-packages"
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(VERSION_PY)
    (tmp_path / "repo").mkdir()
    lib = tmp_path / "spark" / "python" / "lib"
    pyspark_zip = _zip(lib / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": VERSION_PY,
    })
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""})
    core_jar = _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", {
        "org/apache/spark/SparkContext.class": b"\xca\xfe",
    })
    pyfile_zip = _zip(tmp_path / "userFiles" / "sketchlib_pyfiles_0123.zip", {
        "dep_mod.py": "X = 1\n",
    })
    stdlib_zip = str(tmp_path / "python311.zip")  # absent, as usual
    archives = [pyspark_zip, py4j_zip, core_jar]
    path = [str(tmp_path), *archives, str(tmp_path / "repo"), pyfile_zip,
            stdlib_zip, str(site)]
    importer_cache = {
        pyspark_zip: "zi", pyspark_zip + "/pyspark": "zi", py4j_zip: "zi",
        py4j_zip + "/py4j": "zi", core_jar: "zi", core_jar + "/org": "zi",
        pyfile_zip: "zi", stdlib_zip: None, str(site): "ff",
    }
    modules = {
        # what pickle's Jython probe leaves: a namespace only in the jar
        "org": _namespace("org", [core_jar + "/org"]),
        # a namespace with a portion outside the archives stays
        "shared": _namespace("shared", [core_jar + "/shared", str(site / "shared")]),
        "os": os,
    }
    return types.SimpleNamespace(
        tmp=tmp_path, site=site, archives=archives, path=path,
        importer_cache=importer_cache, modules=modules, pyfile_zip=pyfile_zip,
        stdlib_zip=stdlib_zip,
    )


def _prune(lay):
    return prune_spark_archives(lay.path, lay.importer_cache, lay.modules)


def _snapshot(lay):
    return list(lay.path), dict(lay.importer_cache), dict(lay.modules)


def test_drops_spark_archives_their_importers_and_jar_namespaces(layout):
    assert _prune(layout) == layout.archives
    assert layout.path == [
        str(layout.tmp), str(layout.tmp / "repo"), layout.pyfile_zip,
        layout.stdlib_zip, str(layout.site),
    ]
    assert set(layout.importer_cache) == {
        layout.pyfile_zip, layout.stdlib_zip, str(layout.site),
    }
    assert set(layout.modules) == {"shared", "os"}


def test_prunes_when_spark_home_has_no_pyspark_zip(layout):
    # pip-installed pyspark: SPARK_HOME is the package, the zip paths
    # Spark adds do not exist and there is no version to compare
    os.remove(layout.archives[0])
    assert _prune(layout) == layout.archives


@pytest.mark.parametrize("missing", ["pyspark", "py4j"])
def test_untouched_without_an_installed_package(layout, missing):
    shutil.rmtree(layout.site / missing)
    before = _snapshot(layout)
    assert _prune(layout) == []
    assert _snapshot(layout) == before


def test_untouched_when_versions_differ(layout):
    (layout.site / "pyspark" / "version.py").write_bytes(b'__version__: str = "9.9.8"\n')
    before = _snapshot(layout)
    assert _prune(layout) == []
    assert _snapshot(layout) == before


def test_never_drops_other_archives():
    for entry in ("/w/userFiles-1/sketchlib_pyfiles_0123.zip", "/usr/lib/python311.zip",
                  "/w/py4j-helpers.zip", "/w/pyspark_extras.zip", "/w/spark-sql_2.13-4.1.2.jar",
                  "/w/deps.jar"):
        assert not is_spark_archive(entry), entry
    for entry in ("/spark-home/python/lib/pyspark.zip",
                  "/spark-home/python/lib/py4j-0.10.9.9-src.zip",
                  "/spark-home/jars/spark-core_2.13-4.1.2.jar"):
        assert is_spark_archive(entry), entry


def test_task_imports_driver_pyspark_and_no_archive_importers(spark):
    import pyspark

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "sketchlib._daemon"

    def probe(_):
        import zipimport

        import pyspark as worker_pyspark

        zips = [v.archive for v in list(sys.path_importer_cache.values())
                if isinstance(v, zipimport.zipimporter)]
        yield worker_pyspark.__file__, zips, "org" in sys.modules

    for file, zips, has_org in sc.parallelize(range(4), 4).mapPartitions(probe).collect():
        assert file == pyspark.__file__
        assert not [z for z in zips if is_spark_archive(z)], zips
        assert not has_org


def test_addpyfile_module_imports_in_udf(spark, tmp_path):
    from pyspark.sql import functions as F

    mod = f"worker_daemon_probe_{uuid.uuid4().hex}"
    zip_path = _zip(tmp_path / f"{mod}.zip", {f"{mod}.py": "def answer(x):\n    return x + 42\n"})
    spark.sparkContext.addPyFile(zip_path)

    @F.udf("long")
    def via_pyfile(x):
        return importlib.import_module(mod).answer(x)

    rows = spark.range(8).repartition(4).select(via_pyfile("id").alias("y")).collect()
    assert sorted(r.y for r in rows) == [42 + i for i in range(8)]
