"""Python worker daemon for sessions made by :func:`sketchlib.session.get_spark`.

Spark puts its own archives first on every Python worker's ``sys.path``:
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the spark-core
jar. PySpark's worker calls ``importlib.invalidate_caches()`` once per
task, and each ``zipimporter`` cached over those archives then re-reads
its archive's whole directory. Where the interpreter has pyspark and py4j
installed itself, and a present pyspark.zip holds the same
``pyspark/version.py``, this module takes the archives out of the import
system before pyspark is imported and then runs the stock
``pyspark.daemon``: workers import the pyspark the driver uses, and the
per-task invalidation only touches what is left (``addPyFile`` entries
among it). Otherwise it changes nothing.

Run by Spark as ``python -m sketchlib._daemon`` (``spark.python.daemon.module``).
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def is_spark_archive(entry: str) -> bool:
    """Whether a ``sys.path`` entry is one of the archives Spark adds."""
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def _same_pyspark(archives: list[str], installed_version_py: str) -> bool:
    for archive in archives:
        if os.path.basename(archive) != "pyspark.zip" or not os.path.isfile(archive):
            continue
        try:
            with zipfile.ZipFile(archive) as z, open(installed_version_py, "rb") as f:
                if z.read("pyspark/version.py") != f.read():
                    return False
        except (OSError, KeyError, zipfile.BadZipFile):
            return False
    return True


def prune_spark_archives(path: list, importer_cache: dict, modules: dict) -> list[str]:
    """Drop Spark's archives from ``path``, their importers from
    ``importer_cache`` and every namespace package in ``modules`` whose
    portions all lie inside them (``sys.path``, ``sys.path_importer_cache``
    and ``sys.modules`` in the daemon). Returns the dropped entries; drops
    nothing unless pyspark and py4j import from outside the archives and
    any present pyspark.zip holds the installed ``pyspark/version.py``."""
    archives = [p for p in path if is_spark_archive(p)]
    if not archives:
        return []
    kept = [p for p in path if p not in archives]
    specs = [PathFinder.find_spec(name, kept) for name in ("pyspark", "py4j")]
    if any(s is None or s.origin is None for s in specs):
        return []
    if not _same_pyspark(archives, os.path.join(os.path.dirname(specs[0].origin), "version.py")):
        return []
    inside = tuple(a.rstrip(os.sep) + os.sep for a in archives)
    # read the namespace portions while ``path`` is unchanged: a
    # namespace package's path is recomputed once its parent path changes
    for name, mod in list(modules.items()):
        spec = getattr(mod, "__spec__", None)
        if spec is None or spec.origin is not None or spec.submodule_search_locations is None:
            continue
        portions = list(spec.submodule_search_locations)
        if portions and all(p.startswith(inside) for p in portions):
            del modules[name]
    path[:] = kept
    for key in [k for k in importer_cache if k in archives or k.startswith(inside)]:
        del importer_cache[key]
    return archives


if __name__ == "__main__":
    prune_spark_archives(sys.path, sys.path_importer_cache, sys.modules)
    from pyspark.daemon import manager

    manager()
