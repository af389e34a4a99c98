"""Python worker daemon: ``pyspark.daemon`` importing the installed pyspark.

Spark puts ``pyspark.zip``, the py4j zip and ``spark-core``'s jar (no
Python in it) at the head of every worker's ``sys.path``. Before each task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which on Python 3.11 makes every cached
``zipimporter`` re-read its archive's directory in pure Python -- one per
pyspark sub-package imported from the zip. This daemon drops the jar and
moves the zips behind the directory entries before anything imports
pyspark, so it and every worker it forks import the installed copies the
driver uses. When no pyspark is installed, or the installed one is not the
archive's version, Spark's order is kept: a worker never runs a different
pyspark from the JVM.
"""

from __future__ import annotations

import re
import sys
import zipfile
from importlib.machinery import PathFinder


def _version(source: bytes) -> str | None:
    m = re.search(rb"__version__[^=]*=\s*['\"]([^'\"]+)", source)
    return m.group(1).decode() if m else None


def installed_first(path: list[str]) -> list[str]:
    """``path`` with jars dropped and zips after directories, or ``path``
    itself when the installed pyspark is missing or another version."""
    dirs = [p for p in path if not p.endswith((".zip", ".jar"))]
    zips = [p for p in path if p.endswith(".zip")]
    spec = PathFinder.find_spec("pyspark", dirs)
    if spec is None or not spec.submodule_search_locations:
        return path
    with open(f"{spec.submodule_search_locations[0]}/version.py", "rb") as f:
        installed = _version(f.read())
    for z in filter(zipfile.is_zipfile, zips):
        with zipfile.ZipFile(z) as archive:
            if "pyspark/version.py" in archive.namelist():
                if _version(archive.read("pyspark/version.py")) != installed:
                    return path
    return dirs + zips


if __name__ == "__main__":
    spark_path = list(sys.path)
    sys.path[:] = installed_first(spark_path)
    # finding this module already cached a zipimporter for every archive
    # ahead of it; a cached one is re-read by each invalidate_caches()
    for p in spark_path:
        if p.endswith((".zip", ".jar")):
            sys.path_importer_cache.pop(p, None)
    from pyspark import daemon

    daemon.manager()
