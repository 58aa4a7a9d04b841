"""Python worker daemon that imports pyspark from the installed package.

``get_spark`` names this module as ``spark.python.daemon.module`` on
local masters (``session.py`` has the why and the numbers). It drops
Spark's archives from ``sys.path`` and then runs ``pyspark.daemon``;
the workers fork from it and inherit the shorter path.
"""

import importlib.metadata
import os
import re
import sys
import zipfile
from collections.abc import Callable

_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")
_VERSION = re.compile(rb"__version__[^=]*=\s*['\"]([^'\"]+)['\"]")


def _archive(entry: str) -> tuple[str, str] | None:
    """``(package, version)`` of Spark's ``pyspark.zip`` or
    ``py4j-*-src.zip`` at ``entry``; None for any other entry and for a
    zip whose version cannot be read."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        try:
            with zipfile.ZipFile(entry) as z:
                found = _VERSION.search(z.read("pyspark/version.py"))
        except (OSError, KeyError, zipfile.BadZipFile):
            return None
        return ("pyspark", found.group(1).decode()) if found else None
    m = _PY4J_ZIP.fullmatch(name)
    return ("py4j", m.group(1)) if m else None


def worker_path(
    path: list[str], installed: Callable[[str], str | None]
) -> list[str]:
    """``path`` without Spark's archives: the spark-core jar always (it
    holds no ``.py`` file), ``pyspark.zip`` and ``py4j-*-src.zip`` only
    where ``installed(package)`` is the archive's version."""

    def spark_archive(entry: str) -> bool:
        name = os.path.basename(entry)
        if name.startswith("spark-core") and name.endswith(".jar"):
            return True
        found = _archive(entry)
        return found is not None and installed(found[0]) == found[1]

    return [e for e in path if not spark_archive(e)]


def _installed(package: str) -> str | None:
    """Version of ``package`` as installed outside any archive."""
    dirs = [e for e in sys.path if not e.endswith((".zip", ".jar"))]
    found = importlib.metadata.distributions(name=package, path=dirs)
    return next((d.version for d in found), None)


if __name__ == "__main__":
    kept = worker_path(sys.path, _installed)
    dropped = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in dropped):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()
