"""Python workers import pyspark from the installed package: the
worker daemon (``dbm_nca_ph_etl_spark.daemon``) drops Spark's archives
from ``sys.path`` when the installed versions match them."""

from __future__ import annotations

import zipfile

import pytest

from dbm_nca_ph_etl_spark.daemon import worker_path


def test_tasks_import_installed_pyspark(spark):
    """Every task of a 4-partition Python map runs on the installed
    pyspark and holds no zip importer, which
    ``importlib.invalidate_caches()`` would make re-read its archive."""

    def probe(_):
        import sys

        import pyspark

        finders = {type(f).__name__ for f in sys.path_importer_cache.values()}
        yield pyspark.__file__, "zipimporter" in finders

    seen = set(spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect())
    assert seen and all(".zip" not in file for file, _ in seen), seen
    assert not any(zipped for _, zipped in seen), seen


def _spark_path(tmp_path) -> list[str]:
    """A worker path with Spark's three archives (pyspark 4.1.2, py4j
    0.10.9.9) before a plain directory."""
    pyspark_zip = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/version.py", '__version__: str = "4.1.2"\n')
    py4j_zip = tmp_path / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = tmp_path / "spark-core_2.13-4.1.2.jar"
    return [str(pyspark_zip), str(py4j_zip), str(jar), str(tmp_path / "lib")]


@pytest.mark.parametrize(
    "installed, kept",
    [
        ({}, [0, 1, 3]),
        ({"pyspark": "4.1.1", "py4j": "0.10.9.8"}, [0, 1, 3]),
        ({"pyspark": "4.1.2"}, [1, 3]),
        ({"pyspark": "4.1.2", "py4j": "0.10.9.9"}, [3]),
    ],
    ids=["missing", "other-versions", "pyspark-only", "both-match"],
)
def test_archives_drop_only_for_matching_install(tmp_path, installed, kept):
    """The jar always goes; each zip goes only when the installed
    package has its version, so a missing or different install keeps
    the worker on Spark's own copy."""
    path = _spark_path(tmp_path)
    assert worker_path(path, installed.get) == [path[i] for i in kept]


def test_unreadable_pyspark_zip_stays(tmp_path):
    broken = tmp_path / "pyspark.zip"
    broken.write_bytes(b"not a zip")
    assert worker_path([str(broken)], {"pyspark": "4.1.2"}.get) == [str(broken)]
